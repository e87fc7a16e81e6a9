"""Scalar function parity (SURVEY §2.I; reference tests:
internal/util/utils_test.go, nedlibreader/time_test.go, codec_test.go)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from warchaeology_spark.functions.dates import parse_http_date_full, to14, from14
from warchaeology_spark.functions.strings import (
    crop_string,
    normalize_record_id,
    parse_size_in_bytes,
)
from warchaeology_spark.functions.urls import (
    canonical_parts,
    canonicalize_py,
    canonicalize_url,
    canonicalize_url_arrow,
    surt_key,
    xxhash64_py,
)

URLS = [
    "https://Example.COM:443/a/b?z=1&a=2#frag",
    "http://user:pw@www.test.org:8080/p?b&a",
    "example.com/path",
    "//cdn.site.net/img.png",
    "mailto:x@y.z",
    "HTTPS://A.B.C.:443/",
    "ftp://files.example.com/x",
    "http://example.com",
    "http://h7.example.org/p12?b=2&a=1",
    "https://heavy.example.org:443/p3#frag",
]


def test_canonicalize_three_way_agreement(spark):
    """JVM builtin path == Arrow UDF path == pure-Python oracle, on every
    field the oracle returns (url_canon, surt, host)."""
    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    rows = df.select(
        "url",
        canonicalize_url("url").alias("canon"),
        surt_key("url").alias("surt"),
        canonical_parts("url")["host"].alias("host"),
        canonicalize_url_arrow(F.col("url")).alias("arrow"),
    ).collect()
    for r in rows:
        py = canonicalize_py(r["url"])
        assert r["canon"] == (py[0] if py else None), r["url"]
        assert r["surt"] == (py[1] if py else None), r["url"]
        assert r["host"] == (py[2] if py else None), r["url"]
        assert r["arrow"] == r["canon"], r["url"]


def test_xxhash64_matches_spark(spark):
    vals = ["", "a", "ab", "abc", "abcd", "hello world", "x" * 31, "y" * 32,
            "z" * 100, "https://example.com/a/b?z=1", "com,example)/p1"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for r in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert xxhash64_py(r["s"]) == r["h"], repr(r["s"])


DATE_CASES = [
    ("Mon, 02 Jan 2006 15:04:05 GMT", "2006-01-02 15:04:05"),
    ("Monday, 02-Jan-06 15:04:05 GMT", "2006-01-02 15:04:05"),
    ("Mon Jan 2 15:04:05 2006", "2006-01-02 15:04:05"),
    ("Mon Jan 2 15:04:05 GMT 2006", "2006-01-02 15:04:05"),
    ("02 Jan 06 15:04 GMT", "2006-01-02 15:04:00"),
    ("2 Jan 2006 15:04:05 GMT", "2006-01-02 15:04:05"),
    # leap-second clamp+add (time.go:82-87)
    ("Mon, 02 Jan 2006 15:04:60 GMT", "2006-01-02 15:05:00"),
    # broken year 103 -> 2003 (time.go:101-113)
    ("Mon, 02 Jan 103 15:04:05 GMT", "2003-01-02 15:04:05"),
    # numeric zone
    ("Tue, 10 Feb 2004 21:04:05 +0100", "2004-02-10 20:04:05"),
    # Norwegian locale (time.go:116-213); zone resolves via Europe/Oslo wall
    # clock, which in July is CEST (+0200) — matching Go's Oslo location
    ("lø, 19 jul 2003 04:45:41 CET", "2003-07-19 02:45:41"),
    ("man, 1 desember 2003 04:45:41 +0000", "2003-12-01 04:45:41"),
]


def test_http_date_chain(spark):
    df = spark.createDataFrame([(raw,) for raw, _ in DATE_CASES], "raw string")
    got = {
        r["raw"]: str(r["ts"]) for r in df.select(
            "raw", parse_http_date_full("raw").alias("ts")
        ).collect()
    }
    for raw, want in DATE_CASES:
        assert got[raw] == want, raw


def test_to14_roundtrip(spark):
    df = spark.sql("select timestamp'2021-03-01 12:13:14' as ts")
    row = df.select(
        to14("ts").alias("t14"), from14(to14("ts")).alias("back")
    ).collect()[0]
    assert row["t14"] == "20210301121314"
    assert str(row["back"]) == "2021-03-01 12:13:14"


def test_crop_string(spark):
    # utils_test.go:10-49 semantics: > n chars -> n-1 + ellipsis
    df = spark.createDataFrame([("abcdefgh",), ("ab",)], "s string")
    rows = df.select(crop_string("s", 5).alias("c")).collect()
    assert rows[0]["c"] == "abcd…"
    assert rows[1]["c"] == "ab"


def test_normalize_record_id(spark):
    df = spark.createDataFrame(
        [("<urn:uuid:12345678-1234-1234-1234-123456789012>",), ("bogus",)],
        "rid string",
    )
    rows = df.select(normalize_record_id("rid").alias("n")).collect()
    assert rows[0]["n"] == "12345678-1234-1234-1234-123456789012"
    assert rows[1]["n"] is None


def test_parse_size_in_bytes():
    assert parse_size_in_bytes("2KB") == 2048
    assert parse_size_in_bytes("1g") == 1024**3
    assert parse_size_in_bytes("512") == 512
    with pytest.raises(ValueError):
        parse_size_in_bytes("zzz")
