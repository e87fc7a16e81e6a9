"""Property-based canonicalization parity (hypothesis): for arbitrary
URL-ish strings the four implementations — JVM column builders, the
staged JVM transform, Arrow pandas UDF, pure-Python oracle — agree. One
Spark action per example batch (lists of strings), deterministic seed via
hypothesis defaults."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from warchaeology_spark.functions.urls import (
    canonical_parts,
    canonicalize_py,
    canonicalize_url,
    canonicalize_url_arrow,
    surt_key,
    with_canonical,
)

scheme = st.sampled_from(["http", "https", "HTTP", "HtTpS", "ftp", "mailto", ""])
label = st.text(alphabet="abcXYZ019-", min_size=1, max_size=6)
host = st.lists(label, min_size=1, max_size=3).map(".".join)
port = st.sampled_from(["", ":80", ":443", ":8080", ":0"])
path = st.sampled_from(["", "/", "/a", "/a/b%20c", "//d", "/ space"])
query = st.sampled_from(["", "?", "?a=1", "?b=2&a=1", "?z&&y", "?a=1&a=0"])
frag = st.sampled_from(["", "#", "#frag"])
junk = st.text(max_size=20).filter(lambda s: "\\" not in s)
# appended to every drawn batch: NULL and empty input, and hosts that are
# not ASCII (never crawlable), so NULL propagates through the staged `_ok`
EDGE = [None, "", " ", "http://bücher.example/p", "HTTPS://ÉCOLE.fr:443/?b&a", "//例え.jp/x"]


@st.composite
def urlish(draw):
    if draw(st.integers(0, 9)) == 0:
        return draw(junk)
    s = draw(scheme)
    prefix = f"{s}://" if s else draw(st.sampled_from(["", "//"]))
    return (
        draw(st.sampled_from(["", " ", "  "]))
        + prefix
        + draw(host)
        + draw(port)
        + draw(path)
        + draw(query)
        + draw(frag)
        + draw(st.sampled_from(["", " "]))
    )


def _staged(spark, batch):
    """with_canonical over the batch: {index: (url_canon, surt, host)} of
    the rows it keeps."""
    df = spark.createDataFrame(list(enumerate(batch)), "i int, url string")
    return {r["i"]: tuple(r[1:]) for r in with_canonical(df, "url").select(
        "i", "url_canon", "surt", "host").collect()}


@settings(max_examples=4, deadline=None)
@given(st.lists(urlish(), min_size=100, max_size=100))
def test_three_way_canonicalization_agreement(spark, batch):
    batch = batch + EDGE
    df = spark.createDataFrame([(u,) for u in batch], "url string")
    rows = df.select(
        "url",
        canonicalize_url("url").alias("canon"),
        surt_key("url").alias("surt"),
        canonical_parts("url")["host"].alias("host"),
        canonicalize_url_arrow(F.col("url")).alias("strict_pd"),
    ).collect()
    staged = _staged(spark, batch)
    for i, r in enumerate(rows):
        py = canonicalize_py(r["url"])
        assert r["canon"] == (py[0] if py else None), repr(r["url"])
        assert r["surt"] == (py[1] if py else None), repr(r["url"])
        assert r["host"] == (py[2] if py else None), repr(r["url"])
        assert r["strict_pd"] == r["canon"], repr(r["url"])
        # the staged transform keeps exactly the crawlable rows
        assert staged.get(i) == py, repr(r["url"])


backslash_junk = st.text(
    alphabet="ab\\/:?#@&=. %01xyzHTTP", min_size=0, max_size=24
)


@settings(max_examples=4, deadline=None)
@given(st.lists(backslash_junk, min_size=100, max_size=100))
def test_strict_arrow_matches_jvm_even_with_backslashes(spark, batch):
    # the Arrow path must track the JVM spec on backslashes too (a
    # WHATWG parser would read them as slashes; the spec does not)
    df = spark.createDataFrame([(u,) for u in batch], "url string")
    rows = df.select(
        "url",
        canonicalize_url("url").alias("canon"),
        canonicalize_url_arrow(F.col("url")).alias("strict_pd"),
    ).collect()
    for r in rows:
        py = canonicalize_py(r["url"])
        assert r["strict_pd"] == r["canon"] == (py[0] if py else None), repr(r["url"])


@settings(max_examples=4, deadline=None)
@given(st.lists(st.one_of(urlish(), backslash_junk), min_size=100, max_size=100))
def test_staged_parse_matches_canonical_parts(spark, batch):
    # one spec, two renderings: the staged transform keeps a row exactly
    # when the nested builder's url_canon is non-NULL, with equal fields
    batch = batch + EDGE
    df = spark.createDataFrame([(u,) for u in batch], "url string")
    nested = [r["cp"] for r in df.select(canonical_parts("url").alias("cp")).collect()]
    staged = _staged(spark, batch)
    for i, cp in enumerate(nested):
        want = None if cp["url_canon"] is None else (cp["url_canon"], cp["surt"], cp["host"])
        assert staged.get(i) == want, repr(batch[i])
