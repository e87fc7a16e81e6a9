"""Property-based frontier parity (VERDICT r7 next #3): hypothesis-drawn
crawl instances — random link graphs, robots prefix rules, politeness
budgets and mangled seed orders — each run on a drawn seen-set path
(below the bloom threshold, broadcast bloom or cogroup-sharded bloom; a
bloom path turns the bloom on with the seed add or, drawn, at the add
after round 0), asserting run_crawl == the sequential oracle
(frontier/oracle.py) on every draw, plus crawl-contract invariants.
Pattern follows tests/test_warc_fuzz.py.

Properties asserted per drawn instance:
  1. fetch-log parity: tuple-for-tuple (round, seq, url_canon, surt,
     url_hash, host, depth, src_doc_id) equality with the oracle;
  2. seen-set parity: exact (surt, url_hash, url_canon) set equality;
  3. metrics parity: per-round scheduled/novel/denied/pending counts;
  4. politeness invariant: per (round, host) scheduled count never
     exceeds the host's budget (default 2 when unlisted);
  5. robots invariant: no fetched URL has a disallowed path prefix;
  6. dense global order: fetch seq is exactly 0..n-1 with rounds
     non-decreasing along it.
"""

from __future__ import annotations

import re
from functools import partial
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from warchaeology_spark.frontier import scheduler
from warchaeology_spark.frontier.oracle import simulate_crawl
from warchaeology_spark.frontier.scheduler import CrawlConfig, run_crawl
from warchaeology_spark.frontier.seen import SeenState

DOCS_SCHEMA = (
    "doc_id string, url string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
SEEDS_SCHEMA = "url string, seed_rank long"
ROBOTS_SCHEMA = "host string, path_pref string, allow boolean"
POL_SCHEMA = "host string, max_per_round int, crawl_delay_ms int"


def _mangle(draw, url: str) -> str:
    """Raw (non-canonical) spelling that canonicalizes back to url."""
    kind = draw(st.integers(0, 2))
    if kind == 0:
        return url[:8].upper() + url[8:]
    if kind == 1:
        return url + "#top"
    return url


@st.composite
def crawl_instance(draw):
    n_hosts = draw(st.integers(2, 4))
    hosts = [f"h{i}.example.com" for i in range(n_hosts)]
    n_docs = draw(st.integers(6, 16))
    doc_urls = [
        f"https://{hosts[draw(st.integers(0, n_hosts - 1))]}/p{i % 7}/{i}"
        for i in range(n_docs)
    ]
    docs = []
    for i, url in enumerate(doc_urls):
        spans = []
        for j in range(draw(st.integers(1, 3))):
            kind = draw(st.integers(0, 3))
            if kind == 0:  # media span with a link
                tgt = doc_urls[draw(st.integers(0, n_docs - 1))]
                spans.append(
                    {"kind": "media", "text": None, "media_ref": tgt, "offset": j}
                )
            elif kind == 1:  # media span without ref
                spans.append(
                    {"kind": "media", "text": None, "media_ref": None, "offset": j}
                )
            else:  # text span with 0-2 embedded links (href + bare)
                links = [
                    _mangle(draw, doc_urls[draw(st.integers(0, n_docs - 1))])
                    for _ in range(draw(st.integers(0, 2)))
                ]
                parts = [f'span {j} of d{i}:']
                for k, u in enumerate(links):
                    parts.append(f'<a href="{u}">x</a>' if k % 2 == 0 else f"see {u}.")
                spans.append(
                    {
                        "kind": "text",
                        "text": " ".join(parts),
                        "media_ref": None,
                        "offset": j,
                    }
                )
        docs.append({"doc_id": f"d{i}", "url": url, "spans": spans})

    n_seeds = draw(st.integers(1, 4))
    seeds = [
        {
            "url": _mangle(draw, doc_urls[draw(st.integers(0, n_docs - 1))]),
            "seed_rank": r,
        }
        for r in range(n_seeds)
    ]

    robots = []
    for h in hosts:
        for _ in range(draw(st.integers(0, 2))):
            pref = draw(st.sampled_from(["/p0", "/p1", "/p2", "/p"]))
            robots.append({"host": h, "path_pref": pref, "allow": False})

    politeness = []
    for h in hosts:
        if draw(st.booleans()):
            politeness.append(
                {"host": h, "max_per_round": draw(st.integers(1, 3)),
                 "crawl_delay_ms": 100}
            )
    return docs, seeds, robots, politeness


@pytest.fixture(scope="module")
def fuzz_spark(spark):
    return spark


@given(
    inst=crawl_instance(),
    seen_path=st.sampled_from(["below", "broadcast", "sharded"]),
    cross=st.booleans(),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_fuzzed_crawl_matches_sequential_oracle(fuzz_spark, inst, seen_path, cross):
    spark = fuzz_spark
    docs, seeds, robots, politeness = inst
    docs_df = spark.createDataFrame(docs, DOCS_SCHEMA)
    seeds_df = spark.createDataFrame(seeds, SEEDS_SCHEMA)
    robots_df = spark.createDataFrame(robots, ROBOTS_SCHEMA)
    pol_df = spark.createDataFrame(politeness, POL_SCHEMA)

    oracle = simulate_crawl(docs, seeds, robots, politeness, max_rounds=3)
    # a bloom path's threshold is 0 (on with the seed add) or, crossing,
    # the seed count in seen (on with the add after round 0). The serving
    # mode is derived from the bloom size; a zero driver budget makes the
    # state start cogroup-sharded
    threshold = SeenState.bloom_above_rows
    make = SeenState
    if seen_path != "below":
        n_seed_rows = len(oracle.seen) - sum(m["novel"] for m in oracle.metrics)
        threshold = n_seed_rows if cross else 0
    if seen_path == "sharded":
        make = partial(SeenState, broadcast_max_delta=0)
    built = []

    def factory(*a, **kw):
        built.append(make(*a, **kw))
        return built[-1]

    with mock.patch.object(scheduler, "SeenState", factory), \
            mock.patch.object(SeenState, "bloom_above_rows", threshold):
        res = run_crawl(
            spark, docs_df, seeds_df, robots_df, pol_df,
            CrawlConfig(max_rounds=3, num_partitions=2, n_salts=2,
                        expected_total=4096),
        )
        assert built[0].bloom_on == (len(oracle.seen) > threshold)

    engine_log = [
        (r["round"], r["seq"], r["url_canon"], r["surt"], r["url_hash"],
         r["host"], r["depth"], r["src_doc_id"])
        for r in res.fetch_log.orderBy("seq").collect()
    ]
    oracle_log = [
        (e["round"], e["seq"], e["url_canon"], e["surt"], e["url_hash"],
         e["host"], e["depth"], e["src_doc_id"])
        for e in oracle.fetch_log
    ]
    # 1. crawl-order parity
    assert engine_log == oracle_log
    # 2. seen-set parity
    engine_seen = {
        (r["surt"], r["url_hash"], r["url_canon"])
        for r in res.seen.select("surt", "url_hash", "url_canon").collect()
    }
    oracle_seen = {(s, h, c) for s, (h, c) in oracle.seen.items()}
    assert engine_seen == oracle_seen
    # 3. metrics parity
    assert res.metrics == oracle.metrics
    # 4. politeness budgets respected
    budgets = {p["host"]: p["max_per_round"] for p in politeness}
    per_rh: dict[tuple, int] = {}
    for e in engine_log:
        per_rh[(e[0], e[5])] = per_rh.get((e[0], e[5]), 0) + 1
    for (_rnd, host), n in per_rh.items():
        assert n <= budgets.get(host, 2), (host, n)
    # 5. robots respected
    denied_prefs: dict[str, list[str]] = {}
    for r in robots:
        denied_prefs.setdefault(r["host"], []).append(r["path_pref"])
    for e in engine_log:
        path = re.sub(r"^[a-z]+://[^/]+", "", e[2])
        for pref in denied_prefs.get(e[5], []):
            assert not path.startswith(pref), (e[2], pref)
    # 6. dense deterministic global order
    assert [e[1] for e in engine_log] == list(range(len(engine_log)))
    assert [e[0] for e in engine_log] == sorted(e[0] for e in engine_log)
