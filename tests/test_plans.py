"""Physical-plan audits (.explain-driven): the plans we'd want at 100 TB,
asserted so regressions surface in CI, not on the cluster.

Each test inspects the optimized/executed plan string for the property
that matters at scale: scan pruning, filter pushdown, broadcast joins for
dims, no single-partition exchanges in the frontier path, no Window in the
distributed sequence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_projection_prunes_payload(fetch_records, fixture_dir, spark):
    # reference rewrite: skip block parsing unless m/s selected
    # (ls.go:116-118) == Parquet column pruning here: a projection without
    # payload must not read the payload column
    from warchaeology_spark.operators.ls import cdx_projection

    df = spark.read.parquet(f"{fixture_dir}/fetch_records.parquet")
    proj = cdx_projection(df, "V+11iT-8a100")
    p = plan_of(proj)
    assert "ReadSchema" in p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "payload" not in read_schema
    assert "url" in read_schema


def test_filter_pushdown_reaches_scan(fixture_dir, spark):
    df = spark.read.parquet(f"{fixture_dir}/fetch_records.parquet")
    out = df.filter((F.col("status_code") >= 200) & (F.col("status_code") < 300))
    p = plan_of(out)
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "GreaterThanOrEqual(status_code,200)" in pushed[0]


def test_robots_gate_broadcasts(spark, fixture_dir):
    from warchaeology_spark.frontier.politeness import robots_gate

    urls = spark.createDataFrame(
        [("http://h3.example.org/p1", "h3.example.org", "com,x)/p1", 1, 0, None)],
        "url_canon string, host string, surt string, url_hash long, depth int, src_doc_id string",
    )
    robots = spark.read.parquet(f"{fixture_dir}/robots.parquet")
    p = plan_of(robots_gate(urls, robots))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_rfc_robots_gate_broadcasts_and_never_multiplies(spark):
    # the RFC gate must stay ONE broadcast join of per-host rule arrays —
    # no row multiplication (rules x urls explode) and no cartesian
    from warchaeology_spark.frontier.robots import robots_gate_from_txt

    urls = spark.createDataFrame(
        [("https://a.com/p", "a.com")], "url_canon string, host string"
    )
    docs = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /p")], "host string, content string"
    )
    p = plan_of(robots_gate_from_txt(urls, docs))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    # gating adds no explode on the URL side: at most one Generate node
    # (the posexplode inside robots PARSING, on the tiny rule side).
    # simple mode lists each physical node once (formatted repeats them
    # in the detail section)
    simple = plan_of(robots_gate_from_txt(urls, docs), "simple")
    assert simple.count("Generate") <= 1
    # the URL path is materialized BEFORE the join (one regexp_extract per
    # URL row); an inline expression inside the aggregate fold would be
    # re-evaluated once per rule in the host's array (VERDICT r4 #6)
    full = plan_of(robots_gate_from_txt(urls, docs))
    assert full.count("[a-z]+://[^/]+(/.*)$") == 1


def test_ann_recall_floor_broadcasts_queries(spark):
    # both ANN probes and the brute-force rank must broadcast the (tiny)
    # query/probe side; the corpus is never replicated or cartesianed
    from warchaeology_spark.queries import ann_recall_floor_q

    p = plan_of(ann_recall_floor_q(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dim_join_broadcasts(spark):
    from warchaeology_spark.queries import broadcast_dim_join

    p = plan_of(broadcast_dim_join(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in p


def test_politeness_topk_no_single_partition(spark, fixture_dir):
    from warchaeology_spark.frontier.politeness import politeness_topk

    pending = spark.read.parquet(f"{fixture_dir}/seeds.parquet").select(
        F.col("url").alias("url_canon"),
        F.regexp_extract("url", r"://([^/]+)", 1).alias("host"),
        (F.col("seed_rank") % 3).alias("depth"),
    )
    pol = spark.read.parquet(f"{fixture_dir}/politeness.parquet")
    p = plan_of(politeness_topk(pending, pol))
    # the windows partition by (host[, salt]) — never a global window
    assert "SinglePartition" not in p


def test_global_sequence_has_no_window(spark):
    from warchaeology_spark.plans.ranks import global_sequence

    df = spark.range(1000).select(F.col("id").alias("k"))
    out = global_sequence(df, ["k"], "seq", num_partitions=4)
    p = plan_of(out)
    assert "Window" not in p
    # numbering is a JVM projection: no Python node anywhere in the plan
    for node in ("Python", "Pandas", "Arrow"):
        assert node not in p, node
    # and it is actually dense + correctly ordered
    rows = [r["seq"] for r in out.orderBy("k").collect()]
    assert rows == list(range(1000))
    # more partitions than rows, and an empty frame: still dense from 0
    three = spark.createDataFrame([(3,), (1,), (2,)], "k long")
    out = global_sequence(three, ["k"], "seq", num_partitions=8)
    assert [(r["k"], r["seq"]) for r in out.orderBy("k").collect()] == [(1, 0), (2, 1), (3, 2)]
    empty = spark.createDataFrame([], "k long")
    assert global_sequence(empty, ["k"], "seq", num_partitions=4).collect() == []


def test_dedup_exchanges_bounded(fetch_records):
    from warchaeology_spark.operators.dedup import dedup_first_wins

    p = plan_of(dedup_first_wins(fetch_records))
    # single window pass (first_value carries the RevisitRef) — exactly one
    # hash exchange on digest, no join-back
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, p
    assert "Join" not in p, p


def test_pricing_summary_partial_agg(spark):
    from warchaeology_spark.queries import pricing_summary

    p = plan_of(pricing_summary(spark, "/root/testdata/sf0.001"))
    # partial (map-side) aggregation before the exchange
    assert "partial_sum" in p or "partial_" in p


def test_simhash_signature_stage_has_no_exchange(spark):
    # scan-side simhash: per-row F.aggregate over the token array — the
    # signature must be computable with ZERO shuffles (VERDICT r1 #6)
    from warchaeology_spark.operators.textdedup import simhash_signatures

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_of(simhash_signatures(df))
    assert "Exchange" not in p, p


def test_slim_novel_keeps_wide_columns_out_of_exchanges(spark):
    """The scale shape of novel(): the fpp anti-join shuffles only the
    (url_hash, surt) key projection — the wide url_canon column must not
    appear in any hash-partitioned Exchange — and the survivor rescue is a
    broadcast, not a shuffle."""
    from warchaeology_spark.frontier.seen import SeenState

    st = SeenState(spark, num_partitions=4, expected_total=10_000)
    st.bloom_above_rows = 0  # the bloom shape at this size
    seen = spark.range(0, 1000, 2).select(
        F.col("id").alias("url_hash"),
        F.concat(F.lit("s"), F.col("id")).alias("surt"),
        F.concat(F.lit("http://u"), F.col("id"), F.lit("/wide-payload")).alias("url_canon"),
    )
    st.add(seen, n_rows=500)
    cands = spark.range(1000).select(
        F.col("id").alias("url_hash"),
        F.concat(F.lit("s"), F.col("id")).alias("surt"),
        F.concat(F.lit("http://u"), F.col("id"), F.lit("/wide-payload")).alias("url_canon"),
        F.lit(0).alias("depth"),
    )
    plan = plan_of(st.novel(cands), "extended")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastExchange" in phys or "broadcast" in phys.lower()
    for line in phys.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "url_canon" not in line, line


def test_frontier_parse_is_inlined_once(spark):
    """The frontier's URL parses (the seed step and the round's candidate
    links) hold the parse once per row: the authority regex appears once
    in the optimized plan, and no Filter inlines a regex extract. A filter
    on the parse output is pushed below the projections with the parse
    substituted into it; the fused codegen method then outgrows HotSpot's
    8,000-byte JIT limit and runs interpreted."""
    from warchaeology_spark.frontier.scheduler import _candidates, _canonicalized
    from warchaeology_spark.functions.urls import _AUTH_RE

    seeds = spark.createDataFrame([("http://a.example/x", 0)], "url string, seed_rank int")
    links = spark.createDataFrame(
        [("d0", "http://a.example/", 0, 0, 0, "http://b.example/y?b&a")],
        "src_doc_id string, src_url string, src_depth int, span_offset int,"
        " link_idx int, raw_url string",
    )
    for df in (_canonicalized(seeds, "url"), _candidates(links)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count(_AUTH_RE) == 1, plan
        for line in plan.splitlines():
            if line.lstrip(" :+-").startswith("Filter"):
                assert "regexp_extract" not in line, line
