"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark tests share one traced crawl of the ``t1`` fixture tier: it
commits every round, is replayed layer by layer, and its event log is
folded after the session stops.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import crawl  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

T1 = crawl.CrawlSpec(docs=500, budget_scale=1, rounds=3, store=True)


@pytest.fixture(scope="module", autouse=True)
def isolated():
    saved = dict(os.environ)
    run.isolate()
    yield
    os.environ.clear()
    os.environ.update(saved)


def test_graph_is_seeded():
    g = inputs.Graph(2_000)
    a, b = inputs.graph_rows(g, 1, 10), inputs.graph_rows(g, 1, 10)
    assert a == b
    assert inputs.graph_rows(g, 2, 10)["documents"] != a["documents"]
    assert inputs.graph_rows(g, 2, 10)["robots"] == a["robots"]


def test_graph_shape():
    g = inputs.Graph(8_000)
    rows = inputs.graph_rows(g, 7, 50)
    res = crawl.simulate_crawl(
        rows["documents"], rows["seeds"], rows["robots"], rows["politeness"],
        max_rounds=2, default_budget=100,
    )
    props = inputs.properties(g, rows, res)
    assert 0.27 < props["heavy_host_share_of_text_links"] < 0.33
    assert props["hosts"] == 20 and props["seeds"] == 200
    assert len(props["novel_share_per_round"]) == 2


def test_rewind_keeps_only_the_snapshots_up_to_the_version(tmp_path):
    kept = ["snapshots/00000001.json", "snapshots/.00000001.json.crc", "data/v1/seen/part-0"]
    dropped = ["snapshots/00000002.json", "snapshots/.00000002.json.crc", "data/v2/seen/part-0",
               "data/v10/seen/part-0"]
    for rel in kept + dropped:
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text("x")
    crawl.rewind(str(tmp_path), 1)
    assert all((tmp_path / rel).exists() for rel in kept)
    assert not any((tmp_path / rel).exists() for rel in dropped)
    assert sorted(p.name for p in (tmp_path / "data").iterdir()) == ["v1"]


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def test_fold_attributes_tasks_to_the_group_of_their_stage():
    log_dir = os.path.join(run.WORK, "test-fold")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "app-1"), "w") as f:
        f.write(
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
               "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-3"}})
        + _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}})
        + _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 3000})
        + _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 3000,
               "Stage IDs": [2], "Properties": {}})
        + _event("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor Run Time": 99}})
        + _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 4000})
        )
    folded = spans.fold_event_log(log_dir)
    shutil.rmtree(log_dir)
    g = folded["groups"]["span-3"]
    assert g["exec_s"] == 1.5 and g["job_wall_s"] == 2.0
    assert g["shuffle_write_bytes"] == 10 and g["tasks"] == 1
    assert list(folded["groups"]) == ["span-3"]
    assert spans.group_coverage(folded) == pytest.approx(2.0 / 3.0)


@pytest.fixture(scope="module")
def traced_t1():
    from warchaeology_spark.fixtures.generate import (
        gen_documents_spans, gen_politeness, gen_robots, gen_seeds,
    )

    work = os.path.join(run.WORK, "test")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "events")
    spark = run.session_factory(event_dir)()
    tracer = spans.Tracer(spark)
    gens = {"documents": gen_documents_spans, "seeds": gen_seeds,
            "robots": gen_robots, "politeness": gen_politeness}
    with tracer.span("setup.load"):
        t = {k: g(spark, "t1").localCheckpoint(eager=True) for k, g in gens.items()}
        rows = {k: [r.asDict(recursive=True) for r in df.collect()] for k, df in t.items()}
    store = os.path.join(work, "store")
    with tracer.span("scheduler.crawl"):
        res = crawl.crawl_pass(spark, T1, t, store)["result"]
    with tracer.span("check"):
        engine = checks.engine_digests(res.fetch_log, res.seen)
    with tracer.span("replay"):
        counts = crawl.replay(spark, tracer, T1, t, store, lambda msg: None)
    metrics = res.metrics
    run.shutdown(spark)
    oracle = crawl.simulate_crawl(
        rows["documents"], rows["seeds"], rows["robots"], rows["politeness"],
        max_rounds=T1.rounds, default_budget=T1.budget,
    )
    out = {
        "engine": engine,
        "oracle": checks.oracle_digests(oracle),
        "counts": counts,
        "metrics": metrics,
        "folded": spans.fold_event_log(event_dir),
        "tracer": tracer,
    }
    shutil.rmtree(work, ignore_errors=True)
    return out


def test_oracle_digests_match_on_t1(traced_t1):
    assert traced_t1["engine"]["fetch_log"]["rows"] > 0
    assert checks.mismatches(traced_t1["engine"], traced_t1["oracle"]) == []


def test_replay_counts_match_crawl_metrics(traced_t1):
    assert len(traced_t1["counts"]) == T1.rounds
    assert crawl.self_check(traced_t1["counts"], traced_t1["metrics"]) == []
    # a disagreeing count is reported, not hidden
    wrong = [dict(c) for c in traced_t1["counts"]]
    wrong[1]["novel"] += 1
    assert crawl.self_check(wrong, traced_t1["metrics"]) == [1]


def test_job_groups_cover_the_traced_crawl(traced_t1):
    folded = traced_t1["folded"]
    assert spans.group_coverage(folded) >= 0.9
    totals = {s["name"]: s for s in spans.span_totals(traced_t1["tracer"], folded)}
    assert totals["scheduler.crawl"]["exec_s"] > 0
    assert totals["replay"]["tasks"] > 0
