"""Crawl-order + URL-seen-set parity: engine vs sequential oracle
(BASELINE.json metric; FIXTURES.md §6). Also: every seen-set path (below
the bloom threshold, broadcast and sharded bloom, a mid-crawl crossing),
salted top-k equivalence, checkpoint/resume equivalence. The fixture's
seen set is far below ``SeenState.bloom_above_rows``, so a test that needs
the bloom patches in a smaller threshold."""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from warchaeology_spark.frontier.oracle import simulate_crawl
from warchaeology_spark.frontier.scheduler import CrawlConfig, run_crawl
from warchaeology_spark.frontier.seen import SeenState


def _load_inputs(spark, fixture_dir):
    docs = spark.read.parquet(f"{fixture_dir}/documents_spans.parquet")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    robots = spark.read.parquet(f"{fixture_dir}/robots.parquet")
    pol = spark.read.parquet(f"{fixture_dir}/politeness.parquet")
    return docs, seeds, robots, pol


def _rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


@pytest.fixture(scope="module")
def oracle_result(spark, fixture_dir):
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    return simulate_crawl(
        _rows(docs), _rows(seeds), _rows(robots), _rows(pol), max_rounds=5
    )


def _route_seen_state(monkeypatch, make):
    """Build run_crawl's SeenState through ``make`` (same arguments);
    returns the list of states built."""
    from warchaeology_spark.frontier import scheduler

    built = []

    def factory(*a, **kw):
        built.append(make(*a, **kw))
        return built[-1]

    monkeypatch.setattr(scheduler, "SeenState", factory)
    return built


def _fetch_tuples(fetch_log_df):
    return [
        (r["round"], r["seq"], r["url_canon"], r["surt"], r["url_hash"],
         r["host"], r["depth"], r["src_doc_id"])
        for r in fetch_log_df.orderBy("seq").collect()
    ]


def _oracle_tuples(oracle_result):
    return [
        (e["round"], e["seq"], e["url_canon"], e["surt"], e["url_hash"],
         e["host"], e["depth"], e["src_doc_id"])
        for e in oracle_result.fetch_log
    ]


def test_crawl_order_and_seen_parity(spark, fixture_dir, oracle_result, monkeypatch):
    # the broadcast bloom turns on mid-crawl: the threshold sits between
    # the seen-set size after round 0 and after round 1
    m = oracle_result.metrics
    after_r0 = len(oracle_result.seen) - sum(x["novel"] for x in m[1:])
    monkeypatch.setattr(SeenState, "bloom_above_rows", after_r0)
    built = _route_seen_state(monkeypatch, SeenState)
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    res = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=5, num_partitions=4, expected_total=20_000),
    )
    assert m[1]["novel"] > 0 and built[0].bloom_on and not built[0].is_sharded
    assert _fetch_tuples(res.fetch_log) == _oracle_tuples(oracle_result)

    engine_seen = {
        (r["surt"], r["url_hash"], r["url_canon"]) for r in res.seen.collect()
    }
    oracle_seen = {
        (surt, h, canon) for surt, (h, canon) in oracle_result.seen.items()
    }
    assert engine_seen == oracle_seen

    # per-round metrics agree too
    assert res.metrics == oracle_result.metrics

    # per-partition lineage: shard counts sum to the round's scheduled count
    for m, pm in zip(res.metrics, res.partition_metrics):
        assert m["round"] == pm["round"]
        assert sum(pm["scheduled_per_partition"].values()) == m["scheduled"]


def test_bloom_off_equivalence(spark, fixture_dir, oracle_result, monkeypatch):
    # the default config stays below the bloom threshold: exact anti-join
    # only — no broadcast built, no bit set
    built = _route_seen_state(monkeypatch, SeenState)
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    res = run_crawl(spark, docs, seeds, robots, pol, CrawlConfig(max_rounds=5))
    assert _fetch_tuples(res.fetch_log) == _oracle_tuples(oracle_result)
    st = built[0]
    assert not st.bloom_on and st._bc is None and not st._shards
    assert st.bloom.filter(F.col("bitset") != F.unhex(F.repeat(
        F.lit("00"), st.m_bits // 8))).count() == 0


def test_bloom_sharded_equivalence(spark, fixture_dir, oracle_result, monkeypatch):
    # cogroup-sharded bloom path must match too: a zero driver budget
    # makes the state start sharded (the mode is derived, not configured)
    monkeypatch.setattr(SeenState, "bloom_above_rows", 0)
    built = _route_seen_state(monkeypatch, partial(SeenState, broadcast_max_delta=0))
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    res = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=3, num_partitions=4, expected_total=20_000),
    )
    assert built[0].is_sharded
    oracle3 = [t for t in _oracle_tuples(oracle_result) if t[0] < 3]
    assert _fetch_tuples(res.fetch_log) == oracle3


def test_salting_does_not_change_semantics(spark, fixture_dir, oracle_result):
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    res = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=3, n_salts=1),
    )
    res_salted = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=3, n_salts=16),
    )
    assert _fetch_tuples(res.fetch_log) == _fetch_tuples(res_salted.fetch_log)


def test_checkpoint_resume(spark, fixture_dir, oracle_result, tmp_path):
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    root = str(tmp_path / "snap")
    # run 2 rounds with checkpointing, then "crash" and resume to 5
    run_crawl(spark, docs, seeds, robots, pol,
              CrawlConfig(max_rounds=2, store_root=root))
    resumed = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=5, store_root=root, resume=True),
    )
    assert _fetch_tuples(resumed.fetch_log) == _oracle_tuples(oracle_result)
    engine_seen = {r["surt"] for r in resumed.seen.collect()}
    assert engine_seen == set(oracle_result.seen)
    # pending_after continues from the manifest's last metrics row
    assert resumed.metrics == oracle_result.metrics


def test_resume_without_bloom_table_builds_bits_from_seen(
    spark, fixture_dir, oracle_result, tmp_path, monkeypatch
):
    """A store whose manifest has no ``bloom`` table resumes with the bits
    built from ``seen``: byte for byte the bits the crawl committed, and
    the resumed crawl still matches the oracle."""
    import json

    from warchaeology_spark.frontier.checkpoint import SnapshotStore

    def bits(st):
        return {r["pid"]: bytes(r["bitset"]) for r in st.bloom.collect()}

    monkeypatch.setattr(SeenState, "bloom_above_rows", 0)
    built = _route_seen_state(monkeypatch, SeenState)
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    root = str(tmp_path / "snap_nobloom")
    run_crawl(spark, docs, seeds, robots, pol,
              CrawlConfig(max_rounds=2, store_root=root))
    committed = bits(built[0])
    assert any(any(b) for b in committed.values())
    store = SnapshotStore(spark, root)
    path = f"{root}/snapshots/{store.latest_version():08d}.json"
    entry = json.loads(store._read_text(path))
    del entry["tables"]["bloom"]
    store._write_text(path, json.dumps(entry))

    restored = {}
    real_restore = SeenState.restore

    def recording_restore(self, seen, bloom, assume_large=True):
        assert bloom is None
        real_restore(self, seen, bloom, assume_large)
        restored.update(bits(self))

    monkeypatch.setattr(SeenState, "restore", recording_restore)
    resumed = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=5, store_root=root, resume=True),
    )
    assert restored == committed
    assert _fetch_tuples(resumed.fetch_log) == _oracle_tuples(oracle_result)
    assert {r["surt"] for r in resumed.seen.collect()} == set(oracle_result.seen)


def test_kill_with_uncommitted_deferred_rounds_resumes_exactly(
    spark, fixture_dir, oracle_result, tmp_path, monkeypatch
):
    """The commit durability contract: a kill loses the rounds whose
    commits never reached disk, and resume REPLAYS them exactly. Simulated
    by dropping every snapshot commit after the first on the floor (the
    crash happens before later commits reach disk), then resuming: the
    store holds only round 0, so rounds 1+ re-run — and the replayed
    crawl must still match the sequential oracle row-for-row."""
    from warchaeology_spark.frontier import checkpoint as cp

    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    root = str(tmp_path / "snap_kill")
    real_commit = cp.SnapshotStore.commit
    n_commits = {"n": 0}

    def crashy_commit(self, *a, **kw):
        n_commits["n"] += 1
        if n_commits["n"] > 1:
            return None  # commit never reached disk: the process died
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(cp.SnapshotStore, "commit", crashy_commit)
    run_crawl(spark, docs, seeds, robots, pol,
              CrawlConfig(max_rounds=4, store_root=root))
    monkeypatch.setattr(cp.SnapshotStore, "commit", real_commit)
    assert n_commits["n"] > 1  # the crawl DID attempt later commits

    resumed = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=5, store_root=root, resume=True),
    )
    # the store's manifest stops at round 1 -> rounds 1-4 replay
    assert resumed.rounds_run == 4
    assert _fetch_tuples(resumed.fetch_log) == _oracle_tuples(oracle_result)
    assert {r["surt"] for r in resumed.seen.collect()} == set(oracle_result.seen)
    assert resumed.metrics == oracle_result.metrics


def test_delta_commits_write_round_delta_not_full_state(spark, fixture_dir, oracle_result, tmp_path):
    # append-only tables (seen, fetch_log) must commit O(round delta)
    # bytes, not O(accumulated state): each snapshot's manifest appends
    # exactly one new delta path whose row count equals that round's
    # additions (VERDICT r2 #4)
    from warchaeology_spark.frontier.checkpoint import SnapshotStore

    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    root = str(tmp_path / "snap")
    res = run_crawl(spark, docs, seeds, robots, pol,
                    CrawlConfig(max_rounds=4, store_root=root))
    store = SnapshotStore(spark, root)
    versions = store.versions()
    assert len(versions) == res.rounds_run
    prev_paths: list[str] = []
    for i, v in enumerate(versions):
        entry = store.manifest(v)["tables"]["seen"]
        paths = entry["paths"]
        # chain grows by exactly one delta, reusing prior files verbatim
        assert paths[:-1] == prev_paths
        delta_rows = spark.read.parquet(paths[-1]).count()
        m = res.metrics[i]
        if i == 0:  # round-0 delta also carries the gated seed set
            from warchaeology_spark.frontier.scheduler import _init_pending

            expected = m["novel"] + _init_pending(seeds).count()
        else:
            expected = m["novel"]
        assert delta_rows == expected
        fl_paths = store.manifest(v)["tables"]["fetch_log"]["paths"]
        assert len(fl_paths) == i + 1
        assert spark.read.parquet(fl_paths[-1]).count() == m["scheduled"]
        prev_paths = paths
    # the unioned chain is the full seen set
    assert store.load("seen").count() == res.seen.count()


def test_delta_chain_compacts(spark, fixture_dir, oracle_result, tmp_path, monkeypatch):
    # chains longer than compact_after collapse to one file set and
    # resume/parity still holds
    from warchaeology_spark.frontier.checkpoint import SnapshotStore

    monkeypatch.setattr(SnapshotStore, "compact_after", 2)
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    root = str(tmp_path / "snap")
    run_crawl(spark, docs, seeds, robots, pol,
              CrawlConfig(max_rounds=2, store_root=root))
    resumed = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=5, store_root=root, resume=True),
    )
    store = SnapshotStore(spark, root)
    for v in store.versions():
        for t in ("seen", "fetch_log"):
            assert len(store.manifest(v)["tables"][t]["paths"]) <= 3
    assert _fetch_tuples(resumed.fetch_log) == _oracle_tuples(oracle_result)
    engine_seen = {r["surt"] for r in resumed.seen.collect()}
    assert engine_seen == set(oracle_result.seen)


def test_torn_commit_tmp_manifest_is_harmless(spark, fixture_dir, oracle_result, tmp_path):
    # a driver killed between manifest write and rename leaves a
    # {v}.json.tmp behind; it must not break versions()/resume, and the
    # next store init garbage-collects it
    from warchaeology_spark.frontier.checkpoint import SnapshotStore

    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    root = str(tmp_path / "snap")
    run_crawl(spark, docs, seeds, robots, pol,
              CrawlConfig(max_rounds=2, store_root=root))
    store = SnapshotStore(spark, root)
    v = store.latest_version()
    # simulate the torn commit: an in-flight temp for the NEXT version
    store._write_text(f"{root}/snapshots/{v + 1:08d}.json.tmp", "{torn")
    assert store.versions()[-1] == v  # filter ignores it even before GC
    store2 = SnapshotStore(spark, root)  # init GCs the stray temp
    assert store2.latest_version() == v
    assert not store2._fs.exists(
        store2._Path(f"{root}/snapshots/{v + 1:08d}.json.tmp")
    )
    resumed = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=5, store_root=root, resume=True),
    )
    assert _fetch_tuples(resumed.fetch_log) == _oracle_tuples(oracle_result)


def test_auto_demotion_mid_crawl_parity(
    spark, fixture_dir, oracle_result, tmp_path, monkeypatch
):
    """Mid-crawl broadcast->sharded bloom demotion (seen.py
    broadcast_max_delta) must preserve exact fetch-log/seen parity, the
    demoted MODE must be recorded in the snapshot meta, and a resume must
    come back sharded instead of collecting the bitsets to the driver
    (ADVICE r3 #4; VERDICT r3 next #6)."""
    from warchaeology_spark.frontier.checkpoint import SnapshotStore

    def small_budget(*a, **kw):
        # the derived start mode is broadcast
        st = SeenState(*a, **kw)
        st.bloom_above_rows = 0
        # round-0 seed add is small; round-1+ novel counts exceed 5 on
        # this fixture, so a max_delta of 5 forces a MID-crawl demotion
        st.broadcast_max_delta = 5
        return st

    built = _route_seen_state(monkeypatch, small_budget)
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    root = str(tmp_path / "snap")
    demoted = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=3, num_partitions=4, expected_total=20_000,
                    store_root=root),
    )
    assert built[0].is_sharded
    oracle3 = [t for t in _oracle_tuples(oracle_result) if t[0] < 3]
    assert _fetch_tuples(demoted.fetch_log) == oracle3
    store = SnapshotStore(spark, root)
    ss_meta = store.meta()["seen_state"]
    assert ss_meta["broadcast_bloom"] is False  # demotion happened + persisted
    # resume must apply the sharded mode BEFORE restore and stay exact
    resumed = run_crawl(
        spark, docs, seeds, robots, pol,
        CrawlConfig(max_rounds=5, num_partitions=4, expected_total=20_000,
                    store_root=root, resume=True),
    )
    assert built[1].is_sharded
    assert _fetch_tuples(resumed.fetch_log) == _oracle_tuples(oracle_result)
    assert {r["surt"] for r in resumed.seen.collect()} == set(oracle_result.seen)


def test_fresh_crawl_refuses_dirty_store(spark, fixture_dir, tmp_path):
    """resume=False against a root holding an old crawl's snapshots must
    fail fast: commit() would chain the old crawl's seen/fetch_log deltas
    into the new crawl's state (ADVICE r3 #1)."""
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    root = str(tmp_path / "snap")
    run_crawl(spark, docs, seeds, robots, pol,
              CrawlConfig(max_rounds=2, store_root=root))
    with pytest.raises(ValueError, match="resume=True"):
        run_crawl(spark, docs, seeds, robots, pol,
                  CrawlConfig(max_rounds=2, store_root=root))


def test_crawl_from_robots_txt_documents(spark, fixture_dir, oracle_result):
    """run_crawl accepts raw robots.txt documents (host, content): the
    RFC parser runs once per crawl and the crawl is IDENTICAL to one
    gated by the equivalent pre-parsed prefix table (the fixture rules
    are disallow-only prefixes, where both semantics coincide)."""
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    txt = (
        robots.filter(~F.col("allow"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit("User-agent: *\n"),
                F.array_join(
                    F.transform(
                        F.collect_list("path_pref"),
                        lambda p: F.concat(F.lit("Disallow: "), p),
                    ),
                    "\n",
                ),
            ).alias("content")
        )
    )
    res = run_crawl(
        spark, docs, seeds, txt, pol,
        CrawlConfig(max_rounds=3, num_partitions=4, expected_total=20_000),
    )
    oracle3 = [t for t in _oracle_tuples(oracle_result) if t[0] < 3]
    assert _fetch_tuples(res.fetch_log) == oracle3


def test_robots_gating_effective(spark, fixture_dir, oracle_result):
    # fixture guarantees one fully-disallowed host; it must never be fetched
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    denied_hosts = {
        r["host"] for r in robots.filter(F.col("path_pref") == "/").collect()
    }
    assert denied_hosts
    fetched_hosts = {e["host"] for e in oracle_result.fetch_log}
    assert not (denied_hosts & fetched_hosts)


def test_span_sequence_invariant(spark, fixture_dir):
    """input_hint per-row invariant: the engine's span processing preserves
    span-sequence equality (kind, text, media_ref, order). Explode -> process
    -> reassemble-by-position must reproduce each document's span array
    exactly, and match a driver-side Python reconstruction."""
    docs = spark.read.parquet(f"{fixture_dir}/documents_spans.parquet")
    re = (
        docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "span"))).alias("ps"))
        .select(
            "doc_id",
            F.transform("ps", lambda x: x["span"]).alias("spans_reassembled"),
        )
    )
    joined = docs.join(re, "doc_id", "full")
    assert joined.filter(
        F.col("spans").isNull()
        | F.col("spans_reassembled").isNull()
        | (F.col("spans") != F.col("spans_reassembled"))
    ).count() == 0
    # driver-side reference: tuple-for-tuple, order included
    eng = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans_reassembled"]
        ]
        for r in re.collect()
    }
    ref = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in docs.collect()
    }
    assert eng == ref


def test_all_seeds_denied_first_round_flush(spark, fixture_dir, tmp_path):
    """ADVICE r6 medium: a fresh store-backed crawl whose FIRST round
    schedules zero URLs (all seeds robots-denied) reaches the flush with
    seen_deltas=[seed delta] but fetch_logs=[] — pre-fix this crashed with
    IndexError in _commit_snapshot. Must instead commit the seed delta,
    omit the fetch_log append, and finish with an empty fetch log."""
    from warchaeology_spark.functions.urls import canonical_parts

    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    deny_all = (
        seeds.select(canonical_parts("url")["host"].alias("host"))
        .filter(F.col("host").isNotNull())
        .unionByName(robots.select("host"))
        .distinct()
        .select("host", F.lit("/").alias("path_pref"), F.lit(False).alias("allow"))
    )
    root = str(tmp_path / "snap_denied")
    res = run_crawl(
        spark, docs, seeds, deny_all, pol,
        CrawlConfig(max_rounds=3, store_root=root),
    )
    assert res.fetch_log.count() == 0
    # the seeds still entered the seen set (they were considered, denied)
    assert res.seen.count() >= seeds.count()
    # and the store is resumable without error
    resumed = run_crawl(
        spark, docs, seeds, deny_all, pol,
        CrawlConfig(max_rounds=3, store_root=root, resume=True),
    )
    assert resumed.fetch_log.count() == 0


def test_resume_refuses_jvm_bloom_manifest(spark, fixture_dir, tmp_path):
    """A store written by the removed JVM bloom serving mode holds a
    BloomFilterImpl-layout bloom that the numpy double-hash shards cannot
    read. Resume must refuse it from the manifest alone instead of
    adopting its bits (which could re-schedule already-seen URLs)."""
    import json

    from warchaeology_spark.frontier.checkpoint import SnapshotStore

    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    root = str(tmp_path / "snap_jvm")
    run_crawl(spark, docs, seeds, robots, pol,
              CrawlConfig(max_rounds=1, store_root=root))
    store = SnapshotStore(spark, root)
    path = f"{root}/snapshots/{store.latest_version():08d}.json"
    entry = json.loads(store._read_text(path))
    entry["meta"]["seen_state"]["jvm_bloom"] = True
    store._write_text(path, json.dumps(entry))
    with pytest.raises(ValueError, match="JVM bloom"):
        run_crawl(spark, docs, seeds, robots, pol,
                  CrawlConfig(max_rounds=2, store_root=root, resume=True))


# Spark jobs of a fresh 1-round crawl over the t1 fixture plus one collect
# of its fetch log, local[8]: 30 while the seed step checkpointed eagerly,
# the round stats ran two aggregates and global_sequence numbered rows in
# a mapInPandas pass; 26 while the bloom was on at every size (each add
# pulled its hashes to the driver) and `scheduled` was broadcast twice;
# 23 since.
MAX_ONE_ROUND_JOBS = 23


def test_one_round_crawl_job_count(spark, fixture_dir, oracle_result):
    """Fixed per-round cost is counted in jobs: a change that adds a
    driver action or an eager checkpoint to the crawl path fails here."""
    docs, seeds, robots, pol = _load_inputs(spark, fixture_dir)
    sc = spark.sparkContext
    group = "test-one-round-crawl-jobs"
    sc.setJobGroup(group, group)
    try:
        res = run_crawl(spark, docs, seeds, robots, pol, CrawlConfig(max_rounds=1))
        rows = res.fetch_log.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    fetched = _fetch_tuples(spark.createDataFrame(rows, res.fetch_log.schema))
    assert fetched == [t for t in _oracle_tuples(oracle_result) if t[0] == 0]
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= MAX_ONE_ROUND_JOBS, n_jobs
