"""SeenState broadcast-bloom: per-round broadcast bytes must be
proportional to the round DELTA (changed shards), never the full bitset
set (VERDICT r1 finding #2), and membership must stay exact."""

from __future__ import annotations

from pyspark.sql import functions as F

from warchaeology_spark.frontier.seen import SeenState


def _urls(spark, hashes):
    return spark.createDataFrame(
        [(h, f"surt{h}", f"http://u{h}/") for h in hashes],
        "url_hash long, surt string, url_canon string",
    )


def test_broadcast_bytes_track_delta_not_total(spark):
    st = SeenState(spark, num_partitions=8, expected_total=80_000, use_bloom=True)
    shard_bytes = st.m_bits // 8

    # round 1: keys spread over ALL 8 shards
    st.add(_urls(spark, [i for i in range(64)]))
    st.novel(_urls(spark, [999_001])).count()
    assert st.last_broadcast_bytes == 8 * shard_bytes

    # round 2: keys touch ONLY shard 0 (multiples of 8) -> 1-shard delta
    st.add(_urls(spark, [8 * i for i in range(100, 140)]))
    st.novel(_urls(spark, [999_002])).count()
    assert st.last_broadcast_bytes == shard_bytes  # NOT 8 * shard_bytes

    # membership stays exact across the delta chain
    out = st.novel(_urls(spark, [3, 8 * 105, 999_003]))
    got = {r["url_hash"] for r in out.collect()}
    assert got == {999_003}


def test_broadcast_chain_compacts(spark):
    st = SeenState(spark, num_partitions=4, expected_total=40_000, use_bloom=True)
    compactions = 0
    for r in range(6):
        st.add(_urls(spark, [4 * r]))  # every round dirties shard 0 only
        # truncate the seen union each round, as run_crawl does
        st.seen = st.seen.localCheckpoint(eager=True)
        chain_before = len(st._bc_chain)
        got = {x["url_hash"] for x in st.novel(_urls(spark, [4 * r, 999_100 + r])).collect()}
        assert got == {999_100 + r}
        # novel() appended this round's delta; a shorter chain than
        # before + 1 means the stale shard-0 entries were compacted away
        compactions += len(st._bc_chain) <= chain_before
        # the chain stays bounded after EVERY round, not only at the end
        entries = sum(len(bc.value) for bc in st._bc_chain)
        live = len({p for bc in st._bc_chain for p in bc.value})
        assert entries <= 2 * max(live, 1)
    assert compactions >= 2
    # and the compacted chain still answers correctly
    got = {r["url_hash"] for r in st.novel(_urls(spark, [0, 20, 999_999])).collect()}
    assert got == {999_999}


def test_restore_seeds_driver_shards(spark):
    st = SeenState(spark, num_partitions=4, expected_total=40_000, use_bloom=True)
    st.add(_urls(spark, list(range(20))))
    snapshot_bloom = st.bloom  # property: built from driver shards
    snapshot_seen = st.seen.localCheckpoint(eager=True)

    st2 = SeenState(spark, num_partitions=4, expected_total=40_000, use_bloom=True)
    st2.restore(snapshot_seen, snapshot_bloom)
    got = {r["url_hash"] for r in st2.novel(_urls(spark, [5, 15, 777])).collect()}
    assert got == {777}


def test_large_delta_auto_demotes_to_sharded(spark, monkeypatch):
    # a delta above broadcast_max_delta must flip the state to the
    # cogroup-sharded mode BEFORE any row data is pulled through the
    # driver, and membership must stay exact across the migration
    from pyspark.sql import DataFrame

    st = SeenState(spark, num_partitions=4, expected_total=40_000, use_bloom=True)
    st.broadcast_max_delta = 50
    st.add(_urls(spark, list(range(10))))  # small delta: broadcast path
    assert st.broadcast_bloom and st._shards

    def no_driver_rows(self, *a, **kw):
        raise AssertionError("row data pulled through the driver on a large delta")

    monkeypatch.setattr(DataFrame, "toPandas", no_driver_rows)
    big = _urls(spark, list(range(1000, 1100)))  # 100 rows > 50
    st.add(big, n_rows=100)
    assert not st.broadcast_bloom  # demoted, one-way
    assert not st._shards and not st._bc_chain
    monkeypatch.undo()

    # pre-demotion bits migrated + post-demotion bits set, both effective
    got = {
        r["url_hash"]
        for r in st.novel(_urls(spark, [3, 1005, 888_888])).collect()
    }
    assert got == {888_888}


def test_add_without_hint_counts_before_collecting(spark):
    # no n_rows hint: broadcast mode must still demote on a large delta
    # (it counts first — the count is allowed, a row collect is not)
    st = SeenState(spark, num_partitions=4, expected_total=40_000, use_bloom=True)
    st.broadcast_max_delta = 5
    st.add(_urls(spark, list(range(20))))  # 20 > 5, no hint
    assert not st.broadcast_bloom
    got = {r["url_hash"] for r in st.novel(_urls(spark, [7, 555])).collect()}
    assert got == {555}


def test_slim_and_branchy_novel_shapes_agree(spark):
    """novel() picks its join shape on seen_rows_approx; both shapes must
    return identical rows (incl. rescuing bloom false positives and keeping
    within-round duplicate candidates)."""
    seen_rows = list(range(0, 100, 2))
    cand_rows = list(range(50, 150)) + [51, 53]  # overlaps + dup candidates

    def run(slim_min, fpp_ckpt=False):
        st = SeenState(spark, num_partitions=4, expected_total=1000,
                       use_bloom=True, slim_join_min_rows=slim_min,
                       fpp_checkpoint_tested=fpp_ckpt)
        st.add(_urls(spark, seen_rows))
        out = st.novel(_urls(spark, cand_rows))
        assert out.columns == ["url_hash", "surt", "url_canon"]
        return sorted((r["url_hash"], r["surt"]) for r in out.collect())

    branchy = run(10**9)  # threshold never reached -> branchy shape
    slim = run(0)         # always slim shape
    # slim + checkpointed tested frame (one bloom evaluation) — the
    # kernel's fpp_checkpoint_tested setting must not change rows
    slim_ckpt = run(0, fpp_ckpt=True)
    expect = sorted(
        (h, f"surt{h}") for h in cand_rows if h not in set(seen_rows)
    )
    assert branchy == slim == slim_ckpt == expect
