"""SeenState: the bloom turned on by the seen-set size, one live
broadcast per change of the driver shards, the serving mode derived from
the bloom size, demotion to the cogroup-sharded mode, and exact
membership in every mode. ``_state`` lowers the bloom threshold to 0, so
the bloom turns on with the first add at these sizes."""

from __future__ import annotations

from pyspark.sql import functions as F

from warchaeology_spark.frontier.seen import SeenState, _bloom_params, _fits_broadcast


def _state(spark, bloom_above_rows=0, **kw):
    st = SeenState(spark, **kw)
    st.bloom_above_rows = bloom_above_rows
    return st


def _urls(spark, hashes):
    return spark.createDataFrame(
        [(h, f"surt{h}", f"http://u{h}/") for h in hashes],
        "url_hash long, surt string, url_canon string",
    )


def test_broadcast_bytes_track_delta_not_total(spark):
    """Broadcast bytes follow the delta: a novel() after an add() ships
    the live driver shards once, a novel() with no add() in between
    ships nothing and reuses the same broadcast; membership stays exact."""
    st = _state(spark, num_partitions=8, expected_total=80_000)
    shard_bytes = st.m_bits // 8

    # round 1: keys spread over ALL 8 shards
    st.add(_urls(spark, [i for i in range(64)]))
    st.novel(_urls(spark, [999_001])).count()
    assert st.last_broadcast_bytes == 8 * shard_bytes
    first = st._bc

    # no delta since the last build: nothing shipped, same broadcast
    st.novel(_urls(spark, [999_002])).count()
    assert st.last_broadcast_bytes == 0 and st._bc is first

    # round 2: keys touch ONLY shard 0 (multiples of 8); the rebuild
    # ships every live shard in one broadcast
    st.add(_urls(spark, [8 * i for i in range(100, 140)]))
    st.novel(_urls(spark, [999_003])).count()
    assert st.last_broadcast_bytes == 8 * shard_bytes
    assert st._bc is not first

    # membership stays exact across the rebuild
    out = st.novel(_urls(spark, [3, 8 * 105, 999_004]))
    got = {r["url_hash"] for r in out.collect()}
    assert got == {999_004}
    assert st.last_broadcast_bytes == 0


def test_broadcast_chain_compacts(spark, monkeypatch):
    """The broadcast chain is at most one long: every rebuild unpersists
    the previous broadcast, so after EVERY round exactly one broadcast is
    live, and it answers membership exactly."""
    from pyspark.broadcast import Broadcast

    unpersisted = []
    real_unpersist = Broadcast.unpersist

    def recording_unpersist(self, blocking=False):
        unpersisted.append(self)
        return real_unpersist(self, blocking)

    monkeypatch.setattr(Broadcast, "unpersist", recording_unpersist)
    st = _state(spark, num_partitions=4, expected_total=40_000)
    shard_bytes = st.m_bits // 8
    built, added = [], []
    for r in range(4):
        # round r touches shards 0..r only (40*r is a multiple of P=4)
        keys = [40 * r + p for p in range(r + 1)]
        st.add(_urls(spark, keys))
        added += keys
        # truncate the seen union each round, as run_crawl does
        st.seen = st.seen.localCheckpoint(eager=True)
        got = {x["url_hash"] for x in st.novel(_urls(spark, keys + [999_000 + r])).collect()}
        assert got == {999_000 + r}
        # the rebuild ships every live shard, not just the changed ones
        assert st.last_broadcast_bytes == (r + 1) * shard_bytes
        built.append(st._bc)
        live = [bc for bc in built if not any(bc is u for u in unpersisted)]
        assert live == [st._bc]
    # and the single live broadcast still answers correctly
    got = {x["url_hash"] for x in st.novel(_urls(spark, added + [999_999])).collect()}
    assert got == {999_999}


def test_restore_seeds_driver_shards(spark):
    st = _state(spark, num_partitions=4, expected_total=40_000)
    st.add(_urls(spark, list(range(20))))
    snapshot_bloom = st.bloom  # property: built from driver shards
    snapshot_seen = st.seen.localCheckpoint(eager=True)

    st2 = _state(spark, num_partitions=4, expected_total=40_000)
    st2.restore(snapshot_seen, snapshot_bloom)
    got = {r["url_hash"] for r in st2.novel(_urls(spark, [5, 15, 777])).collect()}
    assert got == {777}


def test_large_delta_auto_demotes_to_sharded(spark, monkeypatch):
    # a delta above broadcast_max_delta must flip the state to the
    # cogroup-sharded mode BEFORE any row data is pulled through the
    # driver, and membership must stay exact across the migration
    from pyspark.sql import DataFrame

    st = _state(spark, num_partitions=4, expected_total=40_000)
    st.broadcast_max_delta = 50
    st.add(_urls(spark, list(range(10))))  # small delta: broadcast path
    assert st.broadcast_bloom and st._shards
    st.novel(_urls(spark, [1])).count()  # builds the live broadcast
    assert st._bc is not None

    def no_driver_rows(self, *a, **kw):
        raise AssertionError("row data pulled through the driver on a large delta")

    monkeypatch.setattr(DataFrame, "toPandas", no_driver_rows)
    big = _urls(spark, list(range(1000, 1100)))  # 100 rows > 50
    st.add(big, n_rows=100)
    assert not st.broadcast_bloom  # demoted, one-way
    assert not st._shards and st._bc is None
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
    st = _state(spark, num_partitions=4, expected_total=40_000)
    st.broadcast_max_delta = 5
    st.add(_urls(spark, list(range(20))))  # 20 > 5, no hint
    assert not st.broadcast_bloom
    got = {r["url_hash"] for r in st.novel(_urls(spark, [7, 555])).collect()}
    assert got == {555}


def test_add_without_hint_counts_rows_in_every_mode(spark):
    # the hint-less row count feeds seen_rows_approx (the bloom rule) the
    # same way whichever serving mode the state is in
    approx = {}
    for max_delta in (10_000_000, 0):  # derived start: broadcast, sharded
        st = _state(spark, num_partitions=4, expected_total=40_000,
                    broadcast_max_delta=max_delta)
        st.add(_urls(spark, list(range(30))))
        approx[st.is_sharded] = st.seen_rows_approx
    assert approx == {False: 30, True: 30}


def test_start_mode_derived_from_bloom_size():
    # 10^10 design point: 4096 shards of 10^10/4096 keys at 1% fpp hold
    # ~12 GB of bitsets — far above the 80 MB per-round driver budget, so
    # the state starts cogroup-sharded (sized, never allocated, here)
    m_bits, k = _bloom_params(10**10 // 4096, 0.01)
    assert k == 7 and round(4096 * m_bits / 8 / 1e9, 2) == 11.98
    assert not _fits_broadcast(4096, m_bits, SeenState.broadcast_max_delta)
    # today's callers keep broadcast mode: perfbench, bench.py mid and
    # mid30x (default budget), the bench.py kernel at 4M and 16M URLs
    # (budget = n_urls)
    for p, n, max_delta in (
        (8, 125_000, SeenState.broadcast_max_delta),
        (8, 5_000_000, SeenState.broadcast_max_delta),
        (8, 25_000_000, SeenState.broadcast_max_delta),
        (4, 4_000_000, 4_000_000),
        (4, 16_000_000, 16_000_000),
    ):
        assert _fits_broadcast(p, _bloom_params(n // p, 0.01)[0], max_delta)


def test_slim_and_branchy_novel_shapes_agree(spark):
    """novel() is the exact anti-join up to bloom_above_rows and the bloom +
    slim rescue join above it; both shapes, in both serving modes, must
    return identical rows (incl. rescuing bloom false positives and
    keeping within-round duplicate candidates)."""
    seen_rows = list(range(0, 100, 2))
    cand_rows = list(range(50, 150)) + [51, 53]  # overlaps + dup candidates

    def run(bloom_above, **kw):
        st = _state(spark, bloom_above, num_partitions=4, expected_total=1000, **kw)
        st.add(_urls(spark, seen_rows))
        out = st.novel(_urls(spark, cand_rows))
        assert out.columns == ["url_hash", "surt", "url_canon"]
        return st.bloom_on, sorted((r["url_hash"], r["surt"]) for r in out.collect())

    anti_join = run(10**9)  # threshold never reached -> exact anti-join
    broadcast = run(0)
    sharded = run(0, broadcast_max_delta=0)
    expect = sorted(
        (h, f"surt{h}") for h in cand_rows if h not in set(seen_rows)
    )
    assert anti_join == (False, expect)
    assert broadcast == sharded == (True, expect)


def _bits(st):
    return {r["pid"]: bytes(r["bitset"]) for r in st.bloom.collect()}


def test_bits_built_at_crossing_equal_incremental_bits(spark):
    """The add that crosses bloom_above_rows builds the bits from the whole
    seen table; they equal, byte for byte, the bits of a state whose bloom
    was on from the first add, and every seen url_hash tests positive."""
    import numpy as np

    from warchaeology_spark.frontier.seen import _test_bits

    deltas = [list(range(0, 30)), list(range(100, 140)), list(range(500, 520))]
    for kw in ({}, {"broadcast_max_delta": 0}):  # broadcast, sharded
        states = {}
        for bloom_above in (0, 50):  # on from the first add; crosses at add #2
            st = _state(spark, bloom_above, num_partitions=4, expected_total=4000, **kw)
            for i, d in enumerate(deltas):
                st.add(_urls(spark, d), n_rows=len(d))
                assert st.bloom_on == (bloom_above == 0 or i >= 1)
            states[bloom_above] = st
        assert states[50].is_sharded == bool(kw)
        assert _bits(states[0]) == _bits(states[50])
        hashes = np.array([h for d in deltas for h in d], dtype=np.int64)
        for pid, blob in _bits(states[50]).items():
            sel = hashes[hashes % 4 == pid]
            bits = np.frombuffer(blob, dtype=np.uint8)
            assert _test_bits(bits, sel, states[50].m_bits, states[50].k).all()

