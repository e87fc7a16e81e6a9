"""URL-seen set: exact hash table + partitioned bloom pre-filter (SURVEY §4.2 #1).

The reference's semantic ancestor is the Badger DigestIndex — an atomic
read-or-insert keyed on digest (/root/reference/internal/index/
digestindex.go:45-68). At 10^10 keys a single-node LSM (or a single
driver-side bloom: ~12 GB at 1% fpp) cannot work; the Spark-native design:

- **exact seen** — a DataFrame/table ``seen(url_hash, surt, url_canon)``
  hash-partitioned on ``pmod(url_hash, P)``. Membership is a left-anti
  join; this is the *source of truth*, so frontier parity is exact and a
  bloom false positive can never lose a URL.
- **partitioned bloom** — ``bloom(pid, bitset binary)``, one bitset per
  hash partition, each sized for total_expected/P keys. Candidates are
  tested *co-grouped by pid* (cogroup + applyInPandas: the bitset crosses
  the wire once per partition, never once per row) with vectorized numpy
  double-hashing (h1 + i*h2, the standard Kirsch-Mitzenmacher scheme).
  Definitely-new candidates (bloom miss) skip the exact anti-join
  entirely; only "maybe seen" rows (true hits + fpp) pay the join. At a
  steady-state crawl where most discovered links are already seen, the
  bloom removes the dominant shuffle.

One rule picks the path: the bloom is on above ``bloom_above_rows`` seen
rows. Up to it ``add()`` only unions and counts and ``novel()`` is the
exact anti-join on ``surt``. The add that crosses the threshold inserts
the whole ``seen`` table, later adds their delta: the bits depend only on
the set of seen hashes, so the crossing cannot change a result.

The bloom is served in one of two modes, derived from its size
(``_fits_broadcast``): broadcast (driver-held numpy shards, one broadcast
per change) when the full bitset set fits the per-round driver budget,
cogroup-sharded otherwise — the 10^10 design point below starts sharded.

Scale math (design point, documented for the 10^10 target; the sizing is
``_bloom_params``): 1% fpp -> 9.59 bits/key, so P=4096 partitions of
10^10/4096 keys each hold a 2.93 MB bitset with k=7 (11.98 GB in total) —
each task holds exactly one bitset in memory; update is an OR per partition.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import ClassVar

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _bloom_params(expected_per_partition: int, fpp: float) -> tuple[int, int]:
    """(m_bits rounded to a multiple of 64, k) for the target fpp."""
    n = max(expected_per_partition, 1024)
    m = int(-n * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _fits_broadcast(num_partitions: int, m_bits: int, max_delta: int) -> bool:
    """True when the full bitset set fits the broadcast mode's per-round
    driver budget (8 B per delta row x ``max_delta``) — the state then
    starts in broadcast mode, else cogroup-sharded."""
    return num_partitions * (m_bits // 8) <= 8 * max_delta


def _positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(len(hashes), k) bit positions via double hashing on the u64 hash."""
    h = hashes.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd -> full period
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bitset: np.ndarray, hashes: np.ndarray, m_bits: int, k: int) -> None:
    pos = _positions(hashes, m_bits, k).ravel()
    np.bitwise_or.at(bitset, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bitset: np.ndarray, hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    pos = _positions(hashes, m_bits, k)
    bits = (bitset[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return bits.all(axis=1)


@dataclass
class SeenState:
    """Exact seen table + partitioned bloom, both plain DataFrames.

    ``num_partitions`` is the bloom/hash partition count (fixed for the
    crawl's lifetime — it is the key-space sharding, not the task count).
    """

    spark: SparkSession
    num_partitions: int = 8
    expected_total: int = 100_000
    fpp: float = 0.01
    # Per-round driver budget of the broadcast serving mode, in delta rows
    # (8 B of url_hash each). In broadcast mode the bitsets are
    # AUTHORITATIVE ON THE DRIVER as numpy shards: add() pulls only the
    # round's url_hash delta via Arrow and sets bits locally, novel()
    # broadcasts the live shards once per change, and membership is a
    # scalar pandas UDF over ONLY the hash column. The mode is derived,
    # not configured: a state whose full bitset set exceeds 8 B x this
    # budget starts cogroup-sharded (bits set on the executors, each task
    # sees only its shard), and a broadcast-mode insert above it demotes
    # the state to sharded before any row data reaches the driver
    # (VERDICT r2 #2: ~800 MB single-threaded at 10^8 rows/round).
    broadcast_max_delta: int = 10_000_000
    # the bloom is on above this many (approx) seen rows: a floor above
    # every measured loss, not a crossover (BENCH/ab_bloom_kernel.json:
    # the anti-join alone won up to and including 2M seen rows). A class
    # constant; tests patch it to turn the bloom on at fixture size.
    bloom_above_rows: ClassVar[int] = 2_000_000

    def __post_init__(self):
        self.m_bits, self.k = _bloom_params(
            self.expected_total // self.num_partitions, self.fpp
        )
        self.broadcast_bloom = _fits_broadcast(
            self.num_partitions, self.m_bits, self.broadcast_max_delta
        )
        self.seen: DataFrame = self.spark.createDataFrame(
            [], "url_hash long, surt string, url_canon string"
        )
        # approximate cumulative seen rows (sum of add() deltas) — turns
        # the bloom on; order-of-magnitude is enough
        self.seen_rows_approx: int = 0
        # broadcast-mode state (driver-authoritative): the shards, the one
        # live broadcast of them, and whether add()/restore() changed bits
        # since that broadcast was built
        self._shards: dict[int, np.ndarray] = {}
        self._bc = None
        self._bc_stale = True
        self.last_broadcast_bytes = 0
        # sharded-mode state (cluster-authoritative DataFrame); the zero
        # bitsets are generated on the executors, never on the driver
        self._bloom_df: DataFrame = self.spark.range(self.num_partitions).select(
            F.col("id").cast("int").alias("pid"),
            F.unhex(F.repeat(F.lit("00"), self.m_bits // 8)).alias("bitset"),
        )

    # -- bloom as a DataFrame (checkpoint surface) ---------------------------
    @property
    def bloom(self) -> DataFrame:
        """The bloom as a (pid, bitset) DataFrame, all zeros while off.

        Sharded mode: the live distributed table. Broadcast mode: built
        from the driver shards on demand (checkpoint/inspection only — the
        hot path never materializes it)."""
        if not self.broadcast_bloom:
            return self._bloom_df
        zero = bytes(self.m_bits // 8)
        pdf = pd.DataFrame(
            {
                "pid": pd.Series(range(self.num_partitions), dtype="int32"),
                "bitset": [
                    self._shards[p].tobytes() if p in self._shards else zero
                    for p in range(self.num_partitions)
                ],
            }
        )
        return self.spark.createDataFrame(pdf)

    @bloom.setter
    def bloom(self, df: DataFrame) -> None:
        """Broadcast mode loads the driver shards from ``df`` (restore
        path — one full collect at resume, never per round)."""
        if not self.broadcast_bloom:
            self._bloom_df = df
            return
        self._shards = {}
        for r in df.collect():
            bits = np.frombuffer(bytes(r["bitset"]), dtype=np.uint8).copy()
            if bits.any():
                self._shards[int(r["pid"])] = bits
        self._bc_stale = True

    # -- helpers ------------------------------------------------------------
    @property
    def bloom_on(self) -> bool:
        """The one path rule: above ``bloom_above_rows`` seen rows the
        bloom holds every seen hash and ``novel()`` tests it first."""
        return self.seen_rows_approx > self.bloom_above_rows

    @property
    def is_sharded(self) -> bool:
        """True when the bloom is on and lives cluster-side as a (pid,
        bitset) table (derived from the bitset size at construction, or
        arrived at by auto-demotion from the broadcast mode) — the caller
        must then checkpoint ``bloom`` per round."""
        return self.bloom_on and not self.broadcast_bloom

    def _pid(self, col):
        return F.pmod(col, F.lit(self.num_partitions)).cast("int")

    def _switch_to_sharded(self) -> None:
        """Migrate driver-authoritative shards into the cluster-side
        (pid, bitset) table and demote to cogroup-sharded mode. One-way:
        a crawl whose rounds outgrow the broadcast path stays sharded."""
        self._bloom_df = self.bloom  # getter builds the DF from driver shards
        self.broadcast_bloom = False
        if self._bc is not None:
            self._bc.unpersist()
        self._bc = None
        self._shards = {}

    # -- api ----------------------------------------------------------------
    def add(self, urls: DataFrame, n_rows: int | None = None) -> None:
        """Insert (url_hash, surt, url_canon) rows; caller guarantees they
        are not already present (the round loop only adds survivors of
        ``novel()``) and that any pending ``novel()`` result was
        materialized first (the round loop localCheckpoints between the
        two — see novel()).

        ``n_rows``: the delta's row count when the caller already knows it
        (the round loop does — no extra action); without it the delta is
        counted first (one cheap job). Up to ``bloom_above_rows`` that is
        all; the add that crosses it inserts the whole seen table into the
        bloom, later adds their delta."""
        rows = urls.select("url_hash", "surt", "url_canon")
        self.seen = self.seen.unionByName(rows)
        if n_rows is None:
            n_rows = rows.count()
        was_on = self.bloom_on
        self.seen_rows_approx += n_rows
        if was_on:
            self._insert(rows, n_rows)
        elif self.bloom_on:
            self._insert(self.seen, self.seen_rows_approx)

    def _insert(self, rows: DataFrame, n_rows: int) -> None:
        """Set the bits of ``rows``' url_hash. In broadcast mode an insert
        above ``broadcast_max_delta`` rows demotes the state to sharded
        mode BEFORE any row data is pulled to the driver."""
        m_bits, k = self.m_bits, self.k
        if self.broadcast_bloom and n_rows > self.broadcast_max_delta:
            self._switch_to_sharded()  # falls through to cogroup path
        if self.broadcast_bloom:
            # pull ONLY the hash column (8 B/URL, Arrow) — the round delta
            hv = rows.select("url_hash").toPandas()["url_hash"].to_numpy()
            if not len(hv):
                return
            pids = (hv % self.num_partitions + self.num_partitions) % self.num_partitions
            for p in np.unique(pids):
                shard = self._shards.get(int(p))
                if shard is None:
                    shard = np.zeros(m_bits // 8, dtype=np.uint8)
                    self._shards[int(p)] = shard
                _set_bits(shard, hv[pids == p], m_bits, k)
            self._bc_stale = True
            return

        def or_partition(key, bloom_pdf, new_pdf):
            if len(bloom_pdf):
                bits = np.frombuffer(bloom_pdf["bitset"].iloc[0], dtype=np.uint8).copy()
            else:  # partition had no bitset row (cannot happen after init)
                bits = np.zeros(m_bits // 8, dtype=np.uint8)
            if len(new_pdf):
                _set_bits(bits, new_pdf["url_hash"].to_numpy(), m_bits, k)
            return pd.DataFrame({"pid": [key[0]], "bitset": [bits.tobytes()]})

        new_hashed = rows.select(
            self._pid(F.col("url_hash")).alias("pid"), "url_hash"
        )
        self._bloom_df = (
            self._bloom_df.groupBy("pid")
            .cogroup(new_hashed.groupBy("pid"))
            .applyInPandas(or_partition, "pid int, bitset binary")
        )

    def novel(self, cands: DataFrame) -> DataFrame:
        """Rows of ``cands`` (must carry url_hash, surt) NOT in the seen set.

        Bloom off: the exact anti-join on surt. Bloom on: bloom miss ->
        definitely new (no join); bloom hit -> the exact anti-join
        resolves false positives (``_fpp_filter``).

        Snapshot contract: the result captures the seen set AS OF THIS
        CALL (the broadcast is built here; the exact table is the
        lazily-captured ``self.seen`` plan). Materialize the result before
        the next ``add()`` — the scheduler's round loop localCheckpoints
        the gated result and runs its stats action on it between the two,
        which pins the snapshot.
        """
        if not self.bloom_on:
            seen = self.seen.select("surt")
            return cands.join(seen, "surt", "left_anti").select(cands.columns)
        if self.broadcast_bloom:
            return self._novel_broadcast(cands)

        m_bits, k = self.m_bits, self.k

        def test_partition(key, bloom_pdf, cand_pdf):
            if not len(cand_pdf):
                return cand_pdf.assign(maybe_seen=pd.Series([], dtype=bool))
            bits = np.frombuffer(bloom_pdf["bitset"].iloc[0], dtype=np.uint8)
            hit = _test_bits(bits, cand_pdf["url_hash"].to_numpy(), m_bits, k)
            return cand_pdf.assign(maybe_seen=hit)

        cands_p = cands.withColumn("pid", self._pid(F.col("url_hash")))
        schema = ", ".join(f"{n} {t}" for n, t in cands_p.dtypes) + ", maybe_seen boolean"
        tested = (
            self._bloom_df.groupBy("pid")
            .cogroup(cands_p.groupBy("pid"))
            .applyInPandas(test_partition, schema)
        )
        return self._fpp_filter(tested).drop("maybe_seen", "pid")

    def _fpp_filter(self, tested: DataFrame) -> DataFrame:
        """Single-pass novel filter with shuffle-slim false-positive rescue.

        ``tested`` = candidates + a ``maybe_seen`` bloom verdict. Novel =
        bloom-miss rows, PLUS bloom-hit rows that are NOT actually in the
        seen table (false positives). Three structural choices for scale:

        1. The exact anti-join that finds the false positives runs on a
           slim (url_hash, surt) projection — shuffling full candidate
           rows (canonical URL + host strings) through it would multiply
           the exchange bytes for no information. Survivor count is
           bounded by fpp x |candidates| (the novel rows that
           false-positived), so the rescue set is always broadcastable at
           a sane fpp.
        2. The output is ONE scan of ``tested`` with a broadcast probe
           (bloom-miss OR fpp-survivor), not a union of two filter
           branches: Catalyst evaluates union branches independently, so
           the branchy shape re-runs the candidate lineage (parse +
           bloom UDF) once per branch; this shape runs the full-width
           lineage once.
        3. ``tested`` is checkpointed before its two consumers, so the
           bloom test and the candidate lineage run once, not twice; it
           holds one round's candidates, never |seen|
           (BENCH/ab_fpp_ckpt_r7.json: -13% to -24% on the kernel).
        """
        keys = ["url_hash", "surt"]
        tested = tested.localCheckpoint(eager=True)
        survivors = (
            tested.filter(F.col("maybe_seen"))
            .select(*keys)
            .join(self.seen.select(*keys), keys, "left_anti")
            .distinct()  # candidate dupes must not multiply the left join
            .withColumn("_fpp", F.lit(True))
        )
        return (
            tested.join(F.broadcast(survivors), keys, "left")
            .filter(~F.col("maybe_seen") | F.col("_fpp").isNotNull())
            .select(tested.columns)  # join-on-list reorders; restore
        )

    def _broadcast_shards(self):
        """The one live broadcast of the driver shards, rebuilt only when
        add()/restore() changed bits since the last build (the previous one
        is unpersisted). Rebuilding all live shards costs no more than a
        delta would: shards are pmod(url_hash, P), so a delta of n keys
        misses a given shard with probability (1-1/P)^n (~2e-6 at n=100,
        P=8). ``last_broadcast_bytes`` is 0 when the broadcast is reused."""
        self.last_broadcast_bytes = 0
        if self._bc_stale:
            if self._bc is not None:
                self._bc.unpersist()
            shards = {p: b.tobytes() for p, b in self._shards.items()}
            self._bc = self.spark.sparkContext.broadcast(shards)
            self.last_broadcast_bytes = sum(len(b) for b in shards.values())
            self._bc_stale = False
        return self._bc

    def _novel_broadcast(self, cands: DataFrame) -> DataFrame:
        """Broadcast-bloom membership; the UDF touches only the hash column."""
        import pandas as pd  # noqa: F811 (executor-side import)

        bc = self._broadcast_shards()  # snapshot: later add()s don't leak in
        m_bits, k, P = self.m_bits, self.k, self.num_partitions

        @F.pandas_udf("boolean")
        def bloom_maybe(h: pd.Series) -> pd.Series:
            shards = bc.value
            hv = h.to_numpy()
            pids = (hv % P + P) % P  # pmod
            out = np.zeros(len(hv), dtype=bool)
            for p in np.unique(pids):
                blob = shards.get(int(p))
                if blob is None:  # shard never written -> definitely new
                    continue
                sel = pids == p
                out[sel] = _test_bits(
                    np.frombuffer(blob, dtype=np.uint8), hv[sel], m_bits, k
                )
            return pd.Series(out)

        tested = cands.withColumn("maybe_seen", bloom_maybe(F.col("url_hash")))
        return self._fpp_filter(tested).drop("maybe_seen")

    def restore(
        self, seen: DataFrame, bloom: DataFrame | None, assume_large: bool = True
    ) -> None:
        """Resume a fresh state from a committed ``seen`` table (set
        ``seen_rows_approx`` from the manifest first). ``assume_large``:
        the manifest has no row count, so assume the bloom is on. With the
        bloom on, a stored ``bloom`` (committed above the threshold,
        so it holds every seen hash) is adopted; without one the bits are
        built from ``seen`` — the same bits."""
        self.seen = seen
        if assume_large:
            self.seen_rows_approx = max(self.seen_rows_approx, self.bloom_above_rows + 1)
        if not self.bloom_on:
            return
        if bloom is None:
            self._insert(seen, seen.count())
        else:
            self.bloom = bloom  # broadcast mode: seeds driver shards
