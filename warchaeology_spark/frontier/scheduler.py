"""The crawl-frontier round scheduler (north rule; SURVEY §7 M5-M6).

Iterative batch rounds over snapshot state (not Structured Streaming): at
10^10-URL scale the seen/pending state must live in partitioned tables,
not in a streaming state store. Each round is one declarative DataFrame
plan; Catalyst/AQE pick physical strategies. Up to the seen set's bloom
threshold no Python touches the data; above it the vectorized bloom test
(seen.py) is the only Python on the data path.

Round dataflow::

    pending ──politeness_topk (salted per-host top-k)──> scheduled(round r)
    scheduled ──anti-join──> pending'
    scheduled ⋈ documents(url) ──extract_outlinks──> raw links
    links ──canonicalize (JVM) ── surt/url_hash ──> candidates
    candidates ──first-wins min_by (shuffle on surt)──> discovered
    discovered ──SeenState.novel (exact anti-join, bloom-first at scale)──> novel
    novel ──robots_gate──> gated (allowed | denied)
    scheduled by pmod(url_hash, P) ∪ gated as pid -1 ──one groupBy──> round stats
    seen += gated;  pending' += allowed(depth+1)
    commit snapshot {pending, seen, bloom, fetch_log_r, metrics_r}

Determinism contract (= the reference's --deterministic semantics,
/root/reference/cmd/dedup/dedup.go:143-147, generalized to stay parallel):
every order-sensitive step keys on the total order (depth, url_canon),
and same-round duplicate discoveries resolve by
min(src_depth, src_url, span_offset, link_idx). The sequential oracle
(frontier/oracle.py) implements the identical contract; parity tests
assert exact crawl-order and seen-set equality.

Scale notes (100 TB / 1000-executor design points):
- the documents ⋈ scheduled join: scheduled is the small side (budget x
  hosts per round) -> broadcast; documents stays put. On a real cluster
  documents is Iceberg-bucketed by xxhash64(url) so even a huge scheduled
  side co-locates.
- seen anti-join: hash-partitioned on url_hash; above 2M seen rows the
  bloom pre-filter removes the already-seen majority before the shuffle.
- heavy-host skew: salted two-phase top-k (politeness.py) + AQE.
- lineage: every round ends in a parquet-backed snapshot (checkpoint.py),
  so plan depth is O(1) in rounds and a kill resumes from the last commit.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warchaeology_spark.frontier.checkpoint import SnapshotStore
from warchaeology_spark.frontier.links import extract_outlinks
from warchaeology_spark.frontier.politeness import politeness_topk, robots_gate
from warchaeology_spark.frontier.seen import SeenState
from warchaeology_spark.functions.urls import with_canonical
from warchaeology_spark.plans.ranks import global_sequence

PENDING_COLS = ["surt", "url_canon", "url_hash", "host", "depth", "src_doc_id"]


@dataclass
class CrawlConfig:
    max_rounds: int = 10
    default_budget: int = 2
    n_salts: int = 8
    num_partitions: int = 8
    expected_total: int = 100_000
    # enables checkpoint/resume: every round commits a snapshot, so a kill
    # loses only the round in flight and resume replays it exactly
    store_root: str | None = None
    resume: bool = False


@dataclass
class CrawlResult:
    fetch_log: DataFrame  # (round, seq, url_canon, surt, url_hash, host, depth, src_doc_id)
    seen: DataFrame
    metrics: list[dict] = field(default_factory=list)
    # per-partition lineage (north rule): for each round, scheduled-row
    # counts per url_hash partition — the audit trail that a resume/replay
    # re-derives the same shard contents. Kept separate from `metrics` so
    # metrics stays bit-comparable with the sequential oracle's.
    partition_metrics: list[dict] = field(default_factory=list)
    rounds_run: int = 0
    # per-round wall-clock of each driver-side CALL (politeness ckpt,
    # extract+dedup ckpt, fetch+gate ckpt, merged stats collect, seen add,
    # state ckpts, commit). The checkpoints are lazy, so a call's time is
    # whatever jobs AQE happened to run inside it: these numbers do not
    # attribute work to a phase. For per-layer attribution use
    # ``perfbench/run.py --trace 1`` (job groups + event-log fold).
    timings: list[dict] = field(default_factory=list)


def _canonicalized(df: DataFrame, url_col: str) -> DataFrame:
    """Attach url_canon / surt / url_hash / host; drop non-crawlable rows.

    One staged parse (with_canonical) supplies all three string columns;
    the hash is xxhash64 over the surt (the seen-set identity key).
    """
    return with_canonical(df, url_col).withColumn("url_hash", F.xxhash64("surt"))


def _candidates(links: DataFrame) -> DataFrame:
    """Attach the surt dedup key to each crawlable link; drop the rest."""
    return with_canonical(links, "raw_url").drop("url_canon", "host")


def _init_pending(seeds: DataFrame) -> DataFrame:
    """Canonicalize seeds; first-wins per surt by seed_rank (total order)."""
    c = _canonicalized(seeds, "url")
    firsts = c.groupBy("surt").agg(
        F.min_by(
            F.struct("url_canon", "url_hash", "host", "seed_rank"), F.col("seed_rank")
        ).alias("w")
    )
    return firsts.select(
        "surt",
        F.col("w.url_canon").alias("url_canon"),
        F.col("w.url_hash").alias("url_hash"),
        F.col("w.host").alias("host"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("src_doc_id"),
    )


def run_crawl(
    spark: SparkSession,
    documents: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    politeness: DataFrame,
    config: CrawlConfig = CrawlConfig(),
) -> CrawlResult:
    store = SnapshotStore(spark, config.store_root) if config.store_root else None
    if store and not config.resume and store.latest_version() is not None:
        # A fresh crawl must not chain onto an old crawl's append deltas:
        # commit() extends the chain from manifest(latest), so committing
        # v=latest+1 here would union the OLD crawl's seen/fetch_log files
        # into this crawl's state after the first in-loop restore (stale
        # seen rows suppressing new URLs, stale fetch rows leaking into the
        # result). Fail fast; the caller either resumes or points at a
        # fresh root. (ADVICE r3 #1.)
        raise ValueError(
            f"store root {config.store_root!r} already holds snapshot "
            f"v{store.latest_version()}; pass resume=True to continue that "
            "crawl, or use an empty store root for a fresh crawl"
        )
    seen_state = SeenState(
        spark,
        num_partitions=config.num_partitions,
        expected_total=config.expected_total,
    )
    # robots input is either the pre-parsed (host, path_pref, allow)
    # prefix table (fixture/oracle model, any-disallow-prefix semantics)
    # or raw robots.txt DOCUMENTS (host, content) — then the RFC 9309
    # parser runs ONCE per crawl (robots.py; longest-match, allow-tie,
    # wildcards) and each round gates against the persisted rule table.
    if "content" in robots.columns:
        from warchaeology_spark.frontier.robots import (
            parse_robots_txt,
            robots_gate_rfc,
        )

        rules = parse_robots_txt(robots).localCheckpoint(eager=True)

        def gate(df: DataFrame) -> DataFrame:
            return robots_gate_rfc(df, rules)
    else:
        def gate(df: DataFrame) -> DataFrame:
            return robots_gate(df, robots)

    metrics: list[dict] = []
    partition_metrics: list[dict] = []
    # committed vs uncommitted split: commits APPEND only the uncommitted
    # deltas (seen rows added, fetch rows logged since the last commit) —
    # per-round committed bytes are proportional to the round delta, not
    # the accumulated state (VERDICT r2 #4)
    fetch_log_base: DataFrame | None = None
    fetch_logs: list[DataFrame] = []  # uncommitted round logs
    seen_deltas: list[DataFrame] = []  # uncommitted seen additions (store only)
    start_round = 0

    def _admit(gated: DataFrame, n_rows: int) -> DataFrame:
        """Add gated rows (denied ones too) to seen, record the seen delta
        for the next commit, and return the allowed rows as pending rows."""
        seen_state.add(gated, n_rows=n_rows)  # hint: auto mode-demotion
        if store:
            seen_deltas.append(gated.select("url_hash", "surt", "url_canon"))
        return gated.filter(~F.col("robots_denied")).select(*PENDING_COLS)

    if store and config.resume and store.latest_version() is not None:
        m = store.meta()
        # apply the committed seen-state mode BEFORE restore: a crawl that
        # auto-demoted to sharded must resume sharded (ADVICE r3 #4), and
        # bloom setter semantics depend on the mode. Pre-r4 manifests have
        # no seen_state entry -> keep the mode derived from the bloom size.
        ss_meta = m.get("seen_state", {})
        if ss_meta.get("jvm_bloom"):
            # stores written by the retired JVM serving mode hold one
            # BloomFilterImpl-layout row that the numpy double-hash shards
            # cannot read; adopting it could re-schedule seen URLs
            raise ValueError(
                f"store root {config.store_root!r} was written by the "
                "removed JVM bloom serving mode; its bloom cannot be "
                "resumed — start a fresh crawl in an empty store root"
            )
        start_round = m["next_round"]
        metrics = list(m.get("metrics", []))
        partition_metrics = list(m.get("partition_metrics", []))
        pending = store.load("pending")
        if not ss_meta.get("broadcast_bloom", seen_state.broadcast_bloom):
            seen_state.broadcast_bloom = False
        committed_rows = ss_meta.get("seen_rows_approx")
        if committed_rows is not None:
            seen_state.seen_rows_approx = int(committed_rows)
        seen_state.restore(
            store.load("seen"),
            store.load("bloom") if store.has_table("bloom") else None,
            # the committed count turns the bloom on or off; only a pre-r4
            # manifest has none (assume large). A store without a bloom
            # table gets its bits built from seen.
            assume_large=committed_rows is None,
        )
        if "fetch_log" in store.manifest()["tables"]:
            fetch_log_base = store.load("fetch_log")
        # a store whose only commit is the seed delta has no metrics row
        n_pending = metrics[-1]["pending_after"] if metrics else pending.count()
    else:
        gated = gate(_init_pending(seeds)).localCheckpoint(eager=False)
        # one action gives the gated total AND the denied count: the seed
        # add gets its delta-size hint and n_pending derives arithmetically
        c0 = gated.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("robots_denied").cast("long")).alias("d"),
        ).collect()[0]
        pending = _admit(gated, c0["n"]).localCheckpoint(eager=False)
        n_pending = c0["n"] - int(c0["d"] or 0)
    timings: list[dict] = []

    def _commit_snapshot(next_round: int) -> None:
        """One snapshot commit: append the seen/fetch deltas since the last
        commit, rewrite pending + bloom, then re-read to truncate lineage
        at the snapshot boundary."""
        nonlocal fetch_logs, seen_deltas, pending, fetch_log_base
        # Either delta list may be empty at a flush (e.g. a fresh crawl whose
        # FIRST round schedules nothing: seen_deltas holds the seed delta but
        # fetch_logs is [] — ADVICE r6 medium). Union only what exists and
        # omit the corresponding append key; commit() appends nothing for
        # absent keys, so an empty delta costs no snapshot file.
        append: dict[str, DataFrame] = {}
        if seen_deltas:
            sd = seen_deltas[0]
            for extra in seen_deltas[1:]:
                sd = sd.unionByName(extra)
            append["seen"] = sd
        if fetch_logs:
            fl = fetch_logs[0]
            for extra in fetch_logs[1:]:
                fl = fl.unionByName(extra)
            append["fetch_log"] = fl
        # pending mutates non-monotonically -> full rewrite (bounded by
        # the live frontier; Iceberg swap: merge-on-read). bloom bitsets
        # mutate in place -> full rewrite (12 GB at the 10^10 design
        # point vs ~1 TB for seen — the seen/fetch_log deltas are the
        # write-amplification fix that matters). Up to the bloom
        # threshold the bloom table is all zeros.
        store.commit(
            {"pending": pending, "bloom": seen_state.bloom},
            {
                "next_round": next_round,
                "metrics": metrics,
                "partition_metrics": partition_metrics,
                # seen-state mode must survive resume: a crawl that
                # auto-demoted to cogroup-sharded must NOT resume into
                # broadcast mode (restore would collect the full bitset
                # set — ~12 GB at the 10^10 design point — to the driver
                # and re-enter the mode the demotion guard escaped).
                # The exact row count lets resume apply the bloom rule
                # without an extra action.
                # (ADVICE r3 #4.)
                "seen_state": {
                    "broadcast_bloom": seen_state.broadcast_bloom,
                    "seen_rows_approx": seen_state.seen_rows_approx,
                },
            },
            append=append,
        )
        seen_deltas = []
        fetch_logs = []
        # re-read to truncate lineage at the snapshot boundary. The
        # broadcast mode's driver shards are authoritative and have no
        # lineage to truncate; re-seeding them would collect the full
        # bitset set back to the driver every round.
        pending = store.load("pending")
        seen_state.seen = store.load("seen")
        if seen_state.is_sharded:
            seen_state.bloom = store.load("bloom")
        # a flush with zero logged fetches (fresh crawl whose first round
        # schedules nothing) commits no fetch_log table
        if store.has_table("fetch_log"):
            fetch_log_base = store.load("fetch_log")

    import time as _time

    # Checkpoint placement (each one measured against its alternative by
    # an interleaved fresh-JVM A/B): every seed/round/state localCheckpoint
    # is lazy, so it is materialized by the first job that reads it instead
    # of costing a dedicated job (BENCH/ab_lazy_round_r8.json); the
    # winner-sized `discovered` frame is checkpointed once per round
    # because novel() reads it twice (BENCH/ab_ckpt_disc_r7.json: -25%);
    # the sharded bloom's checkpoint stays eager.
    r = start_round
    while r < config.max_rounds:
        tr: dict = {"round": r}
        t0 = _time.monotonic()
        scheduled = politeness_topk(
            pending, politeness, config.default_budget, config.n_salts
        ).localCheckpoint(eager=False)
        tr["politeness_ckpt_sec"] = round(_time.monotonic() - t0, 3)

        fetch_log_r = scheduled.select(
            F.lit(r).alias("round"), "url_canon", "surt", "url_hash", "host",
            "depth", "src_doc_id",
        )
        pending_next = pending.join(
            scheduled.select("surt"), "surt", "left_anti"
        )

        # fetch: exact canonical-URL match against the document table.
        # scheduled is tiny vs documents -> broadcast the scheduled side,
        # ONCE: the fetched rows carry their depth onto their link rows.
        # Two broadcasts of it would be two stages reading the lazy
        # `scheduled` checkpoint at once, racing to store its block.
        fetched_docs = documents.join(
            F.broadcast(scheduled.select(
                F.col("url_canon").alias("url"), F.col("depth").alias("src_depth")
            )),
            "url",
        )
        links = extract_outlinks(fetched_docs, carry=("src_depth",))
        # Two-step canonicalization around the dedup shuffle: the map side
        # keeps only the surt grouping key of its staged parse, and the
        # winner's url_canon/host are parsed AFTER the shuffle, on the
        # deduped survivors only. Same winner row, same outputs: the min_by
        # order tuple is unchanged, and url_canon/host are pure functions
        # of the winning raw_url.
        cands = _candidates(links)
        # same-round first-wins per surt: min over the discovery total order
        winners = cands.groupBy("surt").agg(
            F.min_by(
                F.struct("raw_url", "src_depth", "src_doc_id"),
                F.struct("src_depth", "src_url", "span_offset", "link_idx"),
            ).alias("w")
        )
        discovered = with_canonical(winners, "w.raw_url").select(
            "surt",
            "url_canon",
            F.xxhash64("surt").alias("url_hash"),
            "host",
            (F.col("w.src_depth") + 1).alias("depth"),
            F.col("w.src_doc_id").alias("src_doc_id"),
        )

        t0 = _time.monotonic()
        discovered = discovered.localCheckpoint(eager=False)
        tr["extract_dedup_sec"] = round(_time.monotonic() - t0, 3)
        novel = seen_state.novel(discovered)
        t0 = _time.monotonic()
        gated = gate(novel).localCheckpoint(eager=False)
        tr["fetch_gate_ckpt_sec"] = round(_time.monotonic() - t0, 3)

        # ONE driver action for everything the round must learn: scheduled
        # rows keyed by their url_hash partition (count + per-partition
        # lineage) and gated rows under pid -1 (novel count, denied sum),
        # in one aggregate over the two checkpointed frames.
        t0 = _time.monotonic()
        stats = (
            scheduled.select(
                F.pmod("url_hash", F.lit(config.num_partitions)).cast("int").alias("pid"),
                F.lit(False).alias("robots_denied"),
            )
            .unionByName(gated.select(F.lit(-1).alias("pid"), "robots_denied"))
            .groupBy("pid")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("robots_denied").cast("long")).alias("d"))
            .collect()
        )
        per_part = dict(sorted((x["pid"], x["n"]) for x in stats if x["pid"] >= 0))
        n_sched = sum(per_part.values())
        # an empty gated frame has no pid -1 row: novel = denied = 0
        g = next((x for x in stats if x["pid"] < 0), {"n": 0, "d": 0})
        n_novel, n_denied = g["n"], int(g["d"] or 0)
        tr["stats_collect_sec"] = round(_time.monotonic() - t0, 3)
        if n_sched == 0:
            # nothing scheduled -> the (empty) round changed no state; a
            # fresh crawl stopping here still commits its seed delta
            if store and seen_deltas:
                _commit_snapshot(r)
            break
        fetch_logs.append(fetch_log_r)
        pending = pending_next

        t0 = _time.monotonic()
        allowed = _admit(gated, n_novel)
        tr["seen_add_sec"] = round(_time.monotonic() - t0, 3)
        # carry-over state: the lineage cut still happens, but
        # materialization rides the next round's first job instead of
        # costing a dedicated job here
        t0 = _time.monotonic()
        pending = pending.unionByName(allowed).localCheckpoint(eager=False)
        seen_state.seen = seen_state.seen.localCheckpoint(eager=False)
        if seen_state.is_sharded:
            # sharded mode (derived from the bloom size, or auto-demoted on
            # a large delta): truncate the cogroup lineage. Broadcast mode
            # keeps its bits on the driver — nothing to checkpoint here.
            seen_state.bloom = seen_state.bloom.localCheckpoint(eager=True)
        tr["state_ckpt_sec"] = round(_time.monotonic() - t0, 3)

        # derived, not re-counted: pending' = pending - scheduled + allowed
        # (the scheduled anti-join removes exactly n_sched rows — scheduled
        # is a subset of pending by construction; allowed = novel - denied).
        # Saves a driver action per round; at toy round sizes fixed
        # per-round job cost dominates the driver throughput metric.
        n_pending = n_pending - n_sched + (n_novel - n_denied)
        metrics.append(
            {
                "round": r,
                "scheduled": n_sched,
                "novel": n_novel,
                "robots_denied": n_denied,
                "pending_after": n_pending,
            }
        )
        partition_metrics.append(
            {"round": r, "scheduled_per_partition": per_part}
        )

        if store:
            t0 = _time.monotonic()
            _commit_snapshot(r + 1)
            tr["commit_sec"] = round(_time.monotonic() - t0, 3)
        timings.append(tr)
        r += 1

    parts = ([fetch_log_base] if fetch_log_base is not None else []) + fetch_logs
    if parts:
        fl = parts[0]
        for extra in parts[1:]:
            fl = fl.unionByName(extra)
    else:
        fl = spark.createDataFrame(
            [], "round int, url_canon string, surt string, url_hash long,"
            " host string, depth int, src_doc_id string"
        )
    # global crawl order: rounds ascend; within a round the deterministic
    # total order (depth, url_canon). Dense seq via the distributed two-pass.
    fl = global_sequence(fl, ["round", "depth", "url_canon"], "seq")
    return CrawlResult(
        fetch_log=fl,
        seen=seen_state.seen,
        metrics=metrics,
        partition_metrics=partition_metrics,
        rounds_run=r - start_round,
        timings=timings,
    )
