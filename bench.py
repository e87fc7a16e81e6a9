"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the frontier
throughput metric (BASELINE.json: URLs scheduled/sec).

Prints ONE JSON line with self-describing fields:
  {"metric": "headline_queries_total_sec", "value": <sum of query secs>,
   "unit": "sec", "queries": {name: sec, ...}, "sf": ...,
   "headline_seconds": ..., "kernel_urls_per_sec": ...,
   "frontier_urls_per_sec": ...,
   "frontier": {"urls_scheduled": N, "elapsed_sec": best-of-k,
                "pass_times_sec": [...], "loadavg_before": [...]},
   "kernel": {...}}
"metric"/"value" always name exactly one number (headline seconds in the
full bench, frontier URLs/sec in --frontier-only, kernel URLs/sec in
--kernel-only); the rates are additionally present under their own names.

Modes (argv[1]):
  (none)          full bench: headline queries + frontier throughput
  --frontier-only only the frontier job (used by tools/exec_scaling.py,
                  which runs it at 1/2/4 executors for the N-vs-4N
                  scaling-efficiency evidence -> BENCH/BASELINE.md)
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    "pricing_summary",
    "dedup_first_wins",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_fast",
    "dedup_clusters",
    "simhash_signatures",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_fast",
    "embedding_cosine_topk",
    "embedding_neardup_pairs",
    "sessionization",
    "topk_per_group",
    "politeness_topk_analog",
    "url_scalar_functions",
    "url_hash_xxhash64",
    "text_analysis",
    "broadcast_dim_join",
    "lead_offset_size",
    "deterministic_global_seq",
    "convert_warc_repair",
]

# "mid" (2M docs, 50k seeds, ~10^5 scheduled/round): the rate measures
# the pipeline, not per-round fixed cost (VERDICT r4 next #5)
FRONTIER_TIER = os.environ.get("SPARK_GRAFT_FRONTIER_TIER", "mid")
FRONTIER_ROUNDS = int(os.environ.get("SPARK_GRAFT_FRONTIER_ROUNDS", "3"))


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _wait_quiet(threshold: float | None = None) -> None:
    """Co-tenant gate (same rule as tools/exec_scaling.py): don't start a
    timed pass under a neighbour's burst; give up after a timeout so the
    bench always completes (load is logged per pass either way)."""
    if threshold is None:
        threshold = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "8"))
    timeout = float(os.environ.get("SPARK_GRAFT_QUIET_TIMEOUT", "600"))
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout and _loadavg() >= threshold:
        time.sleep(10)


def _kernel_quiet_load() -> float:
    """Tighter gate for the kernel row than the suite-wide threshold: the
    single short kernel segment is the most load-sensitive artifact in
    the file (r5: recorded 164.7k at loadavg 7.01 while the same-day
    ladder read 3.3x that — VERDICT r5 wrong #2)."""
    return float(os.environ.get("SPARK_GRAFT_KERNEL_QUIET_LOAD", "5"))


def run_frontier(spark) -> dict:
    from warchaeology_spark.fixtures.generate import (
        gen_documents_spans,
        gen_politeness,
        gen_robots,
        gen_seeds,
    )
    from warchaeology_spark.frontier.scheduler import CrawlConfig, run_crawl

    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # throughput configuration: budgets scaled up so the scheduler is
    # compute-bound, not politeness-bound (the metric is URLs/sec the
    # machinery can push, not the crawl-etiquette ceiling)
    budget_scale = int(os.environ.get("SPARK_GRAFT_FRONTIER_BUDGET_SCALE", "50"))
    docs = gen_documents_spans(spark, FRONTIER_TIER)
    # materialize inputs first so generation cost is not in the timed region
    docs = docs.localCheckpoint(eager=True)
    seeds = gen_seeds(spark, FRONTIER_TIER).localCheckpoint(eager=True)
    robots = gen_robots(spark, FRONTIER_TIER).localCheckpoint(eager=True)
    pol = gen_politeness(spark, FRONTIER_TIER).withColumn(
        "max_per_round", F.col("max_per_round") * budget_scale
    ).localCheckpoint(eager=True)

    last_timings: list[dict] = []

    def one_crawl() -> tuple[int, int, int, float]:
        nonlocal last_timings
        t0 = time.monotonic()
        res = run_crawl(
            spark, docs, seeds, robots, pol,
            CrawlConfig(
                max_rounds=FRONTIER_ROUNDS,
                default_budget=2 * budget_scale,
                num_partitions=max(8, cpus),
                # 5M kept as the default for cross-round comparability
                # (mid & mid10x have always run with it); override for
                # larger tiers where a 5M-sized bloom would false-positive
                # its way into oversized rescue joins (e.g. mid30x)
                expected_total=int(
                    os.environ.get("SPARK_GRAFT_FRONTIER_EXPECTED", "5000000")
                ),
                n_salts=max(4, cpus // 4),
            ),
        )
        scheduled = res.fetch_log.count()
        elapsed = time.monotonic() - t0
        last_timings = res.timings
        return scheduled, res.seen.count(), res.rounds_run, elapsed

    # pass-local checkpoint hygiene (same as run_kernel): each crawl
    # localCheckpoints per-round state; free those RDDs between passes so
    # later passes don't pay storage-memory pressure for earlier ones
    jsc = spark.sparkContext._jsc
    keep_ids = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    def free_pass_rdds():
        cur = jsc.getPersistentRDDs()
        for rid in cur.keySet().toArray():
            if int(rid) not in keep_ids:
                cur.get(rid).unpersist(False)

    # Noise discipline (VERDICT r3 wrong #2: a single cold pass swung
    # 18 -> 103 s with byte-identical outputs under co-tenant load) — the
    # kernel tier's round-3 treatment applied here: one untimed warmup
    # crawl (JIT/codegen/Arrow warm), then best-of-k gated passes with
    # per-pass times and loadavg logged.
    if os.environ.get("SPARK_GRAFT_FRONTIER_WARMUP", "1") != "0":
        one_crawl()
        free_pass_rdds()
    passes = int(os.environ.get("SPARK_GRAFT_FRONTIER_PASSES", "2"))
    pass_times, loads = [], []
    scheduled = seen = rounds = 0
    # gate at SEGMENT start only: between-pass loadavg includes our own
    # just-finished pass, so re-gating there would stall on self-load;
    # within-segment noise shows up as pass-time disagreement instead
    _wait_quiet()
    for _ in range(max(passes, 1)):
        loads.append(_loadavg())
        scheduled, seen, rounds, dt = one_crawl()
        pass_times.append(round(dt, 2))
        free_pass_rdds()
    elapsed = min(pass_times)
    return {
        "urls_scheduled": scheduled,
        "elapsed_sec": elapsed,
        "urls_per_sec": round(scheduled / elapsed, 1),
        "rounds": rounds,
        "seen": seen,
        "pass_times_sec": pass_times,
        "loadavg_before": loads,
        # per-round phase wall-clock of the LAST pass (scheduler.py
        # timings) — the direct measurement behind the fixed-cost-F work
        "round_timings": last_timings,
    }


def run_kernel(spark, n_urls: int) -> dict:
    """Frontier kernel: one pass of the per-round machinery over a large
    synthesized URL batch — canonicalize (JVM regex) -> SURT -> xxhash64 ->
    per-host salted politeness top-k -> bloom + exact seen anti-join.

    This is the scaling-efficiency workload (N vs 4N cores): pure
    compute + two shuffles, no round-loop latency, so wall-clock tracks
    cores. Throughput = candidate URLs pushed through per second.
    """
    from pyspark.sql import functions as F

    from warchaeology_spark.frontier.politeness import politeness_topk
    from warchaeology_spark.frontier.seen import SeenState
    from warchaeology_spark.functions.urls import with_canonical

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_hosts = 10_000

    i = F.col("id")
    raw = F.format_string(
        "HTTPS://Host%d.Example.COM:443/p/%d?b=%d&a=1#f",
        F.pmod(i, F.lit(n_hosts)),
        i,
        F.pmod(i, F.lit(7)),
    )
    urls = spark.range(n_urls, numPartitions=cpus * 2).select(raw.alias("raw_url"))

    # seen set: half the key space pre-seen (steady-state crawl shape).
    # SPARK_GRAFT_KERNEL_BLOOM picks the serving mode: broadcast (default,
    # one broadcast of the numpy shards + pandas-UDF test) or sharded
    # (cogroup). The bloom itself is on only above SeenState.bloom_above_rows
    # pre-seen rows (above 4M URLs); up to that bloom_mode reads "off".
    bloom_mode = os.environ.get("SPARK_GRAFT_KERNEL_BLOOM", "broadcast")
    bloom_modes = ("broadcast", "sharded")
    if bloom_mode not in bloom_modes:
        raise ValueError(
            f"SPARK_GRAFT_KERNEL_BLOOM={bloom_mode!r}: valid modes are "
            + ", ".join(bloom_modes)
        )
    seen_state = SeenState(
        spark,
        num_partitions=cpus,
        expected_total=n_urls,
        # broadcast: the driver budget admits the pre-seen half (one big
        # delta); sharded: a zero budget makes the state start sharded
        broadcast_max_delta=0 if bloom_mode == "sharded" else n_urls,
    )
    # NOTE (measured negative result, round 3): caching seen
    # pre-partitioned + pre-sorted on the anti-join keys (repartition +
    # sortWithinPartitions + persist — the local emulation of the
    # production Iceberg bucket(url_hash) layout) removes the seen-side
    # exchange+sort from the plan but is ~40% SLOWER here: local-mode
    # shuffles are memory-speed, while the InMemoryRelation scan loses
    # whole-stage codegen at the SMJ probe. On a real cluster the traded
    # network shuffle of the (large) seen side dominates and bucketing
    # wins; locally the checkpointed slim join is the right plan.
    pre = spark.range(0, n_urls, 2, numPartitions=cpus).select(
        F.format_string("com,example,host%d)/p/%d?a=1&b=%d",
                        F.pmod(F.col("id"), F.lit(n_hosts)), F.col("id"),
                        F.pmod(F.col("id"), F.lit(7))).alias("surt")
    ).select(
        F.xxhash64("surt").alias("url_hash"), "surt", F.lit("x").alias("url_canon")
    ).localCheckpoint(eager=True)
    # build the bloom from the pre-seen set (timed separately). add() also
    # unions `pre` into the (empty) seen table, so seen == pre afterwards;
    # re-pin to the checkpointed table to truncate the union lineage.
    tb0 = time.monotonic()
    seen_state.add(pre)
    if seen_state.is_sharded:
        seen_state.bloom = seen_state.bloom.localCheckpoint(eager=True)
    bloom_build_sec = time.monotonic() - tb0
    seen_state.seen = pre
    if not seen_state.bloom_on:
        bloom_mode = "off"

    pol = spark.range(n_hosts).select(
        F.format_string("host%d.example.com", F.col("id")).alias("host"),
        (F.pmod(F.col("id"), F.lit(3)) * 16 + 16).cast("int").alias("max_per_round"),
    ).localCheckpoint(eager=True)

    def run_pass(in_urls):
        # One staged parse (with_canonical: each stage its own projection,
        # so the parse runs once per row as JIT-compiled code), then a
        # lazy checkpoint: the pending-table write a real round performs,
        # and the boundary that keeps novel()'s consumers from re-running
        # the parse. Lazy, not eager (VERDICT r6 next #1 — kernel fixed
        # cost F): the first consumer's map stage runs parse+cache-write,
        # one fewer job and barrier than eager=True (interleaved A/B at
        # 4x4-core executors, 16M URLs: 37.8 -> 33.9 s, same scheduled).
        cand = (
            with_canonical(in_urls, "raw_url")
            .select(
                "url_canon", "surt", "host",
                F.xxhash64("surt").alias("url_hash"),
                F.lit(0).alias("depth"),
            )
            .localCheckpoint(eager=False)
        )
        novel = seen_state.novel(cand)
        scheduled = politeness_topk(novel, pol, default_budget=16, n_salts=8)
        return scheduled.count()

    # Pass-local checkpoint hygiene: each run_pass localCheckpoints the
    # parse; without explicit release those cached RDDs accumulate
    # across passes until storage memory forces spilling (measured at 64M
    # URLs: the second pass ran 1.7x slower than the first). Snapshot the
    # persistent RDD ids that must survive (inputs, seen, politeness) and
    # free everything newer after each pass — a long-running driver does
    # the same between rounds.
    jsc = spark.sparkContext._jsc
    keep_ids = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    def free_pass_rdds():
        cur = jsc.getPersistentRDDs()
        for rid in cur.keySet().toArray():
            if int(rid) not in keep_ids:
                cur.get(rid).unpersist(False)

    # Untimed warmup over a slice: JIT-compiles the whole-stage-codegen
    # classes, Arrow serializers and shuffle paths so the timed pass
    # measures STEADY-STATE throughput — the operative number for a crawl
    # whose rounds run for hours; cold-JVM compile cost is a local-mode
    # ladder artifact that a long-lived executor amortizes to zero. It is
    # also a fixed cost, so it distorts the short (high-core) ladder runs
    # the most. Disable with SPARK_GRAFT_KERNEL_WARMUP=0.
    if os.environ.get("SPARK_GRAFT_KERNEL_WARMUP", "1") != "0":
        run_pass(
            spark.range(min(n_urls // 8, 2_000_000), numPartitions=cpus).select(
                raw.alias("raw_url")
            )
        )
        free_pass_rdds()

    # Best-of-k timed passes (JMH-style steady-state iterations): the box
    # is co-tenanted with BURSTY contention, so a single 50-130 s pass
    # usually straddles a neighbour's burst; the fastest of k passes is
    # the steady-state estimate with the neighbour factored out. Per-pass
    # times are reported for transparency.
    # best-of-2 by default (VERDICT r5 next #4) — the ladder harness
    # overrides with its own pass count
    passes = int(os.environ.get("SPARK_GRAFT_KERNEL_PASSES", "2"))
    pass_times, loads = [], []
    n_sched = 0
    # kernel segment gates TIGHTER than the suite (see _kernel_quiet_load)
    _wait_quiet(_kernel_quiet_load())  # between-pass load is self-load
    for _ in range(max(passes, 1)):
        loads.append(_loadavg())
        t0 = time.monotonic()
        n_sched = run_pass(urls)
        pass_times.append(round(time.monotonic() - t0, 2))
        free_pass_rdds()
    elapsed = min(pass_times)
    return {
        "n_urls": n_urls,
        "scheduled": n_sched,
        "elapsed_sec": round(elapsed, 2),
        "urls_per_sec": round(n_urls / elapsed, 1),
        "bloom_build_sec": round(bloom_build_sec, 2),
        "bloom_mode": bloom_mode,
        "pass_times_sec": pass_times,
        "loadavg_before": loads,
        # per-segment verdict: the gate timed out and the segment started
        # above ITS OWN threshold -> this row's rate is suspect even if
        # the suite-level flag stays false
        "degraded": loads[0] >= _kernel_quiet_load(),
    }


def run_control(spark, n_rows: int, passes: int | None = None) -> dict:
    """Compute-bound control: chained xxhash64 over longs — zero string
    allocation, embarrassingly parallel. Its N->4N scaling isolates what
    the BOX can deliver (cores minus co-tenant steal); the kernel's
    efficiency normalized by the control's is the ENGINE's share."""
    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    c = F.col("id")
    for _ in range(200):
        c = F.xxhash64(c)
    if passes is None:
        passes = int(os.environ.get("SPARK_GRAFT_KERNEL_PASSES", "1"))
    times = []
    for _ in range(max(passes, 1)):
        t0 = time.monotonic()
        spark.range(n_rows, numPartitions=cpus * 2).select(c.alias("h")).selectExpr(
            "bit_xor(h)"  # overflow-free combine (sum(h) trips ANSI long overflow)
        ).collect()
        times.append(round(time.monotonic() - t0, 2))
    dt = min(times)  # same best-of-k steady-state rule as the kernel
    return {
        "n_rows": n_rows,
        "elapsed_sec": round(dt, 2),
        "rows_per_sec": round(n_rows / dt, 1),
        "pass_times_sec": times,
    }


def main():
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from warchaeology_spark.queries import bench_queries, queries
    from warchaeology_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    kernel_only = "--kernel-only" in sys.argv
    frontier_only = "--frontier-only" in sys.argv

    # SPARK_GRAFT_MASTER (e.g. local-cluster[4,4,8192]) overrides inside
    # get_spark — used by tools/exec_scaling.py for the N-vs-4N-EXECUTOR
    # ladder; SPARK_GRAFT_CPUS must then carry the TOTAL core count so
    # partition counts stay matched to the cluster width.
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    out_master = spark.sparkContext.master

    # Registry-vs-driver-row-set tripwire (VERDICT r6 next #8): the driver
    # records at most 50 CORRECTNESS rows; for two rounds a 51-entry
    # registry silently lost its 51st entry. Warn LOUDLY (stderr, never
    # the JSON line) when the registry size drifts from the newest
    # CORRECTNESS_r*.json row set so the mismatch surfaces the same round
    # it is introduced.
    import glob
    import re as _re

    reg_names = set(queries().keys())
    corr_files = sorted(
        glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "CORRECTNESS_r*.json")),
        key=lambda p: int(_re.search(r"_r(\d+)", p).group(1)),
    )
    if corr_files:
        try:
            driver_names = set(json.load(open(corr_files[-1])).keys())
        except Exception:
            driver_names = set()
        if driver_names and driver_names != reg_names:
            print(
                "WARNING: registry/driver row-set mismatch vs "
                f"{os.path.basename(corr_files[-1])}: "
                f"registry-only={sorted(reg_names - driver_names)} "
                f"driver-only={sorted(driver_names - reg_names)}",
                file=sys.stderr,
            )
    if len(reg_names) > 50:
        print(
            f"WARNING: registry has {len(reg_names)} entries; the driver "
            "records at most 50 CORRECTNESS rows — entries past 50 get NO "
            "driver row",
            file=sys.stderr,
        )

    out: dict = {"sf": sf_dir, "cpus": cpus, "unit": "sec", "master": out_master}
    qtimes: dict[str, float] = {}
    # Field semantics (VERDICT r3 wrong #1: one "value" field carried
    # three different meanings): every rate/total below is its own
    # correctly-named field; "metric"/"value" name exactly ONE of them.
    if kernel_only:
        n = int(os.environ.get("SPARK_GRAFT_KERNEL_URLS", "4000000"))
        out["kernel"] = run_kernel(spark, n)
        out["control"] = run_control(
            spark, int(os.environ.get("SPARK_GRAFT_CONTROL_ROWS", "20000000"))
        )
        out["kernel_urls_per_sec"] = out["kernel"]["urls_per_sec"]
        out["metric"] = "kernel_urls_per_sec"
        out["value"] = out["kernel"]["urls_per_sec"]
        out["degraded"] = out["kernel"]["degraded"]
        print(json.dumps(out))
        spark.stop()
        return
    if not frontier_only:
        # Load-gate the recorded artifact (VERDICT r4 wrong #3): refuse to
        # START a timed segment under a co-tenant burst; if the box never
        # quiets down within the timeout, record anyway but mark the
        # artifact degraded so the numbers are never silently polluted.
        _wait_quiet()
        out["loadavg_before_queries"] = _loadavg()
        # Same-session control BEFORE the headline segment (VERDICT r6
        # next #4): the r6 local bench read uniformly ~1.4x slower than r5
        # at loadavg 0.89 — box bandwidth, not code — and without a
        # control in the SAME artifact every round re-litigates "box or
        # code". The compute-bound control measures what the box delivers
        # right now; the normalized headline divides that drift out.
        # passes=3 best-of: the single-pass control read 1.5-2.8x its own
        # steady state (first pass pays JIT/codegen warmup — the executor
        # ladder's control logs show pass1 ~2x pass2), which made the
        # normalized headline junk whenever the session started cold or
        # under a transient. The REF pin and every session must measure
        # the same thing: warm best-of.
        out["control_before_queries"] = run_control(
            spark,
            int(os.environ.get("SPARK_GRAFT_CONTROL_ROWS", "20000000")),
            passes=3,
        )
        qs = {**queries(), **bench_queries()}
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            df.count()  # materialize the full result
            qtimes[name] = round(time.monotonic() - t0, 3)
        out["queries"] = qtimes

    out["frontier"] = run_frontier(spark)
    # 1M keeps the in-bench kernel short; local[32] oversubscribes the 16
    # physical cores (SMT) for this memory-bound stage, so bigger batches
    # do not raise the 32-thread rate — the representative throughput
    # numbers are the 4/16-core 16M ladder trials in BENCH/scaling.json.
    out["kernel"] = run_kernel(
        spark, int(os.environ.get("SPARK_GRAFT_KERNEL_URLS", "1000000"))
    )
    out["frontier_urls_per_sec"] = out["frontier"]["urls_per_sec"]
    out["kernel_urls_per_sec"] = out["kernel"]["urls_per_sec"]
    if qtimes:
        out["headline_seconds"] = round(sum(qtimes.values()), 3)
        # headline_control_normalized = raw headline x (REF control time /
        # this session's control time): the ROUND-OVER-ROUND comparator
        # (BENCH/BASELINE.md). The reference control time is pinned from a
        # quiet-window (loadavg < 1) cpus=32 measurement of the same 20M-row
        # control; override with SPARK_GRAFT_CONTROL_REF_SEC when the
        # control workload or box changes.
        ctrl = out.get("control_before_queries")
        if ctrl:
            ref = float(os.environ.get("SPARK_GRAFT_CONTROL_REF_SEC", "0.93"))
            out["control_ref_sec"] = ref
            out["headline_control_normalized"] = round(
                out["headline_seconds"] * ref / ctrl["elapsed_sec"], 3
            )
        out["metric"] = "headline_queries_total_sec"
        out["value"] = out["headline_seconds"]
    else:
        out["metric"] = "frontier_urls_scheduled_per_sec"
        out["value"] = out["frontier"]["urls_per_sec"]
    # degraded = some timed segment had to start above the quiet threshold
    # (the gate timed out under a sustained co-tenant burst)
    threshold = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "8"))
    segment_starts = [
        out.get("loadavg_before_queries", 0.0),
        (out.get("frontier", {}).get("loadavg_before") or [0.0])[0],
    ]
    # the kernel row carries its own tighter verdict (see run_kernel)
    out["degraded"] = (
        any(load >= threshold for load in segment_starts)
        or out["kernel"]["degraded"]
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
