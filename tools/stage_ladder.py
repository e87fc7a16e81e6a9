"""Per-stage N->4N scaling ladder (VERDICT r3 next #2).

The kernel ladder's raw efficiency swings with co-tenant bursts because a
full 16M-URL pass at 4 cores runs ~2-3 minutes — every pass straddles a
burst, while the 5x-shorter 16-core passes find clean windows (the r3
driver re-run even measured super-linear 1.168 this way). This tool
attributes scaling per STAGE with much shorter timed units:

  1  staged parse+materialize   (url_canon/surt/host/hash, with_canonical)
  2  seen-set novel()           (bloom + slim join above 2M seen rows)
  3  politeness salted top-k    (two-phase window)

Each config runs in a fresh JVM; inside it the whole pipeline warms up
untimed, then each stage is timed best-of-k with pass-local RDDs freed
between passes. The parent interleaves configs, gates each child on
loadavg, and writes BENCH/stage_ladder.json with per-stage N->4N
efficiency.

Usage: python tools/stage_ladder.py [N] [trials]   (default N=4, trials=2)
       child mode (internal): --child CPUS N_URLS PASSES
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGES = ["parse", "novel", "topk"]


def child(cpus: int, n_urls: int, passes: int) -> None:
    from pyspark.sql import functions as F

    from warchaeology_spark.frontier.politeness import politeness_topk
    from warchaeology_spark.frontier.seen import SeenState
    from warchaeology_spark.functions.urls import with_canonical
    from warchaeology_spark.session import get_spark

    n_hosts = 10_000
    spark = get_spark(
        "stage-ladder", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    i = F.col("id")
    raw = F.format_string(
        "HTTPS://Host%d.Example.COM:443/p/%d?b=%d&a=1#f",
        F.pmod(i, F.lit(n_hosts)), i, F.pmod(i, F.lit(7)),
    )
    urls = (
        spark.range(n_urls, numPartitions=cpus * 2)
        .select(raw.alias("raw_url"))
        .localCheckpoint(eager=True)
    )
    seen = SeenState(spark, num_partitions=cpus, expected_total=n_urls)
    pre = (
        spark.range(0, n_urls, 2, numPartitions=cpus)
        .select(
            F.format_string(
                "com,example,host%d)/p/%d?a=1&b=%d",
                F.pmod(F.col("id"), F.lit(n_hosts)), F.col("id"),
                F.pmod(F.col("id"), F.lit(7)),
            ).alias("surt")
        )
        .select(F.xxhash64("surt").alias("url_hash"), "surt", F.lit("x").alias("url_canon"))
        .localCheckpoint(eager=True)
    )
    seen.add(pre)
    seen.seen = pre
    pol = (
        spark.range(n_hosts)
        .select(
            F.format_string("host%d.example.com", F.col("id")).alias("host"),
            (F.pmod(F.col("id"), F.lit(3)) * 16 + 16).cast("int").alias("max_per_round"),
        )
        .localCheckpoint(eager=True)
    )

    jsc = spark.sparkContext._jsc
    keep_ids = {int(x) for x in jsc.getPersistentRDDs().keySet().toArray()}

    def free_pass_rdds() -> None:
        cur = jsc.getPersistentRDDs()
        for rid in cur.keySet().toArray():
            if int(rid) not in keep_ids:
                cur.get(rid).unpersist(False)

    def one_pass(in_urls) -> dict[str, float]:
        times: dict[str, float] = {}
        t0 = time.monotonic()
        cand = (
            with_canonical(in_urls, "raw_url")
            .select(
                "url_canon", "surt", "host",
                F.xxhash64("surt").alias("url_hash"), F.lit(0).alias("depth"),
            )
            .localCheckpoint(eager=True)
        )
        times["parse"] = time.monotonic() - t0
        t0 = time.monotonic()
        novel = seen.novel(cand).localCheckpoint(eager=True)
        novel.count()
        times["novel"] = time.monotonic() - t0
        t0 = time.monotonic()
        politeness_topk(novel, pol, default_budget=16, n_salts=8).count()
        times["topk"] = time.monotonic() - t0
        return times

    # untimed warmup over a slice (JIT/codegen/Arrow), same as run_kernel
    one_pass(
        spark.range(min(n_urls // 8, 2_000_000), numPartitions=cpus).select(
            raw.alias("raw_url")
        )
    )
    free_pass_rdds()
    all_passes: list[dict[str, float]] = []
    for _ in range(passes):
        all_passes.append({k: round(v, 2) for k, v in one_pass(urls).items()})
        free_pass_rdds()
    best = {s: min(p[s] for p in all_passes) for s in STAGES}
    print(json.dumps({
        "cpus": cpus, "n_urls": n_urls, "best": best, "passes": all_passes,
    }))
    spark.stop()


def wait_quiet(threshold: float, timeout_sec: float) -> float:
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout_sec:
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
        if load < threshold:
            return load
        time.sleep(20)
    return load


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    n_urls = int(os.environ.get("SPARK_GRAFT_KERNEL_URLS", "16000000"))
    passes = int(os.environ.get("SPARK_GRAFT_KERNEL_PASSES", "4"))
    env = dict(os.environ, SPARK_DRIVER_MEM="48g")
    results: dict[int, list[dict]] = {n: [], 4 * n: []}
    for _ in range(trials):
        for cpus in (4 * n, n):  # interleave so drift hits both configs
            load = wait_quiet(
                float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "2.5")),
                float(os.environ.get("SPARK_GRAFT_QUIET_TIMEOUT", "900")),
            )
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child",
                 str(cpus), str(n_urls), str(passes)],
                capture_output=True, text=True, env=env, timeout=3600,
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            rec = json.loads(line)
            rec["loadavg_before"] = load
            results[cpus].append(rec)
            print(json.dumps(rec), flush=True)
    best = {
        c: {s: min(r["best"][s] for r in rs) for s in STAGES}
        for c, rs in results.items()
    }
    eff = {
        s: round(best[n][s] / best[4 * n][s] / 4, 3) for s in STAGES
    }
    total_n = sum(best[n].values())
    total_4n = sum(best[4 * n].values())
    summary = {
        "n_urls": n_urls, "N": n,
        "best_stage_sec": best,
        "stage_efficiency_Nto4N": eff,
        "total_efficiency_Nto4N": round(total_n / total_4n / 4, 3),
        "trials": results,
        "timestamp": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    print(json.dumps({k: v for k, v in summary.items() if k != "trials"}))
    with open("BENCH/stage_ladder.json", "w") as f:
        json.dump(summary, f, indent=2)


if __name__ == "__main__":
    main()
