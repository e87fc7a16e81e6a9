"""Per-JOB attribution of the kernel pass (VERDICT r6 next #1).

The kernel ladder's fixed-cost fit says T = F + W/cores with F ~ 11.6 s
on a 29-93 s workload — the entire gap to the charter's 0.8 scaling
efficiency. This tool runs the EXACT bench.py run_kernel pass once at a
given master and then reads the Spark UI REST API for every job's wall
time, name, and stage shuffle/input volumes, so F can be attributed to
specific driver actions (checkpoint materializations, broadcast builds,
barrier gaps) instead of guessed at.

Usage:
    SPARK_GRAFT_MASTER='local-cluster[1,4,7168]' SPARK_GRAFT_CPUS=4 \
        SPARK_GRAFT_KERNEL_URLS=16000000 python tools/kernel_jobs_profile.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from warchaeology_spark.frontier.politeness import politeness_topk  # noqa: E402
from warchaeology_spark.frontier.seen import SeenState  # noqa: E402
from warchaeology_spark.functions.urls import with_canonical  # noqa: E402
from warchaeology_spark.session import get_spark  # noqa: E402


def rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.load(r)


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    n_urls = int(os.environ.get("SPARK_GRAFT_KERNEL_URLS", "16000000"))
    n_hosts = 10_000
    spark = get_spark(
        "kernel-jobs-profile", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true"},  # REST API is the instrument
    )

    i = F.col("id")
    raw = F.format_string(
        "HTTPS://Host%d.Example.COM:443/p/%d?b=%d&a=1#f",
        F.pmod(i, F.lit(n_hosts)), i, F.pmod(i, F.lit(7)),
    )
    urls = spark.range(n_urls, numPartitions=cpus * 2).select(raw.alias("raw_url"))
    seen = SeenState(
        spark, num_partitions=cpus, expected_total=n_urls,
        broadcast_max_delta=n_urls,  # as bench.py
    )
    pre = spark.range(0, n_urls, 2, numPartitions=cpus).select(
        F.format_string(
            "com,example,host%d)/p/%d?a=1&b=%d",
            F.pmod(F.col("id"), F.lit(n_hosts)), F.col("id"),
            F.pmod(F.col("id"), F.lit(7)),
        ).alias("surt")
    ).select(
        F.xxhash64("surt").alias("url_hash"), "surt", F.lit("x").alias("url_canon")
    ).localCheckpoint(eager=True)
    seen.add(pre)
    seen.seen = pre
    pol = spark.range(n_hosts).select(
        F.format_string("host%d.example.com", F.col("id")).alias("host"),
        (F.pmod(F.col("id"), F.lit(3)) * 16 + 16).cast("int").alias("max_per_round"),
    ).localCheckpoint(eager=True)

    def run_pass(in_urls):
        cand = (
            with_canonical(in_urls, "raw_url")
            .select(
                "url_canon", "surt", "host",
                F.xxhash64("surt").alias("url_hash"),
                F.lit(0).alias("depth"),
            )
            # lazy, as in bench.py run_kernel — the profile must attribute
            # the shape the ladder actually measures
            .localCheckpoint(eager=False)
        )
        novel = seen.novel(cand)
        scheduled = politeness_topk(novel, pol, default_budget=16, n_salts=8)
        return scheduled.count()

    # pass-local checkpoint hygiene between repeated passes (same as
    # bench.py run_kernel — without it the per-pass cached RDDs accumulate)
    jsc = spark.sparkContext._jsc
    keep_ids = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    def free_pass_rdds():
        cur = jsc.getPersistentRDDs()
        for rid in cur.keySet().toArray():
            if int(rid) not in keep_ids:
                cur.get(rid).unpersist(False)

    # warmup on a slice (JIT + shuffle paths), same as bench.py
    run_pass(spark.range(2_000_000, numPartitions=cpus).select(raw.alias("raw_url")))
    free_pass_rdds()

    # The ladder's per-pass times keep dropping for 2-3 FULL-size passes
    # (C2 JIT of the 16M-row codegen classes, shuffle/broadcast path
    # warm-up), so a single profiled pass attributes the COLD shape, not
    # the steady state the ladder's best-of reports. Run k passes and
    # attribute the fastest one.
    passes = int(os.environ.get("SPARK_GRAFT_KERNEL_PROFILE_PASSES", "3"))
    runs = []
    n = 0
    for _ in range(max(passes, 1)):
        jobs_before = {j["jobId"] for j in rest(spark, "/jobs")}
        t0 = time.monotonic()
        n = run_pass(urls)
        wall = time.monotonic() - t0
        free_pass_rdds()
        runs.append((wall, jobs_before))

    wall, jobs_before = min(runs, key=lambda r: r[0])
    jobs_after = runs[runs.index((wall, jobs_before)) + 1][1] if (
        runs.index((wall, jobs_before)) + 1 < len(runs)
    ) else None

    jobs = [j for j in rest(spark, "/jobs") if j["jobId"] not in jobs_before
            and (jobs_after is None or j["jobId"] in jobs_after)]
    jobs.sort(key=lambda j: j["jobId"])
    out = {"n_urls": n_urls, "cpus": cpus, "scheduled": n,
           "wall_sec": round(wall, 2),
           "pass_times_sec": [round(w, 2) for w, _ in runs],
           "master": spark.sparkContext.master, "jobs": []}
    fmt = "%Y-%m-%dT%H:%M:%S.%f"

    def ts(s):
        return time.mktime(time.strptime(s[:-3], fmt)) + float("0." + s[20:-3])

    prev_end = None
    for j in jobs:
        t_sub, t_end = ts(j["submissionTime"]), ts(j["completionTime"])
        gap = round(t_sub - prev_end, 2) if prev_end is not None else 0.0
        prev_end = t_end
        out["jobs"].append({
            "jobId": j["jobId"],
            "desc": (j.get("description") or j["name"])[:110],
            "duration_sec": round(t_end - t_sub, 2),
            "gap_before_sec": gap,
            "numTasks": j["numTasks"],
        })
    jobs_total = sum(j["duration_sec"] for j in out["jobs"])
    gaps_total = sum(j["gap_before_sec"] for j in out["jobs"])
    out["jobs_total_sec"] = round(jobs_total, 2)
    out["inter_job_gaps_sec"] = round(gaps_total, 2)
    out["outside_jobs_sec"] = round(wall - jobs_total - gaps_total, 2)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
