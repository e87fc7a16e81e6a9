"""Per-row cost and planning cost of the frontier's URL parse.

Measures, on one warm ``local[2]`` session:

- ``plan``: the seed step's parse (``scheduler._canonicalized`` over a
  20-row seed frame). ``build_s`` is building the DataFrame (Python
  Column construction plus the eager analysis of each projection),
  ``optimize_s`` the optimized plus physical plan; medians of 30 warm
  repetitions. Also the optimized plan's length and how often the
  authority regex (``urls._AUTH_RE``) occurs in it.
- ``links``: the round's candidate parse over every link of the
  perfbench ``crawl_mid`` graph (seed 301, 225k links), written to a
  ``noop`` sink, interleaved repetitions. ``nested`` is the surt_key
  Column plus its null filter (the round's map side before the staged
  parse); ``staged`` is ``scheduler._candidates``, when the checkout has it.

Usage: python tools/parse_probe.py [--repo CHECKOUT] [--reps 5]
           [--out FILE --label NAME]

With ``--out``, the record is stored under ``NAME`` in the JSON object in
FILE (created if missing), so runs on two checkouts land side by side.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=ROOT, help="checkout whose library is measured")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default=None)
    ap.add_argument("--label", default="run")
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path[:0] = [repo, os.path.join(ROOT, "perfbench")]

    import inputs
    from pyspark.sql import functions as F

    from warchaeology_spark.frontier import scheduler
    from warchaeology_spark.frontier.links import extract_outlinks
    from warchaeology_spark.functions.urls import _AUTH_RE, surt_key
    from warchaeology_spark.session import get_spark

    spark = get_spark("parse-probe", master="local[2]", shuffle_partitions=2)
    seeds = spark.createDataFrame(
        [(i, f"HTTP://Host{i}.example.org:80/p?b=1&a={i}#f") for i in range(20)],
        "seed_rank int, url string",
    )
    build, optimize = [], []
    for _ in range(40):
        t0 = time.perf_counter()
        df = scheduler._canonicalized(seeds, "url")
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        plan = qe.optimizedPlan().toString()
        qe.executedPlan()
        build.append(t1 - t0)
        optimize.append(time.perf_counter() - t1)
    warm = slice(10, None)
    out = {
        "plan": {
            "build_s": round(statistics.median(build[warm]), 4),
            "optimize_s": round(statistics.median(optimize[warm]), 4),
            "plan_chars": len(plan),
            "auth_regex_count": plan.count(_AUTH_RE),
        },
    }

    g = inputs.Graph(50_000)
    docs = spark.createDataFrame(
        inputs.gen_documents(g, 301),
        "doc_id string, url string,"
        " spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    links = extract_outlinks(docs).localCheckpoint(eager=True)
    variants = {
        "nested": lambda: links.withColumn("surt", surt_key(F.col("raw_url"))).filter(
            F.col("surt").isNotNull()
        ),
    }
    if hasattr(scheduler, "_candidates"):
        variants["staged"] = lambda: scheduler._candidates(links)
    runs: dict[str, list[float]] = {k: [] for k in variants}
    for rep in range(args.reps + 1):  # the first round warms the JIT
        order = list(variants) if rep % 2 == 0 else list(reversed(variants))
        for name in order:
            t0 = time.perf_counter()
            variants[name]().write.format("noop").mode("overwrite").save()
            if rep:
                runs[name].append(round(time.perf_counter() - t0, 3))
    out["links"] = {
        "rows": links.count(),
        **{k: {"median_s": statistics.median(v), "runs_s": v} for k, v in runs.items()},
    }
    spark.stop()
    print(json.dumps(out))
    if args.out:
        saved = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                saved = json.load(f)
        saved[args.label] = out
        with open(args.out, "w") as f:
            json.dump(saved, f, indent=2)
            f.write("\n")


if __name__ == "__main__":
    main()
