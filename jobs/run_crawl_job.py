"""Production crawl job — the spark-submit entry point (north rule:
``spark-submit --py-files`` on a multi-executor cluster).

Usage (cluster):

    tools/make_submit.sh          # builds dist/warchaeology_spark.zip
    spark-submit \\
      --master yarn --deploy-mode cluster \\
      --num-executors 1000 --executor-cores 4 --executor-memory 16g \\
      --conf spark.sql.shuffle.partitions=8192 \\
      --conf spark.sql.adaptive.enabled=true \\
      --py-files dist/warchaeology_spark.zip \\
      jobs/run_crawl_job.py \\
      --documents s3a://bucket/docs --seeds s3a://bucket/seeds.parquet \\
      --robots s3a://bucket/robots.parquet --politeness s3a://bucket/politeness.parquet \\
      --store s3a://bucket/crawl-state --rounds 10 --resume

The snapshot store routes manifest IO through the Hadoop FileSystem of the
store root's scheme, so s3a:// / hdfs:// state roots work end-to-end.

Local smoke:

    python jobs/run_crawl_job.py --tier t1 --rounds 2 --store /tmp/crawl-state
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs from the repo root: make the package importable without
# --py-files (cluster runs get it from the zip on the PYTHONPATH)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents")
    ap.add_argument("--seeds")
    ap.add_argument("--robots")
    ap.add_argument("--politeness")
    ap.add_argument("--tier", help="generate synthetic inputs of this tier instead")
    ap.add_argument("--store", required=True)
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--budget", type=int, default=2)
    ap.add_argument("--salts", type=int, default=8)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--expected-urls", type=int, default=10_000_000)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from warchaeology_spark.frontier.scheduler import CrawlConfig, run_crawl

    # on a cluster spark-submit supplies master/conf; locally fall back
    spark = SparkSession.builder.appName("crawl-frontier").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.tier:
        from warchaeology_spark.fixtures.generate import (
            gen_documents_spans,
            gen_politeness,
            gen_robots,
            gen_seeds,
        )

        docs = gen_documents_spans(spark, args.tier)
        seeds = gen_seeds(spark, args.tier)
        robots = gen_robots(spark, args.tier)
        politeness = gen_politeness(spark, args.tier)
    else:
        docs = spark.read.parquet(args.documents)
        seeds = spark.read.parquet(args.seeds)
        robots = spark.read.parquet(args.robots)
        politeness = spark.read.parquet(args.politeness)

    res = run_crawl(
        spark, docs, seeds, robots, politeness,
        CrawlConfig(
            max_rounds=args.rounds,
            default_budget=args.budget,
            n_salts=args.salts,
            num_partitions=args.partitions,
            expected_total=args.expected_urls,
            store_root=args.store,
            resume=args.resume,
        ),
    )
    print(json.dumps({
        "rounds_run": res.rounds_run,
        "fetched": res.fetch_log.count(),
        "seen": res.seen.count(),
        "metrics": res.metrics,
        "partition_metrics": res.partition_metrics,
    }))


if __name__ == "__main__":
    sys.exit(main())
