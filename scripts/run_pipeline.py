"""spark-submit entry point: the resumable tile-join pipeline.

Cluster submission (the north-rule mechanism):

    python -c "from orthority_spark.pyfiles import package_zip; \
               print(package_zip('/tmp/orthority_spark.zip'))"
    spark-submit --py-files /tmp/orthority_spark.zip \
        scripts/run_pipeline.py --n-pages 1000000 --out /tmp/ortho_job

Re-running the same command resumes: completed tile partitions are
skipped via the ledger anti-join (per-partition lineage + metrics land in
<out>/ledger). Prints one JSON line of run metrics.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-pages", type=int, default=100_000)
    ap.add_argument("--pages-parquet", default=None,
                    help="existing pages table (else synthesise --n-pages)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--salted", action="store_true",
                    help="use the salted shuffle join (mega-cell skew path)")
    ap.add_argument("--max-partitions", type=int, default=None,
                    help="stop after N partitions (crash simulation)")
    args = ap.parse_args()

    # under spark-submit the session/master comes from the submit command;
    # standalone runs fall back to local[*]
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("orthority-pipeline").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # as get_spark sets it; local_table's Arrow-table LocalTableScan does
    # not depend on it, since it builds no pandas frame
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    from orthority_spark.plans.job import OrthoJob
    from orthority_spark.sources.pages import synthetic_pages

    t0 = time.perf_counter()
    if args.pages_parquet:
        pages = spark.read.parquet(args.pages_parquet).select("url", "text")
    else:
        pages = synthetic_pages(spark, args.n_pages).select("url", "text")
    job = OrthoJob(spark, strategy="salted" if args.salted else "broadcast")
    metrics = job.process(pages, args.out, max_partitions=args.max_partitions)
    metrics["wall_sec"] = round(time.perf_counter() - t0, 3)
    metrics["out"] = args.out
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
