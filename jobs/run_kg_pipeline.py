"""spark-submit entry point for the KG construction pipeline
(stages 1-4 plus 4b relation extraction).

Usage (north rule: multi-executor via --py-files; local example):

    python jobs/make_pyfiles.py                       # builds dist/kgkit.zip
    spark-submit --py-files dist/kgkit.zip \\
        jobs/run_kg_pipeline.py \\
        --pages /root/testdata/sf0.001 \\
        --out /tmp/kg_run_1 [--buckets 64]

On a cluster the same invocation runs with --master yarn/k8s; the job
itself is master-agnostic.  Resume is implicit (no flag): re-running
with the same --out skips stages whose _SUCCESS marker exists
(kgkit/plans/stages.py).  Each executed stage appends its lineage rows
(stage, partition_id, rows, wall_ms; one per write task, read from the
part files' parquet footers, no Spark job) to <out>/_lineage; a skipped
stage appends none.  Exit prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="sf dir or pages parquet dir")
    ap.add_argument("--out", required=True, help="run directory (checkpoints + lineage)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--shuffle-partitions", type=int, default=0,
                    help="override spark.sql.shuffle.partitions (0 = leave as configured)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from kgkit import SESSION_CONF

    builder = SparkSession.builder.appName("kgkit-kg-pipeline")
    spark = builder.config(map=SESSION_CONF).getOrCreate()
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark.sparkContext.setLogLevel("WARN")

    from kgkit.plans.stages import run_kg_pipeline

    t0 = time.monotonic()
    result = run_kg_pipeline(spark, args.pages, args.out, n_buckets=args.buckets)
    runner = result["runner"]
    n_triples = result["triples"].count()
    print(json.dumps({
        "metric": "kg_pipeline_run",
        "out": args.out,
        "n_triples": n_triples,
        "n_relations": result["relations"].count(),
        "executed": runner.executed,
        "skipped": runner.skipped,
        "wall_sec": round(time.monotonic() - t0, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
