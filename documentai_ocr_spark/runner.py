"""spark-submit entry point for the extraction pipeline.

Cluster invocation (the north_rule's ``spark-submit --py-files`` shape):

    zip -r /tmp/documentai_ocr_spark.zip documentai_ocr_spark
    spark-submit --master <cluster> \\
        --py-files /tmp/documentai_ocr_spark.zip \\
        documentai_ocr_spark/runner.py \\
        --input <transcripts parquet/Iceberg path> \\
        --output <output dir> [--n-buckets 4096] [--max-buckets N]

The master/executor topology comes from spark-submit; this script only
sets semantic confs (AQE, Arrow batching, UTC). Resume is automatic:
rerunning with the same --output processes only uncommitted buckets
(see lineage.py). See scripts/spark_submit_extract.sh for a runnable
local example at two parallelism levels.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# invoked as `spark-submit documentai_ocr_spark/runner.py` (or plain
# python), sys.path[0] is this script's directory, not the repo root —
# make the package importable without requiring --py-files locally
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts parquet path")
    src.add_argument(
        "--sf-dir", help="derive transcripts from <sf-dir>/documents.parquet"
    )
    p.add_argument("--output", required=True, help="output/checkpoint dir")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--max-buckets", type=int, default=None,
                   help="bound one run's work (batched drain)")
    p.add_argument("--rule-ver", default="v1")
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from documentai_ocr_spark.lineage import (
        LINEAGE_SCHEMA,
        _lineage_state,
        run_to_completion,
    )
    from documentai_ocr_spark.session import BASE_CONFS
    from documentai_ocr_spark.synth import transcripts_from_documents

    builder = SparkSession.builder.appName("documentai-ocr-extract")
    for k, v in BASE_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = transcripts_from_documents(spark, args.sf_dir)

    # batch watermark BEFORE the run: everything at batch_id >= this is
    # THIS run's work — resumed runs must not fold earlier batches into
    # their own throughput
    _, batch0 = _lineage_state(spark, args.output)

    t0 = time.time()
    n_buckets_done = run_to_completion(
        spark,
        transcripts,
        args.output,
        rule_ver=args.rule_ver,
        n_buckets=args.n_buckets,
        max_buckets_per_run=args.max_buckets,
    )
    wall = time.time() - t0

    lin = spark.read.schema(LINEAGE_SCHEMA).parquet(f"{args.output}/lineage")
    # turns/chars/spans are additive and exact at any grain; n_convs is
    # per (bucket, part_id) distinct, so its sum double-counts a
    # conversation whose turns straddle output partitions — convs is
    # instead counted exactly below over THIS run's buckets only
    # (partition-pruned read; conversations never span buckets)
    cur = lin.where(F.col("batch_id") >= batch0)
    m = cur.agg(
        F.sum("n_turns").alias("turns"),
        F.sum("n_chars").alias("chars"),
        F.sum("n_spans").alias("spans"),
    ).collect()[0]
    tot = lin.agg(
        F.sum("n_turns").alias("turns"),
        F.count_distinct("bucket").alias("buckets"),
    ).collect()[0]
    convs = None
    if n_buckets_done:
        run_buckets = [
            r["bucket"] for r in cur.select("bucket").distinct().collect()
        ]
        convs = (
            spark.read.parquet(f"{args.output}/extracted")
            .where(F.col("bucket").isin(run_buckets))
            .agg(F.count_distinct("conv_id"))
            .collect()[0][0]
        )
    print(
        json.dumps(
            {
                "buckets_processed": n_buckets_done,
                "wall_sec": round(wall, 2),
                # this run's own work — the only numbers wall_sec divides
                "turns": m["turns"] or 0,
                "convs": convs,
                "chars": m["chars"] or 0,
                "spans": m["spans"] or 0,
                "turns_per_sec": round((m["turns"] or 0) / wall, 1)
                if n_buckets_done
                else None,
                # all-time table state, for the resume story
                "total_turns": tot["turns"] or 0,
                "total_buckets_committed": tot["buckets"],
                "parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
