"""Tuned SparkSession factory (local mode here; the same confs are what a
cluster spark-submit would carry in --conf flags)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# confs that matter at 100 TB and are safe locally
BASE_CONFS: dict[str, str] = {
    # AQE: runtime coalescing + skew-join splitting (north_rule requirement)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches are the unit of UDF amortization (SURVEY.md §4).
    # Swept 512..16384 (BENCH.md): ~2048 is the knee — small enough that
    # the JVM scan pipelines with the Python kernel, large enough to
    # amortize per-batch pandas/Arrow fixed cost (+25% vs 4096 @8 cores).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # oracle comparisons need a fixed zone (duckdb is UTC-naive)
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # static conf (read when the session starts). The 100-entry default
    # holds fewer compiled plan classes than one curation increment
    # cycles through, so each increment would recompile ~90-110 janino
    # classes and the JIT would compile them again; with 2000 a warm
    # increment compiles a handful (BENCH.md)
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def get_spark(
    app_name: str = "documentai-ocr-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a session. ``cores=None`` → local[*] or
    $SPARK_GRAFT_CPUS if set. ``master`` overrides the local[N]
    default — e.g. ``local-cluster[E,C,M]`` for real executor
    processes (separate JVMs, network shuffle, per-executor memory
    fences — the closest single-box stand-in for a multi-executor
    cluster); ``cores``/``shuffle_partitions`` still size the
    shuffle in that case."""
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and env_cpus:
        cores = int(env_cpus)
    if master is None:
        master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or (cores * 2 if cores else 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # many distinct query shapes per session → lots of janino classes;
        # an exhausted JIT code cache silently drops to interpreter (10-50×)
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    for k, v in BASE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
