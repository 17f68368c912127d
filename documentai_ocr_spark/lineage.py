"""Checkpointed, resumable extraction runs with per-partition lineage.

The unit of work and of commit is a **conv_id bucket**:
``pmod(xxhash64(conv_id), n_buckets)`` — the parquet/Iceberg
``bucket(N, conv_id)`` partition transform. A run:

  1. reads the lineage table → set of committed buckets,
  2. prunes the scan to pending buckets only (partition pruning on
     conv_id buckets — north_star requirement),
  3. extracts and writes results partitioned by bucket with *dynamic
     partition overwrite* (a half-written bucket from a crashed run is
     atomically replaced on retry — the snapshot-commit emulation),
  4. appends lineage rows (bucket, part_id, batch_id, rule_ver, counts)
     LAST — a bucket is committed iff its lineage row exists, so a crash
     anywhere before step 4 leaves the dataset logically unchanged and
     the next run resumes exactly.

This is the Spark-native restructuring of the reference's status-flag
work queue (``find(easyocr==0)`` poll-drain loop with failure marks,
/root/reference/ocrclient/rechanimage.py:66-135, pdocr.py:70-101): the
per-row flags become per-bucket commit records, and the N+1 per-row
``find()`` calls become one anti-join. On a real cluster the same code
targets an Iceberg table (snapshot isolation gives step 3+4 atomicity
for free; the lineage table maps to the snapshot summary + a metrics
table); this module emulates those semantics on plain parquet so it is
testable here.

Scale notes: lineage volume is O(buckets × partitions-touched), not
O(rows). The bucket count is the resume granularity — at 10^12 turns
you'd use 2^12-2^16 buckets; a failed 1000-executor run loses at most
one bucket's work per executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import EXTRACT_SCHEMA, extract_turns

DEFAULT_BUCKETS = 64
# extracted/ as a run without ``augment`` writes it, partition column last
EXTRACTED_SCHEMA = f"{EXTRACT_SCHEMA}, part_id int, bucket int"

LINEAGE_SCHEMA = (
    "bucket int, part_id int, n_turns bigint, n_convs bigint, "
    "n_chars bigint, n_spans bigint, batch_id bigint, rule_ver string"
)


def bucket_expr(n_buckets: int = DEFAULT_BUCKETS):
    """Deterministic conv_id → bucket (the bucket(N, conv_id) transform)."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem of the path's OWN
    scheme — os.path.exists would silently answer False for every
    hdfs:// / s3a:// table, making a cluster-mode resume re-extract all
    buckets and restart batch_id at 0 (duplicate batch ids break the
    as-of read's monotonic-prefix assumption)."""
    fs, hp, _ = _hadoop(spark, path)
    return fs.exists(hp)


def _lineage_state(spark: SparkSession, out_dir: str) -> tuple[set[int], int]:
    """(committed buckets, next batch_id) in one lineage read. batch_id is
    a monotonic counter from the table itself — never wall-clock, so a
    replayed run is byte-reproducible and debugging can order batches."""
    path = f"{out_dir}/lineage"
    _heal_lineage_swap(spark, out_dir)
    if not _path_exists(spark, path):
        return set(), 0
    row = (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(path)
        .agg(
            F.collect_set("bucket").alias("buckets"),
            F.max("batch_id").alias("max_batch"),
        )
        .collect()[0]
    )
    max_batch = row["max_batch"] if row["max_batch"] is not None else -1
    return set(row["buckets"] or []), int(max_batch) + 1


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    return _lineage_state(spark, out_dir)[0]


def _write_extracted(
    ext: DataFrame, out_dir: str
) -> None:
    """Step 3: dynamic-overwrite the pending buckets' output partitions."""
    (
        ext.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(f"{out_dir}/extracted")
    )


def run_extraction_increment(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    rule_ver: str = "v1",
    n_buckets: int = DEFAULT_BUCKETS,
    max_buckets: int | None = None,
    augment=None,
    lock: bool = True,
    _crash_before_commit: bool = False,
) -> int:
    """One incremental run. Returns the number of buckets processed
    (0 = nothing pending: the job is fully caught up).

    ``max_buckets`` bounds one run's work (the reference's batched drain,
    rechanimage.py:96-135). ``augment`` (DataFrame → DataFrame) lets a
    new rule version ADD columns — schema evolution: this run's buckets
    carry them, earlier buckets read them as NULL through the merged-
    schema readers, and rule_ver records which batches have them.
    ``lock`` takes the single-writer lock for the write+commit critical
    section (see acquire_writer_lock). ``_crash_before_commit`` is a
    test hook that simulates dying between data write and lineage
    commit (the lock is deliberately left behind, like a real crash).
    """
    if lock:
        acquire_writer_lock(spark, out_dir, owner=f"batch rule={rule_ver}")
    try:
        return _increment_locked(
            spark,
            transcripts,
            out_dir,
            rule_ver,
            n_buckets,
            max_buckets,
            augment,
            _crash_before_commit,
        )
    finally:
        if lock and not _crash_before_commit:
            release_writer_lock(spark, out_dir)


def _increment_locked(
    spark,
    transcripts,
    out_dir,
    rule_ver,
    n_buckets,
    max_buckets,
    augment,
    _crash_before_commit,
) -> int:
    done, batch_id = _lineage_state(spark, out_dir)
    pending = [b for b in range(n_buckets) if b not in done]
    if max_buckets is not None:
        pending = pending[:max_buckets]
    if not pending:
        return 0

    src = transcripts.withColumn("bucket", bucket_expr(n_buckets)).where(
        F.col("bucket").isin(pending)
    )
    # carry the bucket through extraction by recomputing it on the output
    # (pure function of conv_id — cheaper than widening the kernel schema)
    ext = (
        extract_turns(src.drop("bucket"))
        .withColumn("bucket", bucket_expr(n_buckets))
        .withColumn("part_id", F.spark_partition_id())
    )
    if augment is not None:
        ext = augment(ext)
    _write_extracted(ext, out_dir)
    if _crash_before_commit:
        return len(pending)

    # lineage is aggregated from the files just written: commits exactly
    # what is durably on disk, and doubles as a write verification.
    # Explicit schema: a run whose pending buckets had zero input rows
    # writes no part files, and schema inference would raise
    # UNABLE_TO_INFER_SCHEMA — with the schema given, the read is simply
    # empty and the empty-bucket commit below still happens.
    written = spark.read.schema(ext.schema).parquet(
        f"{out_dir}/extracted"
    ).where(F.col("bucket").isin(pending))
    lineage = written.groupBy("bucket", "part_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.sum("n_spans").cast("long").alias("n_spans"),
    )
    # a pending bucket with no input rows still commits (part_id=-1,
    # zero counts) — otherwise it would be rescanned forever. Built with
    # range, not createDataFrame: a DataFrame of local Python rows runs a
    # Python worker per partition to hand them to the JVM
    all_pending = (
        spark.range(n_buckets)
        .select(F.col("id").cast("int").alias("bucket"))
        .where(F.col("bucket").isin(pending))
    )
    lineage = (
        all_pending.join(lineage, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("part_id", F.lit(-1)).cast("int").alias("part_id"),
            *[
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("n_turns", "n_convs", "n_chars", "n_spans")
            ],
        )
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("rule_ver", F.lit(rule_ver))
    )
    lineage.write.mode("append").parquet(f"{out_dir}/lineage")
    return len(pending)


def run_to_completion(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    rule_ver: str = "v1",
    n_buckets: int = DEFAULT_BUCKETS,
    max_buckets_per_run: int | None = None,
) -> int:
    """Drain the work queue (the while-pending loop of the reference,
    minus the sleep — each iteration is one committed batch). An
    unbounded run takes every pending bucket in its first pass, so it
    returns without a confirming pass that could only find none."""
    total = 0
    while True:
        n = run_extraction_increment(
            spark,
            transcripts,
            out_dir,
            rule_ver=rule_ver,
            n_buckets=n_buckets,
            max_buckets=max_buckets_per_run,
        )
        total += n
        if n == 0 or max_buckets_per_run is None:
            return total


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed view of the output: only buckets with lineage rows (an
    uncommitted/partial bucket is invisible — snapshot-read emulation).
    mergeSchema: buckets written before a column was added (schema
    evolution via the ``augment`` hook) read it as NULL."""
    return read_buckets(
        spark.read.option("mergeSchema", "true"),
        out_dir,
        committed_buckets(spark, out_dir),
    )


def read_buckets(reader, out_dir: str, buckets) -> DataFrame:
    """The extracted rows of ``buckets`` through ``reader`` (a
    DataFrameReader carrying the schema or mergeSchema): the bucket
    filter is partition pruning, so other buckets' files are never
    opened."""
    return reader.parquet(f"{out_dir}/extracted").where(
        F.col("bucket").isin(sorted(buckets))
    )


def read_extracted_asof(
    spark: SparkSession, out_dir: str, batch_id: int
) -> DataFrame:
    """Time-travel read: the committed view AS OF lineage batch
    ``batch_id`` (inclusive) — only buckets whose commit carries a
    batch_id ≤ the requested one are visible, exactly like reading an
    older Iceberg snapshot by snapshot-id. Works because each bucket
    commits exactly once with the monotonic counter, so the as-of set
    is a prefix of commit history; on an Iceberg deployment this maps
     1:1 to ``VERSION AS OF``. The filter is partition pruning on the
    bucket column — an as-of read scans only the old buckets' files.
    As-of reads before an expire_snapshots horizon are refused (the
    Iceberg expiry contract); schemas merge like read_extracted."""
    _heal_lineage_swap(spark, out_dir)
    horizon = expired_before(spark, out_dir)
    if batch_id < horizon:
        raise ValueError(
            f"as-of batch {batch_id} predates the expiry horizon "
            f"{horizon} (expire_snapshots removed that history)"
        )
    path = f"{out_dir}/lineage"
    rows = (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(path)
        .where(F.col("batch_id") <= batch_id)
        .select("bucket")
        .distinct()
        .collect()
    )
    return read_buckets(
        spark.read.option("mergeSchema", "true"),
        out_dir,
        [r.bucket for r in rows],
    )


# --------------------------------------------------------------- concurrency
# Single-writer guard. Iceberg gets optimistic concurrency from the
# atomic metadata-pointer swap; on plain parquet two simultaneous
# incremental runs could both see a bucket as pending and interleave
# dynamic overwrites with commits. The guard is an ATOMIC lock-file
# create through the table's own Hadoop FileSystem (createNewFile —
# atomic on HDFS and local FS; on S3A it is best-effort, one more
# reason the production target is a real table format). A crashed
# holder leaves a stale lock: surface the owner string and let the
# operator force_unlock — silent TTL auto-breaking is how two writers
# end up live at once.


class LineageConcurrencyError(RuntimeError):
    """Another writer holds the lineage writer lock."""


def _hadoop(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hp = jvm.org.apache.hadoop.fs.Path(path)
    return hp.getFileSystem(conf), hp, jvm


def acquire_writer_lock(
    spark: SparkSession, out_dir: str, owner: str = "writer"
) -> None:
    """Atomically create {out_dir}/_LOCK or raise
    LineageConcurrencyError naming the current holder."""
    fs, hp, jvm = _hadoop(spark, f"{out_dir}/_LOCK")
    fs.mkdirs(hp.getParent())
    try:
        # exclusive create WITH the owner bytes in the same stream —
        # no separate overwrite step, so a crash mid-acquire can only
        # leave an empty (reported as mid-acquire), never an
        # anonymous overwritten lock
        out = fs.create(hp, False)
        out.write(bytearray(owner.encode("utf-8")))
        out.close()
        return
    except Exception:
        holder = ""
        try:
            stream = fs.open(hp)
            holder = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            ).strip()
            stream.close()
        except Exception:  # pragma: no cover — unreadable lock body
            pass
        if not holder:
            holder = "unknown (mid-acquire or crashed before owner write)"
        raise LineageConcurrencyError(
            f"lineage at {out_dir} is locked by '{holder}' — "
            "if that writer crashed, force_unlock() after verifying it "
            "is dead"
        )


def release_writer_lock(spark: SparkSession, out_dir: str) -> None:
    fs, hp, _ = _hadoop(spark, f"{out_dir}/_LOCK")
    fs.delete(hp, False)


force_unlock = release_writer_lock


# ----------------------------------------------------------- schema evolution
# Column ADDITION across rule versions, the common evolution: a v2 run
# passes ``augment`` to run_extraction_increment and its buckets carry
# the new column; read_extracted / read_extracted_asof merge schemas so
# v1 buckets read the column as NULL (exactly Iceberg's add-column
# semantics: old data files simply lack the field). rule_ver in the
# lineage rows records which batches carry which schema. Column
# RENAME/DROP need a real table format's field-id mapping — documented
# boundary, not emulated.


# ------------------------------------------------------------ snapshot expiry
# Iceberg's expire_snapshots: metadata older than a horizon is
# compacted and time travel before the horizon is refused. Here the
# per-PARTITION lineage rows of batches before ``before_batch_id``
# collapse to one row per (bucket, batch_id, rule_ver) with summed
# counts and part_id = -1 (the manifest-level detail is what expiry
# discards; commit history, counts, committed_buckets and max batch_id
# are all preserved exactly). The swap is two FileSystem renames with
# a _bak recovery window healed by _lineage_state's reader path on
# plain parquet; on Iceberg the pointer swap is atomic — the one-line
# boundary this module states everywhere.
_HORIZON = "lineage_horizon"


def _heal_lineage_swap(spark: SparkSession, out_dir: str) -> None:
    """If a crash between the two expiry renames left only the _bak
    table, rename it back so readers never see an empty lineage."""
    fs, cur, _ = _hadoop(spark, f"{out_dir}/lineage")
    bak = _hadoop(spark, f"{out_dir}/lineage_bak")[1]
    if not fs.exists(cur) and fs.exists(bak):
        fs.rename(bak, cur)


def expired_before(spark: SparkSession, out_dir: str) -> int:
    """The expiry horizon (exclusive); -1 if never expired."""
    path = f"{out_dir}/{_HORIZON}"
    if not _path_exists(spark, path):
        return -1
    return (
        spark.read.schema("before_batch_id bigint")
        .parquet(path)
        .agg(F.max("before_batch_id"))
        .collect()[0][0]
    )


def expire_snapshots(
    spark: SparkSession, out_dir: str, before_batch_id: int
) -> int:
    """Compact lineage rows of batches < ``before_batch_id`` to bucket
    grain and refuse as-of reads before the horizon from now on.
    Returns the number of lineage rows removed by compaction. Takes the
    writer lock: expiry is a metadata WRITE, and an increment's commit
    appended between the swap's renames would be lost with it."""
    acquire_writer_lock(spark, out_dir, owner="expire_snapshots")
    try:
        return _expire_locked(spark, out_dir, before_batch_id)
    finally:
        release_writer_lock(spark, out_dir)


def _expire_locked(
    spark: SparkSession, out_dir: str, before_batch_id: int
) -> int:
    _heal_lineage_swap(spark, out_dir)
    path = f"{out_dir}/lineage"
    rows = spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    old = rows.where(F.col("batch_id") < before_batch_id)
    new = rows.where(F.col("batch_id") >= before_batch_id)
    compact = old.groupBy("bucket", "batch_id", "rule_ver").agg(
        F.lit(-1).cast("int").alias("part_id"),
        F.sum("n_turns").cast("long").alias("n_turns"),
        F.sum("n_convs").cast("long").alias("n_convs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("n_spans").cast("long").alias("n_spans"),
    ).select(*[c.strip() for c in
               "bucket,part_id,n_turns,n_convs,n_chars,n_spans".split(",")],
             "batch_id", "rule_ver")
    n_old, n_compact = old.count(), compact.count()
    merged = new.select(compact.columns).unionByName(compact)
    tmp = f"{out_dir}/lineage_new"
    merged.write.mode("overwrite").parquet(tmp)
    fs, cur, _ = _hadoop(spark, path)
    bak = _hadoop(spark, f"{out_dir}/lineage_bak")[1]
    tmpp = _hadoop(spark, tmp)[1]
    fs.delete(bak, True)
    fs.rename(cur, bak)
    fs.rename(tmpp, cur)
    fs.delete(bak, True)
    spark.createDataFrame(
        [(int(before_batch_id),)], "before_batch_id bigint"
    ).write.mode("append").parquet(f"{out_dir}/{_HORIZON}")
    return n_old - n_compact
