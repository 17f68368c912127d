"""The composed rolling-ingest curation pipeline: extract → dedup
against the accumulated corpus → commit, per ingest batch, resumable
at BOTH layers.

This is the end-to-end production story the two state machines exist
for (round-5): a new shard of transcripts arrives, its turns are
extracted with bucket-granular checkpointing (lineage.py — a crash
mid-extraction resumes at the first uncommitted conv_id bucket,
re-extracting at most one bucket per executor), and the extracted
turn-documents are deduped against the ENTIRE accumulated corpus
without rescanning it (incdedup.py — the accepted corpus is its
signature tables; the dedup commit is a ledger row appended last, so
a crash between the extraction commit and the dedup commit leaves the
batch extracted-but-unadmitted and the retry re-runs only the dedup
probe). Each layer is idempotent on replay, so the WHOLE increment is
safe to re-run from the top after any crash — the test suite kills it
between the layers and re-runs it.

Layout under ``out_dir``:

  extract/batch-<id>/   one lineage-committed extraction dataset per
                        ingest batch (rolling ingest appends batches;
                        the per-corpus resume machinery applies within
                        a batch — conv buckets — not across batches)
  dedup/                ONE shared incdedup state dir: exact hashes +
                        band signatures + survivors + ledger, growing
                        by each batch's admitted docs

Streaming is a thin driver over the same increment: stream_curation
reads transcript files as they arrive and runs run_curation_increment
on each micro-batch under the batch id ``epoch-<id>``. There are no
stateful operators, no second dedup rule and no second sink; the
ledger's idempotent batch ids make an engine replay of a committed
epoch a no-op, so each epoch is admitted exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .incdedup import dedup_increment, read_survivors
from .lineage import EXTRACTED_SCHEMA, read_buckets, run_to_completion

DEFAULT_BUCKETS = 16

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def turn_doc_id() -> F.Column:
    """Deterministic per-turn document id: the conv's numeric suffix
    × 1000 + turn_idx (turn counts are « 1000). Pure function of the
    natural key, so retries and both engines agree. A digit-free
    conv_id gives a NULL id, which dedup_increment refuses."""
    return (
        F.regexp_extract("conv_id", r"(\d+)", 1).try_cast("long") * 1000
        + F.col("turn_idx")
    ).alias("doc_id")


def run_curation_increment(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    batch_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    _crash_before_dedup_commit: bool = False,
) -> dict:
    """One ingest increment, end to end. Idempotent: every layer
    skips work it has already committed, so replaying after a crash
    at ANY point converges to the same state. Returns the dedup
    ledger stats for the batch."""
    ex_dir = f"{out_dir}/extract/batch-{batch_id}"
    run_to_completion(spark, transcripts, ex_dir, n_buckets=n_buckets)
    # an unbounded drain leaves every bucket committed, so the committed
    # view is all n_buckets, read with the schema the drain wrote: no
    # lineage read and no footer merge (read_extracted does both)
    ext = read_buckets(
        spark.read.schema(EXTRACTED_SCHEMA), ex_dir, range(n_buckets)
    )
    docs = ext.where(F.length("text") > 0).select(turn_doc_id(), "text")
    return dedup_increment(
        spark,
        docs,
        f"{out_dir}/dedup",
        batch_id,
        _crash_before_commit=_crash_before_dedup_commit,
    )


def read_admitted(spark: SparkSession, out_dir: str) -> DataFrame:
    """(batch_seq, doc_id) of every admitted (deduped) turn-document
    across all committed ingest batches."""
    return read_survivors(spark, f"{out_dir}/dedup")


def stream_curation(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
) -> StreamingQuery:
    """Drain the transcript parquet files under ``input_dir`` through
    run_curation_increment, one increment per micro-batch, and return
    the started query (availableNow: it stops once every file present
    at start has been processed). The streaming checkpoint tracks which
    files each epoch read; a restart on the same checkpoint resumes
    after the last committed epoch, and a replayed epoch finds its
    batch id in the ledger and commits nothing."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(
            lambda df, i: run_curation_increment(
                spark, df, out_dir, batch_id=f"epoch-{i}"
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
