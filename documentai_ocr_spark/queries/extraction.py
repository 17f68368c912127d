"""Extraction-pipeline queries (the engine's flagship path).

These run the mapInPandas kernels, which DuckDB cannot express — the
driver records rows-only checks here; byte-for-byte correctness is
enforced by the golden pytest suite against the pure-Python oracle
(tests/test_extract_golden.py) per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .util import content_hash_col
from ..extract import (
    assemble_conversations,
    extract_turns,
    extract_word_boxes,
)
from ..fusion import extract_fused, extract_vote
from ..synth import transcripts_from_documents

QUERIES: dict = {}
ORACLES: dict = {}


def _q(name: str):
    def reg(fn):
        QUERIES[name] = fn
        return fn

    return reg


@_q("x_extract_turns")
def x_extract_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn main-content extraction over the transcripts table
    (derived deterministically from documents). Narrow plan:
    scan → project → MapInPandas — zero shuffles."""
    t = transcripts_from_documents(spark, sf_dir)
    return extract_turns(t).select(
        "conv_id", "turn_idx", "payload_kind", "text", "n_spans"
    )


@_q("x_assemble_convs")
def x_assemble_convs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation assembly: per-turn extraction concatenated in stable
    (conv_id, turn_idx) order via the skew-safe two-phase chunked
    aggregation."""
    t = transcripts_from_documents(spark, sf_dir)
    return assemble_conversations(extract_turns(t))


@_q("x_extract_fused")
def x_extract_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-engine fusion pipeline (reference lifecycle §3.3): rule
    variants as engines, weighted score fusion, per-turn argmax.
    Golden-tested vs oracle.fuse_turn."""
    t = transcripts_from_documents(spark, sf_dir)
    return extract_fused(t)


@_q("x_extract_vote")
def x_extract_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """×4 self-consistency vote (/root/reference/font/rec.py:41-87):
    keep turns where all four plain recognizers agree on the extracted
    text. Golden-tested vs oracle.vote_turn.

    Rows-only BY INPUT, not by semantics: the vote aggregation itself is
    SQL and is value-hash-gated as q_agreement_vote (relational.py) over
    a DuckDB-reproducible candidates table; THIS entry runs the same
    vote on the Arrow kernel's candidates over the Python-synthesized
    transcripts, which no DuckDB view can reproduce."""
    t = transcripts_from_documents(spark, sf_dir)
    return extract_vote(t)


@_q("x_word_boxes")
def x_word_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pdfish word boxes with the reference's merge/split/glue span
    fixups (/root/reference/font/project_rec.py:104-127,216-223) — one
    row per refined word span. Golden-tested byte-equal vs
    oracle.word_boxes on ragged fixtures."""
    t = transcripts_from_documents(spark, sf_dir)
    return extract_word_boxes(t)


@_q("x_conv_dedup")
def x_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline composition: extraction → conversation assembly → exact
    dedup at CONVERSATION granularity (normalized doc_text hash, earliest
    conv_id canonical). The post-extraction dedup pass a training
    pipeline runs before packing documents; shuffles one 32-char hash
    per conversation."""
    t = transcripts_from_documents(spark, sf_dir)
    convs = assemble_conversations(extract_turns(t))
    h = content_hash_col("doc_text")
    return (
        convs.select("conv_id", h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("conv_id").alias("canonical_conv"),
        )
    )


@_q("x_span_stats")
def x_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level reporting: explode the spans array and aggregate per
    (payload_kind, span kind) — the engine's per-run metrics output.

    Rows-only BY INPUT, not by semantics: the identical metrics rollup
    is value-hash-gated as q_span_stats_plain (relational.py) over the
    SQL-expressible plain-run extraction; this instance reads the Arrow
    kernel's spans over the Python-synthesized transcripts, which no
    DuckDB view can reproduce."""
    t = transcripts_from_documents(spark, sf_dir)
    ex = extract_turns(t)
    return (
        ex.select("payload_kind", F.explode_outer("spans").alias("s"))
        .groupBy("payload_kind", F.col("s.kind").alias("span_kind"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.round(F.avg(F.col("s.end") - F.col("s.beg")), 3).alias("avg_len"),
        )
    )


@_q("x_corpus_curate")
def x_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus funnel in one lineage: per-turn
    extraction → conversation assembly → quality screen (length +
    informative-char density on the ASSEMBLED document) → exact-dup
    canonical election (earliest conv_id per content hash) → a kept/
    dropped decision with the first failing reason. This is lifecycle
    §3.1 extended to the curation steps a pretraining pipeline runs
    before packing; every stage is the already-gated operator, composed.

    Scale shape: one narrow extraction stage, the skew-safe two-phase
    assembly, then ONE shuffle of (hash, conv_id) pairs for the
    canonical election — document text never shuffles after assembly."""
    t = transcripts_from_documents(spark, sf_dir)
    ext = extract_turns(t)
    # per-conversation extraction yield: fraction of turns whose payload
    # was ALL boilerplate/noise (n_spans == 0) — the signal that a
    # source is junk comes from the extractor itself, not a raw-length
    # proxy. Computed on ext before assembly (one extra agg over the
    # same shuffle key the assembly uses).
    yield_stats = ext.groupBy("conv_id").agg(
        (
            F.sum(F.when(F.col("n_spans") == 0, 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("empty_frac")
    )
    convs = assemble_conversations(ext)
    h = content_hash_col("doc_text")
    scored = convs.select(
        "conv_id",
        F.length("doc_text").cast("long").alias("n_chars"),
        h.alias("content_hash"),
    ).join(yield_stats, "conv_id")
    canon = Window.partitionBy("content_hash")
    decided = scored.select(
        "conv_id",
        "n_chars",
        F.round("empty_frac", 6).alias("empty_frac"),
        (F.min("conv_id").over(canon) == F.col("conv_id")).alias(
            "is_canonical"
        ),
    )
    reason = (
        F.when(F.col("n_chars") < 80, F.lit("too_short"))
        .when(F.col("empty_frac") > 0.05, F.lit("low_yield"))
        .when(~F.col("is_canonical"), F.lit("duplicate"))
        .otherwise(F.lit("kept"))
    )
    return decided.select(
        "conv_id",
        "n_chars",
        "empty_frac",
        reason.alias("decision"),
        (reason == "kept").alias("kept"),
    )


@_q("x_extract_ab_diff")
def x_extract_ab_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-upgrade blast radius: run per-turn extraction under the
    production plain-path variant AND the hysteresis candidate, report
    only the turns whose extracted text differs (with both lengths).
    This is the regression report a team reads before switching rule
    versions on 10^12 turns — the batch analogue of a canary diff.

    Scale: both variants are narrow zero-shuffle stages over the same
    scan; the diff join keys on (conv_id, turn_idx) — with the
    transcripts table bucketed on conv_id both sides arrive
    co-partitioned and the join is local. Rows-only entry (two
    mapInPandas passes are not one SQL expression); the per-variant
    kernels are each golden-tested against their own oracle variant."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir)
    a = extract_turns(t, plain_variant="density").select(
        "conv_id",
        "turn_idx",
        F.col("text").alias("text_a"),
    )
    b = extract_turns(t, plain_variant="hysteresis").select(
        "conv_id",
        "turn_idx",
        F.col("text").alias("text_b"),
    )
    return (
        a.join(b, ["conv_id", "turn_idx"])
        .where(F.col("text_a") != F.col("text_b"))
        .select(
            "conv_id",
            "turn_idx",
            F.length("text_a").alias("len_a"),
            F.length("text_b").alias("len_b"),
        )
    )


@_q("x_transcript_curate")
def x_transcript_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSCRIPT-warehouse lifecycle in one lineage — the agent-data
    twin of x_corpus_curate: (1) latest-wins retry resolution
    (q_turn_supersede's attempt explode + turn-key window), (2) ingest
    loss (q_turn_integrity's md5%37 decimation), (3) the fused
    structural admission gate (q_sft_gate's four rules), (4) per-turn
    extraction of ONLY admitted conversations, (5) per-conversation
    training yield (turns, spans, extracted chars). Every stage is the
    already-gated operator, composed; rows-only BY INPUT (the turn
    payloads are Python-synthesized).

    Scale shape: one turn-key shuffle resolves retries, one conv-key
    window serves the whole gate (via relational._gate_stats — the SAME
    builder q_sft_gate runs, so the two cannot drift), the admitted set
    prunes via a LEFT SEMI join (conversation-grain — corpus-sized, so
    never forced broadcast; AQE picks the strategy), the extraction
    stage is narrow, and REJECTED conversations never reach the Python
    boundary."""
    from .relational import (
        _RETRY_DELAY_MS,
        _SFT_MIN_TURNS,
        _TURNS_PER_CONV,
        _gate_stats,
        _loss_coin,
        _retry_coin,
    )

    t = transcripts_from_documents(spark, sf_dir)
    doc_int = F.expr("substr(conv_id, 6)").cast("bigint")

    # (1) retries + latest-wins resolution (payload rides the window);
    # the coin is the ONE rendering shared with q_turn_supersede
    retry_coin = _retry_coin(doc_int, F.col("turn_idx"))
    attempts = F.when(
        retry_coin == 0, F.array(F.lit(1), F.lit(2))
    ).otherwise(F.array(F.lit(1)))
    u = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.unix_millis("ts").alias("ms"),
        F.explode(attempts).alias("attempt"),
    ).withColumn(
        "ms",
        F.col("ms")
        + F.when(F.col("attempt") == 2, F.lit(_RETRY_DELAY_MS)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "text",
        F.when(
            F.col("attempt") == 2,
            F.concat(F.lit("regenerated: "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    key = Window.partitionBy("conv_id", "turn_idx")
    resolved = (
        u.withColumn(
            "rn",
            F.row_number().over(
                key.orderBy(F.desc("ms"), F.desc("attempt"))
            ),
        )
        .where(F.col("rn") == 1)
        .drop("rn", "ms", "attempt")
    )

    # (2) ingest loss — the shared integrity coin
    kept = resolved.where(_loss_coin() != 0)

    # (3) fused structural gate — the shared q_sft_gate builder
    gate = _gate_stats(kept)
    admitted = gate.where(
        (F.col("n_missing") == 0)
        & (F.col("max_idx") == _TURNS_PER_CONV - 1)
        & (F.col("n_same_role") == 0)
        & (F.col("starts_user") == 1)
        & (F.col("n_turns") >= _SFT_MIN_TURNS)
    ).select("conv_id")

    # (4) extract only what survived the gate; (5) training yield
    ext = extract_turns(
        kept.select("conv_id", "turn_idx", "role", "text").join(
            admitted, "conv_id", "leftsemi"
        )
    )
    return ext.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum("n_spans").cast("long").alias("total_spans"),
        F.sum(F.length("text")).cast("long").alias("extracted_chars"),
    )
