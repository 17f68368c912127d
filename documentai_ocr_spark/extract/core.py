"""The extraction operator: transcripts DataFrame → extracted DataFrame.

Spark-first design: the whole extraction is ONE narrow ``mapInPandas``
stage over the scan — no shuffle at all for the per-turn path (each
turn's extraction is independent; the per-turn text-equality contract
makes this embarrassingly parallel, which is exactly why it scales to
10^12 turns: throughput is scan-bound, parallelism is the partition
count, and there is no key to skew). mapInPandas is the one Python
boundary: every other operator in the package uses it too, and a
mapInArrow twin measured as a throughput tie (BENCH.md).

Cross-turn operations (conversation assembly) DO need grouping and
ordering — they live in :func:`assemble_conversations`, which uses an
order-preserving two-phase (salted) aggregation so a single monster
conversation cannot straggle one reducer (BASELINE.json north_rule skew
requirement).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..rules import (
    HTML_SNIFF_RE,
    PAYLOAD_HTML,
    PAYLOAD_PDFISH,
    PAYLOAD_PLAIN,
    PDFISH_SNIFF_RE,
)
from .textops import (
    extract_html_batch,
    extract_pdfish_batch,
    extract_plain_batch,
    extract_plain_hysteresis_batch,
    word_spans_batch,
)

# selectable plain-path kernels: the single-threshold density rule
# (production default) and the two-threshold hysteresis decoder
# (reference characterSegment.py semantics — survives brief dips)
PLAIN_VARIANTS = {
    "density": extract_plain_batch,
    "hysteresis": extract_plain_hysteresis_batch,
}

# spans index the EXTRACTED text; beg/end are char offsets, end exclusive
SPANS_TYPE = "array<struct<beg:int,end:int,kind:string,score:double>>"
EXTRACT_SCHEMA = (
    "conv_id string, turn_idx int, role string, payload_kind string, "
    f"text string, spans {SPANS_TYPE}, n_spans int"
)


def classify_payload_batch(texts: pd.Series) -> pd.Series:
    """Vectorized payload sniffing for a whole Arrow batch (RE2 scans on
    contiguous buffers)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(texts.fillna(""), type=pa.string())
    is_pdfish = pc.match_substring_regex(arr, PDFISH_SNIFF_RE.pattern).to_numpy(
        zero_copy_only=False
    )
    is_html = (
        pc.match_substring_regex(arr, HTML_SNIFF_RE.pattern).to_numpy(
            zero_copy_only=False
        )
        & pc.match_substring(arr, "</").to_numpy(zero_copy_only=False)
        & ~is_pdfish
    )
    out = np.full(len(arr), PAYLOAD_PLAIN, dtype=object)
    out[is_pdfish] = PAYLOAD_PDFISH
    out[is_html] = PAYLOAD_HTML
    return pd.Series(out, index=texts.index)


def extract_batch(pdf: pd.DataFrame, plain_variant: str = "density") -> pd.DataFrame:
    """One Arrow batch of transcript turns → extracted rows (same order)."""
    texts = pdf["text"].reset_index(drop=True)
    kinds = classify_payload_batch(texts)

    n = len(texts)
    # plain numpy arrays, NOT views into a DataFrame: Series.to_numpy()
    # under pandas Copy-on-Write returns read-only/copied buffers, so
    # writing through it would either raise or silently lose the spans
    text_out = np.full(n, "", dtype=object)
    spans_out = np.empty(n, dtype=object)
    spans_out[:] = [[] for _ in range(n)]
    n_spans_out = np.zeros(n, dtype=np.int64)
    for kind, fn in (
        (PAYLOAD_PLAIN, PLAIN_VARIANTS[plain_variant]),
        (PAYLOAD_HTML, extract_html_batch),
        (PAYLOAD_PDFISH, extract_pdfish_batch),
    ):
        mask = (kinds == kind).to_numpy()
        if not mask.any():
            continue
        sub = fn(texts[mask].reset_index(drop=True))
        pos = np.flatnonzero(mask)
        text_out[pos] = sub["text"].to_numpy()
        spans_out[pos] = sub["spans"].to_numpy()
        n_spans_out[pos] = sub["n_spans"].to_numpy()
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].to_numpy(),
            "turn_idx": pdf["turn_idx"].to_numpy(),
            "role": pdf["role"].to_numpy(),
            "payload_kind": kinds.to_numpy(),
            "text": text_out,
            "spans": spans_out,
            "n_spans": n_spans_out,
        }
    )


def extract_turns(
    transcripts: DataFrame, plain_variant: str = "density"
) -> DataFrame:
    """Per-turn main-content extraction — the package's one extraction
    path. Narrow (no shuffle): the plan is scan → project → MapInPandas
    → output, so it scales linearly with input partitions (tune
    ``spark.sql.files.maxPartitionBytes`` for split granularity and
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` for batch shape).
    ``plain_variant`` selects the plain-payload kernel (PLAIN_VARIANTS).
    """
    if plain_variant not in PLAIN_VARIANTS:
        raise ValueError(f"unknown plain_variant {plain_variant!r}")
    # prune to the columns the kernel needs — keeps the parquet ReadSchema
    # minimal even though mapInPandas is a black box to Catalyst
    src = transcripts.select("conv_id", "turn_idx", "role", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .textops import pin_arrow_pools

        pin_arrow_pools()  # 1 arrow thread per worker process
        for pdf in batches:
            if len(pdf):
                yield extract_batch(pdf, plain_variant)

    return src.mapInPandas(run, schema=EXTRACT_SCHEMA)


WORD_BOX_SCHEMA = (
    "conv_id string, turn_idx int, line_no int, word_no int, "
    "beg_px double, end_px double"
)


def extract_word_boxes(transcripts: DataFrame) -> DataFrame:
    """Pdfish word-box extraction with the reference's span fixups
    (merge-narrow / split-wide / glue — rules.py word-span constants):
    one narrow mapInPandas stage emitting a row per refined word span.
    Non-pdfish turns produce nothing. Golden-tested vs oracle.word_boxes."""
    src = transcripts.select("conv_id", "turn_idx", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .textops import pin_arrow_pools

        pin_arrow_pools()
        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf["text"].reset_index(drop=True)
            kinds = classify_payload_batch(texts)
            mask = (kinds == PAYLOAD_PDFISH).to_numpy()
            if not mask.any():
                continue
            res = word_spans_batch(texts[mask].reset_index(drop=True))
            rid = res["row"].to_numpy()
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy()[mask][rid],
                    "turn_idx": pdf["turn_idx"]
                    .to_numpy()[mask][rid]
                    .astype("int32"),
                    "line_no": res["line_no"].to_numpy().astype("int32"),
                    "word_no": res["word_no"].to_numpy().astype("int32"),
                    "beg_px": res["beg_px"].to_numpy(),
                    "end_px": res["end_px"].to_numpy(),
                }
            )

    return src.mapInPandas(run, schema=WORD_BOX_SCHEMA)


def assemble_conversations(
    extracted: DataFrame, chunk_turns: int = 4096
) -> DataFrame:
    """Concatenate per-turn extracted text into one document per
    conversation, in stable (conv_id, turn_idx) order.

    Order-preserving two-phase aggregation for skew: phase 1 groups by
    (conv_id, chunk = turn_idx div chunk_turns) so a conversation with
    10^6 turns spreads over many reducers; phase 2 merges the (few)
    ordered chunks per conversation. Both phases use sort-based
    ``sort_array(collect_list(struct(...)))`` so the result is
    deterministic regardless of partitioning — the stable-ordering
    invariant (BASELINE.json north_rule).
    """
    chunked = (
        extracted
        .where(F.col("n_spans") > 0)
        .withColumn("chunk", F.expr(f"cast(turn_idx div {chunk_turns} as int)"))
        .groupBy("conv_id", "chunk")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("turn_idx", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\n\n",
            ).alias("chunk_text"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )
    return (
        chunked.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("chunk", "chunk_text"))),
                    lambda s: s["chunk_text"],
                ),
                "\n\n",
            ).alias("doc_text"),
            F.sum("n_turns").cast("long").alias("n_turns"),
        )
    )
