"""Seeded inputs for the rolling-ingest benchmark.

Every input is a pure function of ``(seed, shard, conv)``: payloads come
from ``synth.turn_text`` with seed-offset salts, and plain payloads carry
one extra line of seeded pseudo-words (the way
``synth.transcripts_from_documents`` weaves in source text) so that fresh
conversations are mostly distinct content. The conversations of a replay
shard that re-send nothing are wholly distinct: pseudo-word lines only.

Conv ids are ``conv-<8 digits>`` = ``shard * 1000 + conv``, unique across
every shard of a run, and each conversation has 12 turns, so
``pipeline.turn_doc_id()`` (first digit group * 1000 + turn_idx) is unique
by construction; :func:`assert_doc_ids_unique` checks it on the staged data
before any increment runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from documentai_ocr_spark.synth import turn_text

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string"
)
TURNS_PER_CONV = 12
CONVS_PER_SHARD_MAX = 1000
_ROLES = ("user", "assistant", "tool")
_TOOLS = ("search", "browser", "calculator", "code_exec")
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]
_SOURCE_WORDS = 48
_DISTINCT_LINES = 4  # source lines of a distinct payload (~1.3k chars)
_SEED_SALT = 7919  # prime stride between seeds' salt ranges


def conv_no(shard: int, c: int) -> int:
    if not 0 <= c < CONVS_PER_SHARD_MAX:
        raise ValueError(f"conv index {c} out of range")
    return shard * CONVS_PER_SHARD_MAX + c


def _source_line(rng: np.random.Generator) -> str:
    syl = rng.integers(len(_SYLLABLES), size=(_SOURCE_WORDS, 3))
    n_syl = rng.integers(2, 4, size=_SOURCE_WORDS)
    words = [
        "".join(_SYLLABLES[s] for s in row[:k]) for row, k in zip(syl, n_syl)
    ]
    return " ".join(words) + " appended from source text."


def conv_texts(seed: int, no: int, distinct: bool = False) -> list[str]:
    """The 12 turn payloads of conversation ``no`` under ``seed``. With
    ``distinct``, every turn is a plain payload of ``_DISTINCT_LINES``
    source lines and no ``turn_text`` template: any shared template gives
    two turns a fair chance of a shared MinHash band (4 bands of 2 rows),
    so only template-free turns are reliably not near duplicates."""
    rng = np.random.default_rng([seed, no])
    if distinct:
        return [
            "\n".join(_source_line(rng) for _ in range(_DISTINCT_LINES))
            for _ in range(TURNS_PER_CONV)
        ]
    out = []
    for t in range(TURNS_PER_CONV):
        salt = seed * _SEED_SALT + no * 131 + t * 31
        text = turn_text(salt)
        if salt % 20 < 12:  # turn_text's plain class
            text += "\n" + _source_line(rng)
        out.append(text)
    return out


def make_shard(
    seed: int,
    shard: int,
    n_convs: int,
    replay_pool: list[int] | None = None,
    replay_share: float = 0.0,
) -> pd.DataFrame:
    """One shard of ``n_convs`` fresh-id conversations. When
    ``replay_pool`` is given, exactly ``round(replay_share * n_convs)`` of
    them re-send the payloads of a conversation drawn from the pool (conv
    numbers whose content was already ingested), and the others carry
    distinct content. Dedup then drops every replayed turn and admits every
    other one, so the admitted count is fixed by the shape, not by which
    templates a seed happens to repeat."""
    rng = np.random.default_rng([seed, shard])
    n_replay = round(replay_share * n_convs) if replay_pool else 0
    replayed = set(rng.permutation(n_convs)[:n_replay].tolist())
    rows = []
    for c in range(n_convs):
        no = conv_no(shard, c)
        if c in replayed:
            texts = conv_texts(seed, int(rng.choice(replay_pool)))
        else:
            texts = conv_texts(seed, no, distinct=replay_pool is not None)
        for t, text in enumerate(texts):
            role = _ROLES[t % len(_ROLES)]
            tool = _TOOLS[(no + t) % len(_TOOLS)] if role == "tool" else None
            rows.append((f"conv-{no:08d}", t, role, text, tool))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def stage(spark, shards: dict[int, pd.DataFrame], root: str) -> dict[int, str]:
    """Write generated shards, in one job, as the parquet files an ingester
    receives: one ``root/shard=<n>`` directory per shard."""
    pdf = pd.concat([df.assign(shard=s) for s, df in shards.items()])
    spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA + ", shard int").write.mode(
        "append"
    ).partitionBy("shard").parquet(root)
    return {s: f"{root}/shard={s}" for s in shards}


def assert_doc_ids_unique(spark, root: str) -> int:
    """Fail unless ``turn_doc_id()`` is non-null and unique over every
    staged shard. Returns the number of turns checked."""
    from documentai_ocr_spark.pipeline import turn_doc_id

    ids = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(root).select(turn_doc_id())
    row = ids.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("doc_id").alias("non_null"),
        F.countDistinct("doc_id").alias("distinct"),
    ).collect()[0]
    if not row["n"] == row["non_null"] == row["distinct"]:
        raise RuntimeError(f"turn_doc_id is not unique and non-null: {row}")
    return row["n"]
