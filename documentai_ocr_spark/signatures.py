"""The signature kernels the rolling increment runs: the normalized
content hash (exact rule) and the word-shingle MinHash LSH bands (near
rule).

They live here, outside the query registry, so that importing the
pipeline loads none of ``queries/``. The registry imports them back
(``queries.util.content_hash_col``, ``queries.dedup._mh_band_df`` …),
so its dedup queries and DuckDB oracles gate the very code the
increment runs.

All hash math is built from md5 so Spark and DuckDB agree bit-for-bit:
60-bit integers come from the first 15 hex chars
(Spark ``conv(substr(md5(x),1,15),16,10)`` ==
DuckDB ``('0x'||substr(md5(x),1,15))::bigint``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# -------------------------------------------- shared content-hash rule
# The Spark rendering of THE normalized-content dedup hash; its DuckDB
# twin is queries.util.content_hash_sql. A change to the normalization
# edits these two functions and nothing else.
def content_hash_col(col: str = "text"):
    """Spark rendering of the normalized-content hash of ``col``."""
    from pyspark.sql import functions as F

    return F.md5(F.lower(F.regexp_replace(col, r"[ \t\n\x0B\f\r]+", " ")))


# ------------------------------------------------------------ shingles
def _hex60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint (engine side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _word_shingles(
    doc: DataFrame, k: int, distinct: bool = True
) -> DataFrame:
    """(doc_id, sh): word k-gram shingles per document. ``distinct``
    dedups them (set semantics — required wherever shingles are COUNTED,
    e.g. Jaccard); pass False for consumers that only take MIN over the
    shingle set (minhash): duplicates cannot change a min, and skipping
    the dedup drops a full shuffle of the raw shingle stream.

    Tokens are the pieces of ``split(text, ' ')``, empty ones included;
    shingle i is tokens i..i+k-1 joined by one space. The regex
    captures, at every token start, the k tokens that begin there (a
    lookahead, so the matches overlap): one compiled pass over the
    text, where a lambda per shingle over ``split(text)`` re-splits
    the text for each token it reads and is interpreted."""
    gram = r"[^ ]*+" + r"(?: [^ ]*+)" * (k - 1)
    starts = F.lit(rf"(?:^|(?<= ))(?=({gram}))")
    grams = F.regexp_extract_all("text", starts, 1)
    sh = doc.select("doc_id", F.explode(grams).alias("sh"))
    return sh.distinct() if distinct else sh


_JACCARD_K = 3


# ------------------------------------------------------------- minhash
_MH_SEEDS = 8
_MH_ROWS_PER_BAND = 2  # 4 bands of 2

# Hash economics: ONE md5 digest per shingle, then the 8 "permutations"
# are pairwise-independent linear maps (a·h + b) mod p of its 60-bit
# prefix (reduced mod a 31-bit prime so a·h stays < 2^62 in bigint).
# The original form hashed every shingle 8× (seed-prefixed md5 each);
# digesting is the per-token cost that scales with the corpus, the
# linear maps are near-free — measured 1.94 s → 1.19 s on the sf0.1
# signature build (BENCH.md round 3). Both engines compute the same
# integers, so the value-hash gate is unaffected.
_MH_P = 2147483629  # largest prime < 2^31
_MH_AB = [
    (1948261107, 921312109),
    (651088733, 1706916241),
    (1211468881, 412002143),
    (880120577, 1523985619),
    (1727539969, 204042157),
    (433420127, 1369618019),
    (1065623057, 77041823),
    (1582249123, 1835017493),
]


def _mh_sig_df(docs: DataFrame) -> DataFrame:
    """(doc_id, s0..s7): the 8-component MinHash signature, wide form.
    ONE md5 digest per shingle; the 8 permutations are linear maps
    (a·h + b) mod p of its 60-bit prefix (see _MH_AB) — digesting is
    the corpus-linear cost, the maps are free. Builds in ONE
    groupBy(doc_id) with 8 parallel min aggregates (columns, not
    exploded seed rows) — map-side partial mins do all the work.
    Shingles are NOT deduped first: MIN is duplicate-insensitive, so
    the distinct()'s shuffle of the raw shingle stream would buy
    nothing (the oracle SQL keeps its DISTINCT — same mins either
    way). Shared by the band builder and q_minhash_calibration, so the
    candidate generator and its accuracy audit can never disagree
    about what a signature is."""
    sh = _word_shingles(docs, _JACCARD_K, distinct=False)
    hh = sh.select(
        "doc_id", (_hex60(F.col("sh")) % _MH_P).alias("h")
    )
    return hh.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({a} * h + {b}) % {_MH_P})").alias(f"s{s}")
            for s, (a, b) in enumerate(_MH_AB)
        ]
    )


def _mh_band_df(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bh): MinHash LSH band buckets — pure projections
    over the shared signature frame (_mh_sig_df). Written as SQL
    expressions (here and in _mh_sig_df): composed one Column call at a
    time, the two frames cost ~0.15 s of driver time per increment."""
    sig = _mh_sig_df(docs)
    bands = ", ".join(
        f"named_struct('band', {b}, 'bh', md5(concat_ws(':', "
        f"CAST(s{2 * b} AS STRING), CAST(s{2 * b + 1} AS STRING))))"
        for b in range(_MH_SEEDS // _MH_ROWS_PER_BAND)
    )
    return sig.select("doc_id", F.expr(f"inline(array({bands}))"))
