"""Deduplication suite over the ``documents`` table — the training-data
pipeline ops: exact hash dedup, word-shingle Jaccard, MinHash+LSH
candidate generation, SimHash fingerprints + hamming pairs.

All hash math is built from md5 so Spark and DuckDB agree bit-for-bit:
  * lexicographic MIN over md5 hex strings is a valid minhash (a uniform
    random permutation of the shingle space per seed);
  * 60-bit integers come from the first 15 hex chars
    (Spark ``conv(substr(md5(x),1,15),16,10)`` ==
     DuckDB ``('0x'||substr(md5(x),1,15))::bigint``).

Reference provenance: the dedupe-before-insert idempotence family
(/root/reference/ocrclient/rechanimage.py:52-53, redisdata.py:106-108,316)
generalized to content-level near-dup detection for corpus curation.

Scale notes (100 TB): the shingle self-join is the classic LSH
band-bucket join — cardinality is bounded by bucket sizes, not n²; AQE
skew-join splits hot buckets (stop-shingle-like bands). The exact-dedup
groupBy shuffles one 16-byte hash per row. SimHash pairing below uses a
band-bucket prefilter at scale; the sf-size cross variant exists only as
the oracle-checkable baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..signatures import (  # noqa: F401 — the pipeline's kernels, gated here
    _JACCARD_K,
    _MH_AB,
    _MH_P,
    _MH_ROWS_PER_BAND,
    _MH_SEEDS,
    _hex60,
    _mh_band_df,
    _mh_sig_df,
    _word_shingles,
)
from .util import content_hash_col, content_hash_sql, guard_allpairs, load, spread

QUERIES: dict = {}
ORACLES: dict = {}


def _q(name: str, sql: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return reg


# ------------------------------------------------------------------- exact
@_q(
    "q_dedup_exact",
    f"""
    SELECT {content_hash_sql()}
             AS content_hash,
           CAST(COUNT(*) AS bigint) AS n_dups,
           CAST(MIN(doc_id) AS bigint) AS canonical_id
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized content hash: one groupBy on a 32-char
    key; at 100 TB this shuffles hashes only (text never moves).
    Whitespace class is EXPLICIT, not \\s: Java \\s includes \\x0B, RE2's
    does not — the explicit class hashes identically on both engines."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    h = content_hash_col()
    return docs.groupBy(h.alias("content_hash")).agg(
        F.count(F.lit(1)).cast("long").alias("n_dups"),
        F.min("doc_id").cast("long").alias("canonical_id"),
    )


# ----------------------------------------------------------------- jaccard
_JACCARD_TAU = 0.01  # word-soup fixture corpus: low overlap by design


@_q(
    "q_jaccard_pairs",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
           FROM toks, unnest(generate_series(1, len(tk) - 2)) g(i)),
    card AS (SELECT doc_id, CAST(COUNT(*) AS bigint) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS bigint) AS n_common
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_common,
           ROUND(CAST(n_common AS double)
                 / (ca.n + cb.n - n_common), 6) AS jaccard
    FROM inter JOIN card ca ON doc_a = ca.doc_id
               JOIN card cb ON doc_b = cb.doc_id
    WHERE CAST(n_common AS double) / (ca.n + cb.n - n_common) >= {_JACCARD_TAU}
    """,
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 3-gram Jaccard near-dup pairs: shingle equi-join (only docs
    sharing a shingle ever meet — never n²), integer set algebra so the
    similarity is exact on both engines."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    sh = _word_shingles(docs, _JACCARD_K)
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    ca = card.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
    )
    cb = card.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(ca), "doc_a")
        .join(F.broadcast(cb), "doc_b")
        .where(jac >= _JACCARD_TAU)
        .select(
            "doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard")
        )
    )


# ------------------------------------------------------------- containment
# Jaccard is symmetric, so a short document wholly quoted inside a long
# one scores LOW (|A∩B|/|A∪B| is dragged down by the big doc's size) and
# slips every symmetric near-dup screen. Containment |A∩B|/|A| is the
# asymmetric statistic that catches subset/quote relations — the reason
# dedup literature (e.g. Broder's original shingling paper) keeps both.
_CONTAIN_MILLI = 500  # keep pairs where either side is >=50% contained


@_q(
    "q_containment_pairs",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
           FROM toks, unnest(generate_series(1, len(tk) - 2)) g(i)),
    card AS (SELECT doc_id, CAST(COUNT(*) AS bigint) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS bigint) AS n_common
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_common,
           CAST(n_common * 1000 // ca.n AS bigint) AS cont_a_milli,
           CAST(n_common * 1000 // cb.n AS bigint) AS cont_b_milli
    FROM inter JOIN card ca ON doc_a = ca.doc_id
               JOIN card cb ON doc_b = cb.doc_id
    WHERE GREATEST(n_common * 1000 // ca.n, n_common * 1000 // cb.n)
          >= {_CONTAIN_MILLI}
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: for doc pairs meeting on a
    shared word 3-gram, emit |A∩B|/|A| and |A∩B|/|B| as exact integer
    milli (n_common*1000 div |side| — pure bigint arithmetic, no float
    can straddle engines) and keep pairs where EITHER side is at least
    {_CONTAIN_MILLI}/1000 contained. This is the subset/quote detector
    the symmetric q_jaccard_pairs provably misses: a doc fully quoted
    inside a 10x-longer one has containment 1000 but Jaccard ~0.09.
    Same reference idempotence generalization as the rest of the dedup
    family (/root/reference/ocrclient/redisdata.py:106-108).

    Scale: identical plan shape to q_jaccard_pairs — candidate pairs
    come only from the shingle equi-join (docs sharing a shingle),
    never an all-pairs product; cardinalities re-attach by broadcast
    dim joins. The milli screen prunes before any output shuffle."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return containment_pairs(docs)


def containment_pairs(docs: DataFrame) -> DataFrame:
    """Core of :func:`q_containment_pairs` over any (doc_id, text)
    frame — split out so tests can drive engineered subset/quote
    fixtures through the exact production path."""
    sh = _word_shingles(docs, _JACCARD_K)
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = card.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont_a = F.expr("n_common * 1000 div na").cast("long")
    cont_b = F.expr("n_common * 1000 div nb").cast("long")
    return (
        inter.join(F.broadcast(ca), "doc_a")
        .join(F.broadcast(cb), "doc_b")
        .withColumn("cont_a_milli", cont_a)
        .withColumn("cont_b_milli", cont_b)
        .where(
            F.greatest("cont_a_milli", "cont_b_milli") >= _CONTAIN_MILLI
        )
        .select(
            "doc_a", "doc_b", "n_common", "cont_a_milli", "cont_b_milli"
        )
    )


# ----------------------------------------------------------------- minhash
# _MH_SEEDS, _MH_ROWS_PER_BAND, _MH_P, _MH_AB and the Spark builders
# _mh_sig_df / _mh_band_df live in signatures.py (the increment runs
# them); the DuckDB rendering below is the oracle side.
_MH_AB_VALUES = ", ".join(
    f"({s}, {a}, {b})" for s, (a, b) in enumerate(_MH_AB)
)

# the shingle→signature→band CTE chain, shared by the LSH pair oracle AND
# the connected-components / split oracles below — one SQL text so the
# gates can never disagree about what a band bucket is
_MH_BAND_CTE = f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
           FROM toks, unnest(generate_series(1, len(tk) - 2)) g(i)),
    hh AS (SELECT doc_id,
                  ('0x' || substr(md5(sh), 1, 15))::bigint % {_MH_P} AS h
           FROM sh),
    perm(seed, a, b) AS (SELECT * FROM (VALUES {_MH_AB_VALUES})
                         t(seed, a, b)),
    sig AS (SELECT doc_id, perm.seed,
                   MIN((perm.a * h + perm.b) % {_MH_P}) AS sig
            FROM hh, perm
            GROUP BY doc_id, perm.seed),
    band AS (SELECT doc_id, seed // {_MH_ROWS_PER_BAND} AS band,
                    md5(CAST(MIN(CASE WHEN seed % 2 = 0 THEN sig END)
                             AS varchar)
                        || ':' ||
                        CAST(MIN(CASE WHEN seed % 2 = 1 THEN sig END)
                             AS varchar)) AS bh
             FROM sig GROUP BY doc_id, seed // {_MH_ROWS_PER_BAND})"""


MINHASH_PAIRS_SQL = f"""
    WITH {_MH_BAND_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS bigint) AS n_shared_bands
    FROM band a JOIN band b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


@_q("q_minhash_lsh_pairs", MINHASH_PAIRS_SQL)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: shingle → 8 minhash signatures (min of a
    seeded md5 = one random permutation each) → 4 bands of 2 → candidate
    pairs share a band bucket. The only join is the band-bucket equi-join
    — the scalable path to near-dup at 10^12 docs.

    The signature builds in ONE groupBy(doc_id) with 8 parallel min
    aggregates (columns, not exploded seed rows): one shuffle of one row
    × 8 hashes per doc instead of the naive (doc, seed)-row double
    aggregation — map-side partial mins do all the work. Band ids/hashes
    are then pure projections, and the self-join's two identical
    subplans collapse into a ReusedExchange."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    band = _mh_band_df(docs)
    a = band.alias("a")
    b = band.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )


# The hot-bucket cap: on template-heavy corpora (extracted TURN text,
# boilerplate-rich web pages) a single band bucket can collect tens of
# thousands of docs whose shingle sets coincide at the band's two
# minhash components without the docs being near-duplicates of each
# other — measured on the 960k-turn-derived corpus: ONE bucket of
# 62,876 docs = 2.0e9 candidate pairs from that bucket alone
# (BENCH.md round 5). A bucket that big is a TEMPLATE collision, not a
# near-dup candidate set, and every production LSH pipeline drops or
# splits such buckets (the stop-shingle argument — CCNet/Gopher drop
# hot buckets; SURVEY.md §4's fan-out note). Cap chosen so a true
# K-clone near-dup family (K ≤ 256) still pairs fully while bucket
# cost is bounded by CAP²·n_buckets — the join becomes linear in
# corpus size for fixed template density.
_MH_BUCKET_CAP = 256

MINHASH_PAIRS_CAPPED_SQL = f"""
    WITH {_MH_BAND_CTE},
    keep AS (SELECT band, bh FROM band
             GROUP BY 1, 2 HAVING COUNT(*) <= {_MH_BUCKET_CAP}),
    kb AS (SELECT b.doc_id, b.band, b.bh
           FROM band b JOIN keep USING (band, bh))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS bigint) AS n_shared_bands
    FROM kb a JOIN kb b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


@_q("q_minhash_lsh_pairs_capped", MINHASH_PAIRS_CAPPED_SQL)
def q_minhash_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_minhash_lsh_pairs with the hot-bucket cap (family comment
    above): band buckets holding more than _MH_BUCKET_CAP docs are
    template collisions and are dropped before the pair join. The
    bucket-size rollup and the semi-join both hash on (band, bh) —
    the same key the pair join shuffles on, so the cap costs one
    map-side-combined count on an exchange the plan already has.
    This is the variant the round-5 dedup scaling record runs
    (tools/bench_scale_dedup.py)."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    band = _mh_band_df(docs)
    keep = (
        band.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= _MH_BUCKET_CAP)
        .select("band", "bh")
    )
    kb = band.join(keep, ["band", "bh"], "left_semi")
    a = kb.alias("a")
    b = kb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )


@_q(
    "q_minhash_calibration",
    f"""
    WITH {_MH_BAND_CTE},
    bp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM band a JOIN band b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    nm AS (SELECT bp.doc_a, bp.doc_b,
                  CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END)
                       AS int) AS n_match
           FROM bp
           JOIN sig sa ON sa.doc_id = bp.doc_a
           JOIN sig sb ON sb.doc_id = bp.doc_b AND sb.seed = sa.seed
           GROUP BY 1, 2),
    card AS (SELECT doc_id, CAST(COUNT(*) AS bigint) AS n
             FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS bigint) AS n_common
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pj AS (SELECT nm.n_match,
                  1000 * COALESCE(i.n_common, 0)
                    // (ca.n + cb.n - COALESCE(i.n_common, 0)) AS jac_milli
           FROM nm
           LEFT JOIN inter i
             ON i.doc_a = nm.doc_a AND i.doc_b = nm.doc_b
           JOIN card ca ON ca.doc_id = nm.doc_a
           JOIN card cb ON cb.doc_id = nm.doc_b)
    SELECT n_match,
           CAST(n_match AS bigint) * 125 AS est_milli,
           CAST(COUNT(*) AS bigint) AS n_pairs,
           CAST(SUM(jac_milli) AS bigint) // COUNT(*) AS mean_jac_milli,
           MIN(jac_milli) AS min_jac_milli,
           MAX(jac_milli) AS max_jac_milli
    FROM pj GROUP BY n_match
    """,
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair (the
    SAME band buckets q_minhash_lsh_pairs emits — shared _mh_band_df /
    _MH_BAND_CTE rendering), compare the signature-level similarity
    estimate (matching components / 8, exact in eighths → est_milli =
    n_match × 125) against the TRUE shingle Jaccard (integer-milli set
    algebra, floored — the q_jaccard_pairs arithmetic), grouped into a
    ≤9-row accuracy table: at k matching components, how similar are
    pairs really? This is the audit a curation team runs before trusting
    a banding config: it turns "4 bands of 2" from a folklore setting
    into a measured precision curve (mean/min/max true similarity per
    estimate level).

    Scale: every join is candidate-bounded or bucket-bounded — band
    pairs via the band equi-join (never n²), signature match via two
    hash joins on doc_id against the 8-column sig frame, and the exact
    Jaccard is computed ONLY for docs that survived banding: the
    shingle stream is semi-joined down to candidate docs before the
    shingle equi-join, so the expensive exact set intersection touches
    the (tiny) near-dup cohort, not the corpus. COALESCE(n_common, 0)
    keeps the row even in the measure-zero case where equal linear-map
    mins came from a 60-bit md5-prefix collision rather than a shared
    shingle. Final rollup is 9 groups — one exchange of a few counters.
    """
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    sig = _mh_sig_df(docs)
    band = _mh_band_df(docs)
    a = band.alias("a")
    b = band.alias("b")
    bp = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    n_match = sum(
        F.when(F.col(f"sa.s{i}") == F.col(f"sb.s{i}"), 1).otherwise(0)
        for i in range(_MH_SEEDS)
    ).cast("int")
    nm = (
        bp.join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", n_match.alias("n_match"))
    )
    # exact Jaccard only over the candidate cohort: semi-join the
    # shingle stream down to docs that appear in any candidate pair
    cand_docs = (
        bp.select(F.col("doc_a").alias("doc_id"))
        .unionByName(bp.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = _word_shingles(docs, _JACCARD_K).join(cand_docs, "doc_id", "semi")
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.sh") == F.col("y.sh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    pj = (
        nm.join(inter, ["doc_a", "doc_b"], "left")
        .join(card.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n", "na")
        .join(card.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n", "nb")
        .select(
            "n_match",
            F.expr(
                "1000 * COALESCE(n_common, 0L)"
                " div (na + nb - COALESCE(n_common, 0L))"
            ).alias("jac_milli"),
        )
    )
    return (
        pj.groupBy("n_match")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("CAST(SUM(jac_milli) AS bigint) div COUNT(*)").alias(
                "mean_jac_milli"
            ),
            F.min("jac_milli").alias("min_jac_milli"),
            F.max("jac_milli").alias("max_jac_milli"),
        )
        .select(
            "n_match",
            (F.col("n_match").cast("long") * 125).alias("est_milli"),
            "n_pairs",
            "mean_jac_milli",
            "min_jac_milli",
            "max_jac_milli",
        )
    )


# ----------------------------------------------------------------- simhash
_SIMHASH_BITS = 60
_LANE_BITS = 21     # 3 bit-counters per bigint, 2^21 headroom each
_LANES_PER_COL = 3
_N_PACKED = _SIMHASH_BITS // _LANES_PER_COL  # 20 packed sum columns


def _tok_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, w): per-document token weights."""
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def _simhash_packed(h: DataFrame, hv: str, out: str) -> DataFrame:
    """(doc_id, w, <hv>) → (doc_id, <out>): the 60 per-bit weighted
    votes aggregated SWAR-style — each bigint sum column packs 3 bit
    counters in 21-bit lanes, so one groupBy(doc_id) with 21 aggregate
    buffers (inside the codegen fast path; 60 separate ones fell off
    it — BENCH.md negative result) replaces the 60× bit-row explode +
    two extra shuffles. A bit of the fingerprint is set iff
    2·Σw(bit set) > Σw. Lanes never interact while a document stays
    under 2^21 total token weight; past that a low lane could silently
    carry into its neighbor long before the bigint ANSI overflow check
    could fire (that check is statistical — it needs the PACKED sum to
    exceed 2^63, which unset high-lane bits can dodge), so the bound is
    enforced STRUCTURALLY: every counter is ≤ the doc's total weight
    tw, and the output expression raise_error()s on any doc with
    tw ≥ 2^21 (guard pinned by tests/test_property.py). Bit-identical
    to the exploded form (verified on the full corpus)."""
    aggs = [F.sum("w").alias("tw")]
    for g in range(_N_PACKED):
        lanes = " + ".join(
            f"(CASE WHEN (shiftright({hv}, {_LANES_PER_COL * g + j}) & 1) = 1"
            f" THEN shiftleft(w, {_LANE_BITS * j})"
            f" ELSE CAST(0 AS bigint) END)"
            for j in range(_LANES_PER_COL)
        )
        aggs.append(F.sum(F.expr(lanes)).alias(f"p{g}"))
    s = h.groupBy("doc_id").agg(*aggs)
    mask = (1 << _LANE_BITS) - 1
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * ((p{g} >> {_LANE_BITS * j}) & {mask}) > tw"
        f" THEN shiftleft(CAST(1 AS bigint), {_LANES_PER_COL * g + j})"
        f" ELSE CAST(0 AS bigint) END)"
        for g in range(_N_PACKED)
        for j in range(_LANES_PER_COL)
    )
    guarded = (
        f"CASE WHEN tw >= {1 << _LANE_BITS} THEN "
        f"CAST(raise_error(concat('simhash SWAR lane guard: doc ', "
        f"CAST(doc_id AS string), ' total token weight >= 2^{_LANE_BITS}"
        f" — lanes would carry silently')) AS bigint) "
        f"ELSE {bit_terms} END"
    )
    return s.select("doc_id", F.expr(guarded).cast("long").alias(out))


def _simhash_df(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash bigint): 60-bit token-weighted SimHash."""
    h = _tok_counts(docs).withColumn("hv", _hex60(F.col("tok")))
    return _simhash_packed(h, "hv", "simhash")


@_q(
    "q_simhash_fingerprint",
    f"""
    WITH tok AS (SELECT doc_id, t AS tok, CAST(COUNT(*) AS bigint) AS w
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                       FROM documents)
                 GROUP BY doc_id, t),
    h AS (SELECT doc_id, w,
                 ('0x' || substr(md5(tok), 1, 15))::bigint AS hv FROM tok),
    vote AS (SELECT doc_id, b.bit,
                    SUM(CASE WHEN (hv >> b.bit) & 1 = 1 THEN w ELSE -w END) AS vote
             FROM h, (SELECT unnest(generate_series(0, {_SIMHASH_BITS - 1})) AS bit) b
             GROUP BY doc_id, b.bit)
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN (1::bigint << bit)
                         ELSE 0 END) AS bigint) AS simhash
    FROM vote GROUP BY doc_id
    """,
)
def q_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 60-bit SimHash (token-count-weighted bit votes).
    The bits dimension explodes 60× but only over (doc, distinct-token)
    rows, and collapses map-side — partial aggregation keeps the shuffle
    at 60 rows per doc."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return _simhash_df(docs)


_SIMHASH_HAMMING_MAX = 8

# all-pairs DuckDB formulation of simhash pairing — shared by the
# q_simhash_pairs anchor AND the banded scale path's oracle (the banded
# equi-join must produce the IDENTICAL pair set, so one SQL serves both)
SIMHASH_PAIRS_SQL = f"""
    WITH tok AS (SELECT doc_id, t AS tok, CAST(COUNT(*) AS bigint) AS w
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                       FROM documents)
                 GROUP BY doc_id, t),
    h AS (SELECT doc_id, w,
                 ('0x' || substr(md5(tok), 1, 15))::bigint AS hv FROM tok),
    vote AS (SELECT doc_id, b.bit,
                    SUM(CASE WHEN (hv >> b.bit) & 1 = 1 THEN w ELSE -w END) AS vote
             FROM h, (SELECT unnest(generate_series(0, {_SIMHASH_BITS - 1})) AS bit) b
             GROUP BY doc_id, b.bit),
    fp AS (SELECT doc_id,
                  CAST(SUM(CASE WHEN vote > 0 THEN (1::bigint << bit)
                                ELSE 0 END) AS bigint) AS simhash
           FROM vote GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS int) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_HAMMING_MAX}
    """


@_q("q_simhash_pairs", SIMHASH_PAIRS_SQL)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 8. This baseline compares all
    pairs (correct at test SF; the oracle-checkable form) and is
    row-guarded so it can never run on a large input; the scale path is
    ``simsearch.q_simhash_pairs_banded`` — a 9-segment pigeonhole
    equi-join that provably produces the identical pair set (checked
    against this very SQL in the gate) and is benchmarked instead."""
    docs = guard_allpairs(
        spread(load(spark, sf_dir, "documents").select("doc_id", "text")),
        "q_simhash_pairs",
    )
    fp = _simhash_df(docs)
    a = fp.alias("a")
    b = fp.alias("b")
    ham = F.expr("bit_count(a.simhash ^ b.simhash)")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .where(ham <= _SIMHASH_HAMMING_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
    )


# ------------------------------------------------------- wide simhash (120b)
# the documented remedy for the 60-bit banded path's bucket-density knee
# (see simsearch.simhash_pairs_banded): double the fingerprint. Two
# independent 60-bit simhashes (different hash salts) = 120 bits; 12
# bands of 10 bits (6 per half) guarantee pairs at hamming ≤ 11 share a
# band — we filter at ≤ 10. Segment keyspace grows from ~2^7 to 2^10
# per band, pushing the dense-bucket knee ~8× further out.
_SIMHASH_W_HAMMING_MAX = 10
_SIMHASH_W_SEG_BITS = 10

_W_VOTE_CTE = """
    tok AS (SELECT doc_id, t AS tok, CAST(COUNT(*) AS bigint) AS w
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                  FROM documents)
            GROUP BY doc_id, t),
    h AS (SELECT doc_id, w,
                 ('0x' || substr(md5(tok), 1, 15))::bigint AS hv1,
                 ('0x' || substr(md5('x2:' || tok), 1, 15))::bigint AS hv2
          FROM tok),
    v1 AS (SELECT doc_id, b.bit,
                  SUM(CASE WHEN (hv1 >> b.bit) & 1 = 1 THEN w ELSE -w END) AS vote
           FROM h, (SELECT unnest(generate_series(0, 59)) AS bit) b
           GROUP BY doc_id, b.bit),
    v2 AS (SELECT doc_id, b.bit,
                  SUM(CASE WHEN (hv2 >> b.bit) & 1 = 1 THEN w ELSE -w END) AS vote
           FROM h, (SELECT unnest(generate_series(0, 59)) AS bit) b
           GROUP BY doc_id, b.bit),
    fp AS (SELECT f1.doc_id, f1.h1, f2.h2 FROM
             (SELECT doc_id, CAST(SUM(CASE WHEN vote > 0 THEN (1::bigint << bit)
                                           ELSE 0 END) AS bigint) AS h1
              FROM v1 GROUP BY doc_id) f1
           JOIN
             (SELECT doc_id, CAST(SUM(CASE WHEN vote > 0 THEN (1::bigint << bit)
                                           ELSE 0 END) AS bigint) AS h2
              FROM v2 GROUP BY doc_id) f2
           ON f1.doc_id = f2.doc_id)
"""

SIMHASH_WIDE_PAIRS_SQL = f"""
    WITH {_W_VOTE_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.h1, b.h1))
                + bit_count(xor(a.h2, b.h2)) AS int) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2))
          <= {_SIMHASH_W_HAMMING_MAX}
    """


def _simhash_wide_df(docs: DataFrame) -> DataFrame:
    """(doc_id, h1, h2): two independent 60-bit simhashes = a 120-bit
    fingerprint. Second hash = md5 over a salted token ('x2:' prefix —
    PER TOKEN, giving an independent bit pattern per token; salting the
    whole text would shift tokenization). Both halves use the packed
    vote aggregation; the join key is the groupBy key, so the two
    aggregates co-partition and the join adds no exchange."""
    t = _tok_counts(docs)
    a = _simhash_packed(
        t.withColumn("hv", _hex60(F.col("tok"))), "hv", "h1"
    )
    b = _simhash_packed(
        t.withColumn(
            "hv", _hex60(F.concat(F.lit("x2:"), F.col("tok")))
        ),
        "hv",
        "h2",
    )
    return a.join(b, "doc_id")


@_q("q_simhash_wide_banded", SIMHASH_WIDE_PAIRS_SQL)
def q_simhash_wide_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """120-bit banded simhash pairing at hamming ≤ 10: 12 bands of 10
    bits (six per 60-bit half) — pigeonhole-complete since 10 < 12 —
    joined on (seg, seg_val) and gate-checked against the ALL-PAIRS
    two-long DuckDB SQL. The wide fingerprint is the scale remedy for
    60-bit band density: 2^10-value segments keep buckets sparse ~8×
    longer as the corpus grows."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    fp = _simhash_wide_df(docs).hint("merge")
    n_bands_per_half = _SIMHASH_BITS // _SIMHASH_W_SEG_BITS  # 6
    bands = []
    for half, col in ((0, "h1"), (1, "h2")):
        for i in range(n_bands_per_half):
            off = i * _SIMHASH_W_SEG_BITS
            bands.append(
                F.struct(
                    F.lit(half * n_bands_per_half + i).alias("seg"),
                    F.expr(
                        f"shiftright({col}, {off}) & "
                        f"{(1 << _SIMHASH_W_SEG_BITS) - 1}L"
                    ).alias("seg_val"),
                )
            )
    segs = fp.select(
        "doc_id", "h1", "h2", F.explode(F.array(*bands)).alias("b")
    ).select(
        "doc_id",
        "h1",
        "h2",
        F.col("b.seg").alias("seg"),
        F.col("b.seg_val").alias("seg_val"),
    )
    a = segs.alias("a")
    b = segs.alias("b")
    ham = F.expr(
        "bit_count(a.h1 ^ b.h1) + bit_count(a.h2 ^ b.h2)"
    )
    return (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= _SIMHASH_W_HAMMING_MAX)
        .distinct()
    )


# ------------------------------------------------------- decontamination
_CONTAM_K = 8  # word 8-grams: long enough that overlap means real leakage


@_q(
    "q_contamination",
    f"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS varchar)), 1, 4))::int
                       % 10 < 7
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, split,
             ('0x' || substr(md5(
                array_to_string(tk[i : i + {_CONTAM_K - 1}], ' ')), 1, 15))
               ::bigint AS hk
      FROM (SELECT doc_id, split, string_split(text, ' ') AS tk FROM split),
           unnest(generate_series(1, len(tk) - {_CONTAM_K - 1})) g(i)
    )
    SELECT v.doc_id,
           CAST(COUNT(DISTINCT v.hk) AS bigint) AS n_shared_shingles
    FROM sh v JOIN (SELECT DISTINCT hk FROM sh WHERE split = 'train') t
      ON v.hk = t.hk
    WHERE v.split = 'val'
    GROUP BY v.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag val-split documents sharing any
    word 8-gram with the train split (the n-gram overlap check every LLM
    training pipeline runs before holding out an eval set). The inverse
    direction — scrubbing TRAIN against a tiny external benchmark with
    a broadcast probe — is corpusops.q_decontaminate. The split is
    the same deterministic md5-mod as q_train_split — a pure function
    of doc_id, so it is recomputed on the shingle rows instead of
    joined back (round 3 removed a needless doc_id self-join here).
    The only join is the shingle equi-join on the 60-bit md5-prefix
    BIGINT (8-byte shuffle keys, not 8-token strings; both engines
    compute the same integers), train keys deduped first, so cost
    tracks shared-shingle count — never |train|×|val|."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long") % 10
    split = F.when(bucket < 7, F.lit("train")).otherwise(F.lit("val"))
    sh = (
        _word_shingles(docs, _CONTAM_K, distinct=False)
        .select("doc_id", _hex60(F.col("sh")).alias("hk"))
        .withColumn("split", split)
        .distinct()
    )
    train_keys = (
        sh.where(F.col("split") == "train").select("hk").distinct()
    )
    return (
        sh.where(F.col("split") == "val")
        .join(train_keys, "hk")
        .groupBy("doc_id")
        .agg(F.countDistinct("hk").cast("long").alias("n_shared_shingles"))
    )


# ------------------------------------------------- dedup group clustering
# Pair detection alone does not dedup a corpus: near-dup relations chain
# (A~B, B~C ⇒ {A,B,C} is one group even when A~C was never emitted), so
# the pipeline step after candidate generation is CONNECTED COMPONENTS
# over the candidate graph, then "keep doc_id == component" as canonicals.
# Generalizes the reference's dedupe-before-insert idempotence
# (/root/reference/ocrclient/redisdata.py:106-108) from exact-key to
# near-dup groups.
#
# Scale design (10^12 docs): the edge set is NOT all pairs per LSH bucket
# (quadratic in bucket size — a 10k-doc template bucket would emit 5·10^7
# edges) but the bucket STAR: every member connects to its bucket's min
# doc_id. Stars have the same connectivity as the bucket clique, with
# |bucket| − 1 edges. Components are then solved by iterative min-label
# propagation (hash-to-min): each round every node takes the min label
# among itself and its neighbors — one shuffle join + one groupBy per
# round, converging in graph-diameter rounds (star edges keep bucket
# diameter ≤ 2; cross-bucket chains add hops). Each round is
# localCheckpoint-ed so lineage stays O(1) instead of growing by two
# shuffle stages per iteration — the standard Spark iterative-algorithm
# discipline (same reason GraphX/GraphFrames CC materializes per round).
_CC_MAX_ROUNDS = 50


@_q(
    "q_dedup_components",
    f"""
    WITH RECURSIVE {_MH_BAND_CTE},
    mn AS (SELECT band, bh, MIN(doc_id) AS mn FROM band GROUP BY band, bh),
    edges AS (SELECT DISTINCT b.doc_id AS u, m.mn AS v
              FROM band b JOIN mn m ON b.band = m.band AND b.bh = m.bh
              WHERE b.doc_id <> m.mn),
    sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
    reach(u, v) AS (
        SELECT doc_id AS u, doc_id AS v FROM documents
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u)
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS bigint) AS n_docs,
           doc_id = component AS canonical
    FROM comp
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup group assignment: connected components over the MinHash
    LSH bucket graph (star edges to each bucket's min doc_id), solved by
    min-label propagation — every document gets the min doc_id of its
    dup group as ``component``; ``canonical`` marks the row a dedup pass
    would keep. Gate: DuckDB computes the same components by recursive
    transitive closure over the identical edge set (_MH_BAND_CTE is the
    shared SQL text)."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return lsh_components(docs)


def _lsh_star_edges(docs: DataFrame) -> DataFrame:
    """(u, v) star edges: every LSH bucket member → its bucket's min
    doc_id — same connectivity as the bucket clique with |bucket|−1
    edges (never quadratic in bucket size)."""
    band = _mh_band_df(docs)
    bwin = Window.partitionBy("band", "bh")
    return (
        band.withColumn("mn", F.min("doc_id").over(bwin))
        .where(F.col("doc_id") != F.col("mn"))
        .select(F.col("doc_id").alias("u"), F.col("mn").alias("v"))
        .distinct()
    )


def lsh_components(docs: DataFrame) -> DataFrame:
    """Core of :func:`q_dedup_components` over any (doc_id, text) frame —
    split out so tests can drive crafted graphs (transitive chains)
    through the exact production loop."""
    nodes = docs.select("doc_id")
    labels, _ = min_label_components(nodes, _lsh_star_edges(docs))
    cwin = Window.partitionBy("component")
    return labels.select(
        "doc_id",
        "component",
        F.count(F.lit(1)).over(cwin).cast("long").alias("n_docs"),
        (F.col("doc_id") == F.col("component")).alias("canonical"),
    )


def min_label_components(nodes: DataFrame, edges: DataFrame) -> tuple:
    """Connected components by min-label propagation WITH pointer
    jumping: each round every node takes (a) the min label among itself
    and its neighbors, then (b) its label's label (path halving). Step
    (a) alone converges in graph-diameter rounds — a D-long chain of
    near-dup buckets would cost D shuffle rounds; step (b) halves label
    chains every round, bounding the loop at O(log n) rounds on any
    graph (the hash-to-min + shortcutting CC of the MapReduce-CC
    literature, same recipe GraphFrames uses). Labels are doc_ids, so
    label-of-label is always defined.

    ``nodes``: (doc_id), ``edges``: (u, v) undirected — returns
    (labels DataFrame (doc_id, component = min doc_id reachable),
    rounds used)."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()

    labels = (
        nodes.select("doc_id", F.col("doc_id").alias("component"))
        .localCheckpoint()
    )
    for rounds in range(1, _CC_MAX_ROUNDS + 1):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("doc_id").alias("v"),
                    F.col("component").alias("nbr_comp"),
                ),
                "v",
            )
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("nbr_comp").alias("nbr_min"))
        )
        stepped = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            "component",
            F.least(
                F.col("component"), F.coalesce("nbr_min", "component")
            ).alias("mid_component"),
        )
        # pointer jump: component ← component's component. A node's label
        # is itself a doc_id whose label may already be smaller — one
        # extra equi-join halves every label chain.
        jumped = (
            stepped.join(
                stepped.select(
                    F.col("doc_id").alias("mid_component"),
                    F.col("mid_component").alias("jump_component"),
                ),
                "mid_component",
                "left",
            )
            .select(
                "doc_id",
                "component",
                F.least(
                    F.col("mid_component"),
                    F.coalesce("jump_component", "mid_component"),
                ).alias("new_component"),
            )
            .localCheckpoint()
        )
        if jumped.where(
            F.col("new_component") != F.col("component")
        ).limit(1).count() == 0:
            break
        labels = jumped.select(
            "doc_id", F.col("new_component").alias("component")
        )
    else:
        raise RuntimeError(
            f"min_label_components: no convergence in {_CC_MAX_ROUNDS} rounds"
        )
    return labels.select("doc_id", "component"), rounds


# --------------------------------------------------------- split leakage
# Eval-set leakage through NEAR-duplicates: q_train_split assigns docs to
# train/val by an md5 coin, but a near-dup pair straddling the boundary
# leaks training content into eval even though no exact text is shared —
# the silent eval-inflation bug every curation pipeline must audit. This
# composes the dedup components with the split: a component containing
# both train and val members is leaky (fix = split by COMPONENT, not by
# doc). Same edge set / closure as q_dedup_components (shared SQL text).
@_q(
    "q_split_leakage",
    f"""
    WITH RECURSIVE {_MH_BAND_CTE},
    mn AS (SELECT band, bh, MIN(doc_id) AS mn FROM band GROUP BY band, bh),
    edges AS (SELECT DISTINCT b.doc_id AS u, m.mn AS v
              FROM band b JOIN mn m ON b.band = m.band AND b.bh = m.bh
              WHERE b.doc_id <> m.mn),
    sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
    reach(u, v) AS (
        SELECT doc_id AS u, doc_id AS v FROM documents
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
    tagged AS (
      SELECT c.doc_id, c.component,
             CASE WHEN ('0x' || substr(md5(CAST(c.doc_id AS varchar)), 1, 4))
                         ::int % 10 < 7
                  THEN 'train' ELSE 'val' END AS split
      FROM comp c
    )
    SELECT component,
           CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS bigint)
             AS n_train,
           CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS bigint)
             AS n_val,
           SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) > 0
             AND SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) > 0 AS leaky
    FROM tagged GROUP BY component
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage audit across the train/val boundary: dedup
    components joined with the deterministic split, aggregated per
    component — ``leaky`` marks groups whose members land on both sides.
    One tiny shuffle of (doc_id, component, split) rows beyond the
    components computation itself."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    labels, _ = min_label_components(
        docs.select("doc_id"), _lsh_star_edges(docs)
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long") % 10
    tagged = labels.withColumn(
        "split", F.when(bucket < 7, F.lit("train")).otherwise(F.lit("val"))
    )
    n_train = F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
    n_val = F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
    return tagged.groupBy("component").agg(
        n_train.cast("long").alias("n_train"),
        n_val.cast("long").alias("n_val"),
        ((n_train > 0) & (n_val > 0)).alias("leaky"),
    )


@_q(
    "q_component_split",
    f"""
    WITH RECURSIVE {_MH_BAND_CTE},
    mn AS (SELECT band, bh, MIN(doc_id) AS mn FROM band GROUP BY band, bh),
    edges AS (SELECT DISTINCT b.doc_id AS u, m.mn AS v
              FROM band b JOIN mn m ON b.band = m.band AND b.bh = m.bh
              WHERE b.doc_id <> m.mn),
    sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
    reach(u, v) AS (
        SELECT doc_id AS u, doc_id AS v FROM documents
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u)
    SELECT doc_id, component,
           CASE WHEN ('0x' || substr(md5(CAST(component AS varchar)), 1, 4))
                       ::int % 10 < 7
                THEN 'train' ELSE 'val' END AS split
    FROM comp
    """,
)
def q_component_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIX for what q_split_leakage audits: assign the train/val
    split at the near-dup COMPONENT level (md5 of the component label,
    same 70/30 coin as q_train_split) so a cluster of near-duplicates
    lands wholly on one side — leakage is impossible by construction,
    not just measured. Oracle: the same recursive-closure CTE as
    q_dedup_components/q_split_leakage plus the identical md5 coin on
    the component label — the gate checks the split ASSIGNMENT, and the
    zero-leak closure is additionally pinned by the companion test
    re-running the q_split_leakage aggregation on THIS split.

    Scale: one broadcast-sized expression on top of the components
    labels — the split adds no shuffle beyond the clustering itself."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    labels, _ = min_label_components(
        docs.select("doc_id"), _lsh_star_edges(docs)
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("component").cast("string")), 1, 4), 16, 10
    ).cast("long") % 10
    return labels.select(
        "doc_id",
        "component",
        F.when(bucket < 7, F.lit("train"))
        .otherwise(F.lit("val"))
        .alias("split"),
    )


# --------------------------------------------- duplicate-cap sampling
_CLUSTER_CAP = 2  # keep at most this many docs per near-dup component


@_q(
    "q_cluster_cap_sample",
    f"""
    WITH RECURSIVE {_MH_BAND_CTE},
    mn AS (SELECT band, bh, MIN(doc_id) AS mn FROM band GROUP BY band, bh),
    edges AS (SELECT DISTINCT b.doc_id AS u, m.mn AS v
              FROM band b JOIN mn m ON b.band = m.band AND b.bh = m.bh
              WHERE b.doc_id <> m.mn),
    sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
    reach(u, v) AS (
        SELECT doc_id AS u, doc_id AS v FROM documents
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u)
    SELECT doc_id, component,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY component
                ORDER BY md5(CAST(doc_id AS varchar)), doc_id
           ) AS int) AS keep_rank,
           ROW_NUMBER() OVER (
                PARTITION BY component
                ORDER BY md5(CAST(doc_id AS varchar)), doc_id
           ) <= {_CLUSTER_CAP} AS kept
    FROM comp
    """,
)
def q_cluster_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CAP curation: keep at most {_CLUSTER_CAP} documents per
    near-dup component — the standard middle ground between "keep all"
    (duplicates over-weight their content, see q_dup_inflation) and
    "keep one canonical" (q_dedup_components / x_canonical_election
    discard natural-paraphrase diversity). Keeper order inside a
    component is the md5 coin on doc_id (deterministic, unbiased by
    insertion order — ordering by raw doc_id would systematically keep
    the OLDEST copies and bias the corpus toward early crawls), with
    doc_id as the total-order tie-break.

    Oracle: the same recursive-closure CTE as q_dedup_components plus
    the identical md5 rank — both engines sort lowercase-hex digests,
    so the keeper SET can never straddle engines.

    Scale: the rank window partitions by component — bounded by dup-
    group size, the exact bound q_dedup_components' n_docs window
    already carries; no corpus-wide sort. The clustering itself is the
    star-edge + min-label-propagation path (O(log n) rounds)."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return cluster_cap_sample(docs)


def cluster_cap_sample(docs: DataFrame) -> DataFrame:
    """Core of :func:`q_cluster_cap_sample` over any (doc_id, text)
    frame — split out so tests can drive crafted dup storms through the
    exact production clustering + md5-rank path."""
    labels, _ = min_label_components(
        docs.select("doc_id"), _lsh_star_edges(docs)
    )
    cwin = Window.partitionBy("component").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return labels.select(
        "doc_id",
        "component",
        F.row_number().over(cwin).cast("int").alias("keep_rank"),
        (F.row_number().over(cwin) <= _CLUSTER_CAP).alias("kept"),
    )


# --------------------------------------------- near-dup method agreement
@_q(
    "q_neardup_agreement",
    f"""
    WITH mh AS (SELECT doc_a, doc_b, 1 AS m
                FROM ({MINHASH_PAIRS_SQL}) zmh),
    sh AS (SELECT DISTINCT doc_a, doc_b, 1 AS s
           FROM ({SIMHASH_WIDE_PAIRS_SQL}) zsh),
    j AS (SELECT m, s FROM mh FULL JOIN sh USING (doc_a, doc_b))
    SELECT CASE WHEN m IS NOT NULL AND s IS NOT NULL THEN 'both'
                WHEN m IS NOT NULL THEN 'minhash_only'
                ELSE 'simhash_only' END AS method,
           CAST(COUNT(*) AS bigint) AS n_pairs
    FROM j GROUP BY 1
    """,
)
def q_neardup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-agreement audit between the two banded near-dup detectors:
    the MinHash-LSH candidate pairs (shingle-set similarity — THE
    q_minhash_lsh_pairs output, same code path) against the 120-bit
    banded SimHash pairs at hamming ≤ {_SIMHASH_W_HAMMING_MAX}
    (token-multiset similarity — THE q_simhash_wide_banded output).
    The ≤3-row both / minhash_only / simhash_only breakdown is the
    estimator-ensemble diagnostic a curation team reads before picking
    one detector or requiring consensus: the two measure DIFFERENT
    similarity notions (3-gram shingle Jaccard vs weighted token
    hamming), so disjoint tails are expected — what matters is the
    'both' core and which tail each method owns.

    Scale: both inputs are the already-bounded banded pair sets
    (bucket equi-joins, never n²); the full outer join keys on the
    pair id and the final rollup is 3 groups. Maximal reuse: this op
    calls the registered queries' own builders, so its verdict is
    definitionally about the production detectors, not a re-derivation
    that could drift."""
    mh = (
        q_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("m", F.lit(1))
    )
    sh = (
        q_simhash_wide_banded(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("s", F.lit(1))
    )
    j = mh.join(sh, ["doc_a", "doc_b"], "full")
    method = (
        F.when(F.col("m").isNotNull() & F.col("s").isNotNull(), "both")
        .when(F.col("m").isNotNull(), "minhash_only")
        .otherwise("simhash_only")
    )
    return j.groupBy(method.alias("method")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


# ------------------------------------------- edit-distance-1 vocab pairs
# Fuzzy VOCABULARY dedup — the typo/variant detector a tokenizer-prep
# pass runs before freezing a vocab: every pair of corpus terms at
# Levenshtein distance exactly 1, found WITHOUT the O(V²) scan via the
# SymSpell deletion-neighborhood join. Completeness is a theorem, not a
# heuristic: lev(a,b) ≤ 1 with a ≠ b means b is a single deletion of a
# (so b ∈ sigs(a) and b ∈ sigs(b) — they share the signature b), a is a
# single deletion of b (symmetric), or a substitution (deleting the
# substituted position from both yields the SAME string, a shared
# signature). So an equi-join on sigs(w) = {w} ∪ deletes1(w) reaches
# every true pair; a levenshtein(a,b) ≤ 1 refilter kills the shared-
# deletion false positives (e.g. abc/bca share 'bc' at distance 2).
# The registered oracle IS the O(V²) brute force, so the gate itself
# proves the banding complete — the q_simhash_pairs_banded discipline.
#
# The driver corpus has a closed 31-word vocabulary with no natural
# typos, so the gate would be vacuous on it: a deterministic typo is
# injected (ONE rendering per engine, the q_url_canonical decoration
# discipline) — docs with doc_id % 7 == 3 append their first word with
# its second character deleted.
_TYPO_MIN_LEN = 3  # vocab floor: shorter tokens are stop-ish and their
#                    deletion signatures ('' / 1-char) are hot join keys

_TYPO_TXT_SQL = (
    "text || CASE WHEN doc_id % 7 = 3 AND len(fw) >= 4"
    " THEN ' ' || substr(fw, 1, 1) || substr(fw, 3) ELSE '' END"
)
_TYPO_FW_SQL = (
    "COALESCE(list_filter(string_split(lower(text), ' '),"
    " x -> x <> '')[1], '')"
)


def _typo_docs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark rendering of the decorated corpus (_TYPO_TXT_SQL twin)."""
    d = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    fw = F.coalesce(
        F.get(F.filter(F.split(F.lower("text"), " "), lambda x: x != ""), 0),
        F.lit(""),
    )
    d = d.withColumn("fw", fw)
    dec = F.concat(
        F.col("text"),
        F.when(
            (F.col("doc_id") % 7 == 3) & (F.length("fw") >= 4),
            F.concat(
                F.lit(" "),
                F.substring("fw", 1, 1),
                F.expr("substring(fw, 3, length(fw))"),
            ),
        ).otherwise(F.lit("")),
    )
    return d.select("doc_id", dec.alias("text"))


@_q(
    "q_typo_pairs",
    f"""
    WITH f AS (SELECT doc_id, text, {_TYPO_FW_SQL} AS fw FROM documents),
    dec AS (SELECT doc_id, {_TYPO_TXT_SQL} AS text FROM f),
    voc AS (SELECT w, CAST(COUNT(*) AS bigint) AS c
            FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                            x -> x <> '')) AS w
                  FROM dec)
            WHERE len(w) >= {_TYPO_MIN_LEN} GROUP BY w)
    SELECT a.w AS word_a, b.w AS word_b, a.c AS c_a, b.c AS c_b,
           CASE WHEN b.c > a.c THEN b.w ELSE a.w END AS canonical
    FROM voc a JOIN voc b
      ON a.w < b.w AND levenshtein(a.w, b.w) <= 1
    """,
)
def q_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All corpus-vocabulary pairs at Levenshtein distance 1, each with
    both counts and the canonical (more frequent, ties → lexicographic)
    spelling — the spell-variant merge table. Spark side is the
    SymSpell deletion-signature equi-join; the oracle is the O(V²)
    brute force, so the driver gate doubles as the completeness proof.

    Scale: signature fan-out is |w|+1 per VOCAB term (vocab-grain, in-
    row explode — never the token stream); the join is a string equi-
    join whose candidate count is Σ_sig |bucket|², the standard
    SymSpell bound; the min-length floor keeps degenerate ''/1-char
    signatures out of the key space, and AQE skew-split covers a hot
    signature. The levenshtein refilter runs once per CANDIDATE pair,
    not per vocab pair squared."""
    dec = _typo_docs_df(spark, sf_dir)
    voc = (
        dec.select(
            F.explode(
                F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
            ).alias("w")
        )
        .where(F.length("w") >= _TYPO_MIN_LEN)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sigs = voc.select(
        "w",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array("w"),
                    F.expr(
                        "transform(sequence(1, length(w)), i ->"
                        " concat(substring(w, 1, i - 1),"
                        " substring(w, i + 1, length(w))))"
                    ),
                )
            )
        ).alias("sig"),
    )
    a = sigs.select(F.col("w").alias("word_a"), "sig")
    b = sigs.select(F.col("w").alias("word_b"), "sig")
    cand = (
        a.join(b, "sig")
        .where(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b")
        .distinct()
        .where(F.levenshtein("word_a", "word_b") <= 1)
    )
    ca = voc.select(F.col("w").alias("word_a"), F.col("c").alias("c_a"))
    cb = voc.select(F.col("w").alias("word_b"), F.col("c").alias("c_b"))
    return (
        cand.join(F.broadcast(ca), "word_a")
        .join(F.broadcast(cb), "word_b")
        .select(
            "word_a",
            "word_b",
            "c_a",
            "c_b",
            F.when(F.col("c_b") > F.col("c_a"), F.col("word_b"))
            .otherwise(F.col("word_a"))
            .alias("canonical"),
        )
    )


# ------------------------------------------------- incremental (rolling)
# Round-5: dedup-against-prior-corpus. The state-backed machinery lives
# in incdedup.py (persisted signature tables, ledger commits, resume);
# q_incdedup_fold below is its ORACLE: the identical policy unrolled
# over a fixed 3-batch schedule with no filesystem state, expressible
# in one DuckDB SQL (the batch count is an ingest-schedule constant,
# so the fold unrolls to a fixed CTE chain — e_k = exact survivors of
# batch k, s_k = its accepted survivors, each referencing only s_<k).
# The in-batch near rule stays PAIRWISE here (a band self-join under
# NOT EXISTS) while incdedup.near_filter computes it as a per-bucket
# min, so the gate checks two independent statements of the rule.
# tests/test_incdedup.py then pins the state-backed increments equal to
# this fold on the union, proving the persisted path computes the same
# corpus the oracled path does.
_INC_FOLD_SQL = f"""
    WITH {_MH_BAND_CTE},
    dd AS (SELECT doc_id, {content_hash_sql()} AS h,
                  CAST(doc_id % 3 AS int) AS seq
           FROM documents),
    e0 AS (SELECT d.doc_id, d.h FROM dd d WHERE d.seq = 0
             AND NOT EXISTS (SELECT 1 FROM dd x WHERE x.seq = 0
                             AND x.h = d.h AND x.doc_id < d.doc_id)),
    s0 AS (SELECT e.doc_id, e.h FROM e0 e WHERE NOT EXISTS (
             SELECT 1 FROM band b1
             JOIN band b2 ON b1.band = b2.band AND b1.bh = b2.bh
             JOIN e0 x ON x.doc_id = b2.doc_id
             WHERE b1.doc_id = e.doc_id AND b2.doc_id < e.doc_id)),
    e1 AS (SELECT d.doc_id, d.h FROM dd d WHERE d.seq = 1
             AND NOT EXISTS (SELECT 1 FROM dd x WHERE x.seq = 1
                             AND x.h = d.h AND x.doc_id < d.doc_id)
             AND NOT EXISTS (SELECT 1 FROM s0 x WHERE x.h = d.h)),
    s1 AS (SELECT e.doc_id, e.h FROM e1 e WHERE NOT EXISTS (
             SELECT 1 FROM band b1
             JOIN band b2 ON b1.band = b2.band AND b1.bh = b2.bh
             WHERE b1.doc_id = e.doc_id
               AND (b2.doc_id IN (SELECT doc_id FROM s0)
                    OR (b2.doc_id < e.doc_id
                        AND b2.doc_id IN (SELECT doc_id FROM e1))))),
    e2 AS (SELECT d.doc_id, d.h FROM dd d WHERE d.seq = 2
             AND NOT EXISTS (SELECT 1 FROM dd x WHERE x.seq = 2
                             AND x.h = d.h AND x.doc_id < d.doc_id)
             AND NOT EXISTS (SELECT 1 FROM s0 x WHERE x.h = d.h)
             AND NOT EXISTS (SELECT 1 FROM s1 x WHERE x.h = d.h)),
    s2 AS (SELECT e.doc_id, e.h FROM e2 e WHERE NOT EXISTS (
             SELECT 1 FROM band b1
             JOIN band b2 ON b1.band = b2.band AND b1.bh = b2.bh
             WHERE b1.doc_id = e.doc_id
               AND (b2.doc_id IN (SELECT doc_id FROM s0)
                    OR b2.doc_id IN (SELECT doc_id FROM s1)
                    OR (b2.doc_id < e.doc_id
                        AND b2.doc_id IN (SELECT doc_id FROM e2)))))
    SELECT CAST(0 AS int) AS batch_seq, CAST(doc_id AS bigint) AS doc_id
    FROM s0
    UNION ALL
    SELECT CAST(1 AS int), CAST(doc_id AS bigint) FROM s1
    UNION ALL
    SELECT CAST(2 AS int), CAST(doc_id AS bigint) FROM s2
    """


@_q("q_incdedup_fold", _INC_FOLD_SQL)
def q_incdedup_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(batch_seq, doc_id) survivors of the rolling dedup policy over a
    fixed 3-batch ingest schedule (batch = doc_id mod 3) — the one-shot
    oracle of incdedup.dedup_increment. See incdedup.py for the policy
    and the 100-TB shape (every probe is a signature equi-join; text
    is scanned once per batch, never re-scanned across batches)."""
    from ..incdedup import rolling_fold

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return rolling_fold(docs, 3)


@_q("x_incdedup_state")
def x_incdedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL state-backed rolling ingest, end-to-end: three
    dedup_increment calls (batch = doc_id mod 3) against a fresh
    persisted-state dir (exact + band-signature tables, ledger
    commits), returning the committed ledger — one row per batch with
    input/dropped/survivor counts. The dir is private to the call
    (concurrent runs never share or delete each other's state) and is
    removed once the ledger rows are collected, so every call starts
    from fresh state. Rows-only by necessity (filesystem state); the
    SEMANTICS are oracled via q_incdedup_fold and
    tests/test_incdedup.py pins this path equal to that fold on the
    union."""
    import shutil
    import tempfile

    from ..incdedup import LEDGER_SCHEMA, dedup_increment

    state = tempfile.mkdtemp(prefix="incdedup_state_")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    rows = []
    try:
        for k in range(3):
            st = dedup_increment(
                spark,
                docs.where((F.col("doc_id") % 3).cast("int") == k),
                state,
                f"b{k}",
            )
            rows.append(tuple(st[f] for f in (
                "batch_seq", "batch_id", "n_in", "n_exact_dropped",
                "n_near_dropped", "n_survivors",
            )))
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return spark.createDataFrame(rows, LEDGER_SCHEMA)


# The cap's OBSERVABILITY twin: before trusting a bucket cap you look
# at what it throws away. Per log2 bucket-size class: bucket count,
# entries, candidate pairs, and the pairs the _MH_BUCKET_CAP would
# drop — the curve that justified 256 on the turn corpus (BENCH.md:
# one 62,876-doc bucket carried 2.0e9 of the 2.78e9 candidate pairs).
# Pair counts square bucket sizes, so they go through decimal(19,0)
# operands (HUGEINT in the DuckDB oracle) before the bigint cast (the
# q_split_scan widening) — int64 wraps silently at buckets past ~4.3e9
# docs otherwise.
@_q(
    "q_minhash_bucket_profile",
    f"""
    WITH {_MH_BAND_CTE},
    s AS (SELECT band, bh, CAST(COUNT(*) AS bigint) AS n
          FROM band GROUP BY 1, 2)
    SELECT CAST(floor(log2(n)) AS int) AS size_class,
           CAST(COUNT(*) AS bigint) AS n_buckets,
           CAST(SUM(n) AS bigint) AS n_entries,
           CAST(SUM(CAST(n AS HUGEINT) * (n - 1) // 2) AS bigint)
             AS cand_pairs,
           CAST(SUM(CASE WHEN n > {_MH_BUCKET_CAP}
                         THEN CAST(n AS HUGEINT) * (n - 1) // 2
                         ELSE 0 END) AS bigint)
             AS pairs_dropped_by_cap
    FROM s GROUP BY 1
    """,
)
def q_minhash_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket size profile with the cap's cost: see family
    comment. One (band, bh) rollup (the exchange the pair join
    shuffles on anyway), then a ≤64-row log2-class dim rollup."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    s = (
        _mh_band_df(docs)
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    n_d = F.col("n").cast("decimal(19,0)")
    pairs = (n_d * (n_d - 1) / 2).cast("decimal(38,0)")
    return s.groupBy(
        F.floor(F.log2("n")).cast("int").alias("size_class")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("n_entries"),
        F.sum(pairs).cast("long").alias("cand_pairs"),
        F.sum(
            F.when(F.col("n") > _MH_BUCKET_CAP, pairs).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        )
        .cast("long")
        .alias("pairs_dropped_by_cap"),
    )
