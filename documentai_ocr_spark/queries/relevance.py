"""Relevance scoring & corpus-mixture statistics over ``documents``:
TF-IDF top terms, BM25 against a fixed query, exact per-source length
quantiles (sketch path noted for scale), and temperature-scaled domain
mixture weights.

These are the retrieval / data-mixing half of a training-data pipeline:
TF-IDF & BM25 drive keyword-based quality & topicality selection (the
relevance analogue of the reference's per-candidate score fusion,
/root/reference/ocrclient/redisdata.py:59-64 — score terms, sum, rank);
quantiles size the length filters; mixture weights implement the
"sample domain i with probability ∝ tokens^alpha" recipe used to
rebalance source corpora.

Cross-engine float discipline (matches textstats.q_unigram_logprob):
round(…, 6) is applied ONCE, after the final combination, and every
intermediate is a single expression both engines evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .util import guard_rowcap, load, ntok_col, ntok_sql, spread

QUERIES: dict = {}
ORACLES: dict = {}


def _q(name: str, sql: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return reg


# ------------------------------------------------------------------ tf-idf
_TFIDF_TOPK = 3


@_q(
    "q_tfidf_topterms",
    f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS bigint) AS tf
           FROM tok WHERE term <> '' GROUP BY doc_id, term),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS bigint) AS df
           FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS bigint) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             ROUND(CAST(tf.tf AS double)
                   * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
               AS tfidf
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored
    ) WHERE rank <= {_TFIDF_TOPK}
    """,
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1). Three aggregations, all keyed and
    map-side-combinable: tf on (doc, term), df on term (vocab-sized —
    the only table that is ever small enough to broadcast back), and
    one scalar N. Ordering uses the ROUNDED score with a term-asc
    tiebreak so rank is identical across engines."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


# ------------------------------------------------------------------ bm25
_BM25_TERMS = ["vector", "merge", "stream", "window"]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_VALUES = ",".join(f"('{t}')" for t in _BM25_TERMS)


@_q(
    "q_bm25",
    f"""
    WITH qt AS (SELECT * FROM (VALUES {_BM25_VALUES}) t(term)),
    tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS bigint) AS dl
           FROM tok WHERE term <> '' GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS bigint) AS n_docs,
                     CAST(SUM(dl) AS double) / COUNT(*) AS avgdl
              FROM dl),
    tf AS (SELECT t.doc_id, t.term, CAST(COUNT(*) AS bigint) AS tf
           FROM tok t JOIN qt USING (term) GROUP BY t.doc_id, t.term),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS bigint) AS df
           FROM tf GROUP BY term)
    SELECT tf.doc_id,
           CAST(COUNT(*) AS bigint) AS n_hits,
           ROUND(SUM(
             ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * ({_BM25_K1} + 1.0))
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                      + {_BM25_B} * dl.dl / s.avgdl))
           ), 6) AS bm25
    FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats s
    GROUP BY tf.doc_id
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 of every document against a fixed query term set
    (k1={k1}, b={b}). The corpus shuffles once to build per-(doc, term)
    tf — and only for the query terms, because the broadcast query-term
    semi-join prunes the token stream BEFORE the aggregation. df, N and
    avgdl are term-/scalar-sized broadcasts. Per-term contributions sum
    per doc, rounded once after the sum."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    qt = spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tok.join(F.broadcast(qt), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    contrib = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(_BM25_K1)
                    * (
                        F.lit(1.0 - _BM25_B)
                        + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("c"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.round(F.sum("c"), 6).alias("bm25"),
    )


# ------------------------------------------------------------ quantiles
_QUANTILE_PS = [0.25, 0.5, 0.75, 0.9]
_QUANTILE_PS_SQL = "[" + ", ".join(str(p) for p in _QUANTILE_PS) + "]"


@_q(
    "q_length_quantiles",
    f"""
    WITH q AS (SELECT source,
                      CAST(COUNT(*) AS bigint) AS n_docs,
                      quantile_cont(n_chars, {_QUANTILE_PS_SQL}) AS qs
               FROM documents GROUP BY source)
    SELECT source, n_docs, CAST(g.i - 1 AS int) AS qi,
           ROUND(qs[g.i], 6) AS quantile
    FROM q, unnest(generate_series(1, {len(_QUANTILE_PS)})) g(i)
    """,
)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source length quantiles (p25/p50/p75/p90 of n_chars,
    linear interpolation) — the distribution probe that sizes length
    filters. Exact `percentile` BUFFERS each source group's values in
    the aggregation state, so this is an oracle ANCHOR with the same
    hard row-cap discipline as the all-pairs anchors — it refuses
    production-sized inputs. The scale path is
    x_length_quantiles_approx (`percentile_approx`: single-pass
    KLL-style sketch, fixed-size state, mergeable map-side);
    bounded-error equivalence between the two is pinned in
    tests/test_relevance.py."""
    docs = guard_rowcap(
        spread(load(spark, sf_dir, "documents").select("source", "n_chars")),
        "q_length_quantiles' exact percentile buffers whole groups",
        "use x_length_quantiles_approx (percentile_approx sketch) on "
        "large inputs",
    )
    q = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.percentile("n_chars", F.array(*[F.lit(p) for p in _QUANTILE_PS]))
        .alias("qs"),
    )
    return q.select(
        "source",
        "n_docs",
        F.posexplode("qs").alias("qi", "quantile"),
    ).select(
        "source",
        "n_docs",
        F.col("qi").cast("int").alias("qi"),
        F.round("quantile", 6).alias("quantile"),
    )


@_q("x_length_quantiles_approx")  # sketch state is Spark-internal —
#                                   not DuckDB-expressible; the one-step
#                                   bracket vs the exact anchor is
#                                   pytest-gated (test_relevance.py)
def x_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB quantile path: `percentile_approx` at accuracy 10000 —
    a single-pass mergeable sketch with FIXED-SIZE aggregation state per
    group (vs the exact anchor's whole-group value buffer). Same output
    shape as q_length_quantiles; the sketch returns an actual order
    statistic, so values bracket the exact interpolated quantile within
    one discrete step (pinned by the companion test)."""
    docs = spread(
        load(spark, sf_dir, "documents").select("source", "n_chars")
    )
    q = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.percentile_approx(
            "n_chars",
            F.array(*[F.lit(p) for p in _QUANTILE_PS]),
            10000,
        ).alias("qs"),
    )
    return q.select(
        "source",
        "n_docs",
        F.posexplode("qs").alias("qi", "quantile"),
    ).select(
        "source",
        "n_docs",
        F.col("qi").cast("int").alias("qi"),
        F.round(F.col("quantile").cast("double"), 6).alias("quantile"),
    )


# ------------------------------------------------------------ domain mix
_MIX_ALPHA = 0.7


@_q(
    "q_domain_mix",
    f"""
    WITH c AS (SELECT source,
                      CAST(SUM({ntok_sql('text')}) AS bigint) AS n_tokens
               FROM documents GROUP BY source
               HAVING SUM({ntok_sql('text')}) > 0)
    SELECT source, n_tokens,
           ROUND(CAST(n_tokens AS double)
                 / SUM(CAST(n_tokens AS double)) OVER (), 6) AS share,
           ROUND(pow(n_tokens, {_MIX_ALPHA})
                 / SUM(pow(n_tokens, {_MIX_ALPHA})) OVER (), 6) AS weight
    FROM c
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling weights: per-source token
    totals c_i → weight_i = c_i^alpha / sum(c^alpha) with alpha=0.7 (the
    multilingual-LM mixture recipe — upweights small sources relative to
    raw share). The corpus reduces map-side to one row per source; the
    global-window normalization runs over that source-count-sized frame
    (tens of rows on one partition — fine at any corpus size)."""
    docs = spread(load(spark, sf_dir, "documents").select("source", "text"))
    # in-row shared token unit (util.ntok_col) — no token-grain explode;
    # HAVING > 0 keeps the row-set identical to the old explode form: a
    # source whose every doc is empty/whitespace emits NO row (not 0)
    c = (
        docs.groupBy("source")
        .agg(F.sum(ntok_col("text").cast("long")).cast("long").alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
    )
    w = Window.partitionBy()  # post-agg frame: one row per source
    return c.select(
        "source",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double")
            / F.sum(F.col("n_tokens").cast("double")).over(w),
            6,
        ).alias("share"),
        F.round(
            F.pow("n_tokens", F.lit(_MIX_ALPHA))
            / F.sum(F.pow("n_tokens", F.lit(_MIX_ALPHA))).over(w),
            6,
        ).alias("weight"),
    )


# --------------------------------------------- DSIR importance weights
# Data Selection with Importance Resampling (Xie et al., 2023): score
# every document by the log-likelihood ratio of its hashed-feature
# counts under a target-domain bag-of-buckets model vs the whole-corpus
# model. Documents that look like the target domain get high weight —
# the standard pretraining-data selection op. Target stand-in: the
# 'src0' slice of the corpus.
_DSIR_BUCKETS = 256


@_q(
    "q_dsir_weights",
    f"""
    WITH tok AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    b AS (
      SELECT doc_id, source,
             (('0x' || substr(md5(tok), 1, 8))::bigint
               % {_DSIR_BUCKETS}) AS bucket
      FROM tok
    ),
    cb AS (SELECT bucket, CAST(COUNT(*) AS bigint) AS cc
           FROM b GROUP BY bucket),
    tb AS (SELECT bucket, CAST(COUNT(*) AS bigint) AS tc
           FROM b WHERE source = 'src0' GROUP BY bucket),
    tots AS (SELECT (SELECT SUM(cc) FROM cb) AS totc,
                    (SELECT COALESCE(SUM(tc), 0) FROM tb) AS tott),
    dim AS (
      SELECT cb.bucket,
             ln((COALESCE(tb.tc, 0) + 1.0)
                / (tots.tott + {_DSIR_BUCKETS}.0))
             - ln((cb.cc + 1.0) / (tots.totc + {_DSIR_BUCKETS}.0)) AS r
      FROM cb LEFT JOIN tb USING (bucket), tots
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS bigint) AS n_toks,
           ROUND(SUM(dim.r), 6) AS dsir_weight
    FROM b JOIN dim USING (bucket)
    GROUP BY b.doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight per document: hashed token features
    (md5 → {_DSIR_BUCKETS} buckets), Laplace-smoothed bag-of-buckets
    models for the target domain and the full corpus, per-doc weight =
    Σ log(p_target(bucket)/p_corpus(bucket)) over its tokens, rounded
    once after the sum (the module's float discipline).

    Scale: both feature models reduce to ≤{_DSIR_BUCKETS} rows with
    map-side partials (the corpus never shuffles to build them); the
    log-ratio dim broadcasts back onto the token stream, so the only
    doc-keyed shuffle is the final per-doc aggregation. Resampling on
    the weight composes with q_stratified_sample / q_epoch_shuffle."""
    docs = spread(
        load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    tok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % _DSIR_BUCKETS
    )
    b = tok.select("doc_id", "source", bucket.alias("bucket"))
    cb = b.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("cc"))
    tb = (
        b.where(F.col("source") == "src0")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tc"))
    )
    totc = cb.agg(F.sum("cc").cast("long").alias("totc"))
    tott = tb.agg(
        F.coalesce(F.sum("tc"), F.lit(0)).cast("long").alias("tott")
    )
    dim = (
        cb.join(tb, "bucket", "left")
        .crossJoin(F.broadcast(totc))
        .crossJoin(F.broadcast(tott))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("tc", F.lit(0)) + F.lit(1.0))
                    / (F.col("tott") + F.lit(float(_DSIR_BUCKETS)))
                )
                - F.log(
                    (F.col("cc") + F.lit(1.0))
                    / (F.col("totc") + F.lit(float(_DSIR_BUCKETS)))
                )
            ).alias("r"),
        )
    )
    return (
        b.join(F.broadcast(dim), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.round(F.sum("r"), 6).alias("dsir_weight"),
        )
    )


# ------------------------------------------------- distribution drift
# PSI between two crawl halves: did the length distribution of a source
# shift between snapshots? The monitor a continuous-ingest pipeline
# alarms on before retraining. Halves are doc_id parity (the
# deterministic stand-in for consecutive snapshots), bins are integer
# bit-lengths of n_chars (exact on both engines — no quantile sketch in
# the gate path), and each bin's PSI term is a single expression over
# exact integer counts, so no cross-row float accumulation ever happens:
# the per-source total is the trivial client-side sum of its ≤ ~15 rows.
@_q(
    "q_score_drift",
    """
    WITH b AS (
      SELECT source, doc_id % 2 AS half,
             CAST(length(bin(n_chars)) AS int) AS bin
      FROM documents
    ),
    c AS (
      SELECT source, bin,
             COUNT(*) FILTER (half = 0) AS ca,
             COUNT(*) FILTER (half = 1) AS cb
      FROM b GROUP BY source, bin
    ),
    d AS (
      SELECT source,
             SUM(ca) AS ta, SUM(cb) AS tb,
             COUNT(*) AS nb
      FROM c GROUP BY source
    )
    SELECT c.source, c.bin,
           CAST(c.ca AS bigint) AS ca, CAST(c.cb AS bigint) AS cb,
           ROUND((c.ca + 0.5) / (d.ta + 0.5 * d.nb), 6) AS pa,
           ROUND((c.cb + 0.5) / (d.tb + 0.5 * d.nb), 6) AS pb,
           ROUND(((c.ca + 0.5) / (d.ta + 0.5 * d.nb)
                  - (c.cb + 0.5) / (d.tb + 0.5 * d.nb))
                 * ln(((c.ca + 0.5) / (d.ta + 0.5 * d.nb))
                      / ((c.cb + 0.5) / (d.tb + 0.5 * d.nb))), 6)
             AS psi_term
    FROM c JOIN d USING (source)
    """,
)
def q_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, bin) PSI contributions between the two snapshot
    halves, Laplace-smoothed over the source's observed bin universe.
    One (source, bin) partial-agg shuffle builds the count grid; the
    per-source totals are an O(|sources|) dim broadcast back onto it.
    Every published double derives from exact integers in one
    expression — the fold-order hazard of summing PSI across bins is
    left to the reader of the ≤15-row result, not the engines."""
    docs = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    b = docs.select(
        "source",
        (F.col("doc_id") % 2).alias("half"),
        F.length(F.bin("n_chars")).cast("int").alias("bin"),
    )
    c = b.groupBy("source", "bin").agg(
        F.count(F.when(F.col("half") == 0, 1)).alias("ca"),
        F.count(F.when(F.col("half") == 1, 1)).alias("cb"),
    )
    d = c.groupBy("source").agg(
        F.sum("ca").alias("ta"),
        F.sum("cb").alias("tb"),
        F.count(F.lit(1)).alias("nb"),
    )
    j = c.join(F.broadcast(d), "source")
    pa = (F.col("ca") + 0.5) / (F.col("ta") + 0.5 * F.col("nb"))
    pb = (F.col("cb") + 0.5) / (F.col("tb") + 0.5 * F.col("nb"))
    return j.select(
        "source",
        "bin",
        F.col("ca").cast("long").alias("ca"),
        F.col("cb").cast("long").alias("cb"),
        F.round(pa, 6).alias("pa"),
        F.round(pb, 6).alias("pb"),
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
    )


# ------------------------------------------------ embedding hygiene audit
# The pre-index gate an ANN build runs first: null vectors, wrong
# dimensionality, exact-zero norms, out-of-range norms — per label, with
# order-insensitive norm extremes (MIN/MAX only: no cross-row float sum
# enters the gate). The fixture corpus is clean, so deterministic faults
# are injected in-query (the q_token_yield convention): vec_id%97 → NULL
# vector, %89 → all-zero, %83 → truncated to 32 dims.
_EMB_DIM = 64


@_q(
    "q_embed_audit",
    f"""
    WITH v AS (
      SELECT label,
             CASE WHEN vec_id % 97 = 0 THEN NULL
                  WHEN vec_id % 89 = 0
                    THEN list_transform(embedding, x -> 0.0::FLOAT)
                  WHEN vec_id % 83 = 0 THEN embedding[1:32]
                  ELSE embedding END AS e
      FROM embeddings
    ),
    n AS (
      SELECT label, e,
             CASE WHEN e IS NOT NULL THEN
               sqrt(list_reduce(
                 list_transform(e, x -> CAST(x AS double) * CAST(x AS double)),
                 (a, b) -> a + b)) END AS nrm
      FROM v
    )
    SELECT label,
           CAST(COUNT(*) AS bigint) AS n_vecs,
           CAST(COUNT(*) FILTER (e IS NULL) AS bigint) AS n_null,
           CAST(COUNT(*) FILTER (e IS NOT NULL AND len(e) <> {_EMB_DIM})
                AS bigint) AS n_bad_dim,
           CAST(COUNT(*) FILTER (nrm = 0.0) AS bigint) AS n_zero,
           ROUND(MIN(CASE WHEN nrm > 0 THEN nrm END), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm
    FROM n GROUP BY label
    """,
)
def q_embed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene per label: null / wrong-dim / zero-norm counts
    and the nonzero-norm range. Norms are in-row left folds (seeded 0.0
    == DuckDB's seedless reduce since 0.0+x is exact), extremes are
    MIN/MAX so no float crosses rows order-sensitively; one
    O(|labels|) partial-agg shuffle."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    e = (
        F.when(F.col("vec_id") % 97 == 0, F.lit(None))
        .when(
            F.col("vec_id") % 89 == 0,
            F.transform("embedding", lambda x: F.lit(0.0).cast("float")),
        )
        .when(F.col("vec_id") % 83 == 0, F.slice("embedding", 1, 32))
        .otherwise(F.col("embedding"))
    )
    nrm = F.sqrt(
        F.aggregate(
            F.col("e"),
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    n = emb.select("label", e.alias("e")).withColumn(
        "nrm", F.when(F.col("e").isNotNull(), nrm)
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.count(F.when(F.col("e").isNull(), 1)).cast("long").alias("n_null"),
        F.count(
            F.when(
                F.col("e").isNotNull() & (F.size("e") != _EMB_DIM), 1
            )
        )
        .cast("long")
        .alias("n_bad_dim"),
        F.count(F.when(F.col("nrm") == 0.0, 1)).cast("long").alias("n_zero"),
        F.round(F.min(F.when(F.col("nrm") > 0, F.col("nrm"))), 6).alias(
            "min_norm"
        ),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )


# -------------------------------------------------- mixture waterfilling
# Data-mixing allocation: given a training token budget B and
# per-source priority weights, give every source alloc = min(avail,
# lambda * weight) with ONE water level lambda chosen so the
# allocations sum to B — the standard waterfilling solution to
# "sample proportionally to weight, but a source cannot yield more
# than it has". q_domain_mix computes the *proportions*; this computes
# the realizable token grants. The closed form: sort sources by
# avail/weight ascending; walking that order, the first position j
# where the remaining budget spread over the remaining weights no
# longer exceeds j's own ratio is the pivot — everything before it is
# capped at avail, everything from it on gets its weight's share of
# what is left. All pivot tests and grants are INTEGER arithmetic
# ((B - prefix_avail) * w // suffix_weight), so the two engines agree
# bit-for-bit; the only doubles are the published level/ratio columns.
_MIX_BUDGET_FRAC_NUM, _MIX_BUDGET_FRAC_DEN = 1, 2  # B = total // 2

# ONE SQL rendering of the md5 priority-weight coin — q_mixture_alloc
# and q_mixing_plan must weight sources identically
MIX_WEIGHT_SQL = "1 + ('0x' || substr(md5(source), 1, 4))::bigint % 3"


def _mix_weight_col():
    """Spark rendering of MIX_WEIGHT_SQL."""
    return (
        1
        + F.conv(F.substring(F.md5("source"), 1, 4), 16, 10).cast("long")
        % 3
    )


def waterfill_sql(extra_cols: str = "") -> str:
    """ONE SQL rendering of the waterfilling tail: expects an upstream
    CTE ``d(source, avail, w, ...)`` and emits the grant table. Any
    ``extra_cols`` (comma-led passthrough accounting columns of d) ride
    through the window CTEs untouched."""
    return f"""
    s AS (SELECT source, avail, w{extra_cols},
                 SUM(avail) OVER () * {_MIX_BUDGET_FRAC_NUM}
                   // {_MIX_BUDGET_FRAC_DEN} AS b,
                 row_number() OVER (ORDER BY CAST(avail AS double) / w,
                                    source) AS pos,
                 COALESCE(SUM(avail) OVER (ORDER BY CAST(avail AS double) / w,
                                           source ROWS BETWEEN UNBOUNDED
                                           PRECEDING AND 1 PRECEDING), 0)
                   AS a_prev,
                 SUM(w) OVER (ORDER BY CAST(avail AS double) / w, source
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED
                              FOLLOWING) AS w_from
          FROM d),
    p AS (SELECT *,
                 MIN(CASE WHEN (b - a_prev) * w <= avail * w_from
                          THEN pos END) OVER () AS pv
          FROM s),
    lvl AS (SELECT *,
                   MAX(CASE WHEN pos = pv THEN b - a_prev END)
                     OVER () AS lnum,
                   MAX(CASE WHEN pos = pv THEN w_from END)
                     OVER () AS lden
            FROM p)
    SELECT source{extra_cols}, avail AS avail_tokens,
           CAST(w AS int) AS weight,
           CAST(CASE WHEN pv IS NULL OR pos < pv THEN avail
                     ELSE lnum * w // lden END AS bigint) AS alloc_tokens,
           (pv IS NULL OR pos < pv) AS capped
    FROM lvl
    """


def waterfill_df(d: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Spark rendering of waterfill_sql over a (source, avail, w, ...)
    dim — O(sources) rows post-aggregation, so every window here runs
    on the tiny frame (the q_domain_mix pattern). Pivot selection
    cross-multiplies integers instead of comparing the float level to
    the float ratio, so engine agreement is structural, not numeric
    luck."""
    wall = Window.partitionBy()
    order = [
        (F.col("avail").cast("double") / F.col("w")).asc(),
        F.col("source").asc(),
    ]
    wprev = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    wfrom = Window.orderBy(*order).rowsBetween(
        0, Window.unboundedFollowing
    )
    s = d.select(
        "source",
        "avail",
        "w",
        *extra_cols,
        F.expr(
            f"{_MIX_BUDGET_FRAC_NUM} * "
            f"(sum(avail) OVER ()) div {_MIX_BUDGET_FRAC_DEN}"
        ).alias("b"),
        F.row_number().over(Window.orderBy(*order)).alias("pos"),
        F.coalesce(F.sum("avail").over(wprev), F.lit(0)).alias("a_prev"),
        F.sum("w").over(wfrom).alias("w_from"),
    )
    qual = (F.col("b") - F.col("a_prev")) * F.col("w") <= F.col(
        "avail"
    ) * F.col("w_from")
    p = s.withColumn(
        "pivot", F.min(F.when(qual, F.col("pos"))).over(wall)
    )
    lvl = p.withColumn(
        "lnum",
        F.max(
            F.when(
                F.col("pos") == F.col("pivot"), F.col("b") - F.col("a_prev")
            )
        ).over(wall),
    ).withColumn(
        "lden",
        F.max(
            F.when(F.col("pos") == F.col("pivot"), F.col("w_from"))
        ).over(wall),
    )
    is_capped = F.col("pivot").isNull() | (F.col("pos") < F.col("pivot"))
    return lvl.select(
        "source",
        *extra_cols,
        F.col("avail").alias("avail_tokens"),
        F.col("w").cast("int").alias("weight"),
        F.when(is_capped, F.col("avail"))
        .otherwise(F.expr("lnum * w div lden"))
        .cast("long")
        .alias("alloc_tokens"),
        is_capped.alias("capped"),
    )


@_q(
    "q_mixture_alloc",
    f"""
    WITH c AS (SELECT source,
                      CAST(SUM({ntok_sql('text')}) AS bigint) AS avail
               FROM documents GROUP BY source
               HAVING SUM({ntok_sql('text')}) > 0),
    d AS (SELECT source, avail, {MIX_WEIGHT_SQL} AS w
          FROM c),
    {waterfill_sql()}
    """,
)
def q_mixture_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfilled token grants per source for a budget of half the
    corpus: capped sources contribute everything they have, uncapped
    sources split the remainder in proportion to their md5-coin
    priority weight (1..3), grant = (B - prefix_avail) * w //
    suffix_weight at the pivot. The whole waterfilling tail is ONE
    rendering per engine (waterfill_sql / waterfill_df), shared with
    q_mixing_plan's filtered-corpus allocation."""
    docs = spread(load(spark, sf_dir, "documents").select("source", "text"))
    # token counting is IN-ROW via the shared unit (util.ntok_col) — the
    # explode-then-count form would materialize one row per token
    # (10^13 rows at web scale) just to sum them; HAVING > 0 keeps the
    # row-set identical to the explode form (all-empty source → no row)
    c = (
        docs.groupBy("source")
        .agg(F.sum(ntok_col("text").cast("long")).cast("long").alias("avail"))
        .where(F.col("avail") > 0)
    )
    return waterfill_df(c.withColumn("w", _mix_weight_col()))


# ---------------------------------------------------- class-balance weights
# Training-loss reweighting for skewed label distributions: the
# class-balanced "effective number of samples" rule — w_label ∝
# (1 - beta) / (1 - beta^n_label), normalized so the weights sum to
# the class count. The per-label count dim is O(labels); pow/division
# run once per label on identical integers, so both engines produce
# the same doubles (the q_domain_mix pow precedent).
_CB_BETA = 0.999


@_q(
    "q_class_weights",
    f"""
    WITH c AS (SELECT label, CAST(COUNT(*) AS bigint) AS n
               FROM embeddings GROUP BY label),
    e AS (SELECT label, n,
                 (1.0 - {_CB_BETA}) / (1.0 - pow({_CB_BETA}, n)) AS raw
          FROM c)
    SELECT label, n,
           ROUND(raw * (SELECT COUNT(*) FROM c)
                 / SUM(raw) OVER (), 6) AS weight
    FROM e
    """,
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced loss weights per label: effective-number inverse,
    normalized to sum to the number of classes.

    Scale — the corpus collapses map-side to one row per label; the
    normalization window runs on that O(labels) frame (q_domain_mix's
    post-agg tiny-dim pattern)."""
    e = spread(load(spark, sf_dir, "embeddings").select("label"))
    c = e.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    raw = (1.0 - _CB_BETA) / (
        1.0 - F.pow(F.lit(_CB_BETA), F.col("n"))
    )
    wall = Window.partitionBy()
    return c.select(
        "label",
        "n",
        F.round(
            raw * F.count(F.lit(1)).over(wall) / F.sum(raw).over(wall), 6
        ).alias("weight"),
    )


# --------------------------------------------------- reference-vocab gate
# CCNet-flavored perplexity-proxy filter (Wenzek et al., 2020): score
# every document by how much of it is UNSEEN under a language model
# built from a trusted reference slice, drop the worst. The LM here is
# the cheapest one with cross-engine-exact semantics — a word-BIGRAM
# vocabulary (bigrams with >= _OOV_MIN_CNT occurrences in the slice) —
# so the score is an integer OOV rate, not a float perplexity: same
# decision boundary on both engines by construction. The reference
# slice is the deterministic 1/7 coin doc_id % 7 == 0 (stand-in for
# "the wiki slice" a production run would point at).
_OOV_REF_MOD = 7     # reference slice: doc_id % 7 == 0
_OOV_MIN_CNT = 5     # bigram enters the vocab at >= 5 slice occurrences
_OOV_DROP_MILLI = 600  # drop docs with >= 60.0% OOV bigrams


@_q(
    "q_oov_gate",
    f"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '')
                        AS wl
               FROM documents),
    bg AS (SELECT doc_id, wl[i] || ' ' || wl[i+1] AS bg
           FROM w, unnest(generate_series(1, len(wl) - 1)) g(i)),
    vocab AS (SELECT bg FROM bg WHERE doc_id % {_OOV_REF_MOD} = 0
              GROUP BY bg HAVING COUNT(*) >= {_OOV_MIN_CNT}),
    per_doc AS (SELECT b.doc_id,
                       CAST(COUNT(*) AS bigint) AS n_bg,
                       CAST(SUM(CASE WHEN v.bg IS NULL THEN 1 ELSE 0 END)
                            AS bigint) AS n_oov
                FROM bg b LEFT JOIN vocab v ON b.bg = v.bg
                GROUP BY b.doc_id)
    SELECT d.doc_id, d.source,
           CAST({ntok_sql('text')} AS bigint) AS n_toks,
           COALESCE(p.n_bg, 0) AS n_bg,
           COALESCE(p.n_oov, 0) AS n_oov,
           CASE WHEN COALESCE(p.n_bg, 0) = 0 THEN 1000
                ELSE 1000 * p.n_oov // p.n_bg END AS oov_milli,
           CASE WHEN COALESCE(p.n_bg, 0) = 0 THEN false
                WHEN 1000 * p.n_oov // p.n_bg >= {_OOV_DROP_MILLI}
                  THEN false ELSE true END AS kept
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def q_oov_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-vocabulary OOV gate: per-document out-of-vocabulary
    bigram rate against a vocabulary learned from the doc_id % 7 == 0
    reference slice, with the keep/drop verdict at _OOV_DROP_MILLI.
    Documents too short to have a bigram score 1000 (nothing verifiable
    → dropped) — the explicit-sentinel convention every gate here uses.

    Scale: the vocabulary is one (bigram → count) aggregation over the
    slice, HAVING-pruned before it leaves the exchange, then joined to
    the corpus bigram stream; per-doc scores are one doc-grain partial
    aggregation. The vocab join is key-hashed, NOT broadcast: at web
    scale a min-count bigram vocabulary is millions of rows — a dim you
    exchange once, not ship to every executor (a production config
    would also cap it to top-K + UNK, the sampled-vocab note of
    textstats' bigram LM). No window, no per-row Python, nothing
    quadratic; the decision boundary is pure integer milli arithmetic
    so both engines agree on every verdict by construction."""
    docs = spread(
        load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    wl = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(wl)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bg_list = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(wl, i), F.element_at(wl, i + F.lit(1))
        ),
    )
    bg = docs.select(
        "doc_id", F.explode(bg_list).alias("bg")
    )
    vocab = (
        bg.where(F.col("doc_id") % _OOV_REF_MOD == 0)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= _OOV_MIN_CNT)
        .select("bg")
    )
    per_doc = (
        bg.join(vocab.withColumn("in_v", F.lit(1)), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bg"),
            F.sum(
                F.when(F.col("in_v").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_oov"),
        )
    )
    oov_milli = F.when(
        F.coalesce(F.col("n_bg"), F.lit(0)) == 0, F.lit(1000).cast("long")
    ).otherwise(F.expr("1000 * n_oov div n_bg"))
    return (
        docs.select("doc_id", "source", ntok_col("text").cast("long").alias("n_toks"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_toks",
            F.coalesce("n_bg", F.lit(0).cast("long")).alias("n_bg"),
            F.coalesce("n_oov", F.lit(0).cast("long")).alias("n_oov"),
            oov_milli.alias("oov_milli"),
            (oov_milli < _OOV_DROP_MILLI).alias("kept"),
        )
    )


# ------------------------------------------------- source KL divergence
@_q(
    "q_source_kl",
    f"""
    WITH w AS (SELECT source,
                      unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS w
               FROM documents),
    sw AS (SELECT source, w, CAST(COUNT(*) AS bigint) AS c
           FROM w GROUP BY source, w),
    st AS (SELECT source, CAST(SUM(c) AS bigint) AS t
           FROM sw GROUP BY source),
    cw AS (SELECT w, CAST(SUM(c) AS bigint) AS cc FROM sw GROUP BY w),
    ct AS (SELECT CAST(SUM(c) AS bigint) AS tc FROM sw)
    SELECT sw.source,
           CAST(COUNT(*) AS bigint) AS n_words,
           CAST(MIN(st.t) AS bigint) AS n_toks,
           ROUND(SUM((CAST(sw.c AS double) / st.t)
                     * ln((CAST(sw.c AS double) * ct.tc)
                          / (CAST(st.t AS double) * cw.cc))), 6) AS kl
    FROM sw JOIN st USING (source) JOIN cw USING (w) CROSS JOIN ct
    GROUP BY sw.source
    """,
)
def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution —
    the distribution-shift audit a mixing run consults before
    reweighting: a source whose word distribution has drifted far from
    the corpus (high KL) is either a genuinely different domain or a
    contamination/crawl-bug signal. KL(source ‖ corpus) = Σ_w p_s(w) ·
    ln(p_s(w)/p_c(w)) over words the source actually uses (p_s > 0;
    p_c > 0 always, since the corpus marginal includes every source's
    counts — no smoothing needed, the estimator is exact).

    Float discipline (the q_unigram_logprob precedent): every term is
    derived once from four exact integers — (c·tc)/(t·cc) inside one
    ln, weighted by c/t — and ROUND(…, 6) is applied once after the
    per-source sum. Scale: one (source, word) partial agg (map-side
    combined), then the source-totals and corpus-word dims — O(sources)
    and O(vocab) — join back; the corpus total is a 1-row broadcast.
    Final exchange is O(sources × vocab-per-source), never the token
    stream."""
    docs = spread(
        load(spark, sf_dir, "documents").select("source", "text")
    )
    w = docs.select(
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("w"),
    )
    sw = w.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    st = sw.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    cw = sw.groupBy("w").agg(F.sum("c").cast("long").alias("cc"))
    ct = sw.agg(F.sum("c").cast("long").alias("tc"))
    term = (F.col("c").cast("double") / F.col("t")) * F.log(
        (F.col("c").cast("double") * F.col("tc"))
        / (F.col("t").cast("double") * F.col("cc"))
    )
    return (
        sw.join(F.broadcast(st), "source")
        .join(cw, "w")
        .crossJoin(F.broadcast(ct))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.min("t").cast("long").alias("n_toks"),
            F.round(F.sum(term), 6).alias("kl"),
        )
    )


# --------------------------------------- per-source top-K vocabulary rank
# Per-GROUP top-K without a whole-group sort — the fourth consumer of
# the repo's "never sort a corpus slice on one reducer" discipline
# (after epoch order, cume_dist and the Gini ranks): words with the
# same count-DIGIT-COUNT share a value bucket (length of the decimal
# rendering — exact integer bucketing, monotone in c, identical on
# both engines; never float log), the ≤19-row per-source bucket
# histogram yields each bucket's exclusive descending prefix, buckets
# whose prefix already reaches K are dropped BEFORE any window runs,
# and row_number orders only the surviving head. The survivor frame
# overshoots K by at most the boundary count-decade's population — in
# a Zipf-shaped vocabulary a head decade, orders of magnitude below
# the vocabulary — and the oracle (a plain whole-partition rank) pins
# that the pruning is exactly rank-preserving.
_TOPW_K = 20
_ZIPF_K = 200


def _src_rank_sql() -> str:
    """DuckDB rendering: per-source word ranks (the SPEC — a plain
    window; the Spark side must reproduce it without the full sort)."""
    return f"""sw AS (
      SELECT source, w, CAST(COUNT(*) AS bigint) AS c
      FROM (SELECT source,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS w
            FROM documents)
      GROUP BY source, w
    ),
    rk AS (
      SELECT source, w, c,
             row_number() OVER (PARTITION BY source
                                ORDER BY c DESC, w) AS rnk
      FROM sw
    )"""


def _src_topk_df(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Spark rendering of _src_rank_sql's rank ≤ k frame: (source, w,
    c, rnk) via digit-bucket histogram pruning + a survivor-only
    window."""
    from .util import topk_by_count

    docs = spread(load(spark, sf_dir, "documents").select("source", "text"))
    sw = (
        docs.select(
            "source",
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return topk_by_count(sw, ["source"], ["w"], k).select(
        "source", "w", "c", "rnk"
    )


@_q(
    "q_source_topwords",
    f"""
    WITH {_src_rank_sql()}
    SELECT source, CAST(rnk AS bigint) AS rnk, w AS word, c
    FROM rk WHERE rnk <= {_TOPW_K}
    """,
)
def q_source_topwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source signature vocabulary: the top {_TOPW_K} words by
    exact count with a deterministic (count DESC, word ASC) rank — the
    at-a-glance drift/contamination fingerprint a corpus datasheet
    prints per domain.

    Scale: see _src_topk_df — the only corpus-scale exchange is the
    (source, word) count agg; the rank window runs on the pruned
    survivor head, never the vocabulary."""
    return _src_topk_df(spark, sf_dir, _TOPW_K).select(
        "source",
        F.col("rnk").cast("long").alias("rnk"),
        F.col("w").alias("word"),
        "c",
    )


@_q(
    "q_zipf_slope",
    f"""
    WITH {_src_rank_sql()},
    f AS (SELECT source, ln(rnk) AS x, ln(c) AS y
          FROM rk WHERE rnk <= {_ZIPF_K})
    SELECT source,
           CAST(COUNT(*) AS bigint) AS n_fit,
           ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS slope,
           ROUND((SUM(y) - (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                           / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
                           * SUM(x)) / COUNT(*), 6) AS intercept
    FROM f GROUP BY source HAVING COUNT(*) >= 2
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf fit: OLS slope/intercept of ln(count) on
    ln(rank) over the top {_ZIPF_K} words — the crawl-health statistic
    (natural language sits near slope −1; template spam and scraped
    boilerplate bend it sharply away).

    Float discipline: x=ln(rank), y=ln(count) each from one exact
    integer; the closed-form slope is computed once from the five
    per-source sums and ROUND(…, 6) applied at the end (the
    q_source_kl precedent — the ≤{_ZIPF_K}-term sums are far inside
    round-6 tolerance for any aggregation order). Scale: the fit frame
    is the _src_topk_df survivor head (O(K) per source), so the five
    sums aggregate a dim, not the vocabulary."""
    f = _src_topk_df(spark, sf_dir, _ZIPF_K).select(
        "source",
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    agg = f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_fit"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n_fit") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n_fit") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.where(F.col("n_fit") >= 2).select(
        "source",
        "n_fit",
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n_fit"), 6
        ).alias("intercept"),
    )


# ------------------------------------------- bigram conditional entropy
# Per-source fluency statistic: H(w2 | w1) = (1/N)·Σ_{w1,w2} c(w1,w2)
# · ln(c(w1)/c(w1,w2)) over adjacent word pairs — the information-rate
# complement to the char-entropy screen (q_char_entropy): degenerate
# repetition drives it to 0 (every word determines its successor),
# templated text sits far below natural prose. Exact-estimator form,
# no smoothing needed: every bigram's context count dominates it.
@_q(
    "q_bigram_entropy",
    """
    WITH tok AS (
      SELECT source, doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
      FROM documents
    ),
    bg AS (
      SELECT source, t[i] AS w1, t[i + 1] AS w2
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, len(t) - 1)) AS i
      ) g
    ),
    b AS (SELECT source, w1, w2, CAST(COUNT(*) AS bigint) AS c2
          FROM bg GROUP BY source, w1, w2),
    u AS (SELECT source, w1, CAST(SUM(c2) AS bigint) AS c1
          FROM b GROUP BY source, w1)
    SELECT b.source,
           CAST(SUM(c2) AS bigint) AS n_bigrams,
           CAST(COUNT(*) AS bigint) AS n_distinct,
           ROUND(SUM(c2 * ln(CAST(u.c1 AS double) / c2)) / SUM(c2), 6)
             AS cond_entropy
    FROM b JOIN u ON b.source = u.source AND b.w1 = u.w1
    GROUP BY b.source
    """,
)
def q_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram conditional entropy H(w2|w1) in nats — exact
    estimator from two integer count tables (no smoothing: the context
    count c1 = Σ c2 always dominates, so every ln argument is ≥ 1 and
    finite; a deterministic single-successor corpus pins exactly 0).

    Float discipline (q_source_kl): one ln per (source, bigram) from
    two exact integers, ROUND(…, 6) once after the per-source sum.
    Scale: adjacent pairs explode in-row (n−1 per doc), one
    (source, w1, w2) partial agg is the corpus exchange, the context
    table is its own rollup (AQE reuses the exchange), and the join
    back is key-subsumed (source, w1) ⊂ (source, w1, w2). Output is
    O(sources)."""
    docs = spread(
        load(spark, sf_dir, "documents").select("source", "text")
    )
    t = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    pairs = F.expr(
        "transform(slice(t, 1, greatest(0, size(t) - 1)), "
        "(x, i) -> struct(x AS w1, t[i + 1] AS w2))"
    )
    bg = docs.select("source", t.alias("t")).select(
        "source", F.explode(pairs).alias("p")
    ).select("source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    b = bg.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    u = b.groupBy("source", "w1").agg(
        F.sum("c2").cast("long").alias("c1")
    )
    term = F.col("c2") * F.log(
        F.col("c1").cast("double") / F.col("c2")
    )
    return (
        b.join(u, ["source", "w1"])
        .groupBy("source")
        .agg(
            F.sum("c2").cast("long").alias("n_bigrams"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.round(F.sum(term) / F.sum("c2"), 6).alias("cond_entropy"),
        )
    )


# ------------------------------------------- robust length statistics
# Median/MAD outlier screen per source — the robust sibling of the
# mean/stddev screens: a handful of megadocs (concatenation bugs, crawl
# loops) move a mean arbitrarily but cannot move the median, so the
# "doc is an outlier" verdict |x − median| > 5·MAD is stable under the
# very corruption it hunts. Both order statistics are the LOWER median
# (rank (n+1)//2 under deterministic (value, doc_id) order) so every
# quantity is an exact INTEGER — no mid-point averaging float, no
# straddle risk. Ranks come from util.two_phase_ranks (the factored
# q_score_calibration / q_epoch_shuffle decomposition): the oracle is
# the plain whole-source window, so the gate again proves the
# decomposition rank-preserving — now composed TWICE in one query
# (value ranks, then deviation ranks).
_MAD_SIGMA = 5  # |x - med| > sigma·MAD ⇒ outlier


@_q(
    "q_robust_stats",
    f"""
    WITH d AS (SELECT source, doc_id, CAST(n_chars AS bigint) AS x
               FROM documents),
    r1 AS (SELECT source, doc_id, x,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY x, doc_id) AS rn,
                  COUNT(*) OVER (PARTITION BY source) AS n
           FROM d),
    med AS (SELECT source, x AS med FROM r1 WHERE rn = (n + 1) // 2),
    dev AS (SELECT d.source, d.doc_id, d.x, m.med,
                   abs(d.x - m.med) AS dv
            FROM d JOIN med m USING (source)),
    r2 AS (SELECT source, dv,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY dv, doc_id) AS rn,
                  COUNT(*) OVER (PARTITION BY source) AS n
           FROM dev),
    mad AS (SELECT source, dv AS mad FROM r2 WHERE rn = (n + 1) // 2)
    SELECT dev.source,
           CAST(COUNT(*) AS bigint) AS n_docs,
           CAST(MIN(dev.med) AS bigint) AS med,
           CAST(MIN(mad.mad) AS bigint) AS mad,
           CAST(COALESCE(SUM(CASE WHEN dev.dv > {_MAD_SIGMA} * mad.mad
                                  THEN 1 END), 0) AS bigint) AS n_outliers,
           CAST(1000 * COALESCE(SUM(CASE WHEN dev.dv > {_MAD_SIGMA} * mad.mad
                                         THEN 1 END), 0)
                // COUNT(*) AS bigint) AS outlier_milli
    FROM dev JOIN mad USING (source)
    GROUP BY dev.source
    """,
)
def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust length profile: lower median, lower-median
    absolute deviation (MAD), and the count / exact-milli rate of
    |x − med| > {_MAD_SIGMA}·MAD outlier documents — the
    corruption-resistant screen for megadoc / truncation anomalies.

    Scale: TWO chained two-phase rank passes (util.two_phase_ranks —
    never a whole-source sort), each followed by a rank-position
    filter against the broadcast O(sources) count dim; median and MAD
    dims are O(sources) broadcasts; the outlier rollup is one
    source-keyed partial agg. All integers end to end."""
    from .util import two_phase_ranks

    d = spread(
        load(spark, sf_dir, "documents").select(
            "source", "doc_id", F.col("n_chars").cast("long").alias("x")
        )
    )
    ndim = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # each order statistic is an O(sources) dim — MATERIALIZE it on the
    # driver (the epoch-shuffle prefix-sum / exact-k deficiency
    # precedent) so downstream consumers hold a literal dim instead of
    # the whole rank-pass lineage: without this, pass 2's eager
    # bucket-sizing and the final rollup each re-execute pass 1's rank
    # join (measured 28.7 s → ~8 s at sf0.1/32 cores)
    spark_ = d.sparkSession

    def _stat_dim(ranked, val_col: str, out_col: str):
        rows = (
            ranked.join(F.broadcast(ndim), "source")
            .where(F.col("r") == F.expr("(n + 1) div 2"))
            .select("source", F.col(val_col).alias(out_col))
            .collect()
        )
        return F.broadcast(
            spark_.createDataFrame(
                [(r["source"], r[out_col]) for r in rows],
                schema=f"source string, {out_col} long",
            )
        )

    med = _stat_dim(two_phase_ranks(d, ["source"], "x", ["doc_id"]), "x", "med")
    dev = d.join(med, "source").select(
        "source",
        "doc_id",
        "x",
        "med",
        F.abs(F.col("x") - F.col("med")).alias("dv"),
    )
    mad = _stat_dim(
        two_phase_ranks(dev, ["source"], "dv", ["doc_id"]), "dv", "mad"
    )
    out = F.when(
        F.col("dv") > _MAD_SIGMA * F.col("mad"), F.lit(1)
    )
    return (
        dev.join(mad, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("med").cast("long").alias("med"),
            F.min("mad").cast("long").alias("mad"),
            F.coalesce(F.sum(out), F.lit(0)).cast("long").alias("n_outliers"),
            F.expr(
                f"1000 * coalesce(sum(case when dv > {_MAD_SIGMA} * mad"
                " then 1 end), 0) div count(1)"
            )
            .cast("long")
            .alias("outlier_milli"),
        )
    )


# ------------------------------------------------- exact trimmed mean
# The 10%-trimmed mean per source next to the plain mean: how much of
# the reported average length is carried by the distribution's tails.
# Trim rank cut t = n div 10 per side under the SAME deterministic
# (value, doc_id) rank as q_robust_stats — exact integer cuts, so a
# boundary document can never straddle engines.
_TRIM_DECI = 10  # trim n div 10 ranks from each end


@_q(
    "q_trimmed_mean",
    f"""
    WITH d AS (SELECT source, doc_id, CAST(n_chars AS bigint) AS x
               FROM documents),
    m AS (SELECT source, ROUND(CAST(SUM(x) AS double) / COUNT(*), 6)
                   AS mean
          FROM d GROUP BY source),
    r AS (SELECT source, x,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY x, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM d),
    t AS (SELECT source,
                 CAST(MIN(n) AS bigint) AS n_docs,
                 CAST(MIN(n) // {_TRIM_DECI} AS bigint) AS n_trim,
                 CAST(COUNT(*) AS bigint) AS n_kept,
                 ROUND(CAST(SUM(x) AS double) / COUNT(*), 6)
                   AS trimmed_mean
          FROM r
          WHERE rn > n // {_TRIM_DECI} AND rn <= n - n // {_TRIM_DECI}
          GROUP BY source)
    SELECT t.source, t.n_docs, t.n_trim, t.n_kept, m.mean, t.trimmed_mean
    FROM t JOIN m USING (source)
    """,
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact 10%-trimmed mean of n_chars beside the plain
    mean — the tail-sensitivity report: a big mean−trimmed gap means
    the average is carried by outlier documents, not the bulk.

    Scale: one two_phase_ranks pass (no whole-source sort), the rank
    cut filtered against the broadcast per-source count dim, then one
    source-keyed partial agg; the plain-mean dim is O(sources) and
    broadcast back. Each mean is ONE rounded division of exact
    integers (the shared float discipline)."""
    from .util import two_phase_ranks

    d = spread(
        load(spark, sf_dir, "documents").select(
            "source", "doc_id", F.col("n_chars").cast("long").alias("x")
        )
    )
    m = d.groupBy("source").agg(
        F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean"
        )
    )
    ndim = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    r = two_phase_ranks(d, ["source"], "x", ["doc_id"]).join(
        F.broadcast(ndim), "source"
    )
    kept = r.where(
        (F.col("r") > F.expr(f"n div {_TRIM_DECI}"))
        & (F.col("r") <= F.expr(f"n - n div {_TRIM_DECI}"))
    )
    t = kept.groupBy("source").agg(
        F.min("n").cast("long").alias("n_docs"),
        F.expr(f"min(n) div {_TRIM_DECI}").cast("long").alias("n_trim"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 6).alias(
            "trimmed_mean"
        ),
    )
    return t.join(F.broadcast(m), "source").select(
        "source", "n_docs", "n_trim", "n_kept", "mean", "trimmed_mean"
    )


# --------------------------------------------------- Heaps'-law exponent
# The vocabulary-growth curve: Heaps' law says distinct types grow as
# V(n) ≈ K·n^β in corpus tokens n, with β ≈ 0.4–0.6 for natural
# language. A per-source β far from that band is a curation signal the
# single-point TTR (q_vocab_growth) cannot see: template spam saturates
# (β → 0, the vocabulary stops growing), ID-/hash-bearing crawl junk
# keeps minting types (β → 1). The curve is sampled at G exact-integer
# document-rank checkpoints c_g = max(1, g·n div G) — the doc rank
# comes from util.two_phase_ranks, never a whole-source sort — and β is
# the OLS slope of ln(types) on ln(tokens) over the checkpoints (the
# q_zipf_slope closed form: five per-source sums over ≤G rows, ROUND
# once after).
_HEAPS_G = 8


@_q(
    "q_heaps_law",
    f"""
    WITH d AS (SELECT source, doc_id, {ntok_sql('text')} AS ntok,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY doc_id) AS r,
                      text
               FROM documents),
    n AS (SELECT source, CAST(COUNT(*) AS bigint) AS n
          FROM d GROUP BY source),
    g AS (SELECT source, CAST(gg.g AS int) AS g,
                 GREATEST(1, (gg.g * n.n) // {_HEAPS_G}) AS c
          FROM n, unnest(generate_series(1, {_HEAPS_G})) gg(g)),
    tok AS (SELECT g.source, g.g, CAST(SUM(d.ntok) AS bigint) AS tokens
            FROM g JOIN d ON d.source = g.source AND d.r <= g.c
            GROUP BY g.source, g.g),
    occ AS (SELECT source, r,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS w
            FROM d),
    wfr AS (SELECT source, w, CAST(MIN(r) AS bigint) AS fr
            FROM occ GROUP BY source, w),
    typ AS (SELECT g.source, g.g, CAST(COUNT(*) AS bigint) AS types
            FROM g JOIN wfr ON wfr.source = g.source AND wfr.fr <= g.c
            GROUP BY g.source, g.g),
    fit AS (SELECT t.source, t.g,
                   ln(CAST(t.tokens AS double)) AS x,
                   ln(CAST(y.types AS double)) AS y
            FROM tok t JOIN typ y USING (source, g)
            WHERE t.tokens > 0 AND y.types > 0),
    s AS (SELECT source, CAST(COUNT(*) AS bigint) AS n_fit,
                 SUM(x * y) AS sxy, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx
          FROM fit GROUP BY source)
    SELECT s.source, n.n AS n_docs, tt.tokens AS n_tokens,
           ty.types AS n_types, s.n_fit,
           ROUND((s.n_fit * s.sxy - s.sx * s.sy)
                 / NULLIF(s.n_fit * s.sxx - s.sx * s.sx, 0.0), 6) + 0.0
             AS beta
    FROM s JOIN n USING (source)
    JOIN tok tt ON tt.source = s.source AND tt.g = {_HEAPS_G}
    JOIN typ ty ON ty.source = s.source AND ty.g = {_HEAPS_G}
    """,
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Heaps exponent β with the full-corpus totals (the
    g={_HEAPS_G} checkpoint is exactly the whole source, so n_tokens /
    n_types reconcile with q_vocab_growth by construction). Degenerate
    curves (all checkpoints at the same token count) yield NULL via the
    zero denominator; checkpoints with zero tokens or types are
    excluded from the fit on both engines by the same rule.

    Scale: doc ranks via two_phase_ranks (no whole-source sort); the
    (source, word) first-occurrence agg is the only vocabulary-scale
    exchange; both checkpoint scans join the broadcast O(sources×G)
    grid with ≤G fan-out per row — never a rank-ordered window over
    the corpus; the fit runs on ≤G rows per source."""
    from .util import two_phase_ranks

    G = _HEAPS_G
    d0 = spread(
        load(spark, sf_dir, "documents").select("source", "doc_id", "text")
    )
    d = two_phase_ranks(
        d0.select(
            "source", "doc_id", ntok_col("text").alias("ntok"), "text"
        ),
        ["source"],
        "doc_id",
        [],
    )
    n = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = n.select(
        "source",
        F.explode(F.expr(f"sequence(1, {G})")).alias("g"),
        "n",
    ).select(
        "source",
        F.col("g").cast("int").alias("g"),
        F.greatest(F.lit(1).cast("long"), F.expr(f"(g * n) div {G}")).alias(
            "c"
        ),
    )
    # the grid derives FROM d (via n), so rename its key to break the
    # self-join lineage ambiguity before the range joins
    grid = g.select(
        F.col("source").alias("gsource"), "g", "c"
    )
    tok = (
        d.join(
            F.broadcast(grid),
            (d["source"] == grid["gsource"]) & (d["r"] <= grid["c"]),
        )
        .groupBy(F.col("gsource").alias("source"), "g")
        .agg(F.sum("ntok").cast("long").alias("tokens"))
    )
    occ = d.select(
        "source",
        "r",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("w"),
    )
    wfr = occ.groupBy("source", "w").agg(
        F.min("r").cast("long").alias("fr")
    )
    typ = (
        wfr.join(
            F.broadcast(grid),
            (wfr["source"] == grid["gsource"]) & (wfr["fr"] <= grid["c"]),
        )
        .groupBy(F.col("gsource").alias("source"), "g")
        .agg(F.count(F.lit(1)).cast("long").alias("types"))
    )
    fit = (
        tok.join(typ, ["source", "g"])
        .where((F.col("tokens") > 0) & (F.col("types") > 0))
        .select(
            "source",
            F.log(F.col("tokens").cast("double")).alias("x"),
            F.log(F.col("types").cast("double")).alias("y"),
        )
    )
    s = fit.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_fit"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # "+ 0.0" (both renderings) collapses IEEE -0.0 — a saturated
    # vocabulary makes the slope EXACTLY zero and the two engines can
    # land on opposite zero signs
    beta = (
        F.round(
            (F.col("n_fit") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.nullif(
                F.col("n_fit") * F.col("sxx") - F.col("sx") * F.col("sx"),
                F.lit(0.0),
            ),
            6,
        )
        + F.lit(0.0)
    )
    tt = tok.where(F.col("g") == G).select(
        "source", F.col("tokens").alias("n_tokens")
    )
    ty = typ.where(F.col("g") == G).select(
        "source", F.col("types").alias("n_types")
    )
    return (
        s.join(F.broadcast(n), "source")
        .join(F.broadcast(tt), "source")
        .join(F.broadcast(ty), "source")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            "n_tokens",
            "n_types",
            "n_fit",
            beta.alias("beta"),
        )
    )


# --------------------------------------------- source-pair JS divergence
# Distribution-grain mirror detection: the Jensen–Shannon divergence
# between every pair of sources' unigram distributions — two crawls of
# the same site (or a laundered re-host) read as near-identical
# DISTRIBUTIONS even when content-grain dedup (q_source_overlap's
# shared windows, q_mirror_attribution's hashes) misses paraphrased or
# re-chunked copies. JSD(p, q) = ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(p+q)),
# bounded by ln 2; the one-sided tails (words the other source never
# uses) collapse to closed form: Σ_{w∉q} p·ln2 = (1 − P_shared)·ln 2,
# so only SHARED words need a term. Every ln argument is a ratio of
# exact integers (2·c_a·t_b / (c_a·t_b + c_b·t_a)); per-pair sums of
# those doubles round once at the end (the q_source_kl precedent).
#
# Scale: NO corpus self-join — the q_source_overlap pattern: per word,
# ONE aggregation collects the ≤S per-source counts, ordered pairs
# expand IN-ROW (≤S²/2 structs per word), and the final rollup is
# O(S²) groups; the token-total dim is O(S) broadcast. The oracle
# keeps the equivalent self-join formulation as the independent
# cross-check. Pairs sharing no word emit no row (their JSD is exactly
# ln 2 — nothing to measure; a pair with no shared support is absent,
# not a zero row).
# Integer headroom: c·t stays under 2^63 while c·t < 9.2e18 — past
# ~10^9-token sources the products move to decimal(38).


@_q(
    "q_source_jsd",
    """
    WITH sw AS (SELECT source, w, CAST(COUNT(*) AS bigint) AS c
                FROM (SELECT source,
                             unnest(list_filter(string_split(lower(text),
                                                             ' '),
                                                x -> x <> '')) AS w
                      FROM documents)
                GROUP BY source, w),
    st AS (SELECT source, CAST(SUM(c) AS bigint) AS t
           FROM sw GROUP BY source),
    sh AS (SELECT a.source AS sa, b.source AS sb, a.c AS ca, b.c AS cb,
                  ta.t AS ta, tb.t AS tb
           FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
           JOIN st ta ON ta.source = a.source
           JOIN st tb ON tb.source = b.source),
    ag AS (SELECT sa, sb,
                  CAST(COUNT(*) AS bigint) AS n_shared,
                  CAST(MIN(ta) AS bigint) AS ta,
                  CAST(MIN(tb) AS bigint) AS tb,
                  CAST(SUM(ca) AS bigint) AS sca,
                  CAST(SUM(cb) AS bigint) AS scb,
                  SUM((CAST(ca AS double) / ta)
                      * ln(2.0 * ca * tb / (ca * tb + cb * ta)))
                    AS terma,
                  SUM((CAST(cb AS double) / tb)
                      * ln(2.0 * cb * ta / (ca * tb + cb * ta)))
                    AS termb
           FROM sh GROUP BY sa, sb)
    SELECT sa AS source_a, sb AS source_b, n_shared,
           ROUND(0.5 * (terma + (1.0 - CAST(sca AS double) / ta) * ln(2.0))
                 + 0.5 * (termb + (1.0 - CAST(scb AS double) / tb)
                          * ln(2.0)), 6) AS jsd
    FROM ag
    """,
)
def q_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source-pair unigram Jensen–Shannon divergence (nats,
    ≤ ln 2 ≈ 0.693) with the shared-word count — near 0 flags
    distribution-level mirrors, near ln 2 flags disjoint domains."""
    docs = spread(load(spark, sf_dir, "documents").select("source", "text"))
    sw = (
        docs.select(
            "source",
            F.explode(
                F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    st = sw.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    grp = sw.groupBy("w").agg(
        F.array_sort(F.collect_list(F.struct("source", "c"))).alias("ss")
    )
    from .util import inrow_pairs_expr

    pairs = grp.where(F.size("ss") >= 2).select(
        F.explode(
            F.expr(
                inrow_pairs_expr(
                    "ss",
                    lambda i, j: (
                        f"element_at(ss, {i}).source as sa,"
                        f" element_at(ss, {i}).c as ca,"
                        f" element_at(ss, {j}).source as sb,"
                        f" element_at(ss, {j}).c as cb"
                    ),
                )
            )
        ).alias("p")
    ).select("p.*")
    ta = st.select(F.col("source").alias("sa"), F.col("t").alias("ta"))
    tb = st.select(F.col("source").alias("sb"), F.col("t").alias("tb"))
    sh = pairs.join(F.broadcast(ta), "sa").join(F.broadcast(tb), "sb")
    terma = (F.col("ca").cast("double") / F.col("ta")) * F.log(
        2.0
        * F.col("ca")
        * F.col("tb")
        / (F.col("ca") * F.col("tb") + F.col("cb") * F.col("ta"))
    )
    termb = (F.col("cb").cast("double") / F.col("tb")) * F.log(
        2.0
        * F.col("cb")
        * F.col("ta")
        / (F.col("ca") * F.col("tb") + F.col("cb") * F.col("ta"))
    )
    ag = sh.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared"),
        F.min("ta").cast("long").alias("ta"),
        F.min("tb").cast("long").alias("tb"),
        F.sum("ca").cast("long").alias("sca"),
        F.sum("cb").cast("long").alias("scb"),
        F.sum(terma).alias("terma"),
        F.sum(termb).alias("termb"),
    )
    jsd = F.round(
        0.5
        * (
            F.col("terma")
            + (1.0 - F.col("sca").cast("double") / F.col("ta"))
            * F.log(F.lit(2.0))
        )
        + 0.5
        * (
            F.col("termb")
            + (1.0 - F.col("scb").cast("double") / F.col("tb"))
            * F.log(F.lit(2.0))
        ),
        6,
    )
    return ag.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "n_shared",
        jsd.alias("jsd"),
    )


# ------------------------------------------------- exact decile grid
# The buffering-free exact quantile path: q_length_quantiles is the
# interpolated anchor but its exact `percentile` buffers a whole
# source's values inside one aggregation buffer (documented there as
# the at-scale caveat). This op closes that caveat: each decile is an
# ORDER STATISTIC — the value at rank ceil(q·n/10) under the
# deterministic (value, doc_id) order — selected by rank-position
# filter over util.two_phase_ranks, so nothing ever buffers more than
# a value bucket and every output is an exact corpus integer (the
# lower empirical quantile, no interpolation — deciles of an integer
# column are integers).


@_q(
    "q_decile_grid",
    """
    WITH d AS (SELECT source, doc_id, CAST(n_chars AS bigint) AS x
               FROM documents),
    r AS (SELECT source, x,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY x, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM d),
    g AS (SELECT source, x, rn, n, gg.q AS q
          FROM r, unnest(generate_series(1, 9)) gg(q)
          WHERE rn = (gg.q * n + 9) // 10)
    SELECT source, CAST(q AS int) AS q, CAST(MIN(n) AS bigint) AS n_docs,
           CAST(MIN(x) AS bigint) AS value
    FROM g GROUP BY source, q
    """,
)
def q_decile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact deciles of n_chars (q = 1..9, value at rank
    ceil(q·n/10), ties and positions deterministic) — the exact-integer
    quantile table with NO per-group buffering: ranks come from
    util.two_phase_ranks and each decile is one rank-position filter
    against the broadcast count dim. A rank can satisfy several q's
    in tiny groups (ceil collisions); the oracle's row-grain rule is
    identical, so the row set matches exactly.

    Scale: one corpus exchange (the rank pass, value-bucketed), a
    9-row in-row grid expansion on the already-ranked frame, and an
    O(sources×9) rollup."""
    from .util import two_phase_ranks

    d = spread(
        load(spark, sf_dir, "documents").select(
            "source", "doc_id", F.col("n_chars").cast("long").alias("x")
        )
    )
    ndim = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    r = two_phase_ranks(d, ["source"], "x", ["doc_id"]).join(
        F.broadcast(ndim), "source"
    )
    g = r.select(
        "source",
        "x",
        "r",
        "n",
        F.explode(F.expr("sequence(1, 9)")).alias("q"),
    ).where(F.col("r") == F.expr("(q * n + 9) div 10"))
    return g.groupBy("source", F.col("q").cast("int").alias("q")).agg(
        F.min("n").cast("long").alias("n_docs"),
        F.min("x").cast("long").alias("value"),
    )
