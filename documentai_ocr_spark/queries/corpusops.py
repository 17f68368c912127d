"""Corpus-maintenance operators over ``documents``: trigram heavy
hitters, exact-k per-source sampling (two-phase hash-threshold form),
unicode text normalization, and a bloom-filter membership prefilter.

These are the corpus-hygiene half of a training-data pipeline: heavy
hitters feed boilerplate/contamination lists, exact-k sampling builds
balanced eval slices, normalization canonicalizes text before hashing
(the reference normalizes filenames and payload strings before keying,
/root/reference/mocov1/cls/pdpd/datapreprocess.py:20-44 — same
canonicalize-then-key discipline), and the bloom filter answers "did a
prior snapshot already contain this content?" without shuffling the
prior snapshot.

Scale notes per operator live on the functions; the shared discipline:
one corpus-wide aggregation each, map-side partial aggregation does the
heavy lifting, and anything collected to the driver is a fixed-size
sketch or a #sources-sized dimension — never data-proportional.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .util import (
    content_hash_col,
    content_hash_sql,
    load,
    ntok_col,
    ntok_sql,
    spread,
    words_sql,
)

QUERIES: dict = {}
ORACLES: dict = {}


def _q(name: str, sql: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return reg


# --------------------------------------------------------- trigram top-k
_NGRAM_TOPK = 100


@_q(
    "q_ngram_topk",
    f"""
    WITH tok AS (
      SELECT list_filter(string_split(lower(text), ' '),
                         x -> x <> '') AS t
      FROM documents
    ),
    tri AS (
      SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS ngram
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, len(t) - 2)) AS i
      ) g
    )
    SELECT ngram, CAST(COUNT(*) AS bigint) AS cnt
    FROM tri GROUP BY ngram
    ORDER BY cnt DESC, ngram ASC LIMIT {_NGRAM_TOPK}
    """,
)
def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide trigram heavy hitters (_NGRAM_TOPK by count, ngram-asc
    tiebreak so the cut is deterministic). The n-gram list is the raw
    material for boilerplate detection and contamination screens.

    Scale: trigram generation is narrow (transform over the token
    array, no explode until the aggregation input); the single groupBy
    is hash-aggregated with map-side partials, so the shuffle carries
    one row per (partition, distinct-trigram) — repeated boilerplate
    collapses before the exchange. The top-k is TakeOrderedAndProject
    (per-partition heap, k rows to the driver), never a global sort.
    """
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    d = spread(load(spark, sf_dir, "documents")).select(toks.alias("t"))
    # sequence(1, n) descends when n < 1 — guard short docs to an empty
    # trigram list instead
    tri = F.when(
        F.size("t") >= 3,
        F.expr(
            "transform(sequence(1, size(t) - 2),"
            "          i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(tri).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(_NGRAM_TOPK)
    )


# ------------------------------------------------- exact-k sample / source
_SAMPLE_K = 40


@_q(
    "q_exact_k_sample",
    f"""
    WITH h AS (
      SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh
      FROM documents
    ),
    r AS (
      SELECT source, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY hh, doc_id) AS int)
               AS sample_rank
      FROM h
    )
    SELECT source, doc_id, sample_rank
    FROM r WHERE sample_rank <= {_SAMPLE_K}
    """,
)
def q_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-source deterministic sample: rank rows by
    md5(doc_id) within each source, keep the k smallest. The md5 order
    is a replayable uniform shuffle, so this is "uniform sample of
    exactly k docs per domain" — the balanced-eval-slice builder.

    Scale (the reason this is not just a window): a window over
    PARTITION BY source sorts the *entire corpus* inside a handful of
    hot source partitions — one reducer per domain at 100 TB. Instead,
    two-phase hash-threshold refinement: (1) per-source counts (one
    tiny aggregate) set a hash cutoff t ≈ (k + 6√k + 16)/n, so the
    candidate filter passes ~k+O(√k) rows per source map-side; (2) the
    exact window runs over only those candidates. A Chernoff bound
    makes an undershoot astronomically rare, but correctness never
    rests on it: a verification count re-windows any deficient source
    over its full rows, so the output is exactly the oracle's k.
    """
    k = _SAMPLE_K
    d = load(spark, sf_dir, "documents").select("source", "doc_id")
    d = d.withColumn("hh", F.md5(F.col("doc_id").cast("string")))
    # hex md5 compares lexicographically == numerically; the fraction
    # form of the first 8 nibbles drives the threshold prefilter
    frac = F.conv(F.substring("hh", 1, 8), 16, 10).cast("double") / F.lit(
        float(1 << 32)
    )
    slack = k + 6.0 * math.sqrt(k) + 16.0
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    thr = F.least(F.lit(1.0), F.lit(slack) / F.col("n_src"))
    dims = counts.select("source", thr.alias("thr"), "n_src")
    cand = d.join(F.broadcast(dims), "source").where(frac <= F.col("thr"))

    w = Window.partitionBy("source").orderBy("hh", "doc_id")
    ranked = cand.withColumn("sample_rank", F.row_number().over(w)).select(
        "source", "doc_id", "sample_rank"
    )

    # verification: every source must yield min(k, n) rows; a deficient
    # source (possible only if the Chernoff tail fired) is re-ranked
    # over its complete row set. Anchored on the FULL per-source counts
    # dim (left join, missing→0) so a source with ZERO candidates —
    # every row hashed above the threshold — is still flagged rather
    # than silently vanishing; the check touches only candidate rows
    # plus the tiny dim.
    ncand = cand.groupBy("source").agg(F.count(F.lit(1)).alias("n_cand"))
    got = counts.join(ncand, "source", "left").select(
        "source",
        F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
        "n_src",
    )
    deficient = [
        r.source
        for r in got.where(
            F.col("n_cand") < F.least(F.lit(k), F.col("n_src"))
        ).collect()
    ]
    if deficient:  # pragma: no cover — Chernoff tail; exists for proof
        full = (
            d.where(F.col("source").isin(deficient))
            .withColumn("sample_rank", F.row_number().over(w))
            .select("source", "doc_id", "sample_rank")
        )
        ranked = ranked.where(
            ~F.col("source").isin(deficient)
        ).unionByName(full)
    return ranked.where(F.col("sample_rank") <= k)


# ------------------------------------------------------- unicode normalize
# deterministic non-ASCII decoration so the gate actually exercises NFC
# composition cross-engine (the driver corpus is pure ASCII): doc_id%3
# picks a decomposed-form prefix; both engines build the identical
# decorated string, then normalize.
_DECOR = ["café ", "éclair ", "Å "]  # é, é, Å decomposed


@_q(
    "q_text_normalize",
    f"""
    WITH decorated AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS int)
               WHEN 0 THEN '{_DECOR[0]}' WHEN 1 THEN '{_DECOR[1]}'
               ELSE '{_DECOR[2]}' END || text || '  \t trailing' AS raw
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(nfc_normalize(raw),
                            '[\\x00-\\x1F\\x7F]', '', 'g'),
             ' +', ' ', 'g')) AS norm_text
    FROM decorated
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization: NFC-compose, strip control characters,
    collapse space runs, trim — the pass that runs before any
    content-hash dedup so that byte-distinct, canonically-equal texts
    key together (é as U+0065 U+0301 vs U+00E9).

    Spark has no built-in NFC, so this is the honest vectorized-UDF
    path: an Arrow-batched pandas UDF using pandas' .str.normalize —
    narrow, no shuffle, scales with input splits. The control-strip and
    space-collapse stay in the same batch pass (one string traversal
    family per batch rather than three Catalyst regex nodes on top of a
    UDF boundary crossing).
    """
    @F.pandas_udf("string")
    def nfc_clean(s):
        return (
            s.str.normalize("NFC")
            .str.replace("[\x00-\x1f\x7f]", "", regex=True)
            .str.replace(" +", " ", regex=True)
            .str.strip()
        )

    d = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    decor = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_DECOR[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_DECOR[1]))
        .otherwise(F.lit(_DECOR[2]))
    )
    raw = F.concat(decor, F.col("text"), F.lit("  \t trailing"))
    return d.select("doc_id", nfc_clean(raw).alias("norm_text"))


# ---------------------------------------------------- bloom membership
_BLOOM_BITS = 1 << 18  # 262144 bits = 4096 longs = 32 KiB sketch
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_SEEDS = 4


def _bloom_positions(col, seed: int):
    """Bit position for (value, seed): xxhash64 over a seed-prefixed
    value, folded into the table. pmod keeps it non-negative."""
    return F.pmod(
        F.xxhash64(F.concat(F.lit(f"s{seed}:"), col)), F.lit(_BLOOM_BITS)
    )


def bloom_build(corpus: DataFrame, col: str) -> list:
    """Build the bloom sketch over ``corpus[col]``: each value sets
    _BLOOM_SEEDS bits; per-word OR-aggregation happens distributed
    (groupBy word → bit_or, map-side partials collapse duplicate words
    long before the exchange carries at most _BLOOM_WORDS rows per map
    task); only the finished 4096-long sketch is collected. At larger
    m (a 100-TB corpus wants ~2^33 bits) the same plan holds — the
    collect is m/64 longs regardless of corpus size, and the broadcast
    to probers is the standard torrent broadcast.
    """
    pos = corpus.select(
        F.explode(
            F.array(
                *[
                    _bloom_positions(F.col(col), s)
                    for s in range(_BLOOM_SEEDS)
                ]
            )
        ).alias("pos")
    )
    words = (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    arr = [0] * _BLOOM_WORDS
    for r in words:
        arr[r.word] = r.bits
    return arr


def bloom_probe(batch: DataFrame, col: str, sketch: list) -> DataFrame:
    """Add ``maybe_dup``: True iff all _BLOOM_SEEDS bits for
    ``batch[col]`` are set in the sketch. No false negatives by
    construction; false positives bounded by (set-bit density)^k. The
    sketch rides in as a one-row broadcast dimension, so the probe is a
    narrow map over the batch — the prior snapshot itself never moves.
    """
    spark = batch.sparkSession
    sk = spark.createDataFrame([(sketch,)], "bloom array<bigint>")
    out = batch.crossJoin(F.broadcast(sk))
    hit = None
    for s in range(_BLOOM_SEEDS):
        # build and probe share the ONE bit-position formula
        # (_bloom_positions) — a seed/hash/size change can never
        # desynchronize the two sides and break no-false-negatives
        out = out.withColumn(f"_pos{s}", _bloom_positions(F.col(col), s))
        word = F.element_at("bloom", (F.col(f"_pos{s}") / 64).cast("int") + 1)
        bit = F.expr(f"shiftleft(1L, cast(_pos{s} % 64 as int))")
        term = (word.bitwiseAND(bit)) != 0
        hit = term if hit is None else (hit & term)
    return out.withColumn("maybe_dup", hit).drop(
        "bloom", *[f"_pos{s}" for s in range(_BLOOM_SEEDS)]
    )


@_q("x_bloom_dedup")  # xxhash64 sketch — not DuckDB-expressible; the
#                       no-false-negative property is pytest-gated
def x_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-snapshot membership screen: build a bloom sketch
    over the current corpus' normalized content hashes, then probe an
    incoming batch (here: half replayed docs, half genuinely-new
    perturbations) for "content the corpus may already contain". The
    cheap prefilter in front of the exact anti-join — only
    maybe_dup=True rows need the authoritative lookup, so the exact
    join's probe side shrinks by the true-new fraction (most of a
    fresh crawl).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    ch = content_hash_col()
    corpus = d.select(ch.alias("h"))
    sketch = bloom_build(corpus, "h")

    replay = d.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", F.lit(False).alias("is_new")
    )
    fresh = d.where(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" entirely new suffix")).alias("text"),
        F.lit(True).alias("is_new"),
    )
    batch = replay.unionByName(fresh).withColumn("h", ch)
    return bloom_probe(batch, "h", sketch).select(
        "doc_id", "is_new", "maybe_dup"
    )


# ------------------------------------------- repeated-substring removal
# Exact substring dedup in the style of "Deduplicating Training Data
# Makes Language Models Better" (Lee et al., 2022): any K-token window
# whose content occurs more than once in the corpus marks its tokens
# for removal; overlapping marked windows merge into spans. The
# deterministic boilerplate injection (docs with doc_id%5==0 share an
# identical 12-token suffix) guarantees the op has real work to do on
# the synthetic corpus — both engines build the identical decorated
# input before deduplicating.
_DUP_K = 8
_BOILER = (
    "subscribe to our newsletter for updates"
    " follow us on social media today"
)


@_q(
    "q_substring_dedup",
    f"""
    WITH decorated AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' {_BOILER}'
                  ELSE text END AS raw
      FROM documents
    ),
    tok AS (
      SELECT doc_id,
             list_filter(string_split(lower(raw), ' '),
                         x -> x <> '') AS t
      FROM decorated
    ),
    win AS (
      SELECT doc_id, i,
             array_to_string(t[i:i+{_DUP_K - 1}], ' ') AS wk
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, len(t) - {_DUP_K - 1})) AS i
      ) g
    ),
    dup AS (SELECT wk FROM win GROUP BY wk HAVING COUNT(*) > 1),
    hit AS (SELECT doc_id, i FROM win JOIN dup USING (wk)),
    cover AS (
      SELECT DISTINCT doc_id, i + d AS p
      FROM hit, LATERAL (
        SELECT unnest(generate_series(0, {_DUP_K - 1})) AS d
      ) g
    ),
    isl AS (
      SELECT doc_id, p,
             p - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY p) AS grp
      FROM cover
    ),
    spans AS (
      SELECT doc_id,
             COUNT(DISTINCT grp) AS n_dup_spans,
             COUNT(*) AS n_removed
      FROM isl GROUP BY doc_id
    ),
    pos AS (
      SELECT doc_id, i AS p, t[i] AS w
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, len(t))) AS i
      ) g
    ),
    kept AS (
      SELECT pos.doc_id,
             string_agg(w, ' ' ORDER BY p) AS clean_text
      FROM pos
      ANTI JOIN cover
        ON pos.doc_id = cover.doc_id AND pos.p = cover.p
      GROUP BY pos.doc_id
    )
    SELECT tok.doc_id,
           CAST(COALESCE(spans.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(spans.n_removed, 0) AS BIGINT) AS n_removed,
           COALESCE(kept.clean_text, '') AS clean_text
    FROM tok
    LEFT JOIN spans USING (doc_id)
    LEFT JOIN kept USING (doc_id)
    """,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring removal: every {K}-token window
    occurring >1 time corpus-wide marks its token positions; marked
    positions merge into spans (gaps-and-islands); the doc is rewritten
    without them. Returns per doc: span count, removed-token count, and
    the cleaned text — the document-rewriting half of dedup that hash
    dedup (whole-doc) and minhash (near-whole-doc) cannot express.

    Scale: the one corpus-wide exchange is the window-content groupBy —
    inherent to the op (the suffix-array formulation needs a global sort
    of comparable volume). Windows shuffle as 8-byte xxhash64 keys, not
    ~50-B strings (collision odds ~n²/2⁶⁵; the DuckDB oracle groups the
    full strings, so the gate doubles as a collision check). At sf0.1
    the key narrowing is measurement-neutral (warm 1.5–2.2 s both
    forms, back-to-back) — the payoff is shuffle bytes at corpus
    scale, where the exchange IS the bill. The
    cover explode is ×{K} on *duplicated* windows only (a small corpus
    fraction), the islands window and rewrite aggregation both partition
    by doc_id — no skew beyond a doc's own length, and the rewrite
    collect_list is bounded by the longest single document exactly like
    the extraction assembler."""
    k = _DUP_K
    raw = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" " + _BOILER)),
    ).otherwise(F.col("text"))
    toks = F.filter(F.split(F.lower(raw), " "), lambda t: t != "")
    # referenced by three branches (windows, positions, final ids) —
    # deliberately NOT cached: materializing the token arrays of a
    # 100-TB corpus is worse than re-running a pruned scan + narrow
    # tokenize per branch
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", toks.alias("t")
    )
    # windows carry an 8-byte xxhash64 of their content, not the ~50-B
    # string: the window-content groupBy is THE corpus-wide exchange of
    # this op, so key width is the shuffle bill (collision odds across
    # 2^64 are ~n²/2⁶⁵ — the DuckDB oracle still groups full strings, so
    # the gate would catch a collision as a value mismatch)
    win = d.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") >= k,
                F.expr(
                    f"transform(sequence(1, size(t) - {k - 1}),"
                    f" i -> struct(i as i,"
                    f"  xxhash64(concat_ws(' ', slice(t, i, {k}))) as wk))"
                ),
            ).otherwise(
                F.array().cast("array<struct<i:int,wk:bigint>>")
            )
        ).alias("x"),
    ).select("doc_id", "x.i", "x.wk")
    dup = (
        win.groupBy("wk")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("wk")
    )
    hit = win.join(dup, "wk").select("doc_id", "i")
    cover = hit.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("i"), F.col("i") + F.lit(k - 1))
        ).alias("p"),
    ).distinct()
    wisl = Window.partitionBy("doc_id").orderBy("p")
    spans = (
        cover.withColumn("grp", F.col("p") - F.row_number().over(wisl))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("grp").alias("n_dup_spans"),
            F.count(F.lit(1)).alias("n_removed"),
        )
    )
    pos = d.select(
        "doc_id", F.posexplode("t").alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    kept = (
        pos.join(cover, ["doc_id", "p"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(p, w))), x -> x.w), ' ')"
            ).alias("clean_text")
        )
    )
    return (
        d.select("doc_id")
        .join(spans, "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias(
                "n_removed"
            ),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# ------------------------------------------------- snapshot CDC diff
@_q(
    "q_snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents
    ),
    new_snap AS (
      SELECT CASE WHEN doc_id % 13 = 0 THEN doc_id + 1000000
                  ELSE doc_id END AS doc_id,
             md5(CASE WHEN doc_id % 13 = 0 THEN text || ' brand new'
                      WHEN doc_id % 7 = 0 THEN text || ' rev2'
                      ELSE text END) AS h
      FROM documents
      WHERE doc_id % 11 <> 0 OR doc_id % 13 = 0
    )
    SELECT COALESCE(old.doc_id, new_snap.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new_snap.doc_id IS NULL THEN 'removed'
                WHEN old.h <> new_snap.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old FULL OUTER JOIN new_snap ON old.doc_id = new_snap.doc_id
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two corpus snapshots: full outer join
    on the document key, classify each id as added / removed / changed
    (content hash differs) / unchanged. The second snapshot is derived
    deterministically from the first (every 11th doc deleted, every 7th
    revised, every 13th re-keyed as a new doc) so both engines diff the
    identical pair.

    Scale: both sides project to (doc_id, md5) BEFORE the join, so the
    exchange carries 8+16 bytes per row instead of document text. At
    100 TB both snapshots live bucketed by doc_id (bucketing.py), making
    this a zero-shuffle sort-merge join; incremental runs diff only the
    partitions the new snapshot touched."""
    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    old = base.select("doc_id", F.md5("text").alias("h"))
    surv = F.col("doc_id") % 11 != 0
    rekey = F.col("doc_id") % 13 == 0
    new_snap = base.where(surv | rekey).select(
        F.when(rekey, F.col("doc_id") + 1000000)
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        F.md5(
            F.when(rekey, F.concat("text", F.lit(" brand new")))
            .when(
                F.col("doc_id") % 7 == 0,
                F.concat("text", F.lit(" rev2")),
            )
            .otherwise(F.col("text"))
        ).alias("h"),
    )
    j = old.alias("o").join(
        new_snap.alias("n"),
        F.col("o.doc_id") == F.col("n.doc_id"),
        "full_outer",
    )
    return j.select(
        F.coalesce("o.doc_id", "n.doc_id").alias("doc_id"),
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("o.h") != F.col("n.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


# --------------------------------------------- deterministic epoch shuffle
_EPOCH_SEED = "epoch7:"
_RANK_BUCKETS = 32


@_q(
    "q_epoch_shuffle",
    f"""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             ORDER BY md5('{_EPOCH_SEED}' || CAST(doc_id AS VARCHAR)),
                      doc_id) AS BIGINT) AS epoch_rank
    FROM documents
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order for one epoch: rank every doc
    by md5(seed || doc_id) — a replayable uniform permutation (change
    the seed string per epoch for a fresh order).

    Scale — global rank WITHOUT the single-reducer window: a naive
    ROW_NUMBER() OVER (ORDER BY ...) funnels the whole corpus through
    one task. Instead: (1) bucket rows by the hash key's first byte into
    {_RANK_BUCKETS} fixed equal-width ranges — deterministic (no sampled
    RangePartitioner) and balanced because md5 is uniform; bucket order
    is a prefix of full-key order, so ranking bucket-by-bucket equals
    the global ranking. (2) One tiny aggregate collects per-bucket
    counts ({_RANK_BUCKETS} rows) → driver prefix-sum → broadcast
    offset dim. (3) row_number runs per bucket (corpus/{_RANK_BUCKETS}
    rows each, no hot reducer) and adds the bucket offset. Two passes
    over (doc_id, 16-byte hash) — never over the text. At 1000
    executors raise _RANK_BUCKETS to O(cores); the offset dim stays
    tiny."""
    key = F.md5(
        F.concat(F.lit(_EPOCH_SEED), F.col("doc_id").cast("string"))
    )
    width = 256 // _RANK_BUCKETS
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("k", key)
        .withColumn(
            "bucket",
            (
                F.conv(F.substring("k", 1, 2), 16, 10).cast("int")
                / F.lit(width)
            ).cast("int"),
        )
    )
    cnts = {
        r.bucket: r.c
        for r in d.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offs, acc = [], 0
    for b in range(_RANK_BUCKETS):
        offs.append((b, acc))
        acc += cnts.get(b, 0)
    dim = spark.createDataFrame(offs, "bucket int, off long")
    wb = Window.partitionBy("bucket").orderBy("k", "doc_id")
    return (
        d.join(F.broadcast(dim), "bucket")
        .withColumn(
            "epoch_rank",
            (F.col("off") + F.row_number().over(wb)).cast("long"),
        )
        .select("doc_id", "epoch_rank")
    )




def _token_windows(k: int, hashed: bool = False):
    """Explode-ready array of the k-token sliding windows of token-array
    column ``t`` (guarded to empty for short docs — sequence() descends
    when its bound is < 1). ``hashed=True`` emits each window as its
    60-bit md5-prefix BIGINT (the 8-byte shuffle-key form; DuckDB
    reproduces it as ('0x' || substr(md5(w), 1, 15))::bigint). ONE
    formula for every word-window operator in this module — build and
    probe sides can never drift apart."""
    gram = f"concat_ws(' ', slice(t, i, {k}))"
    if hashed:
        gram = f"CAST(conv(substr(md5({gram}), 1, 15), 16, 10) AS bigint)"
    return F.when(
        F.size("t") >= k,
        F.expr(f"transform(sequence(1, size(t) - {k - 1}), i -> {gram})"),
    ).otherwise(F.array().cast("array<bigint>" if hashed else "array<string>"))


# ------------------------------------------- benchmark decontamination
# The eval-set n-gram collision check every pretraining pipeline runs
# before training (GPT-3 appendix C / PaLM style): a training document
# is contaminated if it shares any K-token window with a benchmark
# document. Deterministic sentinel injection guarantees real overlap in
# the synthetic corpus: docs with doc_id%10==0 carry a benchmark
# sentence; the eval set is doc_id%50==0, so every train doc with
# 10|doc_id but not 50|doc_id is contaminated by construction.
_DECON_K = 8
_EVAL_SENTINEL = (
    "the quick benchmark asks what is the capital of france"
)


@_q(
    "q_decontaminate",
    f"""
    WITH decorated AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN text || ' {_EVAL_SENTINEL}'
                  ELSE text END AS raw
      FROM documents
    ),
    tok AS (
      SELECT doc_id,
             list_filter(string_split(lower(raw), ' '),
                         x -> x <> '') AS t
      FROM decorated
    ),
    win AS (
      SELECT doc_id, i,
             array_to_string(t[i:i+{_DECON_K - 1}], ' ') AS wk
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, len(t) - {_DECON_K - 1})) AS i
      ) g
    ),
    eval_keys AS (
      SELECT DISTINCT wk FROM win WHERE doc_id % 50 = 0
    )
    SELECT win.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hit_positions,
           CAST(COUNT(DISTINCT win.wk) AS BIGINT) AS n_shared_windows
    FROM win JOIN eval_keys USING (wk)
    WHERE win.doc_id % 50 <> 0
    GROUP BY win.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-probe decontamination: flag every TRAINING document
    sharing a _DECON_K-token window with any benchmark document, with
    hit counts. Complements dedup.q_contamination, which runs the same
    n-gram collision check in the opposite direction (which VAL docs
    overlap the train split) with a split-vs-split shingle equi-join;
    this variant exploits the benchmark side being tiny — the defining
    shape when the eval set is external (MMLU/GSM-style) rather than a
    held-out split.

    Scale: the benchmark side is tiny relative to the corpus (that is
    the defining shape of decontamination), so its distinct window keys
    BROADCAST onto the training window stream — the corpus is scanned
    once, tokenized narrowly, and never shuffled except for the final
    per-doc aggregation of the (small) hit set. At 100 TB join on
    xxhash64(window) (8 B keys) exactly as q_substring_dedup documents."""
    k = _DECON_K
    raw = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(F.col("text"), F.lit(" " + _EVAL_SENTINEL)),
    ).otherwise(F.col("text"))
    toks = F.filter(F.split(F.lower(raw), " "), lambda t: t != "")
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", toks.alias("t")
    )
    win = d.select(
        "doc_id", F.explode(_token_windows(k)).alias("wk")
    )
    eval_keys = (
        win.where(F.col("doc_id") % 50 == 0).select("wk").distinct()
    )
    return (
        win.where(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(eval_keys), "wk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_positions"),
            F.countDistinct("wk").cast("long").alias("n_shared_windows"),
        )
    )


# ------------------------------------------- weighted sample (A-ES keys)
# Weighted sampling-without-replacement via Efraimidis–Spirakis
# exponential race: each doc draws key = ln(u)/w with u deterministic
# from md5(doc_id) — the top-K keys ARE a weighted sample. This is the
# resampling half of importance-based selection (q_dsir_weights emits
# the weights; any weight column plugs in — here n_chars so the oracle
# stays self-contained). Deterministic u makes the sample reproducible
# and cross-engine identical.
_WSAMPLE_K = 100


@_q(
    "q_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT doc_id, source, CAST(n_chars AS bigint) AS n_chars,
             ln((('0x' || substr(md5('rs:' || doc_id), 1, 8))::bigint
                 + 0.5) / 4294967296.0) / n_chars AS race_key
      FROM documents
    )
    SELECT doc_id, source, n_chars, ROUND(race_key, 9) AS race_key
    FROM keyed
    ORDER BY race_key DESC, doc_id
    LIMIT {_WSAMPLE_K}
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} weighted sample without replacement: key = ln(u)/w,
    u = (md5-hash + 0.5)/2^32 — P(doc in sample) follows the classic
    A-ES weighted-reservoir guarantee, deterministically.

    Scale: no shuffle of the corpus at all — the key is a row-local
    expression and the top-K is TakeOrderedAndProject (per-partition
    heap + driver merge of K·n_partitions rows). The corpus-wide sort
    a naive ORDER BY would cost never happens."""
    k = _WSAMPLE_K
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("rs:"), F.col("doc_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = d.withColumn("race_key", F.log(u) / F.col("n_chars"))
    return (
        keyed.orderBy(F.col("race_key").desc(), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round("race_key", 9).alias("race_key"),
        )
    )


# --------------------------------------------------- overlapping chunking
# Retrieval/embedding prep: split every document into fixed-size token
# chunks with overlap (sliding window, stride < width), the standard
# RAG/embedding-index layout. A final chunk is anchored at n-w+1
# whenever the stride grid misses the document end, so every token is
# covered by at least one chunk (the tail is where answers live; plain
# strided chunking silently drops up to stride-1 trailing tokens).
# Chunk content is emitted as md5 so the gate hash-compares full
# payloads cheaply.
_CHUNK_W = 32
_CHUNK_STRIDE = 24


@_q(
    "q_chunk_text",
    f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         x -> x <> '') AS t
      FROM documents
    ),
    starts AS (
      SELECT doc_id, t, g.s
      FROM tok, LATERAL (
        SELECT unnest(generate_series(
          1, GREATEST(len(t) - {_CHUNK_W} + 1, 1), {_CHUNK_STRIDE})) AS s
      ) g
      UNION ALL
      SELECT doc_id, t, len(t) - {_CHUNK_W} + 1 AS s
      FROM tok
      WHERE len(t) > {_CHUNK_W}
        AND (len(t) - {_CHUNK_W}) % {_CHUNK_STRIDE} <> 0
    ),
    idx AS (
      SELECT doc_id, t, s,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY s) - 1 AS int) AS chunk_idx
      FROM starts
    )
    SELECT doc_id, chunk_idx,
           CAST(LEAST({_CHUNK_W}, len(t) - s + 1) AS int) AS n_tokens,
           md5(array_to_string(t[s:s+{_CHUNK_W - 1}], ' ')) AS chunk_md5
    FROM idx
    """,
)
def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunking (width {_CHUNK_W}, stride
    {_CHUNK_STRIDE}) with tail anchoring: chunk starts are the stride
    grid plus, when the grid misses the end, one final start at
    n-w+1 — full coverage, no token dropped.

    Scale: chunk starts come from an in-row sequence build + one
    posexplode — no window pass, no shuffle at all (the plan is scan →
    generate → project; chunk_idx is the explode ordinal, which equals
    the ascending-start rank the oracle's row_number computes); output
    size is corpus × w/stride, the inherent cost of overlap. Feeds
    q_embed_quantize / kNN as the indexing front end."""
    w, st = _CHUNK_W, _CHUNK_STRIDE
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", toks.alias("t")
    )
    starts = F.expr(
        f"concat("
        f" sequence(1, greatest(size(t) - {w} + 1, 1), {st}),"
        f" if(size(t) > {w} and (size(t) - {w}) % {st} != 0,"
        f"    array(size(t) - {w} + 1), array()))"
    )
    return d.select(
        "doc_id",
        "t",
        F.posexplode(starts).alias("chunk_idx", "s"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(
            F.lit(w), F.size("t") - F.col("s") + 1
        ).cast("int").alias("n_tokens"),
        F.md5(F.expr(f"concat_ws(' ', slice(t, s, {w}))")).alias(
            "chunk_md5"
        ),
    )


# --------------------------------------------------- count-min sketch
# Mergeable frequency sketch (Cormode & Muthukrishnan 2005): depth
# independent hash rows × width counters; estimate = min over rows.
# The fixed-size complement of the bloom filter (membership) for
# frequency questions — "how often does this token/url/shingle occur
# corpus-wide?" without a vocab-sized exact table. Build is ONE
# groupBy over (row, bucket) — (depth × width) cells regardless of
# corpus size, trivially mergeable across partitions/snapshots by
# cell-wise addition (the same partial-aggregation Spark already does
# map-side).
_CMS_DEPTH = 4
_CMS_WIDTH = 2048


def cms_build(df: DataFrame, col: str) -> DataFrame:
    """Build the sketch as a (d, bucket, cnt) DataFrame of at most
    depth × width rows."""
    # one corpus scan: the depth rows come from an in-row array explode,
    # not a per-depth unionAll (which would scan the corpus depth times)
    probes = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    F.abs(F.xxhash64(F.col(col), F.lit(d))) % _CMS_WIDTH
                ).alias("bucket"),
            )
            for d in range(_CMS_DEPTH)
        ]
    )
    return (
        df.select(F.explode(probes).alias("p"))
        .groupBy("p.d", "p.bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(candidates: DataFrame, col: str, sketch: DataFrame) -> DataFrame:
    """Point-estimate counts for a candidate column: min over the
    depth rows, sketch broadcast (it is ≤ depth×width cells)."""
    probes = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    F.abs(F.xxhash64(F.col(col), F.lit(d))) % _CMS_WIDTH
                ).alias("bucket"),
            )
            for d in range(_CMS_DEPTH)
        ]
    )
    u = candidates.select(F.col(col), F.explode(probes).alias("p")).select(
        col, "p.d", "p.bucket"
    )
    return (
        u.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(col)
        .agg(
            F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("est_cnt")
        )
    )


@_q("x_cms_heavyhitters")
def x_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter verification harness: estimate the exact top-20
    tokens' counts from the sketch next to their true counts. Rows-only
    registry entry (the sketch layout is hash-defined, not
    SQL-portable); the CMS guarantees — never an underestimate,
    overestimate ≤ (e/width)·N with high probability — are pinned in
    tests/test_corpusops.py."""
    docs = spread(load(spark, sf_dir, "documents").select("text"))
    tok = docs.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    sketch = cms_build(tok, "tok")
    top = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "tok")
        .limit(20)
    )
    return (
        cms_estimate(top.select("tok"), "tok", sketch)
        .join(top, "tok")
        .select("tok", "true_cnt", "est_cnt")
    )


# --------------------------------------------------- HLL cardinality
@_q("x_hll_cardinality")
def x_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch trilogy, part 3: distinct-token cardinality per source via
    HyperLogLog++ (approx_count_distinct, rsd 2%) next to the exact
    count. Membership → bloom (bloom_build), frequency → count-min
    (cms_build), cardinality → this: at 100 TB the exact side's
    (source, token) distinct is the expensive path (full dedup
    shuffle), the HLL side reduces map-side to a fixed ~4 KB register
    set per group and merges — the estimator a corpus dashboard runs
    hourly. Rows-only entry (register layouts are engine-specific);
    the relative-error bracket is pinned in tests."""
    docs = spread(load(spark, sf_dir, "documents").select("source", "text"))
    tok = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    return tok.groupBy("source").agg(
        F.countDistinct("tok").cast("long").alias("exact_distinct"),
        F.approx_count_distinct("tok", rsd=0.02)
        .cast("long")
        .alias("hll_distinct"),
    )


# ------------------------------------------- source-overlap matrix
# The source×source contamination matrix: how many distinct K-token
# windows each PAIR of sources shares — the audit that tells a curation
# team whether "independent" crawl slices are actually re-hosting the
# same content (mirror sites, syndication, scraped-twice domains). The
# per-pair counts directly size how much cross-source dedup will
# remove. Deterministic shared boilerplate on doc_id%7==0 guarantees
# the synthetic corpus has real cross-source overlap to count.
_OVL_K = 8
_OVL_BOILER = (
    "standard disclaimer this content is provided as is without warranty"
)


@_q(
    "q_source_overlap",
    f"""
    WITH decorated AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN text || ' {_OVL_BOILER}'
                  ELSE text END AS raw
      FROM documents
    ),
    tok AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(raw), ' '), x -> x <> '') AS t
      FROM decorated
    ),
    win AS (
      SELECT source,
             ('0x' || substr(md5(array_to_string(t[i:i+{_OVL_K - 1}], ' ')),
                             1, 15))::bigint AS hk
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, len(t) - {_OVL_K - 1})) AS i
      ) g
    ),
    sw AS (SELECT DISTINCT source, hk FROM win)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS bigint) AS n_shared_windows
    FROM sw a JOIN sw b ON a.hk = b.hk AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct shared _OVL_K-token windows per (source, source) pair.

    Scale: NO self-join — per window key, ONE aggregation collects the
    set of sources holding it (set size ≤ #sources S, a few dozen —
    never corpus-proportional, however hot the boilerplate window),
    then ordered source pairs expand IN-ROW (≤ S²/2 structs per key)
    into the final O(S²)-group rollup. The window key is the 60-bit
    md5 prefix as a BIGINT — the only corpus-wide exchange carries
    8-byte keys, not 8-token strings (~6× narrower; both engines
    compute the same integers, and a 60-bit collision at 10^12 windows
    perturbs a count by ±1 identically on both sides). The oracle keeps
    the equivalent self-join formulation as an independent cross-check;
    the Spark plan is two exchanges (window key, then pair key) and
    zero joins — the self-join form would scan and aggregate the corpus
    twice and shuffle the equi-join besides."""
    k = _OVL_K
    raw = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" " + _OVL_BOILER)),
    ).otherwise(F.col("text"))
    toks = F.filter(F.split(F.lower(raw), " "), lambda t: t != "")
    d = spread(load(spark, sf_dir, "documents")).select(
        "source", toks.alias("t")
    )
    win = d.select(
        "source", F.explode(_token_windows(k, hashed=True)).alias("hk")
    )
    per_key = win.groupBy("hk").agg(
        F.collect_set("source").alias("ss")
    )
    pairs = per_key.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, a -> "
                "transform(filter(ss, b -> b > a), "
                "b -> struct(a AS src_a, b AS src_b))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_shared_windows"))


# ------------------------------------------------- n-gram novelty score
# Per-document novelty: the fraction of a doc's distinct K-token
# windows that appear in NO earlier document (first occurrence is
# this doc, under doc_id order = ingestion order). The curation signal
# behind "diminishing returns" corpus growth curves — late crawl
# snapshots score low novelty and get downweighted or dropped.
@_q(
    "q_ngram_novelty",
    f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
      FROM documents
    ),
    win AS (
      SELECT doc_id,
             ('0x' || substr(md5(array_to_string(t[i:i+{_OVL_K - 1}], ' ')),
                             1, 15))::bigint AS hk
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, len(t) - {_OVL_K - 1})) AS i
      ) g
    ),
    dw AS (SELECT DISTINCT doc_id, hk FROM win),
    fo AS (SELECT hk, MIN(doc_id) AS first_doc FROM dw GROUP BY hk)
    SELECT d.doc_id,
           CAST(COUNT(*) AS bigint) AS n_windows,
           CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
                AS bigint) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0
                          END) AS double) / COUNT(*), 6) AS novelty
    FROM dw d JOIN fo f USING (hk)
    GROUP BY d.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of distinct _OVL_K-token windows whose corpus
    FIRST occurrence (min doc_id) is this document.

    Scale: two aggregations keyed on the window key (distinct, then
    min-doc — AQE reuses the exchange) and one equi-join back, then a
    per-doc aggregation. The window key is the 60-bit md5 prefix as a
    BIGINT from the start — every exchange carries 8-byte keys, never
    8-token strings, and both engines compute the same integers. The
    min-doc aggregation (NOT a per-key window) keeps hot boilerplate
    windows skew-safe: partial mins collapse map-side. This is the
    decontamination/substring-dedup shuffle shape — text itself never
    moves, only window keys and doc ids."""
    k = _OVL_K
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", toks.alias("t")
    )
    dw = d.select(
        "doc_id", F.explode(_token_windows(k, hashed=True)).alias("hk")
    ).distinct()
    fo = dw.groupBy("hk").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        dw.join(fo, "hk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            novel.cast("long").alias("n_novel"),
            F.round(
                novel.cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty"),
        )
    )


# --------------------------------------------- duplicate-inflation profile
# The cluster-size histogram of exact dedup: for each duplicate-cluster

# the ONE definition of the injected mirrored-page decoration (the
# corpus has no natural byte-dups; docs with doc_id%17==0 become one of
# 5 shared variants) — q_dup_inflation, q_token_yield and
# q_mirror_attribution all consume the SAME rule through these two
# renderings, so the fixture cannot drift between them
_MIRROR_SQL = """CASE WHEN doc_id % 17 = 0
                  THEN 'mirrored syndicated page variant '
                       || CAST(doc_id % 5 AS varchar)
                  ELSE text END"""


def _mirrored_text():
    """Spark rendering of _MIRROR_SQL."""
    return F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(
            F.lit("mirrored syndicated page variant "),
            (F.col("doc_id") % 5).cast("string"),
        ),
    ).otherwise(F.col("text"))


# size s, how many clusters, how many docs they hold, and how many are
# redundant ((s-1) per cluster) — the one-table answer to "how inflated
# is this corpus and where does the redundancy sit" that sizes the
# payoff of a dedup pass before anyone runs it. Same normalized content
# hash as q_dedup_exact (shared semantics, one definition of 'same').
@_q(
    "q_dup_inflation",
    f"""
    WITH decorated AS (
      SELECT {_MIRROR_SQL} AS text
      FROM documents
    ),
    c AS (
      SELECT {content_hash_sql()}
               AS ch,
             COUNT(*) AS sz
      FROM decorated GROUP BY 1
    )
    SELECT CAST(sz AS bigint) AS cluster_size,
           CAST(COUNT(*) AS bigint) AS n_clusters,
           CAST(sz * COUNT(*) AS bigint) AS n_docs,
           CAST((sz - 1) * COUNT(*) AS bigint) AS n_redundant
    FROM c GROUP BY sz
    """,
)
def q_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup cluster-size histogram with redundancy counts. The
    synthetic corpus has no natural byte-dups, so docs with doc_id%17==0
    are deterministically overwritten with one of 5 'mirrored page'
    variants — real multi-doc clusters for the histogram to count,
    identical in both engines.

    Scale: the first groupBy shuffles 32-char hashes only (exactly
    q_dedup_exact's plan); the second aggregates cluster sizes — its
    key cardinality is the number of DISTINCT cluster sizes, O(100)
    on any real corpus, fully map-side combined."""
    raw = _mirrored_text()
    docs = spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    ).select(raw.alias("text"))
    h = content_hash_col()
    c = docs.groupBy(h.alias("ch")).agg(F.count(F.lit(1)).alias("sz"))
    return c.groupBy("sz").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("sz") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        ((F.col("sz") - 1) * F.count(F.lit(1)))
        .cast("long")
        .alias("n_redundant"),
    ).select(
        F.col("sz").cast("long").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_redundant",
    )


# --------------------------------------------------- greedy SFT packing
# Greedy example packing for SFT: walk each user's turns in (ts,
# event_id) order and start a new training example whenever adding the
# next turn would exceed the block budget — no turn is ever split
# (unlike q_token_packing's concat-and-chop, which cuts documents at
# block boundaries). The reset makes the running state NON-monotone, so
# this is not a prefix-sum window: it is the canonical bounded-state
# custom operator — applyInPandas per conversation, the group size
# bounded by one user's turn count (the same bound sessionization
# carries). The oracle expresses the identical recurrence as a DuckDB
# recursive CTE over row numbers.
_SFT_BLOCK = 128


@_q(
    "q_sft_pack",
    f"""
    WITH RECURSIVE t AS (
      SELECT user_id, event_id,
             1 + event_id % 97 AS tok,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    fill AS (
      SELECT user_id, event_id, tok, rn,
             0 AS example_no, tok AS acc
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.user_id, t.event_id, t.tok, t.rn,
             CASE WHEN f.acc + t.tok > {_SFT_BLOCK}
                  THEN f.example_no + 1 ELSE f.example_no END,
             CASE WHEN f.acc + t.tok > {_SFT_BLOCK}
                  THEN t.tok ELSE f.acc + t.tok END
      FROM fill f JOIN t ON t.user_id = f.user_id AND t.rn = f.rn + 1
    )
    SELECT user_id, event_id, CAST(tok AS bigint) AS tok,
           CAST(example_no AS bigint) AS example_no
    FROM fill
    """,
)
def q_sft_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy no-split example packing per user stream (block budget
    _SFT_BLOCK tokens; a turn larger than the budget packs alone).

    Scale: one exchange on user_id into applyInPandas; inside the
    kernel the only Python-level loop advances once per EMITTED
    EXAMPLE — each step is a numpy searchsorted on the cumulative-sum
    array (output-linear with log-step binary searches, never a
    per-turn Python loop). State is one group in memory, bounded by a
    single conversation's length."""
    import numpy as np
    import pandas as pd

    ev = spread(
        load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    ).withColumn(
        "tok", (1 + F.col("event_id") % 97).cast("long")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        toks = pdf["tok"].to_numpy()
        n = len(toks)
        cs = toks.cumsum()
        ex = np.empty(n, dtype="int64")
        i, base, cur = 0, 0, 0
        while i < n:
            j = int(np.searchsorted(cs, base + _SFT_BLOCK, side="right")) - 1
            j = max(j, i)  # an oversized turn packs alone
            ex[i : j + 1] = cur
            base = int(cs[j])
            i, cur = j + 1, cur + 1
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "tok": pdf["tok"],
                "example_no": ex,
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        pack,
        schema="user_id bigint, event_id bigint, tok bigint,"
        " example_no bigint",
    )


# ---------------------------------------------------- conversation groups
_CONV_PER_GROUP = 8

# the ONE DuckDB rendering of the group modulus — every oracle that
# groups by g composes this CTE, so the constant cannot drift between
# engine and SQL
_M_CTE = f"""m AS (
      SELECT greatest(CAST(floor(COUNT(*) / {_CONV_PER_GROUP}.0) AS bigint),
                      1) AS m
      FROM documents
    )"""


def _conv_group(docs: DataFrame, n_docs: int):
    """Deterministic scale-proportional grouping: doc_id % m with
    m = max(n_docs // _CONV_PER_GROUP, 1), so the average group holds
    _CONV_PER_GROUP docs at ANY corpus size — the window partitioned by
    g stays entity-bounded exactly like a per-conversation window (the
    real pipeline keys these ops on conv_id; the fixture derives a
    conv-shaped key from documents because the oracle must reproduce
    it). Returns (df-with-g, m); the DuckDB mirror is _M_CTE — the one
    shared rendering, so the divisor cannot drift."""
    m = max(n_docs // _CONV_PER_GROUP, 1)
    return docs.withColumn("g", (F.col("doc_id") % m).cast("long")), m


_WORDS_OF = words_sql("text")


def _tok_col():
    """Word count of text — the ONE shared corpus token unit
    (util.ntok_col / util.ntok_sql), identical on both engines (empty
    string splits to [''] which the filter drops)."""
    return ntok_col("text")


# ----------------------------------------------- context-window trimming
# The pre-training / SFT context-budget primitive: keep the LONGEST
# SUFFIX of a conversation whose cumulative token count fits the model
# context (the newest turns survive, history is dropped from the front)
# — the standard chat-truncation rule. A reverse cumulative-sum window
# per conversation group decides the cut; windows are entity-bounded
# (see _conv_group), never source- or corpus-wide.
_CTX_BUDGET = 256


@_q(
    "q_context_trim",
    f"""
    WITH {_M_CTE},
    t AS (
      SELECT doc_id % m.m AS g, doc_id,
             len({_WORDS_OF}) AS tok
      FROM documents, m
    ),
    r AS (
      SELECT g, doc_id, tok,
             SUM(tok) OVER (PARTITION BY g ORDER BY doc_id DESC
                            ROWS UNBOUNDED PRECEDING) AS revcum
      FROM t
    )
    SELECT CAST(g AS bigint) AS g,
           CAST(COUNT(*) AS bigint) AS n_docs,
           CAST(COUNT(*) FILTER (revcum <= {_CTX_BUDGET}) AS bigint)
             AS kept_docs,
           CAST(COALESCE(SUM(tok) FILTER (revcum <= {_CTX_BUDGET}), 0)
                AS bigint) AS kept_tokens,
           CAST(MIN(doc_id) FILTER (revcum <= {_CTX_BUDGET}) AS bigint)
             AS first_kept
    FROM r GROUP BY g
    """,
)
def q_context_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-suffix token-budget trim per conversation group: one
    reverse running-sum window ordered by doc_id DESC marks the turns
    that fit the context budget, one group rollup reports the cut.
    A turn longer than the whole budget yields kept=0 (first_kept NULL)
    — the all-dropped edge rides through both engines."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    g, _m = _conv_group(docs, docs.count())
    t = g.select("g", "doc_id", _tok_col().alias("tok"))
    w = (
        Window.partitionBy("g")
        .orderBy(F.desc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = F.col("revcum") <= _CTX_BUDGET
    r = t.withColumn("revcum", F.sum("tok").over(w))
    return r.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(kept, 1)).cast("long").alias("kept_docs"),
        F.coalesce(F.sum(F.when(kept, F.col("tok"))), F.lit(0))
        .cast("long")
        .alias("kept_tokens"),
        F.min(F.when(kept, F.col("doc_id"))).cast("long").alias("first_kept"),
    )


# ------------------------------------------------ self-repetition screen
# Consecutive-turn token-set Jaccard inside a conversation group — the
# "model repeating itself" / copy-forward screen SFT curation runs per
# conversation. Token sets ride the lag window as arrays; similarity is
# exact integer set sizes with ONE double division per pair (no
# accumulation-order hazard crosses the gate).
@_q(
    "q_self_repetition",
    f"""
    WITH {_M_CTE},
    t AS (
      SELECT doc_id % m.m AS g, doc_id,
             list_distinct({_WORDS_OF}) AS w
      FROM documents, m
    ),
    p AS (
      SELECT g, doc_id,
             lag(doc_id) OVER (PARTITION BY g ORDER BY doc_id) AS prev_doc,
             w,
             lag(w) OVER (PARTITION BY g ORDER BY doc_id) AS pw
      FROM t
    )
    SELECT CAST(g AS bigint) AS g,
           doc_id, prev_doc,
           CAST(len(list_intersect(w, pw)) AS int) AS inter,
           CAST(len(list_distinct(w || pw)) AS int) AS uni,
           ROUND(CAST(len(list_intersect(w, pw)) AS double)
                 / len(list_distinct(w || pw)), 6) AS jaccard
    FROM p
    WHERE prev_doc IS NOT NULL AND len(list_distinct(w || pw)) > 0
    """,
)
def q_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-turn Jaccard per conversation group: distinct token
    arrays flow through ONE entity-bounded lag window (the array payload
    shuffles once, keyed by group), then intersections/unions are
    computed in-row — no join, no explode, no per-row Python."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    gdf, _m = _conv_group(docs, docs.count())
    t = gdf.select(
        "g",
        "doc_id",
        F.array_distinct(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("w"),
    )
    w = Window.partitionBy("g").orderBy("doc_id")
    p = t.select(
        "g",
        "doc_id",
        F.lag("doc_id").over(w).alias("prev_doc"),
        "w",
        F.lag("w").over(w).alias("pw"),
    )
    inter = F.size(F.array_intersect("w", "pw"))
    uni = F.size(F.array_union("w", "pw"))
    return p.where(F.col("prev_doc").isNotNull() & (uni > 0)).select(
        F.col("g").cast("long").alias("g"),
        "doc_id",
        "prev_doc",
        inter.cast("int").alias("inter"),
        uni.cast("int").alias("uni"),
        F.round(inter.cast("double") / uni, 6).alias("jaccard"),
    )


# --------------------------------------------- partition content checksum
# The lineage/resume parity primitive: an order-independent per-source
# checksum (XOR of per-row 60-bit md5 prefixes) that two runs — or the
# engine and the oracle — can compare without sorting or collecting
# anything. XOR keeps aggregation state at 8 bytes, is map-side
# combinable, and is insensitive to row order and partitioning, so the
# SAME number comes out of a 1-task run and a 10k-task run.
@_q(
    "q_partition_checksum",
    """
    SELECT source,
           CAST(COUNT(*) AS bigint) AS n_docs,
           CAST(SUM(n_chars) AS bigint) AS sum_chars,
           CAST(bit_xor(('0x' || substr(md5(doc_id || ':'
                                        || COALESCE(text, chr(0))), 1, 15))
                        ::bigint) AS bigint) AS checksum
    FROM documents GROUP BY source
    """,
)
def q_partition_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content checksum for resume verification: one
    partial-aggregated shuffle of O(|sources|) groups, 8-byte XOR state
    per group. Pairs with lineage.py's commit log — re-extracting a
    source after failure must reproduce its checksum exactly."""
    from .dedup import _hex60

    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", "text", "n_chars"
    )
    # NUL sentinel for NULL text: concat_ws would silently SKIP a null
    # (hashing 'doc_id' alone) while the oracle's || yields NULL and
    # bit_xor drops the row — coalescing to chr(0) on BOTH engines keeps
    # null-text rows in the checksum and distinct from empty text
    h = _hex60(
        F.concat_ws(
            ":", F.col("doc_id"), F.coalesce(F.col("text"), F.lit("\x00"))
        )
    )
    return (
        docs.withColumn("h", h)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.expr("bit_xor(h)").cast("long").alias("checksum"),
        )
    )


# -------------------------------------------------- post-dedup token yield
# The curation KPI: how many training tokens does each source actually
# contribute AFTER global exact dedup (earliest doc_id keeps)? Total vs
# unique token sums per source plus the yield ratio — the number a
# 100-TB ingest reports per shard to decide what is worth crawling.
@_q(
    "q_token_yield",
    f"""
    WITH decorated AS (
      SELECT source, doc_id,
             {_MIRROR_SQL} AS text
      FROM documents
    ),
    d AS (
      SELECT source, len({_WORDS_OF}) AS tok,
             row_number() OVER (PARTITION BY {content_hash_sql()}
                                ORDER BY doc_id) AS rn
      FROM decorated
    )
    SELECT source,
           CAST(SUM(tok) AS bigint) AS total_tokens,
           CAST(COALESCE(SUM(tok) FILTER (rn = 1), 0) AS bigint)
             AS unique_tokens,
           ROUND(CAST(COALESCE(SUM(tok) FILTER (rn = 1), 0) AS double)
                 / SUM(tok), 6) AS yield_ratio
    FROM d GROUP BY source
    """,
)
def q_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-token yield per source: the exact-dedup earliest-keeper
    window (16-byte content-hash shuffle, the q_dedup_earliest key) and
    one O(|sources|) rollup. The fixture corpus has no natural byte-dups
    (every yield would be 1.0 and the gate would compare a constant), so
    docs with doc_id%17==0 carry q_dup_inflation's deterministic
    mirrored-page variants — real dup clusters whose redundant copies
    the yield must subtract, identically in both engines."""
    raw = _mirrored_text()
    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", raw.alias("text")
    )
    w = Window.partitionBy(content_hash_col()).orderBy("doc_id")
    d = docs.select(
        "source",
        _tok_col().alias("tok"),
        F.row_number().over(w).alias("rn"),
    )
    keep = F.when(F.col("rn") == 1, F.col("tok"))
    uniq = F.coalesce(F.sum(keep), F.lit(0)).cast("long")
    return d.groupBy("source").agg(
        F.sum("tok").cast("long").alias("total_tokens"),
        uniq.alias("unique_tokens"),
        F.round(uniq.cast("double") / F.sum("tok"), 6).alias("yield_ratio"),
    )


# ------------------------------------------- boilerplate line frequency
# CCNet-style cross-document line dedup: a line that appears in many
# DISTINCT documents is boilerplate (nav bars, footers, injected OCR
# noise), independent of any phrase list. Runs over the shared synthetic
# line table (relational._synth_lines / _lines_sql — the same contract
# the hysteresis and plain-run extractors are gated on), so the injected
# 'ok' / noise lines are exactly what the frequency rule must rediscover.
_BOILER_MIN_DOCS = 10


@_q(
    "q_boiler_linefreq",
    None,  # SQL attached below — it composes relational._lines_sql
)
def q_boiler_linefreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate-line exposure: line-hash -> distinct-doc
    counts (one 8-byte-key shuffle), the >= {min_docs} frequency rule,
    then instances rejoin the boiler flags on the SAME hash key (both
    sides already partitioned by it) and roll up per source. No phrase
    list anywhere: pure frequency, the rule that still works on a crawl
    in a language you have no stop-list for."""
    from .dedup import _hex60
    from .relational import _synth_lines

    lines = _synth_lines(spark, sf_dir, extra_cols=("source",)).where(
        F.col("s") != ""
    )
    inst = lines.select("source", "doc_id", _hex60(F.col("s")).alias("lh"))
    nd = inst.groupBy("lh").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    boiler = nd.where(F.col("nd") >= _BOILER_MIN_DOCS).select(
        "lh", F.lit(1).alias("is_boiler")
    )
    flagged = inst.join(boiler, "lh", "left")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count("is_boiler").cast("long").alias("boiler_lines"),
        F.countDistinct(F.when(F.col("is_boiler") == 1, F.col("lh")))
        .cast("long")
        .alias("distinct_boiler"),
        F.round(
            F.count("is_boiler").cast("double") / F.count(F.lit(1)), 6
        ).alias("boiler_ratio"),
    )


def _boiler_sql() -> str:
    from .relational import _lines_sql

    return f"""
    WITH {_lines_sql(", source")},
    inst AS (
      SELECT source, doc_id,
             ('0x' || substr(md5(s), 1, 15))::bigint AS lh
      FROM lines WHERE s <> ''
    ),
    nd AS (SELECT lh, COUNT(DISTINCT doc_id) AS nd FROM inst GROUP BY lh),
    boiler AS (SELECT lh, 1 AS is_boiler FROM nd
               WHERE nd >= {_BOILER_MIN_DOCS}),
    flagged AS (
      SELECT i.source, i.lh, b.is_boiler
      FROM inst i LEFT JOIN boiler b ON i.lh = b.lh
    )
    SELECT source,
           CAST(COUNT(*) AS bigint) AS n_lines,
           CAST(COUNT(is_boiler) AS bigint) AS boiler_lines,
           CAST(COUNT(DISTINCT CASE WHEN is_boiler = 1 THEN lh END)
                AS bigint) AS distinct_boiler,
           ROUND(CAST(COUNT(is_boiler) AS double) / COUNT(*), 6)
             AS boiler_ratio
    FROM flagged GROUP BY source
    """


ORACLES["q_boiler_linefreq"] = _boiler_sql()


# ----------------------------------------------- shared-prefix analysis
# Prompt-cache / KV-cache planning: how many conversations share an
# identical turn PREFIX at each depth? A served fleet prefix-caches the
# common system prompt + early turns; this measures the hit rate the
# cache can possibly achieve. Conversations are the doc groups
# (_conv_group), turn order is doc_id order, and docs with
# doc_id % 3 == 0 carry a fixed system prompt so cross-conversation
# sharing genuinely exists (the raw corpus has globally unique texts —
# every prefix would be unshared and the gate would compare zeros).
_PREFIX_MAX_DEPTH = 4
_SYS_PROMPT = "You are a helpful assistant. Follow the instructions."


@_q(
    "q_prefix_share",
    f"""
    WITH {_M_CTE},
    t AS (
      SELECT doc_id % m.m AS g, doc_id,
             CASE WHEN doc_id % 3 = 0 THEN '{_SYS_PROMPT}'
                  ELSE text END AS text
      FROM documents, m
    ),
    p AS (
      SELECT g,
             row_number() OVER (PARTITION BY g ORDER BY doc_id) AS depth,
             md5(string_agg(md5(text), chr(31))
                 OVER (PARTITION BY g ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING)) AS ph
      FROM t
    ),
    c AS (
      SELECT depth, ph, COUNT(*) AS n
      FROM p WHERE depth <= {_PREFIX_MAX_DEPTH}
      GROUP BY depth, ph
    )
    SELECT CAST(depth AS int) AS depth,
           CAST(SUM(n) AS bigint) AS n_convs,
           CAST(COUNT(*) AS bigint) AS n_prefixes,
           CAST(COALESCE(SUM(n) FILTER (n >= 2), 0) AS bigint)
             AS shared_convs,
           ROUND(CAST(COALESCE(SUM(n) FILTER (n >= 2), 0) AS double)
                 / SUM(n), 6) AS cacheable_frac
    FROM c GROUP BY depth
    """,
)
def q_prefix_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache hit-rate table: per depth d ≤ {max_depth}, the
    number of conversations, distinct depth-d prefixes, conversations
    whose prefix is shared by ≥2, and the cacheable fraction. The
    prefix fingerprint is md5 over the US-separated running concat of
    PER-TURN md5s (fixed-width hex, so a separator byte inside a turn
    can never alias a turn boundary) — ONE conversation-bounded window (collect_list rides the
    same sort as row_number), so per-task state is one conversation's
    text, never a source or the corpus; the rollup is
    O(depth × distinct prefixes)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    text = F.when(
        F.col("doc_id") % 3 == 0, F.lit(_SYS_PROMPT)
    ).otherwise(F.col("text"))
    gdf, _m = _conv_group(docs.select("doc_id", text.alias("text")),
                          docs.count())
    # rank FIRST, then run the concat window over only the surviving
    # ≤ max_depth rows: per-row window state is capped at max_depth
    # turns instead of buffering (and md5-ing) the whole conversation
    # prefix at every row of an arbitrarily long conversation — the
    # running-concat over the filtered frame equals window-then-filter
    # because a depth-d prefix only reads rows of depth ≤ d
    wo = Window.partitionBy("g").orderBy("doc_id")
    head = gdf.select(
        "g", "doc_id", "text", F.row_number().over(wo).alias("depth")
    ).where(F.col("depth") <= _PREFIX_MAX_DEPTH)
    w = (
        Window.partitionBy("g")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = head.select(
        "g",
        "depth",
        F.md5(
            F.concat_ws("\x1f", F.collect_list(F.md5("text")).over(w))
        ).alias("ph"),
    )
    c = p.groupBy("depth", "ph").agg(F.count(F.lit(1)).alias("n"))
    shared = F.coalesce(
        F.sum(F.when(F.col("n") >= 2, F.col("n"))), F.lit(0)
    )
    return c.groupBy(F.col("depth").cast("int").alias("depth")).agg(
        F.sum("n").cast("long").alias("n_convs"),
        F.count(F.lit(1)).cast("long").alias("n_prefixes"),
        shared.cast("long").alias("shared_convs"),
        F.round(shared.cast("double") / F.sum("n"), 6).alias(
            "cacheable_frac"
        ),
    )


# ------------------------------------------------- mirror attribution
# Who copies whom: for every exact-dup cluster, the earliest copy's
# source is the originator and every other member's source is a
# mirror — rolled into a (canonical_source, mirror_source) matrix with
# doc and token volumes. q_source_overlap answers "how much window
# material do two sources share"; this answers the DIRECTED question a
# crawl-dedup policy acts on ("always keep wikipedia's copy, drop the
# scraper's"). Same injected mirrored-page clusters as q_token_yield,
# so real multi-source clusters exist in the gate.
@_q(
    "q_mirror_attribution",
    f"""
    WITH decorated AS (
      SELECT source, doc_id,
             {_MIRROR_SQL} AS text
      FROM documents
    ),
    d AS (
      SELECT source, doc_id, len({_WORDS_OF}) AS tok,
             {content_hash_sql()} AS h,
             row_number() OVER (PARTITION BY {content_hash_sql()}
                                ORDER BY doc_id) AS rn
      FROM decorated
    ),
    canon AS (SELECT h, source AS canonical_source FROM d WHERE rn = 1)
    SELECT c.canonical_source, d.source AS mirror_source,
           CAST(COUNT(*) AS bigint) AS n_docs,
           CAST(SUM(d.tok) AS bigint) AS redundant_tokens
    FROM d JOIN canon c USING (h)
    WHERE d.rn > 1
    GROUP BY c.canonical_source, d.source
    """,
)
def q_mirror_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed syndication matrix: one content-hash window elects the
    earliest copy per cluster (the q_dedup_earliest key), the cluster's
    canonical source joins back on the SAME 16-byte hash key (both
    sides already partitioned by it), redundant members roll up into
    the sources² matrix."""
    raw = _mirrored_text()
    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", raw.alias("text")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    d = docs.select(
        "source",
        "doc_id",
        _tok_col().alias("tok"),
        content_hash_col().alias("h"),
    ).withColumn("rn", F.row_number().over(w))
    canon = d.where(F.col("rn") == 1).select(
        "h", F.col("source").alias("canonical_source")
    )
    return (
        d.where(F.col("rn") > 1)
        .join(canon, "h")
        .groupBy("canonical_source", F.col("source").alias("mirror_source"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tok").cast("long").alias("redundant_tokens"),
        )
    )


# ------------------------------------------------------- template turns
# Templated-reply detection: served agents emit canned responses
# ("I cannot help with that", tool-error apologies) that repeat
# verbatim across MANY conversations; a curation pipeline finds them
# by normalized-text support counting and either caps or drops them
# (they dominate gradient signal exactly like boilerplate lines —
# q_boiler_linefreq at line grain, this at turn grain, with the extra
# requirement that support is counted in DISTINCT conversations so one
# chatty conversation cannot promote its own refrain to a template).
# The fixture injects three canned turns on the doc_id % 11 == 0 rows;
# every other text is globally unique, so the detector's output is
# exactly the injected set — the gate checks counts, not just shape.
_TEMPLATES = [
    "I am sorry, I cannot help with that request.",
    "The tool call failed. Please try again later.",
    "Here is the summary you asked for.",
]
_TEMPLATE_MOD = 11
_TEMPLATE_MIN_CONVS = 3
_TEMPLATE_CASES = " ".join(
    f"WHEN {i} THEN '{t}'" for i, t in enumerate(_TEMPLATES)
)


TH_SQL = "md5(lower(trim(regexp_replace({c}, '[ ]+', ' ', 'g'))))"

# ONE SQL rendering of the template-injection decoration (the fixture
# that gives the detector something real to find) — q_template_turns
# and q_mixing_plan must decorate the identical stream
TEMPLATE_TEXT_SQL = f"""CASE WHEN doc_id % {_TEMPLATE_MOD} = 0
                  THEN CASE (doc_id // {_TEMPLATE_MOD}) % {len(_TEMPLATES)}
                       {_TEMPLATE_CASES} END
                  ELSE text END"""


def template_text():
    """Spark rendering of TEMPLATE_TEXT_SQL."""
    tmpl = F.element_at(
        F.array(*[F.lit(t) for t in _TEMPLATES]),
        (
            F.expr(f"doc_id div {_TEMPLATE_MOD}") % len(_TEMPLATES)
        ).cast("int")
        + 1,
    )
    return F.when(F.col("doc_id") % _TEMPLATE_MOD == 0, tmpl).otherwise(
        F.col("text")
    )


def template_hash(text_col):
    """ONE Spark rendering of the template-normalization fingerprint
    (lowercase, single-space collapse, trim, md5) — q_template_turns'
    rule, kept in one place."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text_col, "[ ]+", " "))))


@_q(
    "q_template_turns",
    f"""
    WITH {_M_CTE},
    t AS (
      SELECT doc_id % m.m AS g, {TEMPLATE_TEXT_SQL} AS text
      FROM documents, m
    ),
    n AS (
      SELECT g, {TH_SQL.format(c='text')} AS th
      FROM t
    )
    SELECT th,
           CAST(COUNT(*) AS bigint) AS n_uses,
           CAST(COUNT(DISTINCT g) AS bigint) AS n_convs
    FROM n GROUP BY th
    HAVING COUNT(DISTINCT g) >= {_TEMPLATE_MIN_CONVS}
    """,
)
def q_template_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn templates: normalized-text hashes used in >= 3
    (_TEMPLATE_MIN_CONVS) distinct conversations, with total uses and
    conversation support.

    Scale — one corpus pass: normalize-and-hash is a pure expression,
    the (th, g) support count partial-aggregates map-side (a template
    used 10^6 times in one conversation contributes ONE (th, g) row to
    the exchange), and the final rollup is over distinct (th, g) pairs
    — bounded by templates x conversations they appear in, never raw
    uses. The HAVING prunes the unique-text long tail (n_convs = 1)
    before any driver contact; output is O(#templates)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    gdf, _m = _conv_group(docs, docs.count())
    pairs = gdf.select("g", template_hash(template_text()).alias("th"))
    per_conv = pairs.groupBy("th", "g").agg(
        F.count(F.lit(1)).alias("uses_in_g")
    )
    return (
        per_conv.groupBy("th")
        .agg(
            F.sum("uses_in_g").cast("long").alias("n_uses"),
            F.count(F.lit(1)).cast("long").alias("n_convs"),
        )
        .where(F.col("n_convs") >= _TEMPLATE_MIN_CONVS)
    )


# -------------------------------------------------- prefix supersession
# Session-resume dedup: when an agent session is checkpointed and
# resumed, the log often contains BOTH the truncated first attempt and
# the full continued conversation — the short one is an exact turn
# PREFIX of the long one and training on both double-counts the shared
# turns. The detector fingerprints every running turn prefix and joins
# short sessions' full-stream fingerprints against longer sessions'
# prefix fingerprints at the same depth: a hit means every turn
# matched, in order. The fixture derives two sessions per conversation
# group (the full stream and a 2-4 turn head); on g % 5 == 0 groups
# the head's last turn is edited so it is NOT a prefix — the detector
# must clear those.
_PSUP_EDIT_MOD = 5


@_q(
    "q_prefix_supersede",
    f"""
    WITH {_M_CTE},
    t AS (
      SELECT doc_id % m.m AS g, doc_id, text,
             row_number() OVER (PARTITION BY doc_id % m.m
                                ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY doc_id % m.m) AS n_g,
             2 + (doc_id % m.m) % 3 AS dep
      FROM documents, m
    ),
    turns AS (
      SELECT printf('s-%08d-%s', g, k.kind) AS sess_id, g, rn,
             CASE WHEN k.kind = 'part' AND g % {_PSUP_EDIT_MOD} = 0
                       AND rn = least(dep, n_g)
                  THEN text || ' [edited]' ELSE text END AS text
      FROM t, (SELECT unnest(['full', 'part']) AS kind) k
      WHERE k.kind = 'full' OR rn <= dep
    ),
    pref AS (
      SELECT sess_id, rn AS depth,
             md5(string_agg(md5(text), chr(31))
                 OVER (PARTITION BY sess_id ORDER BY rn
                       ROWS UNBOUNDED PRECEDING)) AS ph,
             COUNT(*) OVER (PARTITION BY sess_id) AS n_turns
      FROM turns
    ),
    sess AS (
      SELECT sess_id, CAST(n_turns AS bigint) AS n_turns, ph AS full_ph
      FROM pref WHERE depth = n_turns
    ),
    hits AS (
      SELECT s.sess_id, MIN(p.sess_id) AS superseded_by
      FROM sess s JOIN pref p
        ON s.full_ph = p.ph AND s.n_turns = p.depth
       AND p.n_turns > s.n_turns
      GROUP BY s.sess_id
    )
    SELECT s.sess_id, s.n_turns,
           h.superseded_by IS NOT NULL AS is_superseded,
           h.superseded_by
    FROM sess s LEFT JOIN hits h ON s.sess_id = h.sess_id
    """,
)
def q_prefix_supersede(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark sessions whose full turn stream is an exact prefix of a
    strictly longer session (superseded_by = the lexicographically
    first such container, NULL when none).

    Scale — fingerprints, never text comparison: the running md5 over
    the US-separated concat of PER-TURN md5s (fixed-width hex — a
    separator byte inside hostile turn text cannot alias a turn
    boundary, so ['a\\x1fb','c'] never collides with ['a','b\\x1fc'])
    is one conversation-bounded window
    (the q_prefix_share kernel, here at all depths — per-task state is
    one session); the supersession test is an EQUI-join on (depth,
    fingerprint) whose bucket sizes are the number of sessions sharing
    a prefix — AQE's skew split handles a viral shared prompt. The
    session fan-out is an in-row explode (full/part membership), so
    the expensive scan runs once. No pairwise text shipping anywhere;
    a depth-capped variant (q_prefix_share's <= max_depth head) bounds
    window state if conversations are unbounded."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    gdf, _m = _conv_group(docs, docs.count())
    wg = Window.partitionBy("g").orderBy("doc_id")
    wgall = Window.partitionBy("g")
    t = gdf.select(
        "g",
        "doc_id",
        "text",
        F.row_number().over(wg).alias("rn"),
        F.count(F.lit(1)).over(wgall).alias("n_g"),
        (2 + F.col("g") % 3).alias("dep"),
    )
    turns = (
        t.select(
            "g",
            "rn",
            "text",
            "dep",
            "n_g",
            F.explode(
                F.when(
                    F.col("rn") <= F.col("dep"),
                    F.array(F.lit("full"), F.lit("part")),
                ).otherwise(F.array(F.lit("full")))
            ).alias("kind"),
        )
        .select(
            F.format_string("s-%08d-%s", F.col("g"), F.col("kind")).alias(
                "sess_id"
            ),
            "rn",
            F.when(
                (F.col("kind") == "part")
                & (F.col("g") % _PSUP_EDIT_MOD == 0)
                & (F.col("rn") == F.least("dep", "n_g")),
                F.concat(F.col("text"), F.lit(" [edited]")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    wrun = (
        Window.partitionBy("sess_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wsess = Window.partitionBy("sess_id")
    pref = turns.select(
        "sess_id",
        F.col("rn").alias("depth"),
        F.md5(
            F.concat_ws("\x1f", F.collect_list(F.md5("text")).over(wrun))
        ).alias("ph"),
        F.count(F.lit(1)).over(wsess).alias("n_turns"),
    )
    sess = pref.where(F.col("depth") == F.col("n_turns")).select(
        "sess_id",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("ph").alias("full_ph"),
    )
    hits = (
        sess.alias("s")
        .join(
            pref.alias("p"),
            (F.col("s.full_ph") == F.col("p.ph"))
            & (F.col("s.n_turns") == F.col("p.depth"))
            & (F.col("p.n_turns") > F.col("s.n_turns")),
        )
        .groupBy(F.col("s.sess_id").alias("sess_id"))
        .agg(F.min("p.sess_id").alias("superseded_by"))
    )
    return (
        sess.join(hits, "sess_id", "left")
        .select(
            "sess_id",
            "n_turns",
            F.col("superseded_by").isNotNull().alias("is_superseded"),
            "superseded_by",
        )
    )


# ------------------------------------------------------- mixing plan
# The composed curation→mixing flagship for the new family (the
# x_corpus_curate convention, but fully DuckDB-gated end to end):
# (1) drop templated turns (the q_template_turns rule), (2) drop
# low-quality docs (alpha-ratio score < the cutoff, the
# q_threshold_yield score), (3) waterfill the training budget over
# the SURVIVING per-source token pools (the q_mixture_alloc tail).
# Every rule is the single shared rendering its standalone operator
# uses — the plan cannot drift from the operators it composes.
_PLAN_QUALITY_MIN = 0.40


def _mixing_plan_sql() -> str:
    from .textstats import alpha_score_sql
    from .relevance import MIX_WEIGHT_SQL, waterfill_sql

    return f"""
    WITH {_M_CTE},
    t AS (
      SELECT doc_id, source, doc_id % m.m AS g,
             {TEMPLATE_TEXT_SQL} AS text
      FROM documents, m
    ),
    n AS (
      SELECT source, g, {TH_SQL.format(c='text')} AS th,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE {alpha_score_sql('text')} END AS score,
             CAST({ntok_sql('text')} AS bigint) AS toks
      FROM t
    ),
    tm AS (SELECT th FROM n GROUP BY th
           HAVING COUNT(DISTINCT g) >= {_TEMPLATE_MIN_CONVS}),
    mk AS (SELECT n.*, tm.th IS NOT NULL AS is_t
           FROM n LEFT JOIN tm ON n.th = tm.th),
    src AS (
      SELECT source,
             CAST(COUNT(*) AS bigint) AS n_docs_in,
             CAST(COUNT(*) FILTER (is_t) AS bigint)
               AS n_dropped_template,
             CAST(COUNT(*) FILTER (NOT is_t
                  AND score < {_PLAN_QUALITY_MIN}) AS bigint)
               AS n_dropped_quality,
             CAST(COALESCE(SUM(toks) FILTER (NOT is_t
                  AND score >= {_PLAN_QUALITY_MIN}), 0) AS bigint)
               AS avail
      FROM mk GROUP BY source
    ),
    d AS (SELECT source, n_docs_in, n_dropped_template,
                 n_dropped_quality, avail, {MIX_WEIGHT_SQL} AS w
          FROM src),
    {waterfill_sql(", n_docs_in, n_dropped_template, n_dropped_quality")}
    """


@_q("q_mixing_plan")
def q_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixing plan over the CLEANED corpus: incoming docs,
    template drops, quality drops (alpha score < 0.40,
    _PLAN_QUALITY_MIN),
    surviving token pool, priority weight, and the waterfilled grant
    against a budget of half the surviving tokens.

    Scale — the composition inherits each stage's plan: the template
    support count partial-aggregates on (th, g), the template SET is a
    tiny broadcast dim anti-marking the scan, score/tokens are pure
    expressions, the per-source rollup collapses map-side to O(sources)
    rows, and the waterfilling tail (relevance.waterfill_df) runs its
    windows on that tiny frame. One corpus-wide exchange total — the
    (th, g) support count — which q_template_turns already pays
    standalone."""
    from .relevance import _mix_weight_col, waterfill_df
    from .textstats import alpha_score_col

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    gdf, _m = _conv_group(docs, docs.count())
    text = template_text()
    n = gdf.select(
        "source",
        "g",
        template_hash(text).alias("th"),
        F.when(F.length(text) == 0, F.lit(0.0))
        .otherwise(alpha_score_col(text))
        .alias("score"),
        ntok_col(text).cast("long").alias("toks"),
    )
    tm = (
        n.groupBy("th", "g")
        .agg(F.count(F.lit(1)).alias("_u"))
        .groupBy("th")
        .agg(F.count(F.lit(1)).alias("n_convs"))
        .where(F.col("n_convs") >= _TEMPLATE_MIN_CONVS)
        .select("th", F.lit(True).alias("is_t"))
    )
    mk = n.join(F.broadcast(tm), "th", "left").withColumn(
        "is_t", F.coalesce(F.col("is_t"), F.lit(False))
    )
    surv = ~F.col("is_t") & (F.col("score") >= _PLAN_QUALITY_MIN)
    src = mk.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_in"),
        F.count(F.when(F.col("is_t"), 1))
        .cast("long")
        .alias("n_dropped_template"),
        F.count(
            F.when(~F.col("is_t") & (F.col("score") < _PLAN_QUALITY_MIN), 1)
        )
        .cast("long")
        .alias("n_dropped_quality"),
        F.coalesce(F.sum(F.when(surv, F.col("toks"))), F.lit(0))
        .cast("long")
        .alias("avail"),
    )
    return waterfill_df(
        src.withColumn("w", _mix_weight_col()),
        extra_cols=("n_docs_in", "n_dropped_template", "n_dropped_quality"),
    )


ORACLES["q_mixing_plan"] = _mixing_plan_sql()


# --------------------------------------------------------- key-skew report
# The pre-flight diagnostic a 100-TB job runs BEFORE picking its
# partitioning: per grouping key (here the corpus's source column —
# the key every mixing/packing/calibration op shuffles on), row and
# byte weight, the key's share of the corpus, and the salt factor that
# would split it into ideal-sized sub-partitions at the target
# parallelism. All integer math (milli shares by integer division,
# ceil by (a+b-1) div b) so both engines agree to the hash. The corpus
# total rides in as a 1-row broadcast dim — the scalar-broadcast
# pattern; the heavy scan is ONE partial-aggregated exchange carrying
# O(sources) rows.
_SKEW_PARALLELISM = 1024  # target partition count the salt is sized for


@_q(
    "q_key_skew",
    f"""
    WITH c AS (
      SELECT source,
             CAST(COUNT(*) AS bigint) AS n_rows,
             -- strlen = BYTE length in DuckDB (length() is chars):
             -- salt sizing must track UTF-8 bytes — CJK text is 3-4x
             -- its char count on the wire
             CAST(SUM(strlen(text)) AS bigint) AS n_bytes
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_bytes) AS tb FROM c)
    SELECT source, n_rows, n_bytes,
           CAST((n_bytes * 1000) // tb AS bigint) AS share_milli,
           CAST(greatest(1, (n_bytes * {_SKEW_PARALLELISM} + tb - 1) // tb)
                AS bigint) AS salt
    FROM c, tot
    """,
)
def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source skew report: weight, corpus share (exact milli), and
    the recommended salt factor ceil(bytes x P / total) at
    P={_SKEW_PARALLELISM} target partitions — the number every salted
    repartition and AQE-skew threshold in this repo is tuned by. Plan:
    one map-side-combined groupBy(source) (the only corpus exchange,
    O(sources) rows out) and a 1-row total dim broadcast back."""
    docs = spread(load(spark, sf_dir, "documents").select("source", "text"))
    c = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        # UTF-8 bytes, not chars — what the shuffle actually moves
        F.sum(F.octet_length("text")).cast("long").alias("n_bytes"),
    )
    tot = c.agg(F.sum("n_bytes").alias("tb"))
    return c.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_rows",
        "n_bytes",
        F.expr("n_bytes * 1000 div tb").cast("long").alias("share_milli"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(n_bytes * {_SKEW_PARALLELISM} + tb - 1) div tb"),
        )
        .cast("long")
        .alias("salt"),
    )


# ------------------------------------------------------- vocabulary growth
@_q(
    "q_vocab_growth",
    f"""
    WITH w AS (SELECT source, unnest({words_sql('text')}) AS w
               FROM documents),
    wc AS (SELECT source, w, CAST(COUNT(*) AS bigint) AS c
           FROM w GROUP BY source, w),
    ty AS (SELECT source,
                  CAST(COUNT(*) AS bigint) AS n_types,
                  CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0)
                       AS bigint) AS n_hapax,
                  CAST(SUM(c) AS bigint) AS n_tokens
           FROM wc GROUP BY source)
    SELECT source, n_tokens, n_types, n_hapax,
           CAST(n_types * 1000 // n_tokens AS bigint) AS type_token_milli
    FROM ty
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary report: total tokens, distinct types,
    hapax legomena (types seen exactly once), and the integer-milli
    type/token ratio — the lexical-diversity preflight a tokenizer
    train run and a dedup sweep both read (a source whose type/token
    ratio collapses is templated; a hapax-heavy source is noisy or
    genuinely diverse). Token unit is THE shared corpus rule
    (util.words_sql). Float discipline: the milli ratio is ONE integer
    division of exact bigint counts; n_tokens > 0 is structural (the
    explode emits no row for an all-empty source, so a source with
    zero tokens emits NO output row on either engine — the same
    explode-form row-set convention as q_domain_mix). Shape: the
    vocabulary exchange keys on (source, word) with map-side partial
    counts — the classic type-count shuffle, bounded by |vocab| per
    source, never a corpus-constant window; the rollup is
    O(sources)."""
    w = spread(
        load(spark, sf_dir, "documents").select("source", "text")
    ).select(
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("w"),
    )
    wc = w.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ty = wc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.coalesce(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_hapax"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    return ty.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr("n_types * 1000L div n_tokens")
        .cast("long")
        .alias("type_token_milli"),
    )


# ---------------------------------------------------------- dataset card
@_q(
    "q_dataset_card",
    f"""
    WITH h AS (SELECT source, doc_id, lang,
                      {content_hash_sql()} AS ch,
                      CAST({ntok_sql('text')} AS bigint) AS ntok
               FROM documents),
    g AS (SELECT ch, MIN(doc_id) AS keeper FROM h GROUP BY ch)
    SELECT h.source,
           CAST(COUNT(*) AS bigint) AS n_docs,
           CAST(SUM(h.ntok) AS bigint) AS tok_total,
           CAST(SUM(h.ntok) * 1000 // COUNT(*) AS bigint)
             AS mean_ntok_milli,
           CAST(COUNT(*) FILTER (WHERE h.ntok = 0) AS bigint) AS n_empty,
           CAST(COUNT(DISTINCT h.lang) AS bigint) AS n_langs,
           CAST(COUNT(*) FILTER (WHERE h.doc_id <> g.keeper) AS bigint)
             AS n_redundant,
           CAST(SUM(CASE WHEN h.doc_id <> g.keeper THEN h.ntok ELSE 0 END)
                AS bigint) AS redundant_tok,
           CAST(COUNT(*) FILTER (WHERE h.doc_id <> g.keeper) * 1000
                // COUNT(*) AS bigint) AS dup_milli
    FROM h JOIN g USING (ch)
    GROUP BY h.source
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the one-row-per-source datasheet a
    corpus release ships (Datasheets for Datasets, Gebru et al., 2021):
    volume (docs, tokens via THE shared unit, mean length in milli),
    hygiene (empty docs, exact-dup redundancy under THE shared
    content-hash rule with earliest-doc_id keeper election — the same
    normalization q_dedup_exact / q_curation_gate apply, one rendering
    per engine), and language spread. Dup accounting is CORPUS-global
    (a mirror in another source still marks this source's copy
    redundant), matching q_mirror_attribution's attribution rule.

    Scale: one scan computes hash + token count in-row; keeper election
    is one groupBy on the 16-byte hash (text never moves); the join
    back is hash-keyed; the final rollup exchanges O(sources) rows.
    Every statistic is exact integer arithmetic — no float crosses the
    engine boundary."""
    d = spread(
        load(spark, sf_dir, "documents").select(
            "source", "doc_id", "lang", "text"
        )
    )
    h = d.select(
        "source",
        "doc_id",
        "lang",
        content_hash_col().alias("ch"),
        ntok_col("text").cast("long").alias("ntok"),
    )
    g = h.groupBy("ch").agg(F.min("doc_id").alias("keeper"))
    red = F.col("doc_id") != F.col("keeper")
    return (
        h.join(g, "ch")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("tok_total"),
            F.count_if(F.col("ntok") == 0).cast("long").alias("n_empty"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.count_if(red).cast("long").alias("n_redundant"),
            F.sum(F.when(red, F.col("ntok")).otherwise(0))
            .cast("long")
            .alias("redundant_tok"),
        )
        .select(
            "source",
            "n_docs",
            "tok_total",
            F.expr("tok_total * 1000L div n_docs")
            .cast("long")
            .alias("mean_ntok_milli"),
            "n_empty",
            "n_langs",
            "n_redundant",
            "redundant_tok",
            F.expr("n_redundant * 1000L div n_docs")
            .cast("long")
            .alias("dup_milli"),
        )
    )


# ----------------------------------------------------- vocab coverage curve
# "How big must the vocabulary be?" — the coverage curve a tokenizer
# design reads: fraction of the corpus token stream covered by the top-K
# word types, on a fixed K grid. The curve's knee sets the vocab size /
# UNK-rate trade-off before a BPE run is paid for.
_VCOV_GRID = (1, 2, 4, 8, 16, 32)
_VCOV_KMAX = max(_VCOV_GRID)


@_q(
    "q_vocab_coverage",
    f"""
    WITH w AS (SELECT unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS w
               FROM documents),
    c AS (SELECT w, CAST(COUNT(*) AS bigint) AS cnt FROM w GROUP BY w),
    t AS (SELECT CAST(SUM(cnt) AS bigint) AS total FROM c),
    top AS (SELECT w, cnt,
                   row_number() OVER (ORDER BY cnt DESC, w) AS r
            FROM c ORDER BY cnt DESC, w LIMIT {_VCOV_KMAX}),
    grid(k) AS (SELECT * FROM (VALUES {", ".join(f"({k})" for k in _VCOV_GRID)}) g(k))
    SELECT CAST(g.k AS int) AS k,
           CAST(COUNT(top.w) AS bigint) AS n_types,
           CAST(COALESCE(SUM(top.cnt), 0) AS bigint) AS covered_tokens,
           CAST(1000 * COALESCE(SUM(top.cnt), 0) // MIN(t.total)
                AS bigint) AS coverage_milli
    FROM grid g LEFT JOIN top ON top.r <= g.k CROSS JOIN t
    GROUP BY g.k
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K vocabulary coverage curve over THE shared word unit: for
    each K on the fixed grid, how many token occurrences the K most
    frequent word types cover (exact integer milli). Ties in count are
    broken by the word itself, so the ranking — and therefore every
    point of the published curve — is deterministic on both engines.
    A corpus with fewer than K types reports all of them (n_types <
    k, coverage still exact).

    Scale: one (word) partial agg builds the vocab dim, the global
    top-K_max is a TakeOrderedAndProject (heap per partition + K_max-row
    merge on the driver — NEVER a full sort of the vocab dim), and
    everything after runs on ≤{_VCOV_KMAX} rows: the rank window, the
    {len(_VCOV_GRID)}-row grid join (bounded non-equi — the
    q_conv_retention post-agg pattern), and the 1-row total dim."""
    docs = spread(load(spark, sf_dir, "documents").select("text"))
    w = docs.select(
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("w")
    )
    c = w.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    t = c.agg(F.sum("cnt").cast("long").alias("total"))
    top = (
        c.orderBy(F.desc("cnt"), "w")
        .limit(_VCOV_KMAX)
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy().orderBy(F.desc("cnt"), "w")
            ),
        )
    )
    grid = docs.sparkSession.createDataFrame(
        [(k,) for k in _VCOV_GRID], "k int"
    )
    j = grid.join(top, F.col("r") <= F.col("k"), "left").crossJoin(
        F.broadcast(t)
    )
    return j.groupBy("k").agg(
        F.count("w").cast("long").alias("n_types"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias(
            "covered_tokens"
        ),
        F.expr(
            "CAST(1000 * COALESCE(SUM(cnt), 0L) div MIN(total) AS bigint)"
        ).alias("coverage_milli"),
    )


# ------------------------------------------- line dedup with rewrite
# The C4/CCNet line-level dedup RULE, applied (not just reported —
# q_boiler_linefreq is the report): every line keeps only its FIRST
# corpus occurrence in (doc_id, line) order; later copies are removed
# and each document is reassembled from its surviving lines in
# original order. This is the pass that strips nav bars / footers /
# injected OCR noise corpus-wide while leaving the first page that
# legitimately said it intact.
_LINE_POS_SHIFT = 1 << 20  # pos = doc_id·2^20 + li; li < 2^20 ⇔ docs
#                            under ~5M tokens at 5-token lines. The
#                            bound is ENFORCED, not assumed: both
#                            engines raise on li >= 2^20 (a silent
#                            collision would let min(pos) elect the
#                            wrong first occurrence and keep dup lines)


def _line_pos_col():
    """The (doc_id, li) → pos packing with the loud bound check —
    Spark rendering."""
    return F.expr(
        f"CASE WHEN li >= {_LINE_POS_SHIFT} THEN "
        f"CAST(raise_error('q_line_dedup_rewrite: li >= 2^20 — "
        f"the pos packing would collide; raise _LINE_POS_SHIFT') "
        f"AS BIGINT) ELSE doc_id * {_LINE_POS_SHIFT} + li END"
    )


_LINE_POS_SQL = (
    f"CASE WHEN li >= {_LINE_POS_SHIFT} THEN "
    f"CAST(error('q_line_dedup_rewrite: li >= 2^20 — the pos packing "
    f"would collide; raise _LINE_POS_SHIFT') AS BIGINT) "
    f"ELSE doc_id * {_LINE_POS_SHIFT} + li END"
)


@_q("q_line_dedup_rewrite", None)  # SQL attached below (composes _lines_sql)
def q_line_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide first-occurrence line dedup + document rewrite:
    per doc, the line count, survivors, drops, and the reassembled
    clean_text (kept lines joined by newline in original order).

    Scale: the first-occurrence election is min(pos) per 60-bit line
    hash — pos encodes (doc_id, li) as ONE bigint so the election is
    a map-side-combining integer MIN, never a per-hash window (a hot
    boilerplate line collapses to one partial per map task instead of
    serializing its million instances through one reducer). Two
    exchanges total: the 8-byte hash key (election + instance rejoin
    on the same partitioning), then doc_id for the doc-bounded
    reassembly. Text moves only in the final doc-grain stage."""
    from .dedup import _hex60
    from .relational import _synth_lines

    lines = _synth_lines(spark, sf_dir)
    inst = lines.select(
        "doc_id",
        "li",
        "s",
        _hex60(F.col("s")).alias("lh"),
        _line_pos_col().alias("pos"),
    )
    fo = inst.groupBy("lh").agg(F.min("pos").alias("fpos"))
    k = inst.join(fo, "lh").select(
        "doc_id",
        "li",
        "s",
        (F.col("pos") == F.col("fpos")).alias("keep"),
    )
    kept_struct = F.when(F.col("keep"), F.struct("li", "s"))
    return k.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1))
        .cast("long")
        .alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["s"],
            ),
            "\n",
        ).alias("clean_text"),
    )


def _line_dedup_sql() -> str:
    from .relational import _lines_sql

    return f"""
    WITH {_lines_sql()},
    inst AS (
      SELECT doc_id, li, s,
             ('0x' || substr(md5(s), 1, 15))::bigint AS lh,
             {_LINE_POS_SQL} AS pos
      FROM lines
    ),
    fo AS (SELECT lh, MIN(pos) AS fpos FROM inst GROUP BY lh),
    k AS (
      SELECT i.doc_id, i.li, i.s, i.pos = f.fpos AS keep
      FROM inst i JOIN fo f USING (lh)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS bigint) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS bigint) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS bigint)
             AS n_dropped,
           COALESCE(string_agg(s, chr(10) ORDER BY li)
                      FILTER (WHERE keep), '') AS clean_text
    FROM k GROUP BY doc_id
    """


ORACLES["q_line_dedup_rewrite"] = _line_dedup_sql()


# ------------------------------------------- mergeable HLL registers
# Sketch trilogy completed as MERGEABLE ROWS: x_hll_cardinality uses
# Spark's built-in HLL++ whose register layout is engine-internal and
# cannot be persisted or merged across jobs; these helpers hand-roll
# the classic HyperLogLog register set as plain (group, idx, rho) rows
# so the sketch can be WRITTEN, re-read and merged by MAX — the form an
# incremental maintainer needs. 60-bit xxhash64-derived
# hash: low log2(m) bits pick the register, the remaining 55 bits'
# leading-zero count (+1) is rho; merge law: max(rho) per register,
# associative/commutative/idempotent — a replayed batch cannot move a
# register.
_HLL_M = 256  # registers; rsd ≈ 1.04/sqrt(m) ≈ 6.5%
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)


def hll_registers(df: DataFrame, col: str, group_cols: list) -> DataFrame:
    """(group..., idx, rho) register rows — ≤ m per group, map-side
    combined (the exchange carries registers, never values)."""
    h = F.abs(F.xxhash64(F.col(col)))  # 63-bit non-negative
    idx = (h % _HLL_M).cast("int")
    w = F.expr(
        f"abs(xxhash64({col})) div {_HLL_M}"
    )  # ~55 significant bits
    # rho = leading zeros of w within 55 bits, + 1; bin(w) has no
    # leading zeros, so floor(log2(w)) = length(bin(w)) - 1
    rho = (
        F.when(w == 0, F.lit(56))
        .otherwise(56 - F.length(F.expr(f"bin(abs(xxhash64({col})) div {_HLL_M})")))
        .cast("int")
    )
    return (
        df.select(*group_cols, idx.alias("idx"), rho.alias("rho"))
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(regs: DataFrame, group_cols: list) -> DataFrame:
    """Distinct-count estimate per group from (merged) register rows:
    the standard HLL estimator with the small-range linear-counting
    correction. Input may span many batches — merge by MAX first."""
    merged = regs.groupBy(*group_cols, "idx").agg(
        F.max("rho").alias("rho")
    )
    m = _HLL_M
    agg = merged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("z_present"),
    )
    z = F.col("z_present") + (m - F.col("n_present"))  # absent ⇒ 2^0
    raw = F.lit(_HLL_ALPHA * m * m) / z
    v = m - F.col("n_present")  # zero-valued registers
    est = F.when(
        (raw <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(raw)
    return agg.select(
        *group_cols, F.round(est).cast("long").alias("hll_est")
    )

# ------------------------------------------- mergeable quantile sketch
# The sketch family's missing member: Bloom (membership), CMS (counts),
# HLL (cardinality) — and now QUANTILES, as plain mergeable rows. The
# built-in percentile_approx buffer is engine-internal (not
# persistable, not mergeable across jobs — the same motivation as
# hll_registers); these rows are. The bucketing is DDSketch's
# relative-error-bounded idea, but the bucket rule is PURE
# STRING/INTEGER arithmetic — a value keeps its first 3 significant
# digits, the rest zeroed (4271 → 4270) — so bucketing is
# bit-identical in Spark, DuckDB and Python (a float log() bucket
# could straddle a ulp at bucket edges), the merge law is plain SUM
# per (group, bucket), and the relative error is STRUCTURAL: ≤ 1/100
# for values ≥ 1000 (bucket width over value ≤ 1/first-3-digits),
# exact for values < 1000 (their own bucket), ≤ 900 live buckets per
# decade per group. Readout is the deterministic inverted-CDF rule:
# the bucket holding the ceil(q·n)-th smallest value.
_QSK_BUCKET = (
    "CASE WHEN length(cast({c} as string)) <= 3"
    " THEN cast({c} as bigint)"
    " ELSE cast(concat(substring(cast({c} as string), 1, 3),"
    " repeat('0', length(cast({c} as string)) - 3)) as bigint) END"
)


def qsketch_rows(
    df: DataFrame, col: str, group_cols: list
) -> DataFrame:
    """(group..., bucket, n) mergeable sketch rows for a non-negative
    integer column — merge law: SUM of n per (group, bucket). See
    family comment."""
    b = F.expr(_QSK_BUCKET.format(c=col))
    return (
        df.select(*group_cols, b.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def qsketch_quantiles(
    rows: DataFrame, group_cols: list
) -> DataFrame:
    """(group..., bucket, n) sketch rows → per-group n_tot and the
    p50/p90/p99 inverted-CDF bucket estimates. The window runs over
    sketch-sized dims (≤900 live buckets per decade per group)."""
    t = rows.groupBy(*group_cols).agg(
        F.sum("n").cast("long").alias("n_tot")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = rows.withColumn("cum", F.sum("n").over(w))
    j = c.join(t, group_cols)

    def est(q):
        thr = F.expr(f"({q} * n_tot + 99) div 100")
        return (
            F.min(F.when(F.col("cum") >= thr, F.col("bucket")))
            .cast("long")
            .alias(f"p{q}_est")
        )

    return j.groupBy(*group_cols, "n_tot").agg(est(50), est(90), est(99))


@_q(
    "q_quantile_sketch",
    f"""
    WITH r AS (SELECT source,
                      {_QSK_BUCKET.format(c='n_chars')} AS bucket,
                      CAST(COUNT(*) AS bigint) AS n
               FROM documents GROUP BY 1, 2),
    t AS (SELECT source, CAST(SUM(n) AS bigint) AS n_docs
          FROM r GROUP BY 1),
    c AS (SELECT source, bucket, n,
                 SUM(n) OVER (PARTITION BY source ORDER BY bucket)
                   AS cum
          FROM r)
    SELECT c.source, t.n_docs,
           CAST(MIN(CASE WHEN c.cum >= (50 * t.n_docs + 99) // 100
                         THEN c.bucket END) AS bigint) AS p50_est,
           CAST(MIN(CASE WHEN c.cum >= (90 * t.n_docs + 99) // 100
                         THEN c.bucket END) AS bigint) AS p90_est,
           CAST(MIN(CASE WHEN c.cum >= (99 * t.n_docs + 99) // 100
                         THEN c.bucket END) AS bigint) AS p99_est
    FROM c JOIN t ON c.source = t.source
    GROUP BY 1, 2
    """,
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p90/p99 of n_chars read out of the mergeable
    3-significant-digit sketch rows — each estimate is the exact
    BUCKET of the exact order statistic (pinned in tests), i.e. a
    structural ≤1% relative error with no randomness and no float.

    Scale — one corpus exchange builds the (source, bucket) rows
    map-side-combined; totals, the cumulative scan and the readout
    run on ≤900-buckets-per-decade dims (the per-source window is
    sketch-sized, never data-sized)."""
    docs = load(spark, sf_dir, "documents").select("source", "n_chars")
    r = qsketch_rows(docs, "n_chars", ["source"])
    return qsketch_quantiles(r, ["source"]).withColumnRenamed(
        "n_tot", "n_docs"
    )


# ---------------------------------------------------------- skyline
# The Pareto frontier of "long AND clean" documents per source —
# maximize (n_chars, purity_milli) where purity is the exact integer
# 1000·alnum_chars div n_chars. The classic 2-D skyline needs no
# quadratic dominance test: collapse to one row per (source, n_chars)
# keeping the best purity at that length (any lower purity at the
# same length is dominated by it), then a single descending-length
# scan keeps exactly the points whose purity strictly exceeds the
# running max over all LONGER lengths. The oracle is the textbook
# quadratic NOT-EXISTS dominance query over the same collapsed dim,
# so the gate is a proof that the linear scan computes the skyline.
# Scale: one corpus exchange builds the (source, n_chars) collapse
# map-side-combined; the ordered scan runs on the per-source
# distinct-length dim — bounded by the document-length value domain
# (≤ max doc length), never corpus-sized.
@_q(
    "q_skyline_docs",
    """
    WITH d AS (SELECT source, CAST(n_chars AS bigint) AS x,
                      CAST(1000 * length(regexp_replace(text,
                             '[^a-zA-Z0-9]', '', 'g')) // n_chars
                           AS bigint) AS y
               FROM documents WHERE n_chars > 0),
    g1 AS (SELECT source, x, y, CAST(COUNT(*) AS bigint) AS cnt
           FROM d GROUP BY 1, 2, 3),
    g2 AS (SELECT source, x, MAX(y) AS ymax FROM g1 GROUP BY 1, 2),
    g3 AS (SELECT g2.source, g2.x, g2.ymax, g1.cnt
           FROM g2 JOIN g1 ON g1.source = g2.source
                          AND g1.x = g2.x AND g1.y = g2.ymax)
    SELECT a.source, a.x AS n_chars, a.ymax AS purity_milli,
           a.cnt AS n_docs
    FROM g3 a
    WHERE NOT EXISTS (SELECT 1 FROM g2 b
                      WHERE b.source = a.source AND b.x > a.x
                        AND b.ymax >= a.ymax)
    """,
)
def q_skyline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 2-D skyline on (n_chars, purity_milli): the
    non-dominated (length, best-purity) points with the count of
    documents sitting exactly on each point. See family comment —
    linear descending scan vs the oracle's quadratic NOT EXISTS."""
    d = load(spark, sf_dir, "documents").where(F.col("n_chars") > 0).select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        F.expr(
            "cast(1000 * length(regexp_replace(text, '[^a-zA-Z0-9]', ''))"
            " div n_chars as bigint)"
        ).alias("y"),
    )
    g1 = d.groupBy("source", "x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    g2 = g1.groupBy("source", "x").agg(
        F.max(F.struct(F.col("y").alias("y"), F.col("cnt").alias("c"))).alias(
            "_b"
        )
    ).select(
        "source",
        "x",
        F.col("_b.y").alias("ymax"),
        F.col("_b.c").alias("cnt"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = F.max("ymax").over(w)
    return (
        g2.withColumn("_rm", run)
        .where(F.col("_rm").isNull() | (F.col("ymax") > F.col("_rm")))
        .select(
            "source",
            F.col("x").alias("n_chars"),
            F.col("ymax").alias("purity_milli"),
            F.col("cnt").alias("n_docs"),
        )
    )


# ------------------------------------------- per-type value profile
# Second consumer of the mergeable quantile-sketch kernel (after the
# batch n_chars readout), proving the
# machinery column- and table-agnostic: per event type, the exact
# integer floor-cents stats (min / max / sum, mean as milli-cents =
# 1000·sum div n — i.e. thousandths of a cent (milli-cents), one
# integer division) next
# to the sketch's p50/p90/p99 buckets of the same cents values. One
# report fusing exact edges with bounded-error interior quantiles —
# the shape a metrics dashboard actually serves. Scale: two map-side-
# combined rollups of the same scan (stats + sketch rows); join and
# readout run on O(types × buckets) sketch-sized dims.
@_q(
    "q_value_profile",
    f"""
    WITH e AS (SELECT event_type,
                      CAST(FLOOR(value * 100) AS bigint) AS cents
               FROM events),
    s AS (SELECT event_type,
                 CAST(COUNT(*) AS bigint) AS n,
                 CAST(MIN(cents) AS bigint) AS min_cents,
                 CAST(MAX(cents) AS bigint) AS max_cents,
                 CAST(SUM(cents) AS bigint) AS sum_cents
          FROM e GROUP BY 1),
    r AS (SELECT event_type,
                 {_QSK_BUCKET.format(c='cents')} AS bucket,
                 CAST(COUNT(*) AS bigint) AS n
          FROM e GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(SUM(n) AS bigint) AS n_tot
          FROM r GROUP BY 1),
    c AS (SELECT event_type, bucket, n,
                 SUM(n) OVER (PARTITION BY event_type ORDER BY bucket)
                   AS cum
          FROM r),
    q AS (SELECT c.event_type,
                 CAST(MIN(CASE WHEN c.cum >= (50 * t.n_tot + 99) // 100
                               THEN c.bucket END) AS bigint) AS p50_est,
                 CAST(MIN(CASE WHEN c.cum >= (90 * t.n_tot + 99) // 100
                               THEN c.bucket END) AS bigint) AS p90_est,
                 CAST(MIN(CASE WHEN c.cum >= (99 * t.n_tot + 99) // 100
                               THEN c.bucket END) AS bigint) AS p99_est
          FROM c JOIN t ON c.event_type = t.event_type
          GROUP BY 1)
    SELECT s.event_type, s.n, s.min_cents, s.max_cents, s.sum_cents,
           CAST(1000 * s.sum_cents // s.n AS bigint) AS mean_millicents,
           q.p50_est, q.p90_est, q.p99_est
    FROM s JOIN q ON s.event_type = q.event_type
    """,
)
def q_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: exact floor-cents min/max/sum, exact integer
    mean in milli-cents, and the sketch p50/p90/p99 buckets. See
    family comment. The sketch half inherits qsketch's non-negative-
    integer contract (the generator's value domain is ≥ 0; a negative
    cent would bucket under its sign-prefixed string rendering —
    identically in both engines, but outside the stated ≤1% relative-
    error bound, so the exact min_cents column is also the guard a
    reviewer checks)."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
    )
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    q = qsketch_quantiles(
        qsketch_rows(e, "cents", ["event_type"]), ["event_type"]
    ).drop("n_tot")
    return s.join(q, "event_type").select(
        "event_type",
        "n",
        "min_cents",
        "max_cents",
        "sum_cents",
        F.expr("cast(1000 * sum_cents div n as bigint)").alias(
            "mean_millicents"
        ),
        "p50_est",
        "p90_est",
        "p99_est",
    )


# ---------------------------------------------------- zone-map audit
# Does the physical file layout let scans SKIP? Per parquet file of
# the documents table: row count, the doc_id zone map (min/max), and
# the number of OTHER files whose [min, max] range overlaps — 0
# overlaps per file = perfectly clustered layout (a point/range
# predicate on doc_id prunes to one file); every-file-overlap = zone
# maps useless, compaction needed (bucketing.zorder_layout is the
# remedy this audit motivates). Scale: the per-file rollup is one
# map-side-combined scan keyed by file identity (each task reads
# whole file splits, so the "group" never crosses executors); the
# pairwise overlap join runs on the FILE dim — one row per file,
# thousands at 100 TB — and is a self range-join on that dim, never
# data. Rows-only by governance: the driver's DuckDB views erase
# file provenance, so the cross-engine gate lives in
# tests/test_zonemap.py with path-aware read_parquet(filename=true)
# SQL at three SFs.
def x_zonemap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per documents-parquet file: basename, n_rows, doc_id min/max,
    and how many other files' doc_id ranges overlap it. See family
    comment — file-dim work only; DuckDB-gated in tests via
    filename=true."""
    d = load(spark, sf_dir, "documents").select(
        F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias(
            "file"
        ),
        "doc_id",
    )
    per_file = d.groupBy("file").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
    )
    other = per_file.select(
        F.col("file").alias("o_file"),
        F.col("min_id").alias("o_min"),
        F.col("max_id").alias("o_max"),
    )
    overlaps = (
        per_file.join(
            F.broadcast(other),
            (F.col("file") != F.col("o_file"))
            & (F.col("min_id") <= F.col("o_max"))
            & (F.col("o_min") <= F.col("max_id")),
            "left",
        )
        .groupBy("file", "n_rows", "min_id", "max_id")
        .agg(
            F.count("o_file").cast("long").alias("n_overlapping_files")
        )
    )
    return overlaps.select(
        "file", "n_rows", "min_id", "max_id", "n_overlapping_files"
    )


QUERIES["x_zonemap_audit"] = x_zonemap_audit
