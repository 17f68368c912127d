"""Shared helpers for the query registry."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..signatures import content_hash_col  # noqa: F401 — re-exported


# all-pairs (O(n²)) oracle anchors refuse to run beyond this input size —
# they exist for sampled validation against the bucketed scale paths, and
# nothing should be able to launch one against a production table
ALLPAIRS_MAX_ROWS = 200_000


def guard_rowcap(df: DataFrame, what: str, hint: str) -> DataFrame:
    """Hard row-count cap for oracle-anchor queries whose memory or
    work is super-linear in input size. The probe is
    ``limit(cap+1).count()`` so the guard itself stays O(cap) even on
    an accidental 100 TB input."""
    n = df.limit(ALLPAIRS_MAX_ROWS + 1).count()
    if n > ALLPAIRS_MAX_ROWS:
        raise RuntimeError(
            f"{what}, capped at {ALLPAIRS_MAX_ROWS} input rows; {hint}"
        )
    return df


def guard_allpairs(df: DataFrame, what: str) -> DataFrame:
    """Row cap specialized for the quadratic all-pairs anchors."""
    return guard_rowcap(
        df,
        f"{what} is an O(n^2) oracle anchor",
        "use its bucketed scale-path variant (banded simhash / LSH) on "
        "large inputs",
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one driver table. Column pruning + predicate
    pushdown happen in the callers (keep filters outside UDFs so Catalyst
    sees them)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame) -> DataFrame:
    """Fan a single-row-group scan across the cluster before per-row-heavy
    work — but ONLY when the scan is under-split (the test tables are one
    parquet file = one split). When the input already has at least one
    partition per core (any production multi-file/bucketed table), this
    is a no-op: an unconditional repartition would be a needless full
    shuffle of the corpus at scale."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)


# ------------------------------------------------- shared token unit
# THE corpus token unit — non-empty whitespace-split words — used by
# every operator that counts, pools, packs, or budgets tokens
# (domain mix, mixture alloc, threshold yield, seq-len waste, mixing
# plan). ONE rendering per engine, per the shared-rule discipline: a
# unit change edits these two functions and nothing else.
def words_sql(col: str) -> str:
    """DuckDB rendering of the non-empty word LIST of ``col``."""
    return f"list_filter(string_split({col}, ' '), x -> x <> '')"


def ntok_sql(col: str) -> str:
    """DuckDB rendering of the token count of ``col``."""
    return f"len({words_sql(col)})"


def ntok_col(col):
    """Spark rendering of the token count of ``col`` (in-row: size of
    the filtered split — never a token-grain explode)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(F.split(c, " "), lambda x: x != ""))


# -------------------------------------------- shared content-hash rule
# THE normalized-content dedup hash — md5 of lowercase text with runs
# of the EXPLICIT whitespace class [ \t\n\x0B\f\r] collapsed to one
# space (explicit, not \s: Java's \s includes \x0B, RE2's does not —
# the explicit class hashes identically on both engines). ONE rendering
# per engine, shared by exact dedup, the curation gate, dup inflation,
# the bloom probe front door, conversation-grain dedup and the dataset
# card — a change to the normalization edits these two functions and
# nothing else. The Spark rendering, content_hash_col, lives in
# signatures.py (the rolling increment runs it) and is imported above.
def content_hash_sql(col: str = "text") -> str:
    """DuckDB rendering of the normalized-content hash of ``col``."""
    return (
        "md5(lower(regexp_replace(" + col + ", '[ \t\n\x0B\f\r]+', ' ', 'g')))"
    )


# --------------------------------- per-group top-K without a group sort
def topk_by_count(counts, group_cols, key_cols, k: int, cnt_col: str = "c"):
    """Rank the top-``k`` keys per group by (count DESC, keys ASC)
    WITHOUT ever sorting a whole group on one reducer: bucket rows by
    the DIGIT COUNT of their count (exact integer bucketing — length
    of the decimal rendering, monotone, identical on both engines),
    compute each bucket's exclusive descending prefix on the ≤19-row
    per-group bucket histogram, drop buckets whose prefix already
    reaches k BEFORE any window runs, and row_number only the
    surviving head (overshoot bounded by the boundary count-decade).
    The generic core behind relevance._src_topk_df (per-source
    vocabulary); the matching oracle is always the plain
    whole-partition rank window, so every consumer's gate proves the
    pruning rank-preserving. Input: a pre-aggregated counts frame. Output:
    input columns + ``rnk``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    g = list(group_cols)
    ks = list(key_cols)
    d = counts.withColumn("_vb", F.length(F.col(cnt_col).cast("string")))
    bdim = d.groupBy(*g, "_vb").agg(F.count(F.lit(1)).alias("_bcnt"))
    woff = (
        Window.partitionBy(*g)
        .orderBy(F.desc("_vb"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept = (
        bdim.select(
            *g,
            "_vb",
            F.coalesce(F.sum("_bcnt").over(woff), F.lit(0)).alias("_pfx"),
        )
        .where(F.col("_pfx") < k)
        .select(*g, "_vb")
    )
    from pyspark.sql.functions import broadcast

    surv = d.join(broadcast(kept), g + ["_vb"])
    wrk = Window.partitionBy(*g).orderBy(
        F.desc(cnt_col), *[F.asc(c) for c in ks]
    )
    return (
        surv.withColumn("rnk", F.row_number().over(wrk))
        .where(F.col("rnk") <= k)
        .drop("_vb")
    )


# ---------------------------- per-group ranks without a group sort
def two_phase_ranks(
    df,
    group_cols,
    value_col: str,
    tiebreak_cols,
    buckets: int = 64,
    rank_name: str = "r",
):
    """Per-group ascending ``row_number() OVER (PARTITION BY group
    ORDER BY value, tiebreaks)`` WITHOUT ever sorting a whole group on
    one reducer — the q_score_calibration / q_epoch_shuffle
    decomposition, factored for q_robust_stats, q_trimmed_mean,
    q_heaps_law and q_decile_grid: (1) bucket rows by
    equal-width VALUE ranges of the integer ``value_col`` (monotone,
    ties share a bucket — one tiny global min/max agg sizes the width),
    (2) a per-(group, bucket) count dim yields each bucket's exclusive
    prefix via an O(groups×buckets) post-agg window, (3) row_number
    runs within (group, bucket) — ~1/buckets of a group per task —
    plus the broadcast prefix offset. Identical ranks to the single
    whole-group window; every consumer's oracle IS that window, so each
    gate proves the decomposition rank-preserving. ``value_col`` must
    be integer-typed (exact bucket arithmetic, never float edges)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    g = list(group_cols)
    lo, hi = df.agg(F.min(value_col), F.max(value_col)).first()
    lo, hi = (lo or 0), (hi or 0)
    width = max(1, (hi - lo + buckets) // buckets)
    # exact integer floor (`div`) — the q_token_packing discipline
    d = df.withColumn(
        "_vbucket",
        F.expr(f"cast(({value_col} - {lo}L) div {width}L as int)"),
    )
    cdim = d.groupBy(*g, "_vbucket").agg(F.count(F.lit(1)).alias("_bcnt"))
    woff = (
        Window.partitionBy(*g)
        .orderBy("_vbucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cdim = cdim.select(
        *g,
        "_vbucket",
        F.coalesce(F.sum("_bcnt").over(woff), F.lit(0)).alias("_roff"),
    )
    wrk = Window.partitionBy(*g, "_vbucket").orderBy(
        value_col, *list(tiebreak_cols)
    )
    from pyspark.sql.functions import broadcast

    return (
        d.join(broadcast(cdim), g + ["_vbucket"])
        .withColumn(
            rank_name,
            (F.col("_roff") + F.row_number().over(wrk)).cast("long"),
        )
        .drop("_vbucket", "_roff")
    )


# ------------------------------------ in-row ordered-pair expansion
def inrow_pairs_expr(arr: str, body) -> str:
    """SQL-expression string expanding all ordered index pairs i < j of
    the array column ``arr`` IN-ROW (flatten of nested transforms —
    codegen, bounded by the array length, never a self-join).
    ``body(i, j)`` renders the struct fields from the 1-based index
    variable names. ONE audited implementation for every pairwise
    consumer (embedding dim correlation, source-pair JSD, basket
    pairs); callers guard size(arr) >= 2 — sequence() would run
    DESCENDING on a shorter array."""
    return (
        f"flatten(transform(sequence(1, size({arr}) - 1), i ->"
        f" transform(sequence(i + 1, size({arr})), j ->"
        f" struct({body('i', 'j')}))))"
    )
