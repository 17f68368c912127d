"""Relational operator parity queries (SURVEY.md §2.2-§2.6).

Each query re-expresses one dataflow operator family of the reference
(file:line cited per query) as idiomatic DataFrame code, with a DuckDB
oracle. Numeric discipline for cross-engine equality:

  * integer aggregates are cast to bigint on BOTH sides (DuckDB sums
    int → hugeint, Spark → bigint);
  * double sums are grouped (bounded fp-accumulation error) and rounded
    so both engines land on the same value regardless of accumulation
    order;
  * means are computed as exact-integer-sum / count (both engines do the
    same single double division) — never via avg() whose accumulator
    differs between engines;
  * timestamps leave as unix_millis (session TZ pinned to UTC);
  * every ordering used under row_number()/lag() carries a unique
    tiebreak column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..rules import (
    DENSITY_THRESH as _R_DENSITY_THRESH,
    HYST_BRIDGE as _R_HYST_BRIDGE,
    HYST_ENTER as _R_HYST_ENTER,
    HYST_EXIT as _R_HYST_EXIT,
    MIN_LINE_LEN as _R_MIN_LINE_LEN,
)
from .util import inrow_pairs_expr, load, spread, topk_by_count

QUERIES: dict = {}
ORACLES: dict = {}


def _q(name: str, sql: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return reg


# ------------------------------------------------------------------ scans+agg
@_q(
    "q_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS double)                       AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                        AS sum_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)     AS sum_disc_price,
           ROUND(CAST(SUM(l_quantity) AS double) / COUNT(*), 6)  AS avg_qty,
           CAST(COUNT(*) AS bigint)                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan→filter→agg: the pushdown/pruning smoke test.
    Filter + 6-column projection must reach the parquet scan (the
    reference's predicate-before-expensive-work, pdf/tools.py:42)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum("l_quantity").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_qty"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


@_q(
    "q_charfreq",
    """
    SELECT ch, CAST(COUNT(*) AS bigint) AS cnt
    FROM (SELECT unnest(regexp_extract_all(text, '(?s).')) AS ch FROM documents)
    GROUP BY ch
    """,
)
def q_charfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char frequency Counter (/root/reference/spiltTools.py:32-43,
    easyocr/run.py:25-41) as explode→groupBy — map-side partial agg makes
    this shuffle only one row per distinct char per partition.
    '(?s).' on BOTH engines: plain '.' excludes different line
    terminators in Java (\\r, \\u2028…) vs RE2 (\\n only), so dotall mode
    is the only spelling that counts every character identically."""
    docs = spread(load(spark, sf_dir, "documents").select("text"))
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all("text", F.lit("(?s)."), 0)
            ).alias("ch")
        )
        .groupBy("ch")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


@_q(
    "q_len_hist",
    """
    SELECT n_chars, CAST(COUNT(*) AS bigint) AS cnt
    FROM documents GROUP BY n_chars
    ORDER BY cnt DESC, n_chars ASC LIMIT 100
    """,
)
def q_len_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Width/height histogram + most_common(100)
    (/root/reference/font/rec.py:92-108). Fully-tiebroken order makes the
    limit deterministic; Spark runs it as TakeOrderedAndProject (no full
    sort at scale)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("n_chars")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("n_chars"))
        .limit(100)
    )


@_q(
    "q_group_range",
    """
    WITH c AS (SELECT lang, CAST(COUNT(*) AS bigint) AS n_rows
               FROM documents GROUP BY lang)
    SELECT lang,
           CAST(SUM(n_rows) OVER w - n_rows + 1 AS bigint) AS beg_idx,
           CAST(SUM(n_rows) OVER w AS bigint)              AS end_idx,
           n_rows
    FROM c WINDOW w AS (ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)
    """,
)
def q_group_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-range index over a sorted corpus
    (/root/reference/font/rec.py:140-158: block [beg,end) per word in a
    text-sorted file). Because the group key prefixes the sort key, the
    ranges fall out of a tiny aggregate + cumulative sum — O(groups), no
    global row_number at scale."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    w = Window.orderBy("lang").rowsBetween(Window.unboundedPreceding, 0)
    return counts.select(
        "lang",
        (F.sum("n_rows").over(w) - F.col("n_rows") + 1).cast("long").alias("beg_idx"),
        F.sum("n_rows").over(w).cast("long").alias("end_idx"),
        "n_rows",
    )


# ----------------------------------------------------------- windows+filters
@_q(
    "q_mean_filter",
    """
    SELECT doc_id, lang, n_chars
    FROM (SELECT doc_id, lang, n_chars,
                 CAST(SUM(n_chars) OVER (PARTITION BY lang) AS double)
                   / CAST(COUNT(*) OVER (PARTITION BY lang) AS double) AS m
          FROM documents)
    WHERE n_chars >= m
    """,
)
def q_mean_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop rows below their group mean (height-mean line filter,
    /root/reference/font/project_rec.py:159-167). Mean as exact-int-sum /
    count so both engines produce the identical double.

    Scale: an unordered `SUM/COUNT OVER (PARTITION BY lang)` window
    colocates every row of a lang onto one task — with O(10) langs in a
    100-TB corpus that is a whole-language sort on a single reducer.
    Identical semantics as a partial-aggregated groupBy (map-side
    combine, O(langs) result rows) broadcast-joined back onto the scan:
    the fact table never shuffles at all. The join is NULL-SAFE
    (eqNullSafe): a window's PARTITION BY groups NULL langs together,
    so a plain equality join would silently drop untagged rows and
    diverge from the oracle on any corpus with missing language tags
    (the driver corpus has none — the gate alone cannot catch it)."""
    docs = load(spark, sf_dir, "documents")
    means = docs.groupBy("lang").agg(
        (
            F.sum("n_chars").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    ).withColumnRenamed("lang", "m_lang")
    return (
        docs.join(
            F.broadcast(means),
            F.col("lang").eqNullSafe(F.col("m_lang")),
        )
        .where(F.col("n_chars") >= F.col("m"))
        .select("doc_id", "lang", "n_chars")
    )


_FUSION_WEIGHTS = [
    ("click", 1.0),
    ("view", 0.5),
    ("purchase", 1.0),
    ("signup", 0.75),
    ("error", 0.25),
]
_FUSION_VALUES = ",".join(f"('{t}', {w})" for t, w in _FUSION_WEIGHTS)


@_q(
    "q_fusion_argmax",
    f"""
    WITH wt(event_type, weight) AS (SELECT * FROM (VALUES {_FUSION_VALUES})
                                    t(event_type, weight)),
    fused AS (
      SELECT user_id, e.event_type,
             ROUND(SUM(value * weight), 4) AS fused_score
      FROM events e JOIN wt ON e.event_type = wt.event_type
      GROUP BY user_id, e.event_type
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY fused_score DESC, event_type ASC) AS rn
      FROM fused WHERE fused_score >= 0.5
    )
    SELECT user_id, event_type AS best_type, fused_score
    FROM ranked WHERE rn = 1
    """,
)
def q_fusion_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-candidate score fusion + per-key argmax + score
    floor (/root/reference/ocrclient/redisdata.py:59-64,253-262,295-322:
    engine 1.0 / cg 1.0 / cg_origin 0.5 weights, best text per image,
    drop <0.5). The weight rule table is a broadcast join — the
    north_star's 'broadcast of rule tables'. Ranking on the ROUNDED score
    (+ unique tiebreak) keeps argmax identical across engines."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    wt = spark.createDataFrame(_FUSION_WEIGHTS, "event_type string, weight double")
    fused = (
        ev.join(F.broadcast(wt), "event_type")
        .groupBy("user_id", "event_type")
        .agg(F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("fused_score"))
        .where(F.col("fused_score") >= 0.5)
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("fused_score"), F.asc("event_type")
    )
    return (
        fused.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("best_type"), "fused_score")
    )


@_q(
    "q_topn_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
)
def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group (/root/reference/ocrclient/redisdata.py:165,184
    top-10 per han; font/rec.py:160-168). Spark plans the rn<=3 filter as
    a per-partition running limit inside the window exec."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@_q(
    "q_gaps_islands",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, value >= 50.0 AS flag,
             lag(value >= 50.0) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS pflag
      FROM events
    ), r AS (
      SELECT user_id, event_id, ts, flag,
             CAST(SUM(CASE WHEN flag AND (pflag IS NULL OR NOT pflag)
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS bigint) AS run_id
      FROM s
    )
    SELECT user_id, run_id, CAST(COUNT(*) AS bigint) AS n_events,
           CAST(MIN(epoch_ms(ts)) AS bigint) AS beg_ms,
           CAST(MAX(epoch_ms(ts)) AS bigint) AS end_ms
    FROM r WHERE flag GROUP BY user_id, run_id
    """,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands run detection — the reference's core span
    semantics (slide_window_beg_eng /root/reference/font/project_rec.py:36-54
    and the label-run decode /root/reference/mocov1/app.py:88-111):
    lag → run-start marker → cumulative sum run ids → per-run min/max.
    One shuffle on user_id serves both window passes and the final agg."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    ordw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flag = F.col("value") >= 50.0
    s = ev.withColumn("flag", flag).withColumn("pflag", F.lag(flag).over(ordw))
    run_start = F.when(
        F.col("flag") & (F.col("pflag").isNull() | ~F.col("pflag")), 1
    ).otherwise(0)
    r = s.withColumn(
        "run_id",
        F.sum(run_start)
        .over(ordw.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return (
        r.where("flag")
        .groupBy("user_id", "run_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(F.unix_millis(F.col("ts").cast("timestamp")))
            .cast("long")
            .alias("beg_ms"),
            F.max(F.unix_millis(F.col("ts").cast("timestamp")))
            .cast("long")
            .alias("end_ms"),
        )
    )


@_q(
    "q_pairwise_transitions",
    """
    SELECT prev_type, event_type, CAST(COUNT(*) AS bigint) AS n
    FROM (SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
          FROM events)
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def q_pairwise_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise neighbor comparison over an ordered sequence
    (/root/reference/ocrclient/pdocr.py:110-133 pre/post-GAN pairs) as a
    lag() window — no self-join shuffle."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# ----------------------------------------------------- tool-sequence mining
_TOOLSEQ_TOPK = 25


@_q(
    "q_tool_seq3",
    f"""
    WITH seq AS (
      SELECT event_type AS t3,
             lag(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS t2,
             lag(event_type, 2) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS t1
      FROM events
    )
    SELECT t1, t2, t3, CAST(COUNT(*) AS bigint) AS n
    FROM seq WHERE t1 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n DESC, t1, t2, t3 LIMIT {_TOOLSEQ_TOPK}
    """,
)
def q_tool_seq3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step action sequences over each user's event stream —
    the agent-transcript pattern miner (which tool chains dominate; the
    k=3 extension of q_pairwise_transitions' bigram matrix). Two lag()
    taps share ONE (user_id)-keyed window pass; counts partial-aggregate
    map-side (distinct-trigram cardinality ≤ |types|³, tiny) and the
    top-k is TakeOrderedAndProject — per-partition heaps, never a
    global sort."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t3"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.lag("event_type", 2).over(w).alias("t1"),
    )
    return (
        seq.where(F.col("t1").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "t1", "t2", "t3")
        .limit(_TOOLSEQ_TOPK)
    )


# ------------------------------------------------------- reply latency
@_q(
    "q_reply_latency",
    """
    WITH g AS (
      SELECT event_type,
             epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_ms(ts), event_id) AS gap_ms
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS bigint) AS n_gaps,
           CAST(MIN(gap_ms) AS bigint) AS min_ms,
           CAST(MAX(gap_ms) AS bigint) AS max_ms,
           CAST(SUM(gap_ms) AS bigint) AS total_ms,
           ROUND(CAST(SUM(gap_ms) AS double) / COUNT(*), 3) AS mean_ms
    FROM g WHERE gap_ms IS NOT NULL
    GROUP BY event_type
    """,
)
def q_reply_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event latency profile per event type: the time since the
    user's PREVIOUS event, aggregated by the type of the event that
    closed the gap — the transcript-analytics view of "how long does
    each action take to arrive". Exact integer millisecond sums (the
    mean is one double division at the end), so both engines agree to
    the hash. One (user_id)-keyed window pass, then a partial-aggregated
    O(|types|)-group rollup."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    g = ev.withColumn("ms", ms).select(
        "event_type",
        (F.col("ms") - F.lag("ms").over(w)).alias("gap_ms"),
    )
    return (
        g.where(F.col("gap_ms").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_ms").cast("long").alias("min_ms"),
            F.max("gap_ms").cast("long").alias("max_ms"),
            F.sum("gap_ms").cast("long").alias("total_ms"),
            F.round(
                F.sum("gap_ms").cast("double") / F.count(F.lit(1)), 3
            ).alias("mean_ms"),
        )
    )


_SESSION_GAP_MS = 30 * 60 * 1000


@_q(
    "q_sessionize",
    f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_ms(ts), event_id) AS prev_ms
      FROM events
    ), r AS (
      SELECT user_id, event_id, ms,
             CAST(SUM(CASE WHEN prev_ms IS NULL
                           OR ms - prev_ms > {_SESSION_GAP_MS}
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ms, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS bigint) AS session_id
      FROM s
    )
    SELECT user_id, session_id, CAST(COUNT(*) AS bigint) AS n_events,
           CAST(MIN(ms) AS bigint) AS beg_ms, CAST(MAX(ms) AS bigint) AS end_ms,
           CAST(MAX(ms) - MIN(ms) AS bigint) AS duration_ms
    FROM r GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (session window = events within 30 min of
    the previous one): the islands pattern applied to timestamps — the
    standard log/transcript session segmentation for training-data
    pipelines. One shuffle on user_id serves both window passes and the
    final aggregate."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    ordw = Window.partitionBy("user_id").orderBy("ms", "event_id")
    s = ev.withColumn("ms", ms).withColumn("prev_ms", F.lag("ms").over(ordw))
    new_sess = F.when(
        F.col("prev_ms").isNull()
        | ((F.col("ms") - F.col("prev_ms")) > _SESSION_GAP_MS),
        1,
    ).otherwise(0)
    r = s.withColumn(
        "session_id",
        F.sum(new_sess)
        .over(ordw.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return r.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ms").cast("long").alias("beg_ms"),
        F.max("ms").cast("long").alias("end_ms"),
        (F.max("ms") - F.min("ms")).cast("long").alias("duration_ms"),
    )


# -------------------------------------------------------------------- joins
@_q(
    "q_anti_missing",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    """,
)
def q_anti_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti 'missing keys' report
    (/root/reference/ocrclient/redisdata.py:343-352 missing-han check;
    also the seen-set skip at :170,183). The probe-side filter is pushed
    below the anti-join into the scan."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti")


@_q(
    "q_dedup_earliest",
    """
    SELECT o_custkey, o_orderkey, CAST(epoch_ms(o_orderdate) AS bigint) AS order_ms
    FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
          FROM orders)
    WHERE rn = 1
    """,
)
def q_dedup_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping a deterministic canonical row
    (insert-if-absent / dropDuplicates family,
    /root/reference/ocrclient/rechanimage.py:52-53, redisdata.py:106-108
    — made deterministic via full ordering instead of arrival order)."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp"))
            .cast("long")
            .alias("order_ms"),
        )
    )


@_q(
    "q_region_revenue",
    """
    SELECT r_name, CAST(year(o_orderdate) AS int) AS order_year,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           CAST(COUNT(*) AS bigint) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, year(o_orderdate)
    """,
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dims enrichment (span→image-metadata lookup shape,
    /root/reference/ocrclient/redisdata.py:57-58). nation/region are
    broadcast; customer is broadcast-eligible at small SF and a shuffle
    join at scale — AQE picks per run."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderdate")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )


# ------------------------------------------------------------------- set ops
@_q(
    "q_rollup_revenue",
    """
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(CAST(year(o_orderdate) AS varchar), 'ALL') AS order_year,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           CAST(COUNT(*) AS bigint) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, year(o_orderdate))
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (region → year → grand total) —
    subtotal levels in one shuffle instead of three jobs."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderdate")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", F.year("o_orderdate").alias("oy"), "o_totalprice")
    )
    return (
        joined.rollup("r_name", "oy")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce(F.col("oy").cast("string"), F.lit("ALL")).alias(
                "order_year"
            ),
            "revenue",
            "n_orders",
        )
    )


@_q(
    "q_union_nations",
    """
    SELECT DISTINCT n_name FROM (
      SELECT c_nationkey AS k FROM customer
      UNION ALL SELECT s_nationkey FROM supplier
    ) u JOIN nation ON u.k = n_nationkey
    """,
)
def q_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union + distinct across sources
    (/root/reference/ocrclient/redisdata.py:332-342 han-set union)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.unionByName(s)
        .join(F.broadcast(n), F.col("k") == F.col("n_nationkey"))
        .select("n_name")
        .distinct()
    )


@_q(
    "q_charset_stats",
    """
    SELECT doc_id,
           text LIKE '%table%'                                   AS has_kw,
           CAST(length(text)
                - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                AS bigint)                                       AS n_alpha,
           CAST(length(text)
                - length(regexp_replace(text, '[0-9]', '', 'g'))
                AS bigint)                                       AS n_digit,
           regexp_matches(text, '^[a-z ]+$')                     AS pure_lower
    FROM documents
    """,
)
def q_charset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset predicates + char-class counting (CJK-range predicate
    /root/reference/ocrclient/util.py:9-13 generalized; regex filters
    §2.2). Counting by length-difference after regexp_replace keeps both
    engines on the same code path."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_alpha = F.length("text") - F.length(
        F.regexp_replace("text", "[A-Za-z]", "")
    )
    n_digit = F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    return docs.select(
        "doc_id",
        F.col("text").contains("table").alias("has_kw"),
        n_alpha.cast("long").alias("n_alpha"),
        n_digit.cast("long").alias("n_digit"),
        F.col("text").rlike("^[a-z ]+$").alias("pure_lower"),
    )


@_q(
    "q_train_split",
    """
    SELECT split, CAST(COUNT(*) AS bigint) AS n,
           CAST(MIN(doc_id) AS bigint) AS min_id, CAST(MAX(doc_id) AS bigint) AS max_id
    FROM (SELECT doc_id,
                 CASE WHEN ('0x' || substr(md5(CAST(doc_id AS varchar)), 1, 4))::bigint
                           % 10 < 7
                      THEN 'train' ELSE 'val' END AS split
          FROM documents)
    GROUP BY split
    """,
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 70/30 split (train_test_split
    /root/reference/spiltTools.py:47-59 — seeded-random replaced by
    hash-mod so the split is stable across engines, runs, and scale;
    same trick as the uuid3 deterministic ids at rechanimage.py:51)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long") % 10
    return (
        docs.withColumn(
            "split", F.when(bucket < 7, F.lit("train")).otherwise(F.lit("val"))
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("doc_id").cast("long").alias("min_id"),
            F.max("doc_id").cast("long").alias("max_id"),
        )
    )


# --------------------------------------------------------------- hysteresis
# two-threshold island decoding as a PURE-CATALYST window query (the
# relational form of extract/textops.extract_plain_hysteresis_batch;
# reference /root/reference/font/characterSegment.py:20-96). The line
# table is synthesized identically in both engines from documents: token
# 5-grams as lines, with deterministic noise/short lines injected by
# (doc_id + line) mod rules so regions really do open, dip, bridge, and
# split. Output is integer/string only — no doubles cross the gate.
_HYST_NOISE = "*** !!! *** ???"
_HYST_DENSE_STRIP = "[^0-9A-Za-z一-龥]"


def _lines_sql(extra: str = "") -> str:
    """The synthetic-line CTE (doc_id{extra}, li, s) — the ONE DuckDB
    rendering of _synth_lines' generator contract, shared by every
    oracle that consumes the line table (hysteresis, plain runs,
    boilerplate line frequency). ``extra`` threads additional document
    columns through (e.g. ``", source"``)."""
    return f"""tk AS (SELECT doc_id{extra}, string_split(text, ' ') AS tk
               FROM documents),
    lines AS (
      SELECT doc_id{extra}, i - 1 AS li,
             CASE WHEN (doc_id + i - 1) % 7 = 5 THEN 'ok'
                  WHEN (doc_id + i - 1) % 4 = 3 THEN '{_HYST_NOISE}'
                  ELSE array_to_string(tk[(i-1)*5 + 1 : (i-1)*5 + 5], ' ')
             END AS s
      FROM tk, unnest(generate_series(1, CAST(ceil(len(tk) / 5.0) AS int))) g(i)
    )"""


_HYST_SQL = f"""
    WITH {_lines_sql()},
    feat AS (
      SELECT doc_id, li, s,
             length(s) >= {_R_MIN_LINE_LEN}
             AND (CASE WHEN length(s) > 0 THEN
                    CAST(length(regexp_replace(s, '{_HYST_DENSE_STRIP}', '', 'g'))
                         AS double) / length(s) ELSE 0.0 END)
                 >= {_R_HYST_EXIT} AS weak,
             length(s) >= {_R_MIN_LINE_LEN}
             AND (CASE WHEN length(s) > 0 THEN
                    CAST(length(regexp_replace(s, '{_HYST_DENSE_STRIP}', '', 'g'))
                         AS double) / length(s) ELSE 0.0 END)
                 >= {_R_HYST_ENTER} AS strong
      FROM lines
    ),
    w AS (
      SELECT doc_id, li, strong,
             CASE WHEN lag(li) OVER (PARTITION BY doc_id ORDER BY li) IS NULL
                    OR li - lag(li) OVER (PARTITION BY doc_id ORDER BY li)
                       > {_R_HYST_BRIDGE + 1}
                  THEN 1 ELSE 0 END AS nr
      FROM feat WHERE weak
    ),
    w2 AS (SELECT doc_id, li, strong,
                  SUM(nr) OVER (PARTITION BY doc_id ORDER BY li
                                ROWS UNBOUNDED PRECEDING) AS region
           FROM w),
    regs AS (SELECT doc_id, region, MIN(li) AS beg_li, MAX(li) AS end_li,
                    MAX(CASE WHEN strong THEN 1 ELSE 0 END) AS hs
             FROM w2 GROUP BY doc_id, region),
    kept AS (SELECT doc_id, beg_li, end_li FROM regs WHERE hs = 1),
    texts AS (
      SELECT k.doc_id, k.beg_li, k.end_li,
             string_agg(f.s, chr(10) ORDER BY f.li) AS region_text
      FROM kept k JOIN feat f
        ON f.doc_id = k.doc_id AND f.li BETWEEN k.beg_li AND k.end_li
      GROUP BY k.doc_id, k.beg_li, k.end_li
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY beg_li) AS int)
             AS region_no,
           CAST(beg_li AS int) AS beg_li, CAST(end_li AS int) AS end_li,
           region_text
    FROM texts
    """


def _synth_lines(
    spark: SparkSession, sf_dir: str, extra_cols: tuple = ()
) -> DataFrame:
    """The shared line table (doc_id, li, s) both engines derive from
    documents: 5-token chunks as lines, with deterministic noise and
    sub-length lines injected by (doc_id + li) mod rules so content runs
    genuinely open, dip, bridge, and split. ``extra_cols`` threads
    additional document columns through (mirrors _lines_sql's extra)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", *extra_cols, "text"
    )
    tk = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(tk) / F.lit(5.0)).cast("int")
    raw = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.array_join(F.slice(tk, i * 5 + 1, 5), " "),
    )
    return docs.select(
        "doc_id", *extra_cols, F.posexplode(raw).alias("li", "raw")
    ).select(
        "doc_id",
        *extra_cols,
        "li",
        F.when((F.col("doc_id") + F.col("li")) % 7 == 5, F.lit("ok"))
        .when(
            (F.col("doc_id") + F.col("li")) % 4 == 3, F.lit(_HYST_NOISE)
        )
        .otherwise(F.col("raw"))
        .alias("s"),
    )


def _dens_col():
    ln = F.length("s")
    return F.when(
        ln > 0,
        F.length(F.regexp_replace("s", _HYST_DENSE_STRIP, "")).cast("double")
        / ln,
    ).otherwise(F.lit(0.0))


@_q("q_hysteresis_spans", _HYST_SQL)
def q_hysteresis_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hysteresis region decode, pure Catalyst: lag-window region breaks
    (a >2-line gap in weak lines closes a region), cumulative-sum region
    ids, HAVING-style strong-line requirement, then a range join back to
    the line table for the region text. One shuffle keyed by doc_id
    serves the windows; the range join is per-doc and bounded."""
    lines = _synth_lines(spark, sf_dir)
    ln = F.length("s")
    dens = _dens_col()
    feat = lines.select(
        "doc_id",
        "li",
        "s",
        ((ln >= _R_MIN_LINE_LEN) & (dens >= _R_HYST_EXIT)).alias("weak"),
        ((ln >= _R_MIN_LINE_LEN) & (dens >= _R_HYST_ENTER)).alias("strong"),
    )
    win = Window.partitionBy("doc_id").orderBy("li")
    prev = F.lag("li").over(win)
    w = (
        feat.where("weak")
        .withColumn(
            "nr",
            (
                prev.isNull() | ((F.col("li") - prev) > _R_HYST_BRIDGE + 1)
            ).cast("int"),
        )
        .withColumn(
            "region",
            F.sum("nr").over(
                win.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    regs = (
        w.groupBy("doc_id", "region")
        .agg(
            F.min("li").alias("beg_li"),
            F.max("li").alias("end_li"),
            F.max(F.col("strong").cast("int")).alias("hs"),
        )
        .where(F.col("hs") == 1)
    )
    fl = feat.select(
        F.col("doc_id").alias("f_doc"),
        F.col("li").alias("f_li"),
        "s",
    )
    texts = (
        regs.join(
            fl,
            (F.col("doc_id") == F.col("f_doc"))
            & (F.col("f_li") >= F.col("beg_li"))
            & (F.col("f_li") <= F.col("end_li")),
        )
        .groupBy("doc_id", "beg_li", "end_li")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("f_li", "s"))),
                    lambda x: x["s"],
                ),
                "\n",
            ).alias("region_text")
        )
    )
    rn = Window.partitionBy("doc_id").orderBy("beg_li")
    return texts.select(
        "doc_id",
        F.row_number().over(rn).cast("int").alias("region_no"),
        F.col("beg_li").cast("int").alias("beg_li"),
        F.col("end_li").cast("int").alias("end_li"),
        "region_text",
    )


# --------------------------------------------------------------- agree vote
@_q(
    "q_agreement_vote",
    """
    SELECT doc_id,
           CAST(COUNT(DISTINCT v) AS int) AS n_distinct,
           COUNT(DISTINCT v) = 1 AS agreed
    FROM (SELECT doc_id,
                 unnest([text,
                         trim(text),
                         regexp_replace(text, ' +', ' ', 'g'),
                         regexp_replace(text, '[0-9]+', '#', 'g')]) AS v
          FROM documents)
    GROUP BY doc_id
    """,
)
def q_agreement_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The relational core of the ×4 self-consistency vote
    (/root/reference/font/rec.py:41-87: k replicas → accept iff all
    agree), gate-checked in SQL: four deterministic normalization probes
    per document (identity / trim / space-collapse / digit-mask); a
    document 'agrees' iff all four coincide — i.e. its text is already
    normalization-stable. Shape: explode ×4 → groupBy(countDistinct)=1,
    exactly the filter extract_vote applies to kernel candidates."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    variants = F.array(
        F.col("text"),
        F.trim(F.col("text")),
        F.regexp_replace("text", " +", " "),
        F.regexp_replace("text", "[0-9]+", "#"),
    )
    return (
        docs.select("doc_id", F.explode(variants).alias("v"))
        .groupBy("doc_id")
        .agg(F.countDistinct("v").cast("int").alias("n_distinct"))
        .select(
            "doc_id", "n_distinct", (F.col("n_distinct") == 1).alias("agreed")
        )
    )


# ------------------------------------------------------------ rename + trim
@_q(
    "q_rename_normalize",
    """
    WITH named AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 9 = 8
                  THEN 'scan' || CAST(doc_id % 37 AS varchar) || '.bmp'
                  ELSE 'I' || CAST(doc_id % 37 AS varchar) || '.bmp'
             END AS fname
      FROM documents
    )
    SELECT doc_id, fname,
           CASE WHEN regexp_matches(fname, '^I(\\d+)\\.bmp$')
                THEN lang || '_' ||
                     lpad(regexp_extract(fname, '^I(\\d+)\\.bmp$', 1), 2, '0')
                     || '.png'
                ELSE fname END AS renamed
    FROM named
    """,
)
def q_rename_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File rename normalizer (/root/reference/pdf/tools.py:51-71:
    ``I0.bmp → 1954-01_00.bmp`` — regex-gate on ^I, zero-pad the page
    number, re-prefix): pure column exprs (regexp_extract + lpad +
    concat), no filesystem mutation. Non-matching names pass through
    unchanged (the reference skips them). Filenames are synthesized
    deterministically from doc_id; doc_id % 9 == 8 rows get a
    non-matching name to exercise the gate."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    num = (F.col("doc_id") % 37).cast("string")
    fname = F.when(
        F.col("doc_id") % 9 == 8, F.concat(F.lit("scan"), num, F.lit(".bmp"))
    ).otherwise(F.concat(F.lit("I"), num, F.lit(".bmp")))
    named = docs.select("doc_id", "lang", fname.alias("fname"))
    pat = r"^I(\d+)\.bmp$"
    renamed = F.when(
        F.col("fname").rlike(pat),
        F.concat(
            F.col("lang"),
            F.lit("_"),
            F.lpad(F.regexp_extract("fname", pat, 1), 2, "0"),
            F.lit(".png"),
        ),
    ).otherwise(F.col("fname"))
    return named.select("doc_id", "fname", renamed.alias("renamed"))


@_q(
    "q_edge_trim",
    """
    WITH tok AS (
      SELECT doc_id, i AS pos, length(tk[i]) AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           unnest(generate_series(1, len(tk))) g(i)
    ),
    ink AS (SELECT doc_id,
                   MIN(CASE WHEN w > 2 THEN pos END) AS first_ink,
                   MAX(CASE WHEN w > 2 THEN pos END) AS last_ink,
                   CAST(MAX(pos) AS int) AS n
            FROM tok GROUP BY doc_id)
    SELECT doc_id,
           CAST(greatest(1, first_ink - 1) AS int) AS beg_pos,
           CAST(least(n, last_ink + 1) AS int) AS end_pos, n
    FROM ink WHERE first_ink IS NOT NULL
    """,
)
def q_edge_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-trim (/root/reference/mocov1/data/dataset.py:11-36
    ``imageStrip``: advance from both ends while the projection profile
    is ≤ threshold, keep a margin): the token-stream analogue — profile =
    token length, ink = length > 2, trimmed span = [first_ink-1,
    last_ink+1] clamped. Relational form: min/max over a conditional —
    one aggregate, no ordered scan needed."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "t")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.length("t").alias("w"),
    )
    ink = tok.groupBy("doc_id").agg(
        F.min(F.when(F.col("w") > 2, F.col("pos"))).alias("first_ink"),
        F.max(F.when(F.col("w") > 2, F.col("pos"))).alias("last_ink"),
        F.max("pos").cast("int").alias("n"),
    )
    return ink.where(F.col("first_ink").isNotNull()).select(
        "doc_id",
        F.greatest(F.lit(1), F.col("first_ink") - 1).cast("int").alias("beg_pos"),
        F.least(F.col("n"), F.col("last_ink") + 1).cast("int").alias("end_pos"),
        "n",
    )


@_q(
    "q_slide_windows",
    """
    WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents)
    SELECT doc_id, CAST(g.i / 4 AS int) AS win_no,
           CAST(g.i AS int) AS beg_tok,
           CAST(least(g.i + 16, n) AS int) AS end_tok
    FROM d, unnest(generate_series(0, greatest(0, n - 12), 4)) g(i)
    WHERE n >= 1
    """,
)
def q_slide_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window slicer (/root/reference/mocov1/data/dataset.py:37-51
    ``splitImage``: 16-wide windows, stride 4, over the padded line):
    window starts = sequence(0, n-12, 4) (the reference pads by one
    stride block so the tail is covered), clamped ends. Pure
    sequence→explode — zero UDF, zero shuffle beyond the scan."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.size(F.split("text", " "))
    starts = F.sequence(F.lit(0), F.greatest(F.lit(0), n - 12), F.lit(4))
    return (
        docs.select("doc_id", n.alias("n"), F.explode(starts).alias("i"))
        .where(F.col("n") >= 1)
        .select(
            "doc_id",
            (F.col("i") / 4).cast("int").alias("win_no"),
            F.col("i").cast("int").alias("beg_tok"),
            F.least(F.col("i") + 16, F.col("n")).cast("int").alias("end_tok"),
        )
    )


# ------------------------------------------------- plain extraction (gated)
# the flagship plain-path semantics (line classify → gaps-and-islands →
# run assembly WITH char offsets into the joined output) as a fully
# SQL-expressible query — upgrading the extraction contract's evidence
# from rows-only to a DuckDB value-hash gate. Rules come from rules.py
# (single source of truth shared with the Arrow kernel and
# oracle.extract_plain) — both the Spark exprs and the DuckDB SQL
# interpolate the SAME constants (imported at module top), so tuning a
# threshold cannot silently decouple this query from the kernel.
def _boiler_alt() -> str:
    import re as _re

    from ..rules import BOILER_PHRASES

    return "|".join(_re.escape(p) for p in BOILER_PHRASES)


@_q(
    "q_extract_plain_runs",
    f"""
    WITH {_lines_sql()},
    fl AS (
      SELECT doc_id, li, s FROM lines
      WHERE length(s) >= {_R_MIN_LINE_LEN}
        AND (CASE WHEN length(s) > 0 THEN
               CAST(length(regexp_replace(s, '{_HYST_DENSE_STRIP}', '', 'g'))
                    AS double) / length(s) ELSE 0.0 END) >= {_R_DENSITY_THRESH}
        AND NOT regexp_matches(s, '__BOILER__', 'i')
    ),
    grp AS (
      SELECT doc_id, li, s,
             li - row_number() OVER (PARTITION BY doc_id ORDER BY li) AS g
      FROM fl
    ),
    runs AS (
      SELECT doc_id, g, MIN(li) AS beg_li,
             string_agg(s, chr(10) ORDER BY li) AS run_text
      FROM grp GROUP BY doc_id, g
    ),
    seq AS (
      SELECT doc_id, run_text, beg_li,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY beg_li)
                  AS int) AS run_no,
             length(run_text) AS rl,
             SUM(length(run_text)) OVER (PARTITION BY doc_id ORDER BY beg_li
                                         ROWS UNBOUNDED PRECEDING) AS cum
      FROM runs
    )
    SELECT doc_id, run_no, run_text,
           CAST(cum - rl + run_no - 1 AS int) AS beg,
           CAST(cum + run_no - 1 AS int) AS "end"
    FROM seq
    """.replace("__BOILER__", _boiler_alt()),
)
def q_extract_plain_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-path extraction runs with span offsets, pure Catalyst:
    islands via the li − row_number trick (one window), run text via
    ordered collect, offsets via a cumulative length window — the exact
    per-turn contract (runs joined by '\\n', codepoint beg/end) that the
    Arrow kernel implements, here value-hash-checked against DuckDB."""
    lines = _synth_lines(spark, sf_dir)
    ln = F.length("s")
    dens = _dens_col()
    boiler = F.col("s").rlike("(?i)(" + _boiler_alt() + ")")
    fl = lines.where(
        (ln >= _R_MIN_LINE_LEN) & (dens >= _R_DENSITY_THRESH) & ~boiler
    )
    win = Window.partitionBy("doc_id").orderBy("li")
    grp = fl.withColumn("g", F.col("li") - F.row_number().over(win))
    runs = grp.groupBy("doc_id", "g").agg(
        F.min("li").alias("beg_li"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("li", "s"))),
                lambda x: x["s"],
            ),
            "\n",
        ).alias("run_text"),
    )
    rwin = Window.partitionBy("doc_id").orderBy("beg_li")
    cwin = rwin.rowsBetween(Window.unboundedPreceding, 0)
    seq = runs.select(
        "doc_id",
        "run_text",
        F.row_number().over(rwin).cast("int").alias("run_no"),
        F.length("run_text").alias("rl"),
        F.sum(F.length("run_text")).over(cwin).alias("cum"),
    )
    return seq.select(
        "doc_id",
        "run_no",
        "run_text",
        (F.col("cum") - F.col("rl") + F.col("run_no") - 1)
        .cast("int")
        .alias("beg"),
        (F.col("cum") + F.col("run_no") - 1).cast("int").alias("end"),
    )


# -------------------------------------------------- span stats (oracled)
# The oracle-gated counterpart of extraction.x_span_stats: the kernel
# family's span metrics cannot be DuckDB-gated (their input is the
# Python-synthesized transcripts table), but over the SQL-expressible
# plain-run extraction the same reporting aggregation IS expressible —
# this wraps q_extract_plain_runs' shared SQL in the metrics rollup, so
# the span-stats SHAPE (per-position counts, lengths, offset ranges) is
# value-hash-gated even though the Arrow-kernel instance is rows-only.
_PLAIN_RUNS_SQL = ORACLES["q_extract_plain_runs"]


@_q(
    "q_span_stats_plain",
    f"""
    WITH plain_runs AS ({_PLAIN_RUNS_SQL})
    SELECT run_no,
           CAST(COUNT(*) AS bigint) AS n_docs,
           CAST(SUM("end" - beg) AS bigint) AS total_len,
           ROUND(AVG("end" - beg), 3) AS avg_len,
           CAST(MIN(beg) AS int) AS min_beg,
           CAST(MAX("end") AS int) AS max_end
    FROM plain_runs GROUP BY run_no
    """,
)
def q_span_stats_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-run-position span reporting over the plain-path extraction:
    counts, total/mean span length, offset envelope per run_no — one
    partial-aggregated shuffle of O(max run_no) groups on top of the
    extraction plan."""
    runs = q_extract_plain_runs(spark, sf_dir)
    ln = F.col("end") - F.col("beg")
    return runs.groupBy("run_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(ln).cast("long").alias("total_len"),
        F.round(F.avg(ln), 3).alias("avg_len"),
        F.min("beg").cast("int").alias("min_beg"),
        F.max("end").cast("int").alias("max_end"),
    )


# ------------------------------------------------------------ verdict merge
@_q(
    "q_verdict_merge",
    """
    WITH base AS (
      SELECT doc_id, CAST(doc_id % 3 - 1 AS int) AS old_label FROM documents
    ),
    verdicts AS (
      SELECT doc_id, CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END AS int)
               AS verdict
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT b.doc_id, b.old_label,
           CAST(CASE WHEN b.old_label = 1 THEN 1
                     WHEN v.verdict IS NOT NULL THEN v.verdict
                     ELSE b.old_label END AS int) AS new_label,
           v.verdict IS NOT NULL AND b.old_label <> 1 AS updated
    FROM base b LEFT JOIN verdicts v ON b.doc_id = v.doc_id
    """,
)
def q_verdict_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-verdict MERGE (/root/reference/ocrclient/redisdata.py:88-98:
    propagate a labeling verdict, but never overwrite a confirmed
    ``labeled == 1`` row): the relational form of MERGE INTO ... WHEN
    MATCHED AND old <> confirmed THEN UPDATE — a left join + guarded
    coalesce, broadcastable because verdicts are human-scale while the
    corpus is not. Labels: -1 rejected / 0 unlabeled / 1 confirmed."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    base = docs.select(
        "doc_id", (F.col("doc_id") % 3 - 1).cast("int").alias("old_label")
    )
    verdicts = (
        docs.where(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 2 == 0, 1)
            .otherwise(-1)
            .cast("int")
            .alias("verdict"),
        )
    )
    new_label = (
        F.when(F.col("old_label") == 1, 1)
        .when(F.col("verdict").isNotNull(), F.col("verdict"))
        .otherwise(F.col("old_label"))
        .cast("int")
    )
    return (
        base.join(F.broadcast(verdicts), "doc_id", "left")
        .select(
            "doc_id",
            "old_label",
            new_label.alias("new_label"),
            (F.col("verdict").isNotNull() & (F.col("old_label") != 1)).alias(
                "updated"
            ),
        )
    )


# --------------------------------------------- pdfish line decode (gated)
# The pdfish kernel's core semantic — char boxes grouped into text lines,
# read in x order, inter-word gaps decoded into spaces
# (extract/textops.py:_line_sorted_boxes; reference
# /root/reference/font/project_rec.py:140-183 seg_row_image) — as a
# pure-Catalyst query over char boxes SYNTHESIZED in SQL from documents,
# with DuckDB running the identical synthesis + decode. This upgrades the
# pdfish path's evidence from golden-only to a value-hash gate (the Arrow
# kernel is separately proven byte-equal on the same layout by
# tests/test_pdfish_sql.py, closing the kernel == Catalyst == DuckDB
# three-way).
#
# Layout (shared with the test's payload builder): first 90 chars of the
# document, 30-char text lines; each non-space char is an 8-px-wide box
# advancing x by 9 px; a space advances x by 13 px and emits NO box, so
# the next box's 5-px gap exceeds PDF_SPACE_GAP × prev_w = 4 px and the
# decoder re-inserts the space.
from ..rules import PDF_SPACE_GAP as _R_PDF_SPACE_GAP  # noqa: E402

_PDF_CHARS = 90
_PDF_LINE_CHARS = 30
_PDF_X0 = 5.0
_PDF_W = 8.0
_PDF_ADV = 9.0
_PDF_SP_ADV = 13.0
_PDF_GAP_PX = _R_PDF_SPACE_GAP * _PDF_W


@_q(
    "q_pdfish_line_decode",
    f"""
    WITH ch AS (
      SELECT doc_id, i, substr(text, i, 1) AS c,
             CAST((i - 1) // {_PDF_LINE_CHARS} AS int) AS line_no
      FROM documents,
           unnest(generate_series(1, least(length(text), {_PDF_CHARS}))) g(i)
      WHERE length(text) >= 1
    ),
    pos AS (
      SELECT doc_id, line_no, i, c,
             {_PDF_X0} + COALESCE(
               SUM(CASE WHEN c = ' ' THEN {_PDF_SP_ADV}
                        ELSE {_PDF_ADV} END)
               OVER (PARTITION BY doc_id, line_no ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0.0) AS x
      FROM ch
    ),
    gap AS (
      SELECT doc_id, line_no, x, c,
             x - lag(x + {_PDF_W})
                   OVER (PARTITION BY doc_id, line_no ORDER BY x) AS gap
      FROM pos WHERE c <> ' '
    )
    SELECT doc_id, line_no,
           string_agg(CASE WHEN gap > {_PDF_GAP_PX} THEN ' ' || c ELSE c END,
                      '' ORDER BY x) AS line_text
    FROM gap
    GROUP BY doc_id, line_no
    """,
)
def q_pdfish_line_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-box → text-line assembly (the pdfish kernel semantic) in pure
    Catalyst: boxes laid out by a cumulative-advance window, lines read
    in x order, a lag() gap test re-inserting word spaces, ordered
    collect building each line. Every step is a window or aggregate over
    (doc_id, line_no) — one shuffle key end to end, no UDF."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    n = F.least(F.length("text"), F.lit(_PDF_CHARS))
    ch = (
        docs.where(F.length("text") >= 1)
        .select(
            "doc_id", "text", F.explode(F.sequence(F.lit(1), n)).alias("i")
        )
        .select(
            "doc_id",
            "i",
            F.expr("substring(text, i, 1)").alias("c"),
            F.floor((F.col("i") - 1) / _PDF_LINE_CHARS)
            .cast("int")
            .alias("line_no"),
        )
    )
    adv = F.when(F.col("c") == " ", F.lit(_PDF_SP_ADV)).otherwise(
        F.lit(_PDF_ADV)
    )
    wpos = Window.partitionBy("doc_id", "line_no").orderBy("i").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pos = ch.withColumn(
        "x", F.lit(_PDF_X0) + F.coalesce(F.sum(adv).over(wpos), F.lit(0.0))
    )
    wg = Window.partitionBy("doc_id", "line_no").orderBy("x")
    gap = pos.where(F.col("c") != " ").withColumn(
        "gap", F.col("x") - F.lag(F.col("x") + _PDF_W).over(wg)
    )
    piece = F.when(
        F.col("gap") > _PDF_GAP_PX, F.concat(F.lit(" "), F.col("c"))
    ).otherwise(F.col("c"))
    return gap.groupBy("doc_id", "line_no").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("x", piece.alias("p")))
                ),
                lambda t: t["p"],
            ),
            "",
        ).alias("line_text")
    )


# ------------------------------------------------ dialogue context windows
# Training-sample construction for conversational models: each turn is
# paired with its trailing context (the previous k turns + itself,
# joined in order) — the per-sample input a dialogue fine-tune actually
# trains on. One window over (conv, turn) with a bounded ROWS frame:
# state per group is k rows regardless of conversation length, so the
# monster-conversation skew case costs the same per row as any other.
# Derived here over the shared synthetic line table (doc ≅ conversation,
# line ≅ turn) so DuckDB can run the identical construction.
_CTX_K = 3  # trailing context turns


@_q(
    "q_context_windows",
    f"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    lines AS (
      SELECT doc_id, i - 1 AS li,
             CASE WHEN (doc_id + i - 1) % 7 = 5 THEN 'ok'
                  WHEN (doc_id + i - 1) % 4 = 3 THEN '{_HYST_NOISE}'
                  ELSE array_to_string(tk[(i-1)*5 + 1 : (i-1)*5 + 5], ' ')
             END AS s
      FROM tk, unnest(generate_series(1, CAST(ceil(len(tk) / 5.0) AS int))) g(i)
    )
    SELECT doc_id, CAST(li AS int) AS turn_no,
           string_agg(s, chr(10))
             OVER (PARTITION BY doc_id ORDER BY li
                   ROWS BETWEEN {_CTX_K} PRECEDING AND CURRENT ROW)
             AS context,
           CAST(COUNT(*) OVER (PARTITION BY doc_id ORDER BY li
                               ROWS BETWEEN {_CTX_K} PRECEDING
                               AND CURRENT ROW) AS int) AS n_ctx
    FROM lines
    """,
)
def q_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-context construction: ordered collect over a bounded
    ROWS window — k+1 rows of state per group, one shuffle on the
    conversation key."""
    lines = _synth_lines(spark, sf_dir)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("li")
        .rowsBetween(-_CTX_K, 0)
    )
    return lines.select(
        "doc_id",
        F.col("li").cast("int").alias("turn_no"),
        F.array_join(F.collect_list("s").over(w), "\n").alias("context"),
        F.count(F.lit(1)).over(w).cast("int").alias("n_ctx"),
    )


# ------------------------------------------------------- tool transitions
# Agent-transcript analytics on the input schema's role/tool columns:
# the tool-call transition matrix (which tool follows which inside a
# conversation) — the first-order behavioral stat an agent-pipeline
# dashboard computes. The Spark side runs on the REAL pipeline table
# (synth.transcripts_from_documents); the DuckDB oracle re-derives the
# tool turns arithmetically from the same (doc_id, turn) salts the
# generator uses — gating the generator contract and the window query
# in one check.
@_q(
    "q_tool_transitions",
    """
    WITH turns AS (
      SELECT doc_id, g.t
      FROM documents, unnest(generate_series(0, 11)) g(t)
      WHERE g.t % 3 = 2
    ),
    tt AS (
      SELECT doc_id, t,
             ['search','browser','calculator','code_exec']
               [('0x' || substr(md5(doc_id || ':' || t), 1, 8))::bigint
                % 4 + 1] AS tool
      FROM turns
    ),
    seq AS (
      SELECT doc_id, tool,
             lag(tool) OVER (PARTITION BY doc_id ORDER BY t) AS prev_tool
      FROM tt
    )
    SELECT prev_tool, tool AS next_tool, CAST(COUNT(*) AS bigint) AS n
    FROM seq WHERE prev_tool IS NOT NULL
    GROUP BY prev_tool, tool
    """,
)
def q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool→tool transition counts: filter to tool turns, one lag window
    per conversation, one small groupBy — the shuffle carries only
    (conv, turn, tool) triples for tool turns."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir)
    tools = t.where(F.col("role") == "tool").select(
        "conv_id", "turn_idx", "tool"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    seq = tools.withColumn("prev_tool", F.lag("tool").over(w))
    return (
        seq.where(F.col("prev_tool").isNotNull())
        .groupBy("prev_tool", F.col("tool").alias("next_tool"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# --------------------------------------------------------- as-of join
# The time-series operator Spark has no built-in for: attach to each
# purchase the most recent strictly-prior click of the same user
# ("strictly prior" = earlier by (ts, event_id), a total order). The
# scalable formulation is NOT a join at all: union-tag both event
# streams, one sort-window per user, and carry the last-seen click
# forward with last(ignorenulls) — one shuffle on user_id, O(n log n)
# per partition, no pairwise comparison anywhere.
@_q(
    "q_asof_join",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT p.event_id AS purchase_id,
           p.user_id,
           epoch_ms(p.ts) AS purchase_ms,
           c.event_id AS click_id,
           epoch_ms(c.ts) AS click_ms,
           ROUND(c.value, 6) AS click_value
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY p.event_id
      ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) = 1
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join purchases←clicks without a join: union the two event
    streams, sort each user's timeline once by (ts, event_id), and
    carry the latest click forward onto every purchase row with
    last(..., ignorenulls) over an unbounded-preceding frame. The DuckDB
    oracle brute-forces the per-user cross product with arg_max, so the
    gate proves the window formulation equals the quadratic definition.

    Scale: exactly one Exchange (hash by user_id) + one per-partition
    sort shared by the window; the quadratic form never runs on Spark.
    Skewed users cost O(their rows), not O(their rows²)."""
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    ).select("event_id", "ts", "user_id", "event_type", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    carried = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_id"),
        F.last(F.when(is_click, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts"),
        F.last(F.when(is_click, F.col("value")), ignorenulls=True)
        .over(w)
        .alias("click_value_raw"),
    )
    return carried.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("purchase_ms"),
        "click_id",
        F.unix_millis(F.col("click_ts").cast("timestamp")).alias("click_ms"),
        F.round("click_value_raw", 6).alias("click_value"),
    )


# --------------------------------------------- interval-overlap (range) join
# Point-in-interval join: each error event opens a window of `value`
# seconds; count the purchases each user makes inside it. A naive
# non-equi join is a nested loop (O(n·m) per user); the scale path bins
# both sides into fixed-width epochs sized >= the maximum interval
# length, so every interval spans <= 2 buckets (bounded explode) and
# the non-equi predicate becomes an equi-join on (user, bucket) plus a
# residual filter. Integer-ms arithmetic with explicit floor keeps the
# two engines bit-identical (Spark's double->long cast truncates,
# DuckDB's rounds — never rely on either).
_RANGE_BUCKET_MS = 512_000  # > max interval (490.02 s) => <=2 buckets


@_q(
    "q_interval_overlap",
    """
    WITH e AS (
      SELECT event_id AS error_id, user_id,
             epoch_ms(ts) AS beg_ms,
             epoch_ms(ts) + CAST(FLOOR(value * 1000) AS BIGINT) AS end_ms
      FROM events WHERE event_type = 'error'
    ),
    p AS (
      SELECT user_id, epoch_ms(ts) AS p_ms, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT e.error_id, e.user_id,
           CAST(COUNT(p.p_ms) AS BIGINT) AS n_purchases,
           ROUND(COALESCE(SUM(p.value), 0.0), 6) AS purchase_value
    FROM e LEFT JOIN p
      ON e.user_id = p.user_id
     AND p.p_ms BETWEEN e.beg_ms AND e.end_ms
    GROUP BY e.error_id, e.user_id
    """,
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join: intervals explode to their covered epoch
    buckets (<=2 by construction), points map to exactly one, and the
    overlap test runs only within (user, bucket) groups. The DuckDB
    oracle is the plain non-equi join, so the gate proves the binned
    rewrite loses no pairs and invents none.

    Scale: shuffle keys are (user_id, bucket) — time-locality means a
    bucket only meets its own ~width of data; the nested-loop surface
    is gone. Zero-match intervals are restored by a left join against
    the (small) aggregated hit set, not by outer-joining the raw
    streams."""
    ev = load(spark, sf_dir, "events")
    w_ms = _RANGE_BUCKET_MS
    e = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("beg_ms"),
        (
            F.unix_millis(F.col("ts").cast("timestamp"))
            + F.floor(F.col("value") * 1000).cast("long")
        ).alias("end_ms"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("p_ms"),
        "value",
    )
    e_binned = e.select(
        "*",
        F.explode(
            F.sequence(
                (F.col("beg_ms") / w_ms).cast("long"),
                (F.col("end_ms") / w_ms).cast("long"),
            )
        ).alias("bucket"),
    )
    p_binned = p.withColumn("bucket", (F.col("p_ms") / w_ms).cast("long"))
    hits = (
        e_binned.join(p_binned, ["user_id", "bucket"])
        .where(F.col("p_ms").between(F.col("beg_ms"), F.col("end_ms")))
        .groupBy("error_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("value").alias("pv"),
        )
    )
    return e.join(hits, "error_id", "left").select(
        "error_id",
        "user_id",
        F.coalesce("n_purchases", F.lit(0).cast("long")).alias(
            "n_purchases"
        ),
        F.round(F.coalesce("pv", F.lit(0.0)), 6).alias("purchase_value"),
    )


# --------------------------------------------------- agent-loop detection
# Transcripts-native hygiene op: an agent stuck in a loop shows as a
# run of consecutive tool turns invoking the SAME tool. Classic
# gaps-and-islands on value-equality: two row_numbers whose difference
# is constant within a run. The oracle re-derives the generator's
# deterministic (doc, turn) tool assignment, as q_tool_transitions does.
@_q(
    "q_agent_loops",
    """
    WITH turns AS (
      SELECT doc_id, g.t
      FROM documents, unnest(generate_series(0, 11)) g(t)
      WHERE g.t % 3 = 2
    ),
    tt AS (
      SELECT doc_id, t,
             ['search','browser','calculator','code_exec']
               [('0x' || substr(md5(doc_id || ':' || t), 1, 8))::bigint
                % 4 + 1] AS tool
      FROM turns
    ),
    isl AS (
      SELECT doc_id, t, tool,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t)
             - ROW_NUMBER() OVER (PARTITION BY doc_id, tool ORDER BY t)
               AS grp
      FROM tt
    )
    SELECT printf('conv-%08d', doc_id) AS conv_id,
           tool,
           CAST(MIN(t) AS INT) AS first_turn,
           CAST(COUNT(*) AS BIGINT) AS run_len
    FROM isl
    GROUP BY doc_id, tool, grp
    HAVING COUNT(*) >= 2
    """,
)
def q_agent_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect agent tool-loops: runs of >=2 consecutive tool turns
    calling the same tool within one conversation (reference analogue:
    the run detector of /root/reference/font/characterSegment.py:20-96
    applied to the tool sequence instead of pixel density). Two
    row_number windows share one (conv) shuffle+sort; the per-(conv,
    tool) numbering rides the same partitioning.

    Scale: state is one row per tool turn; runs group within a
    conversation so skew is bounded by the longest transcript."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir)
    tools = t.where(F.col("role") == "tool").select(
        "conv_id", "turn_idx", "tool"
    )
    w_all = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_tool = Window.partitionBy("conv_id", "tool").orderBy("turn_idx")
    isl = tools.withColumn(
        "grp",
        F.row_number().over(w_all) - F.row_number().over(w_tool),
    )
    return (
        isl.groupBy("conv_id", "tool", "grp")
        .agg(
            F.min("turn_idx").cast("int").alias("first_turn"),
            F.count(F.lit(1)).cast("long").alias("run_len"),
        )
        .where(F.col("run_len") >= 2)
        .drop("grp")
    )


# --------------------------------------------------------- funnel analysis
# Ordered-sequence conversion funnel: how many users performed
# signup → view → purchase IN THAT ORDER. Each stage anchors on the
# FIRST qualifying event after the previous stage (the standard
# product-analytics semantics). Three conditional min-aggregations over
# one user-keyed pass — never a self-join per stage.
@_q(
    "q_funnel",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
    ),
    s1 AS (
      SELECT user_id, MIN(ms) AS t1 FROM e
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ms) AS t2
      FROM e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ms > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ms) AS t3
      FROM e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ms > s2.t2
      GROUP BY e.user_id
    )
    SELECT s1.user_id,
           s1.t1 AS signup_ms,
           s2.t2 AS view_ms,
           s3.t3 AS purchase_ms,
           CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                     WHEN s2.t2 IS NOT NULL THEN 2
                     ELSE 1 END AS int) AS stage_reached
    FROM s1
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-stage ordered funnel per user (signup → first view after
    signup → first purchase after that view), with the deepest stage
    reached. The Spark form needs NO join at all: one user-keyed
    sort-window pass computes all three stage anchors with running
    conditional minima (stage-2 min only admits views later than the
    stage-1 running min, etc.), so a funnel over 10^12 events is one
    shuffle + one sort — the per-stage join cascade the SQL oracle
    spells out stays in DuckDB as the independent formulation."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # running first-signup; first view strictly after it; first purchase
    # strictly after that — each as a running min over the same window
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ms"))).over(w)
    rows = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "view")
            & F.col("t1").isNotNull()
            & (F.col("ms") > F.col("t1")),
            F.col("ms"),
        )
    ).over(w)
    rows = rows.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & F.col("t2").isNotNull()
            & (F.col("ms") > F.col("t2")),
            F.col("ms"),
        )
    ).over(w)
    rows = rows.withColumn("t3", t3)
    return (
        rows.groupBy("user_id")
        .agg(
            F.min("t1").alias("signup_ms"),
            F.min("t2").alias("view_ms"),
            F.min("t3").alias("purchase_ms"),
        )
        .where(F.col("signup_ms").isNotNull())
        .select(
            "user_id",
            "signup_ms",
            "view_ms",
            "purchase_ms",
            F.when(F.col("purchase_ms").isNotNull(), 3)
            .when(F.col("view_ms").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("stage_reached"),
        )
    )


# ------------------------------------------------- EWMA anomaly flag
# Trailing exponentially-weighted moving average per user over event
# values, truncated at K lags so the recursion unrolls into a CLOSED
# FORM both engines evaluate identically (a true infinite-horizon EWMA
# is a recursive accumulator — cross-engine float parity would hinge on
# accumulation order; the truncated form is also what a streaming
# implementation keeps as bounded state). Events whose value exceeds
# 3× the trailing EWMA are flagged — the spike detector of an ingest
# monitoring pipeline.
_EWMA_ALPHA = 0.5
_EWMA_K = 8


def _ewma_terms_sql() -> str:
    num = " + ".join(
        f"COALESCE({_EWMA_ALPHA ** lag} * lag(value, {lag}) OVER w, 0.0)"
        for lag in range(1, _EWMA_K + 1)
    )
    den = " + ".join(
        f"(CASE WHEN lag(value, {lag}) OVER w IS NOT NULL"
        f" THEN {_EWMA_ALPHA ** lag} ELSE 0.0 END)"
        for lag in range(1, _EWMA_K + 1)
    )
    return num, den


@_q(
    "q_ewma_anomaly",
    f"""
    SELECT event_id, user_id,
           ROUND(value, 6) AS value,
           ROUND(({_ewma_terms_sql()[0]})
                 / NULLIF({_ewma_terms_sql()[1]}, 0.0), 6) AS ewma,
           value > 3.0 * (({_ewma_terms_sql()[0]})
                 / NULLIF({_ewma_terms_sql()[1]}, 0.0)) AS is_spike
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing EWMA (α={_EWMA_ALPHA}, truncated at
    {_EWMA_K} lags, weights renormalized over available history) and a
    3× spike flag. One user-keyed shuffle + sort serves all
    {_EWMA_K} lag() calls (same window). Rows with no history yield
    NULL ewma / NULL flag."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    a = _EWMA_ALPHA
    num = None
    den = None
    for lag in range(1, _EWMA_K + 1):
        lv = F.lag("value", lag).over(w)
        t = F.coalesce(F.lit(a**lag) * lv, F.lit(0.0))
        d = F.when(lv.isNotNull(), F.lit(a**lag)).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = d if den is None else den + d
    ewma = num / F.nullif(den, F.lit(0.0))
    return ev.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
        F.round(ewma, 6).alias("ewma"),
        (F.col("value") > 3.0 * ewma).alias("is_spike"),
    )


# --------------------------------------------------------- retention cohorts
# Cohort retention matrix: users grouped by their first-signup week,
# counted as retained in each later week they produced any event. The
# companion analytics op to q_funnel (did the user convert) — did the
# user COME BACK. Absolute epoch weeks (epoch_ms // 1w) keep both
# engines on integer arithmetic with no corpus-wide min.
@_q(
    "q_retention_cohorts",
    """
    WITH wk AS (
      SELECT user_id, event_type,
             epoch_ms(ts) // 604800000 AS week
      FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(week) AS cohort_week
      FROM wk WHERE event_type = 'signup' GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT wk.user_id, cohort.cohort_week,
             wk.week - cohort.cohort_week AS week_offset
      FROM wk JOIN cohort USING (user_id)
      WHERE wk.week >= cohort.cohort_week
    )
    SELECT cohort_week, CAST(week_offset AS int) AS week_offset,
           CAST(COUNT(*) AS bigint) AS n_users
    FROM active
    GROUP BY cohort_week, week_offset
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: (cohort_week, week_offset) → distinct
    retained users. Two user-keyed aggregations and one counting
    groupBy over (cohort, offset) pairs — the distinct collapses
    map-side first, so the wide stream is (user, week) pairs, never raw
    events. week_offset 0 row per cohort = cohort size (the
    denominator a retention curve divides by)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (
            F.unix_millis(F.col("ts").cast("timestamp"))
            / F.lit(604800000)
        ).cast("long").alias("week"),
    )
    cohort = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("week").alias("cohort_week"))
    )
    active = (
        ev.join(cohort, "user_id")
        .where(F.col("week") >= F.col("cohort_week"))
        .select(
            "user_id",
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return active.groupBy(
        "cohort_week", F.col("week_offset").cast("int").alias("week_offset")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


# --------------------------------------------------------- data-quality suite
# Deequ-style constraint verification as a query: uniqueness,
# referential integrity, domain membership, internal consistency, and
# value-range checks, each reporting (check, n_checked, n_violations).
# The scale shape matters more than any single check: ALL checks on a
# table fuse into ONE aggregation pass (conditional sums), then unpivot
# — never one scan per assertion; the referential check is the only
# join and it is an anti-join on the key column alone.
@_q(
    "q_dq_checks",
    """
    SELECT 'orders_pk_unique' AS check_name,
           CAST(COUNT(*) AS bigint) AS n_checked,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS bigint)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 'lineitem_order_fk', CAST(COUNT(*) AS bigint),
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS bigint)
    FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'documents_nchars_consistent', CAST(COUNT(*) AS bigint),
           CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
                AS bigint)
    FROM documents
    UNION ALL
    SELECT 'documents_lang_domain', CAST(COUNT(*) AS bigint),
           CAST(SUM(CASE WHEN lang NOT IN ('en','de','es','fr','zh')
                         THEN 1 ELSE 0 END) AS bigint)
    FROM documents
    UNION ALL
    SELECT 'documents_len_le_400', CAST(COUNT(*) AS bigint),
           CAST(SUM(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END) AS bigint)
    FROM documents
    UNION ALL
    SELECT 'events_value_range', CAST(COUNT(*) AS bigint),
           CAST(SUM(CASE WHEN value < 0 OR value > 250 THEN 1 ELSE 0 END)
                AS bigint)
    FROM events
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality verification suite. The three documents checks run
    in ONE fused aggregation over one scan (conditional sums, then an
    in-row unpivot) — the pattern that keeps a 50-assertion suite at
    one pass per table on 100 TB; the lineitem→orders referential check
    is a key-only anti-join (here via left-join-null-count so n_checked
    rides the same pass). Two checks are deliberately tight enough to
    fire on the fixture corpus (len>400, value>250) so the gate
    compares real violation counts, not a column of zeros."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    docs = load(spark, sf_dir, "documents").select(
        "n_chars", "text", "lang"
    )
    ev = load(spark, sf_dir, "events").select("value")

    def unpivot(agg_df, triples):
        arr = F.array(
            *[
                F.struct(
                    F.lit(name).alias("check_name"),
                    F.col(nc).cast("long").alias("n_checked"),
                    F.col(nv).cast("long").alias("n_violations"),
                )
                for name, nc, nv in triples
            ]
        )
        return agg_df.select(F.explode(arr).alias("r")).select(
            "r.check_name", "r.n_checked", "r.n_violations"
        )

    o = unpivot(
        orders.agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v"),
        ),
        [("orders_pk_unique", "n", "v")],
    )
    fk = unpivot(
        li.join(
            orders.select("o_orderkey").distinct(),
            li.l_orderkey == F.col("o_orderkey"),
            "left",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
            ).alias("v"),
        ),
        [("lineitem_order_fk", "n", "v")],
    )
    d = unpivot(
        docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
            ).alias("v1"),
            F.sum(
                F.when(
                    ~F.col("lang").isin("en", "de", "es", "fr", "zh"), 1
                ).otherwise(0)
            ).alias("v2"),
            F.sum(F.when(F.col("n_chars") > 400, 1).otherwise(0)).alias(
                "v3"
            ),
        ),
        [
            ("documents_nchars_consistent", "n", "v1"),
            ("documents_lang_domain", "n", "v2"),
            ("documents_len_le_400", "n", "v3"),
        ],
    )
    e = unpivot(
        ev.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when((F.col("value") < 0) | (F.col("value") > 250), 1)
                .otherwise(0)
            ).alias("v"),
        ),
        [("events_value_range", "n", "v")],
    )
    return o.unionAll(fk).unionAll(d).unionAll(e)


# --------------------------------------------------------- grouped OLS
# Per-group closed-form linear regression — the "does length predict
# tokens, per source" feature-stats aggregate. Everything reduces to
# SIX exact integer sums per group (n, Σx, Σy, Σxy, Σx², Σy²), so the
# slope/intercept/r² doubles are each ONE arithmetic expression over
# exact bigints — bit-identical across engines with no accumulation-
# order caveat at all. This is also precisely the map-side-combinable
# shape: 100 TB of rows fold into 6 numbers per group before the
# shuffle.
@_q(
    "q_ols_per_source",
    """
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS bigint) AS n,
             CAST(SUM(n_chars) AS bigint) AS sx,
             CAST(SUM(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS bigint) AS sy,
             CAST(SUM(n_chars * len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS bigint) AS sxy,
             CAST(SUM(n_chars * n_chars) AS bigint) AS sxx,
             CAST(SUM(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))
                      * len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS bigint) AS syy
      FROM documents GROUP BY source
    )
    SELECT source, n,
           ROUND(CAST(n * sxy - sx * sy AS double)
                 / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - CAST(n * sxy - sx * sy AS double)
                       / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
           ROUND(CAST(n * sxy - sx * sy AS double)
                 * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * CAST(n * syy - sy * sy
                                               AS double)), 6) AS r2
    FROM s
    """,
)
def q_ols_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS of token count on n_chars per source: slope, intercept, r²
    from six exact integer sums (one grouped aggregation, map-side
    combinable; the doubles are single expressions over bigints so both
    engines agree to the last ulp before the one round)."""
    toks = F.size(
        F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    ).cast("long")
    d = load(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        toks.alias("y"),
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    slope = num.cast("double") / den
    return s.select(
        "source",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            num.cast("double")
            * num
            / (
                den
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                .cast("double")
            ),
            6,
        ).alias("r2"),
    )


# --------------------------------------------------------- turn integrity
# Ingest-integrity audit for the transcripts table: a conversation is
# complete when its turn indices are exactly 0..max with no holes and
# no duplicates — the precondition of "per-turn text equality under
# stable turn ordering". The generator emits complete conversations, so
# both engines decimate deterministically first (md5 coin drops ~1/37
# of turns) — the audit has real holes to find and the gate compares
# real counts.
_LOSS_MOD = 37
_TURNS_PER_CONV = 12  # synth.transcripts_from_documents default

# the ONE DuckDB rendering of the ingest-loss decimation coin — every
# oracle that damages the stream composes this WHERE clause, so the
# coin cannot drift between the audits it is shared by (the
# _conv_group/_M_CTE discipline)
_KEPT_WHERE = (
    "('0x' || substr(md5(doc_id || '#' || t), 1, 8))::bigint"
    f" % {_LOSS_MOD} <> 0"
)


def _loss_coin():
    """Spark rendering of the shared decimation coin over
    (conv_id, turn_idx) — the engine-side twin of _KEPT_WHERE. Every
    audit that simulates ingest loss filters on ``_loss_coin() != 0``
    so they all describe the SAME damaged stream."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.expr("substr(conv_id, 6)")
                        .cast("long")
                        .cast("string"),
                        F.lit("#"),
                        F.col("turn_idx").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _LOSS_MOD
    )


def _gate_stats(kept: DataFrame) -> DataFrame:
    """The fused structural-audit rollup shared by q_sft_gate and
    x_transcript_curate: (n_turns, max_idx, interior holes, same-role
    adjacencies, opens-with-user) from ONE conv-keyed window pass +
    ONE conv-grain aggregation. Expects (conv_id, turn_idx, role)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    p = kept.select(
        "conv_id",
        "turn_idx",
        "role",
        F.lag("role").over(w).alias("prev_role"),
        F.row_number().over(w).alias("rn"),
    )
    return p.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("turn_idx").alias("max_idx"),
        (F.max("turn_idx") + 1 - F.countDistinct("turn_idx")).alias(
            "n_missing"
        ),
        F.coalesce(
            F.sum(F.when(F.col("role") == F.col("prev_role"), 1)),
            F.lit(0),
        ).alias("n_same_role"),
        F.max(
            F.when(
                (F.col("rn") == 1) & (F.col("role") == "user"), 1
            ).otherwise(0)
        ).alias("starts_user"),
    )


@_q(
    "q_turn_integrity",
    f"""
    WITH turns AS (
      SELECT doc_id, g.t
      FROM documents, unnest(generate_series(0, 11)) g(t)
    ),
    kept AS (
      SELECT doc_id, t FROM turns
      WHERE {_KEPT_WHERE}
    )
    SELECT printf('conv-%08d', doc_id) AS conv_id,
           CAST(COUNT(*) AS bigint) AS n_turns,
           CAST(MAX(t) AS int) AS max_idx,
           CAST(MAX(t) + 1 - COUNT(DISTINCT t) AS bigint) AS n_missing,
           CAST(COUNT(*) - COUNT(DISTINCT t) AS bigint) AS n_dup_idx
    FROM kept
    GROUP BY doc_id
    """,
)
def q_turn_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation completeness audit: turn count, max index,
    missing-index count (holes in 0..max), duplicate-index count. One
    conv-keyed aggregation; with the table bucketed on conv_id the
    audit runs shuffle-free. Pairs with streaming.stream_dedup (which
    prevents duplicates at ingest) and the lineage resume (which
    prevents holes from partial failures) — this is the detector that
    proves they worked."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir).select(
        "conv_id", "turn_idx"
    )
    kept = t.where(_loss_coin() != 0)
    return kept.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.max("turn_idx").cast("int").alias("max_idx"),
        (F.max("turn_idx") + 1 - F.countDistinct("turn_idx"))
        .cast("long")
        .alias("n_missing"),
        (F.count(F.lit(1)) - F.countDistinct("turn_idx"))
        .cast("long")
        .alias("n_dup_idx"),
    )


# --------------------------------------------------------- JSON props
# Semi-structured handling: the events.props column is a JSON payload
# (the reference's OCR-result JSON carried per-item metadata the same
# way — /root/reference/ocrclient/redisdata.py stores dict blobs).
# Fixed-schema extraction (from_json with an explicit schema), never
# driver-side schema inference — inference over 100 TB is a full
# pre-scan, and a drifting inferred schema silently changes the plan.
@_q(
    "q_props_stats",
    """
    SELECT event_type,
           CAST(COUNT(*) AS bigint) AS n,
           CAST(COUNT(CAST(props ->> '$.k' AS int)) AS bigint)
             AS n_with_k,
           CAST(SUM(CAST(props ->> '$.k' AS int)) AS bigint) AS sum_k,
           CAST(MIN(CAST(props ->> '$.k' AS int)) AS int) AS min_k,
           CAST(MAX(CAST(props ->> '$.k' AS int)) AS int) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the JSON props column with an explicit
    schema (k int), aggregated per event_type — integer sums so both
    engines are exact. Malformed/missing JSON yields NULL and drops out
    of the aggregates (n_with_k counts the parsed ones), which is the
    tolerant-read posture a crawl-scale pipeline needs."""
    ev = load(spark, sf_dir, "events").select("event_type", "props")
    k = F.from_json(F.col("props"), "k int")["k"]
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("k").cast("long").alias("n_with_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("int").alias("min_k"),
        F.max("k").cast("int").alias("max_k"),
    )


# --------------------------------------------- turn supersession (retry)
# Regenerated / edited turns: an upstream producer re-emits a turn with
# the same (conv_id, turn_idx) and a later timestamp (the reference
# re-runs OCR over the same page and overwrites the Redis value,
# /root/reference/ocrclient/redisdata.py:52-87 set-on-rerun). Latest-
# wins resolution is the CDC-upsert / compaction primitive every
# transcript ingest needs before per-turn extraction: exactly one
# surviving attempt per turn key. The retry set is a deterministic md5
# coin on (doc_id, turn_idx) so the DuckDB oracle re-derives the whole
# input arithmetically and checks the window resolution against the
# closed form.
_RETRY_MOD = 5
_RETRY_DELAY_MS = 45_000
_TS_BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z — synth._BASE_TS

# the doc_id → hour-offset wrap, ONE source of truth (synth.TS_HOUR_MOD):
# SQL renderings that RE-DERIVE ms from doc_id must apply the same
# modulus the generator does or they diverge past doc_id 2M
from ..synth import TS_HOUR_MOD as _TS_HOUR_MOD  # noqa: E402


def _retry_sql(t: str = "t") -> str:
    """The ONE DuckDB rendering of the regeneration coin: turn (doc, t)
    was retried iff this is 0 — shared by turn supersession and edit
    churn so both describe the SAME retried-turn set."""
    return (
        f"('0x' || substr(md5(doc_id || ':' || {t} || ':retry'), 1, 8))"
        f"::bigint % {_RETRY_MOD}"
    )


def _retry_coin(doc_col, t_col):
    """Spark twin of _retry_sql."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", doc_col, t_col, F.lit("retry"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _RETRY_MOD
    )


@_q(
    "q_turn_supersede",
    f"""
    WITH turns AS (
      SELECT doc_id, g.t,
             ['user','assistant','tool'][g.t % 3 + 1] AS role,
             {_TS_BASE_MS} + (doc_id % {_TS_HOUR_MOD}) * 3600000 + g.t * 60000 AS ms
      FROM documents, unnest(generate_series(0, 11)) g(t)
    ),
    u AS (
      SELECT doc_id, t, role, ms FROM turns
      UNION ALL
      SELECT doc_id, t, role, ms + {_RETRY_DELAY_MS} FROM turns
      WHERE {_retry_sql()} = 0
    )
    SELECT printf('conv-%08d', doc_id) AS conv_id,
           CAST(t AS int) AS turn_idx,
           role,
           CAST(COUNT(*) AS bigint) AS n_attempts,
           CAST(MAX(ms) AS bigint) AS kept_ms
    FROM u GROUP BY doc_id, t, role
    """,
)
def q_turn_supersede(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins turn resolution over a transcript stream with
    regenerations: union the retry emissions onto the base table, one
    row_number window per (conv_id, turn_idx) ordered by (ms, attempt)
    DESC keeps the newest attempt and carries ITS payload columns — the
    general upsert shape (the oracle's GROUP BY closed form only works
    because retries share the payload; the engine runs the real window
    so any payload column rides along). One shuffle on the turn key,
    partitions are turn-grain (≤ attempts rows each) — nothing groups a
    conversation, a source, or the corpus. The retry branch is an
    in-row attempt-array explode, NOT a self-union: the expensive
    transcript-generation stage executes exactly once per run, and the
    doc id parses back out of conv_id with an open-ended substr so
    9+-digit doc ids survive the round-trip (the generator's %08d pads
    but never truncates — printf on the oracle side matches)."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", F.unix_millis("ts").alias("ms")
    )
    doc_int = F.expr("substr(conv_id, 6)").cast("bigint")
    coin = _retry_coin(doc_int, F.col("turn_idx"))
    attempts = F.when(coin == 0, F.array(F.lit(1), F.lit(2))).otherwise(
        F.array(F.lit(1))
    )
    u = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "ms",
        F.explode(attempts).alias("attempt"),
    ).withColumn(
        "ms",
        F.col("ms")
        + F.when(F.col("attempt") == 2, F.lit(_RETRY_DELAY_MS)).otherwise(
            F.lit(0)
        ),
    )
    key = Window.partitionBy("conv_id", "turn_idx")
    latest = key.orderBy(F.desc("ms"), F.desc("attempt"))
    return (
        u.withColumn("rn", F.row_number().over(latest))
        .withColumn("n_attempts", F.count(F.lit(1)).over(key).cast("long"))
        .where(F.col("rn") == 1)
        .select(
            "conv_id",
            "turn_idx",
            "role",
            "n_attempts",
            F.col("ms").cast("long").alias("kept_ms"),
        )
    )


# --------------------------------------------- tool retry-run detection
# Agent loop detection: consecutive tool turns calling the SAME tool
# inside one conversation are a retry run (the agent hammering a failing
# tool) — the islands pattern applied to the tool sequence. Output is
# the run-length histogram per tool: the dashboard stat that separates
# "calculator used once per conv" from "browser retried 4x in a row".
@_q(
    "q_tool_retry_runs",
    """
    WITH tt AS (
      SELECT doc_id, g.t,
             ['search','browser','calculator','code_exec']
               [('0x' || substr(md5(doc_id || ':' || g.t), 1, 8))::bigint
                % 4 + 1] AS tool
      FROM documents, unnest(generate_series(0, 11)) g(t)
      WHERE g.t % 3 = 2
    ),
    m AS (
      SELECT doc_id, t, tool,
             CASE WHEN lag(tool) OVER (PARTITION BY doc_id ORDER BY t) = tool
                  THEN 0 ELSE 1 END AS chg
      FROM tt
    ),
    isl AS (
      SELECT doc_id, tool,
             SUM(chg) OVER (PARTITION BY doc_id ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM m
    ),
    runs AS (
      SELECT doc_id, grp, tool, COUNT(*) AS run_len
      FROM isl GROUP BY doc_id, grp, tool
    )
    SELECT tool, CAST(run_len AS int) AS run_len,
           CAST(COUNT(*) AS bigint) AS n_runs
    FROM runs GROUP BY tool, run_len
    """,
)
def q_tool_retry_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive same-tool run lengths per conversation: filter to
    tool turns (shuffle carries only (conv, turn, tool) triples), one
    conv-keyed window pass serves both the change-flag lag and the
    island running sum, then two tiny partial-aggregated rollups
    (islands are conv-grain; the histogram is O(|tools| x max_run)).
    The DuckDB oracle re-derives the tool turns from the generator's
    md5 coin (the q_tool_transitions contract) so the gate covers the
    generator AND the islands decode."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir)
    tools = t.where(F.col("role") == "tool").select(
        "conv_id", "turn_idx", "tool"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    m = tools.withColumn(
        "chg",
        F.when(F.lag("tool").over(w) == F.col("tool"), 0).otherwise(1),
    )
    isl = m.withColumn(
        "grp", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    runs = isl.groupBy("conv_id", "grp", "tool").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("tool", F.col("run_len").cast("int").alias("run_len")).agg(
        F.count(F.lit(1)).cast("long").alias("n_runs")
    )


# ------------------------------------------------ role-alternation audit
# Protocol audit over the DECIMATED stream (q_turn_integrity's md5%37
# drop rule): the generator's role cycle is perfect, so violations only
# exist where ingest lost turns — a dropped turn can leave two
# consecutive surviving turns with the SAME role, and can knock out the
# leading user turn. This is the detector a transcript pipeline runs
# right after the integrity audit: integrity counts the holes, this
# measures what the holes did to the conversation protocol.
@_q(
    "q_role_alternation",
    f"""
    WITH turns AS (
      SELECT doc_id, g.t,
             ['user','assistant','tool'][g.t % 3 + 1] AS role
      FROM documents, unnest(generate_series(0, 11)) g(t)
    ),
    kept AS (
      SELECT doc_id, t, role FROM turns
      WHERE {_KEPT_WHERE}
    ),
    p AS (
      SELECT doc_id, t, role,
             lag(role) OVER (PARTITION BY doc_id ORDER BY t) AS prev_role,
             row_number() OVER (PARTITION BY doc_id ORDER BY t) AS rn
      FROM kept
    )
    SELECT printf('conv-%08d', doc_id) AS conv_id,
           CAST(COUNT(*) AS bigint) AS n_turns,
           CAST(COUNT(prev_role) AS bigint) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN role = prev_role THEN 1 END), 0)
                AS bigint) AS n_same_role,
           CAST(MAX(CASE WHEN rn = 1 AND role = 'user' THEN 1 ELSE 0 END)
                AS int) AS starts_user
    FROM p GROUP BY doc_id
    """,
)
def q_role_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation role-protocol audit after turn loss: adjacent
    same-role pairs and the opens-with-user flag, from ONE conv-keyed
    window pass (lag and row_number share the sort) plus a conv-grain
    rollup. The decimation coin is q_turn_integrity's, so the two
    audits describe the same damaged stream."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir).select(
        "conv_id", "turn_idx", "role"
    )
    kept = t.where(_loss_coin() != 0)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    p = kept.select(
        "conv_id",
        "turn_idx",
        "role",
        F.lag("role").over(w).alias("prev_role"),
        F.row_number().over(w).alias("rn"),
    )
    same = F.when(F.col("role") == F.col("prev_role"), 1)
    first_user = F.when(
        (F.col("rn") == 1) & (F.col("role") == "user"), 1
    ).otherwise(0)
    return p.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.count("prev_role").cast("long").alias("n_pairs"),
        F.coalesce(F.sum(same), F.lit(0)).cast("long").alias("n_same_role"),
        F.max(first_user).cast("int").alias("starts_user"),
    )


# ------------------------------------------------- conversation profile
# The per-conversation summary row a transcript warehouse materializes
# once and serves everywhere: turn counts by role, tool diversity, and
# wall-clock span — over the SAME decimated stream as the integrity and
# alternation audits, so the three views reconcile row-for-row.
@_q(
    "q_conv_profile",
    f"""
    WITH turns AS (
      SELECT doc_id, g.t,
             ['user','assistant','tool'][g.t % 3 + 1] AS role,
             CASE WHEN g.t % 3 = 2 THEN
               ['search','browser','calculator','code_exec']
                 [('0x' || substr(md5(doc_id || ':' || g.t), 1, 8))::bigint
                  % 4 + 1] END AS tool,
             {_TS_BASE_MS} + (doc_id % {_TS_HOUR_MOD}) * 3600000 + g.t * 60000 AS ms
      FROM documents, unnest(generate_series(0, 11)) g(t)
    ),
    kept AS (
      SELECT * FROM turns
      WHERE {_KEPT_WHERE}
    )
    SELECT printf('conv-%08d', doc_id) AS conv_id,
           CAST(COUNT(*) AS bigint) AS n_turns,
           CAST(COALESCE(SUM(CASE WHEN role = 'user' THEN 1 END), 0)
                AS bigint) AS n_user,
           CAST(COALESCE(SUM(CASE WHEN role = 'assistant' THEN 1 END), 0)
                AS bigint) AS n_assistant,
           CAST(COALESCE(SUM(CASE WHEN role = 'tool' THEN 1 END), 0)
                AS bigint) AS n_tool,
           CAST(COUNT(DISTINCT tool) AS bigint) AS n_distinct_tools,
           CAST(MAX(ms) - MIN(ms) AS bigint) AS span_ms
    FROM kept GROUP BY doc_id
    """,
)
def q_conv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation profile: role mix, tool diversity, duration — one
    conv-keyed aggregation, shuffle-free on a conv-bucketed table.
    Decimated by the shared integrity coin so counts genuinely vary
    (an undamaged fixture would profile every conversation
    identically and the gate would compare constants)."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "tool",
        F.unix_millis("ts").alias("ms"),
    )
    kept = t.where(_loss_coin() != 0)

    def _role_n(r: str):
        return (
            F.coalesce(
                F.sum(F.when(F.col("role") == r, 1)), F.lit(0)
            )
            .cast("long")
            .alias(f"n_{r}")
        )

    return kept.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        _role_n("user"),
        _role_n("assistant"),
        _role_n("tool"),
        F.countDistinct("tool").cast("long").alias("n_distinct_tools"),
        (F.max("ms") - F.min("ms")).cast("long").alias("span_ms"),
    )


# ----------------------------------------------------- SFT admission gate
# The conversation-level admission decision an SFT-curation run makes
# AFTER the per-audit views: one scan, one conv-keyed window pass and
# one conv-grain rollup serve ALL the structural rules at once (the
# Deequ-fusion discipline of q_dq_checks applied to transcripts) —
# completeness (no lost turn indices), protocol (no same-role
# adjacency), opening (first surviving turn is the user), volume
# (enough turns survived). Runs over the decimated stream, so every
# rule genuinely fires somewhere.
_SFT_MIN_TURNS = 11


@_q(
    "q_sft_gate",
    f"""
    WITH turns AS (
      SELECT doc_id, g.t,
             ['user','assistant','tool'][g.t % 3 + 1] AS role
      FROM documents, unnest(generate_series(0, 11)) g(t)
    ),
    kept AS (
      SELECT doc_id, t, role FROM turns
      WHERE {_KEPT_WHERE}
    ),
    p AS (
      SELECT doc_id, t, role,
             lag(role) OVER (PARTITION BY doc_id ORDER BY t) AS prev_role,
             row_number() OVER (PARTITION BY doc_id ORDER BY t) AS rn
      FROM kept
    ),
    a AS (
      SELECT doc_id,
             COUNT(*) AS n_turns,
             MAX(t) AS max_idx,
             MAX(t) + 1 - COUNT(DISTINCT t) AS n_missing,
             COALESCE(SUM(CASE WHEN role = prev_role THEN 1 END), 0)
               AS n_same_role,
             MAX(CASE WHEN rn = 1 AND role = 'user' THEN 1 ELSE 0 END)
               AS starts_user
      FROM p GROUP BY doc_id
    )
    SELECT printf('conv-%08d', doc_id) AS conv_id,
           CAST(n_turns AS bigint) AS n_turns,
           CAST(CASE WHEN n_missing = 0
                      AND max_idx = {_TURNS_PER_CONV - 1}
                     THEN 1 ELSE 0 END AS int) AS ok_complete,
           CAST(CASE WHEN n_same_role = 0 THEN 1 ELSE 0 END AS int)
             AS ok_protocol,
           CAST(starts_user AS int) AS ok_opening,
           CAST(CASE WHEN n_turns >= {_SFT_MIN_TURNS} THEN 1 ELSE 0 END
                AS int) AS ok_volume,
           CAST(CASE WHEN n_missing = 0
                      AND max_idx = {_TURNS_PER_CONV - 1}
                      AND n_same_role = 0
                      AND starts_user = 1 AND n_turns >= {_SFT_MIN_TURNS}
                     THEN 1 ELSE 0 END AS int) AS admitted
    FROM a
    """,
)
def q_sft_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused conversation admission gate: all four structural rules
    (completeness, protocol, opening, volume) decided from ONE window
    pass + ONE conv-grain aggregation (_gate_stats — shared with the
    x_transcript_curate lifecycle so the two can never drift). Rules
    are conjunctive; each ok_* flag is published so the reject reasons
    are queryable. Completeness checks interior holes AND trailing
    truncation against the expected grid (max_idx == expected-1):
    losing the LAST turn is the same defect as losing a middle one."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir).select(
        "conv_id", "turn_idx", "role"
    )
    kept = t.where(_loss_coin() != 0)
    a = _gate_stats(kept)
    ok_complete = (
        (F.col("n_missing") == 0)
        & (F.col("max_idx") == _TURNS_PER_CONV - 1)
    ).cast("int")
    ok_protocol = (F.col("n_same_role") == 0).cast("int")
    ok_opening = F.col("starts_user").cast("int")
    ok_volume = (F.col("n_turns") >= _SFT_MIN_TURNS).cast("int")
    return a.select(
        "conv_id",
        F.col("n_turns").cast("long").alias("n_turns"),
        ok_complete.alias("ok_complete"),
        ok_protocol.alias("ok_protocol"),
        ok_opening.alias("ok_opening"),
        ok_volume.alias("ok_volume"),
        (
            ok_complete.cast("boolean")
            & ok_protocol.cast("boolean")
            & ok_opening.cast("boolean")
            & ok_volume.cast("boolean")
        )
        .cast("int")
        .alias("admitted"),
    )


# ----------------------------------------------------------- tool pivot
# The wide dashboard matrix: one row per conversation, one column per
# tool — Spark's relational pivot (groupBy().pivot(values=...)) with the
# value universe DECLARED, so no extra distinct-scan plans the columns
# and the schema is stable at any corpus size (an undeclared pivot on
# 100 TB first runs a distinct over the pivot column).
_PIVOT_TOOLS = ("search", "browser", "calculator", "code_exec")


@_q(
    "q_tool_pivot",
    f"""
    WITH tt AS (
      SELECT doc_id, g.t,
             ['search','browser','calculator','code_exec']
               [('0x' || substr(md5(doc_id || ':' || g.t), 1, 8))::bigint
                % 4 + 1] AS tool
      FROM documents, unnest(generate_series(0, 11)) g(t)
      WHERE g.t % 3 = 2
    )
    SELECT printf('conv-%08d', doc_id) AS conv_id,
           {", ".join(
               f"CAST(COALESCE(SUM(CASE WHEN tool = '{p}' THEN 1 END), 0)"
               f" AS bigint) AS n_{p}" for p in _PIVOT_TOOLS
           )}
    FROM tt GROUP BY doc_id
    """,
)
def q_tool_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation tool-usage matrix via the declared-values pivot:
    one conv-keyed partial-agg shuffle, schema fixed at plan time. The
    oracle is the equivalent conditional aggregation — the rewrite
    Catalyst itself applies to a pivot."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir)
    tools = t.where(F.col("role") == "tool").select("conv_id", "tool")
    wide = (
        tools.groupBy("conv_id")
        .pivot("tool", list(_PIVOT_TOOLS))
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "conv_id",
        *[
            F.coalesce(F.col(p), F.lit(0)).cast("long").alias(f"n_{p}")
            for p in _PIVOT_TOOLS
        ],
    )


# ------------------------------------------------------ turn renumbering
# The repair step between loss and packing: models expect contiguous
# turn indices, so surviving turns renumber to 0..n-1 in order, with
# the old index published for lineage. One conv-keyed window; pairs
# with q_turn_integrity (which counts what this repairs).
@_q(
    "q_turn_renumber",
    f"""
    WITH turns AS (
      SELECT doc_id, g.t,
             ['user','assistant','tool'][g.t % 3 + 1] AS role
      FROM documents, unnest(generate_series(0, 11)) g(t)
    ),
    kept AS (
      SELECT doc_id, t, role FROM turns
      WHERE {_KEPT_WHERE}
    )
    SELECT printf('conv-%08d', doc_id) AS conv_id,
           CAST(t AS int) AS old_idx,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY t) - 1
                AS int) AS new_idx,
           role
    FROM kept
    """,
)
def q_turn_renumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous renumbering of the surviving turns (0..n-1 per
    conversation, original order preserved, old index kept for
    lineage): one row_number over the shared conv window — the same
    shuffle every other audit on this stream already pays."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir).select(
        "conv_id", "turn_idx", "role"
    )
    kept = t.where(_loss_coin() != 0)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return kept.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("old_idx"),
        (F.row_number().over(w) - 1).cast("int").alias("new_idx"),
        "role",
    )


# ------------------------------------------------------ preference pairs
# RLHF / DPO pair mining: each prompt (document) has k candidate
# responses scored by a reward model; the pair builder keeps
# (chosen, rejected) = (argmax, argmin) when the reward margin clears a
# threshold — low-margin prompts carry no learning signal and are
# dropped. The candidate set is the ×4 engine family from the
# reference's self-consistency vote (/root/reference/font/rec.py:41-87
# runs k replicas per crop and compares them; here the replicas carry
# scores and the comparison is an argmax instead of an equality vote).
# Scores are a deterministic md5 coin per (doc_id, engine) — integer
# millis so both engines derive the identical double at the end.
_PREF_ENGINES = ["beam", "greedy", "nucleus", "sampled"]
_PREF_MARGIN_MILLI = 200  # keep pairs with margin >= 0.200
_PREF_ENGINE_ROWS = ", ".join(f"('{e}')" for e in _PREF_ENGINES)

# ONE rendering of the per-(doc, engine) reward coin (DuckDB CTE pair +
# Spark expression) — preference pairs and the win-rate matrix must
# score candidates identically (the _KEPT_WHERE no-drift discipline)
_PREF_CAND_CTE = f"""eng(engine) AS (
      SELECT * FROM (VALUES {_PREF_ENGINE_ROWS}) t(e)),
    cand AS (
      SELECT d.doc_id, e.engine,
             ('0x' || substr(md5(d.doc_id || '@' || e.engine), 1, 8))::bigint
               % 1000 AS si
      FROM documents d, eng e
    )"""


def _pref_si(engine: str):
    """Spark rendering of the reward coin for one engine — the integer
    milli-score twin of _PREF_CAND_CTE's si column."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("@" + engine),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )


@_q(
    "q_preference_pairs",
    f"""
    WITH {_PREF_CAND_CTE},
    best AS (
      SELECT doc_id, engine, si,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY si DESC, engine DESC) AS rb,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY si ASC, engine ASC) AS rw
      FROM cand
    )
    SELECT b.doc_id,
           b.engine AS chosen_engine,
           w.engine AS rejected_engine,
           ROUND(b.si / 1000.0, 3) AS chosen_score,
           ROUND(w.si / 1000.0, 3) AS rejected_score,
           ROUND((b.si - w.si) / 1000.0, 3) AS margin
    FROM best b JOIN best w ON b.doc_id = w.doc_id
    WHERE b.rb = 1 AND w.rw = 1
      AND b.si - w.si >= {_PREF_MARGIN_MILLI}
    """,
)
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(chosen, rejected) preference pairs per prompt with a reward
    margin >= 0.2; ties break toward the lexicographically LAST engine
    for chosen and FIRST for rejected (one rule, both engines).

    Scale — ZERO shuffle: the candidate set is an in-row array of
    (score, engine) structs and argmax/argmin are array_max/array_min
    (Spark struct ordering = lexicographic on fields, exactly the
    oracle's ORDER BY si, engine) — the whole operator is a projection
    over the scan. The oracle spells the same rule as two row_number
    windows because DuckDB's max_by leaves ties unspecified; the margin
    filter compares INTEGER milli-scores, and the three doubles are
    derived once from those integers, so cross-engine float drift is
    impossible."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id"))
    cand = F.array(
        *[
            F.struct(_pref_si(e).alias("si"), F.lit(e).alias("engine"))
            for e in _PREF_ENGINES
        ]
    )
    d = docs.select(
        "doc_id",
        F.array_max(cand).alias("b"),
        F.array_min(cand).alias("w"),
    )
    return d.where(
        F.col("b.si") - F.col("w.si") >= _PREF_MARGIN_MILLI
    ).select(
        "doc_id",
        F.col("b.engine").alias("chosen_engine"),
        F.col("w.engine").alias("rejected_engine"),
        F.round(F.col("b.si") / 1000.0, 3).alias("chosen_score"),
        F.round(F.col("w.si") / 1000.0, 3).alias("rejected_score"),
        F.round((F.col("b.si") - F.col("w.si")) / 1000.0, 3).alias("margin"),
    )


# ------------------------------------------------------- engine win rate
# The eval rollup over the same candidate scores: a pairwise win-rate
# matrix between decode engines ("how often does beam beat nucleus?")
# — the model-comparison table an RLHF/eval pipeline publishes next to
# the preference pairs it mined. Strict wins only; ties are reported,
# not split.
@_q(
    "q_engine_winrate",
    f"""
    WITH {_PREF_CAND_CTE}
    SELECT a.engine AS engine_a, b.engine AS engine_b,
           CAST(COUNT(*) FILTER (a.si > b.si) AS bigint) AS n_wins,
           CAST(COUNT(*) FILTER (a.si = b.si) AS bigint) AS n_ties,
           CAST(COUNT(*) AS bigint) AS n_prompts,
           ROUND(CAST(COUNT(*) FILTER (a.si > b.si) AS double)
                 / COUNT(*), 6) AS win_rate
    FROM cand a JOIN cand b
      ON a.doc_id = b.doc_id AND a.engine < b.engine
    GROUP BY a.engine, b.engine
    """,
)
def q_engine_winrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise engine comparison over every prompt: for each unordered
    engine pair (a < b), strict wins for a, ties, total prompts, and
    a's win rate.

    Scale — the per-prompt comparison is IN-ROW: all four scores are
    computed in one projection and the 6 unordered pairs explode from
    an inline array, so the only exchange is the final
    partial-aggregated groupBy collapsing to exactly 6 rows map-side
    (the oracle spells it as a self-join; the engine never joins). The
    tie column keeps the matrix honest — win_rate + loss_rate + tie
    rate sums to 1 per pair."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id"))
    pairs = []
    for i, a in enumerate(_PREF_ENGINES):
        for b in _PREF_ENGINES[i + 1 :]:
            pairs.append(
                F.struct(
                    F.lit(a).alias("engine_a"),
                    F.lit(b).alias("engine_b"),
                    _pref_si(a).alias("sa"),
                    _pref_si(b).alias("sb"),
                )
            )
    e = docs.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")
    return (
        e.groupBy("engine_a", "engine_b")
        .agg(
            F.count_if(F.col("sa") > F.col("sb"))
            .cast("long")
            .alias("n_wins"),
            F.count_if(F.col("sa") == F.col("sb"))
            .cast("long")
            .alias("n_ties"),
            F.count(F.lit(1)).cast("long").alias("n_prompts"),
            F.round(
                F.count_if(F.col("sa") > F.col("sb")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("win_rate"),
        )
    )


# ------------------------------------------------------ code-fence blocks
# Main-content extraction for AGENT transcripts: assistant turns carry
# fenced code blocks (```lang ... ```), and a training pipeline wants
# them out as typed records — per block: language tag, line/char counts,
# and the code text itself (the reference's region extraction applied to
# the markdown-fence convention; cf. its block grouping in
# /root/reference/pdf/tools.py line-region logic). The fence scan is
# ENTIRELY in-row (split → fence-index filter → pair consecutive fences
# → slice bodies): zero shuffle, linear in turn bytes, and an UNCLOSED
# trailing fence yields no block rather than a runaway region — the
# deterministic turn stream injects that hostile case so the gate
# proves it on every run. Turn grid and coins are the shared
# documents-derived contract (doc ≅ conversation, 12-turn grid).
_CODE_LANGS = ["python", "sql", "bash"]
_CODE_COIN_MOD = 5  # %5==2 → closed block, %5==4 → unclosed fence

# the ONE rendering (per engine) of the 8-word rolling turn-base slice
# — shared by the code-turn stream, edit churn, and the conv language
# mix, so all three describe the SAME per-turn text
_TURN_BASE_SQL = (
    "array_to_string(tk[((g.t*29) % greatest(1, len(tk))) + 1 : "
    "((g.t*29) % greatest(1, len(tk))) + 8], ' ')"
)


def _turn_base_col(tk, t):
    """Spark twin of _TURN_BASE_SQL over a token-array column and a
    turn-index column."""
    lo = (t * 29) % F.greatest(F.lit(1), F.size(tk))
    return F.array_join(F.slice(tk, lo + 1, F.lit(8)), " ")


# the ONE DuckDB rendering of the code-turn stream: the shared base
# slice plus the injected fence payloads
_CODE_TURNS_SQL = f"""tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    turns AS (
      SELECT doc_id, g.t,
             ('0x' || substr(md5(doc_id || '~' || g.t), 1, 8))::bigint AS c,
             {_TURN_BASE_SQL} AS base
      FROM tk, unnest(generate_series(0, 11)) g(t)
    ),
    ct AS (
      SELECT doc_id, t,
             CASE
               WHEN c % {_CODE_COIN_MOD} = 2 THEN
                 base || chr(10) || '```' ||
                 [{", ".join(f"'{x}'" for x in _CODE_LANGS)}][c % 3 + 1]
                 || chr(10) ||
                 'x_' || t || ' = ' || doc_id || chr(10) ||
                 'print(x_' || t || ')' || chr(10) || '```' || chr(10) ||
                 'trailing note.'
               WHEN c % {_CODE_COIN_MOD} = 4 THEN
                 base || chr(10) || '```text' || chr(10) || 'dangling'
               ELSE base
             END AS txt
      FROM turns
    )"""


def _code_turns_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark rendering of _CODE_TURNS_SQL — the same 12-turn stream with
    the same md5 fence coin, derived from documents on the scan."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    t = docs.select(
        "doc_id", F.split("text", " ").alias("tk"),
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("t"),
    )
    coin = F.conv(
        F.substring(
            F.md5(F.concat_ws("~", F.col("doc_id"), F.col("t"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    base = _turn_base_col(F.col("tk"), F.col("t"))
    lang = F.element_at(
        F.array(*[F.lit(x) for x in _CODE_LANGS]), (coin % 3 + 1).cast("int")
    )
    nl = F.lit("\n")
    closed = F.concat(
        base, nl, F.lit("```"), lang, nl,
        F.lit("x_"), F.col("t").cast("string"), F.lit(" = "),
        F.col("doc_id").cast("string"), nl,
        F.lit("print(x_"), F.col("t").cast("string"), F.lit(")"), nl,
        F.lit("```"), nl, F.lit("trailing note."),
    )
    dangling = F.concat(base, nl, F.lit("```text"), nl, F.lit("dangling"))
    txt = (
        F.when(coin % _CODE_COIN_MOD == 2, closed)
        .when(coin % _CODE_COIN_MOD == 4, dangling)
        .otherwise(base)
    )
    return t.select("doc_id", "t", txt.alias("txt"))


def code_blocks_col(txt):
    """Array-of-structs column of fenced code blocks extracted from
    ``txt`` — the reusable in-row kernel: fence lines are paired in
    order (odd count → the trailing unclosed fence is dropped), lang is
    the fence line's tag, body is the line slice strictly between the
    pair. Pure Catalyst array ops: no UDF, no shuffle, codegen-friendly.
    """
    ls = F.split(txt, "\n")
    fp = F.filter(
        F.transform(
            ls,
            lambda x, i: F.when(x.startswith("```"), i + 1).otherwise(
                F.lit(-1)
            ),
        ),
        lambda v: v > 0,
    )
    npairs = (F.size(fp) / 2).cast("int")
    idx = F.when(npairs > 0, F.sequence(F.lit(0), npairs - 1)).otherwise(
        F.array().cast("array<int>")
    )

    def one(j):
        op = F.element_at(fp, j * 2 + 1)
        cl = F.element_at(fp, j * 2 + 2)
        code = F.array_join(F.slice(ls, op + 1, cl - op - 1), "\n")
        return F.struct(
            j.alias("block_no"),
            F.element_at(ls, op)
            .substr(F.lit(4), F.length(F.element_at(ls, op)))
            .alias("lang"),
            (cl - op - 1).cast("int").alias("n_code_lines"),
            F.length(code).cast("int").alias("n_code_chars"),
            code.alias("code"),
        )

    return F.transform(idx, one)


# the ONE DuckDB rendering of the fence scan over the ct turn stream:
# CTEs ending in a per-block `blocks` table — shared by the block
# extractor and the conversation code-density rollup. COALESCE: DuckDB's
# array_to_string of an EMPTY slice (adjacent fences) is NULL, Spark's
# array_join is '' — aligned to the kernel.
_CODE_SCAN_SQL = """ls AS (
      SELECT doc_id, t, string_split(txt, chr(10)) AS ls FROM ct
    ),
    fp AS (
      SELECT doc_id, t, ls,
             list_filter(range(1, len(ls) + 1),
                         i -> starts_with(ls[i], '```')) AS fp
      FROM ls
    ),
    blocks AS (
      SELECT doc_id, t, j,
             substr(ls[fp[j*2+1]], 4) AS lang,
             CAST(fp[j*2+2] - fp[j*2+1] - 1 AS int) AS n_code_lines,
             CAST(length(COALESCE(array_to_string(
                    ls[fp[j*2+1]+1 : fp[j*2+2]-1], chr(10)), ''))
                  AS int) AS n_code_chars,
             COALESCE(array_to_string(ls[fp[j*2+1]+1 : fp[j*2+2]-1],
                                      chr(10)), '') AS code
      FROM fp, unnest(range(len(fp) // 2)) b(j)
    )"""


@_q(
    "q_code_blocks",
    f"""
    WITH {_CODE_TURNS_SQL},
    {_CODE_SCAN_SQL}
    SELECT doc_id, CAST(t AS int) AS turn_idx, CAST(j AS int) AS block_no,
           lang, n_code_lines, n_code_chars, code
    FROM blocks
    """,
)
def q_code_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fenced-code-block extraction over the agent-turn stream: one row
    per closed block with language tag, size counts, and the code text.
    ZERO-shuffle plan — the stream synthesis, the fence scan, and the
    per-block explode are all narrow projections on the documents scan;
    at 10^12 turns this runs at scan speed on however many input splits
    the table has. Unclosed trailing fences (injected deterministically
    by the %{_CODE_COIN_MOD}==4 coin) are dropped by pairing, proven by
    the oracle on every gate run."""
    ct = _code_turns_df(spark, sf_dir)
    return ct.select(
        "doc_id",
        F.col("t").cast("int").alias("turn_idx"),
        F.explode(code_blocks_col(F.col("txt"))).alias("b"),
    ).select("doc_id", "turn_idx", "b.*")


# ------------------------------------------------------- timestamp skew
# Clock-sanity audit for ingested transcripts: recorded timestamps that
# run BACKWARDS within a conversation (retries stamped by a skewed
# client, out-of-order delivery written as-received) poison every
# latency metric and any ts-ordered window downstream. The audit is
# tz-free by construction — every output is a DIFFERENCE of epoch
# milliseconds within one conversation, so session-timezone offsets
# cancel and both engines agree exactly. A deterministic md5 coin
# back-shifts ~1/11 of turns by 150 s (> the 60 s turn spacing) so the
# gate always exercises real regressions.
_TS_SKEW_MOD = 11
_TS_SKEW_MS = 150_000


@_q(
    "q_ts_skew",
    f"""
    WITH turns AS (
      SELECT doc_id, g.t,
             g.t * 60000 -
             CASE WHEN ('0x' || substr(md5(doc_id || '@' || g.t), 1, 8))
                         ::bigint % {_TS_SKEW_MOD} = 7
                  THEN {_TS_SKEW_MS} ELSE 0 END AS rel_ms
      FROM documents, unnest(generate_series(0, 11)) g(t)
    ),
    run AS (
      SELECT doc_id, rel_ms,
             max(rel_ms) OVER (PARTITION BY doc_id ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_max
      FROM turns
    )
    SELECT doc_id,
           CAST(COUNT(*) AS bigint) AS n_turns,
           CAST(COUNT(*) FILTER (WHERE prev_max > rel_ms) AS bigint)
             AS n_regress,
           CAST(COALESCE(MAX(CASE WHEN prev_max > rel_ms
                                  THEN prev_max - rel_ms END), 0) AS bigint)
             AS max_regress_ms,
           CAST(MAX(rel_ms) - MIN(rel_ms) AS bigint) AS span_ms
    FROM run GROUP BY doc_id
    """,
)
def q_ts_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation clock-regression audit over the REAL pipeline
    table (synth.transcripts_from_documents' ts column, deterministically
    back-shifted by the skew coin): turn count, regressions against the
    running max of prior recorded timestamps, worst regression, and the
    recorded span. One conversation-bounded window (state = one running
    max) plus one conv-grain rollup — with the table bucketed on conv_id
    both run shuffle-free; nothing in the plan holds more than a
    conversation."""
    from ..synth import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir).select(
        "conv_id", "turn_idx", "ts"
    )
    doc = F.expr("substr(conv_id, 6)").cast("long")
    coin = F.conv(
        F.substring(
            F.md5(F.concat_ws("@", doc, F.col("turn_idx"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    rec = t.select(
        doc.alias("doc_id"),
        "turn_idx",
        (
            F.unix_millis(F.col("ts"))
            - F.when(
                coin % _TS_SKEW_MOD == 7, F.lit(_TS_SKEW_MS)
            ).otherwise(F.lit(0))
        ).alias("ms"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = rec.withColumn("prev_max", F.max("ms").over(w))
    reg = F.col("prev_max") > F.col("ms")
    return run.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.count_if(reg).cast("long").alias("n_regress"),
        F.coalesce(
            F.max(F.when(reg, F.col("prev_max") - F.col("ms"))), F.lit(0)
        )
        .cast("long")
        .alias("max_regress_ms"),
        (F.max("ms") - F.min("ms")).cast("long").alias("span_ms"),
    )


# --------------------------------------------------------- edit churn
# How much do regenerated turns actually CHANGE? Retry storms that
# rewrite nothing (n_noop) are wasted compute; retries with huge edit
# distances flag unstable generations. The retried-turn set is THE
# q_turn_supersede coin (_retry_sql / _retry_coin — one rendering), the
# per-turn text is the shared base slice (_TURN_BASE_SQL), and the
# deterministic edit is replace('e'→'a') so levenshtein computes a
# real, engine-agreed distance. All work is turn-bounded: the edit and
# the distance are pure expressions, the rollup is one conv-grain
# partial aggregation.
@_q(
    "q_edit_churn",
    f"""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    turns AS (
      SELECT doc_id, g.t, {_TURN_BASE_SQL} AS base
      FROM tk, unnest(generate_series(0, 11)) g(t)
    ),
    r AS (
      SELECT doc_id, base, replace(base, 'e', 'a') AS edited
      FROM turns WHERE {_retry_sql()} = 0
    )
    SELECT doc_id,
           CAST(COUNT(*) AS bigint) AS n_retried,
           CAST(SUM(levenshtein(base, edited)) AS bigint) AS churn_chars,
           CAST(MAX(levenshtein(base, edited)) AS bigint) AS max_churn,
           CAST(COUNT(*) FILTER (WHERE base = edited) AS bigint) AS n_noop
    FROM r GROUP BY doc_id
    """,
)
def q_edit_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation regeneration churn: for every retried turn (the
    q_turn_supersede coin — supersession and churn describe the same
    retry set), the Levenshtein distance between the attempt payloads,
    rolled up to retried-turn count, total/max churn, and no-op retry
    count. Conversations with no retries emit nothing. Levenshtein is
    O(len^2) per turn on BOUNDED turn text — never across turns."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    t = docs.select(
        "doc_id",
        F.split("text", " ").alias("tk"),
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("t"),
    )
    base = _turn_base_col(F.col("tk"), F.col("t"))
    r = t.where(
        _retry_coin(F.col("doc_id"), F.col("t")) == 0
    ).select(
        "doc_id",
        base.alias("base"),
        F.replace(base, F.lit("e"), F.lit("a")).alias("edited"),
    )
    dist = F.levenshtein("base", "edited")
    return r.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_retried"),
        F.sum(dist).cast("long").alias("churn_chars"),
        F.max(dist).cast("long").alias("max_churn"),
        F.count_if(F.col("base") == F.col("edited"))
        .cast("long")
        .alias("n_noop"),
    )


# ------------------------------------------------- conversation lang mix
# Mixed-language conversations break monolingual fine-tunes and demand
# different routing: per conversation, vote a language for EVERY turn
# (the q_lang_id stopword rule — one shared VALUES rendering), then
# roll up the mix: distinct identified languages, the majority vote,
# unidentified-turn count, and the is_mixed flag curation filters on.
@_q(
    "q_conv_langmix",
    None,  # registered below — needs textstats' shared stopword table
)
def q_conv_langmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation language mix over the shared turn stream: turn
    votes are (turn ⋈ broadcast stopword dim → per-(turn, lang) counts
    → argmax, ties by lang, no hits → 'unk'); the rollup keys on the
    conversation. Both exchanges are turn- or conv-grain — nothing
    groups a source or the corpus; the stopword dim is O(25) rows
    broadcast."""
    from .textstats import _STOPWORDS

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    t = docs.select(
        "doc_id",
        F.split("text", " ").alias("tk"),
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("t"),
    ).select(
        "doc_id", "t", _turn_base_col(F.col("tk"), F.col("t")).alias("base")
    )
    sw = t.sparkSession.createDataFrame(
        _STOPWORDS, "w string, lang string"
    )
    tok = t.select(
        "doc_id", "t", F.explode(F.split(F.lower("base"), " ")).alias("w")
    )
    sc = (
        tok.join(F.broadcast(sw), "w")
        .groupBy("doc_id", "t", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wv = Window.partitionBy("doc_id", "t").orderBy(
        F.desc("cnt"), F.asc("lang")
    )
    best = (
        sc.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("doc_id", "t", F.col("lang").alias("pl"))
    )
    pred = t.join(best, ["doc_id", "t"], "left").select(
        "doc_id", "t", F.coalesce("pl", F.lit("unk")).alias("pl")
    )
    pc = pred.groupBy("doc_id", "pl").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wm = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("pl"))
    maj = (
        pc.withColumn("rn", F.row_number().over(wm))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("pl").alias("majority_lang"))
    )
    mix = pc.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_turns"),
        F.count_if(F.col("pl") != "unk").cast("long").alias("n_langs"),
        F.coalesce(
            F.sum(F.when(F.col("pl") == "unk", F.col("cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("n_unk_turns"),
    )
    return mix.join(maj, "doc_id").select(
        "doc_id",
        "n_turns",
        "n_langs",
        "n_unk_turns",
        "majority_lang",
        (F.col("n_langs") >= 2).alias("is_mixed"),
    )


# oracle registered post-hoc: it reuses textstats' ONE stopword VALUES
# rendering (_SW_VALUES) — same rule table as q_lang_id/q_langid_eval
from .textstats import _SW_VALUES  # noqa: E402

ORACLES["q_conv_langmix"] = f"""
    WITH sw AS (SELECT * FROM (VALUES {_SW_VALUES}) x(w, lang)),
    tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    turns AS (
      SELECT doc_id, g.t, {_TURN_BASE_SQL} AS base
      FROM tk, unnest(generate_series(0, 11)) g(t)
    ),
    tok AS (SELECT doc_id, t, unnest(string_split(lower(base), ' ')) AS w
            FROM turns),
    sc AS (SELECT doc_id, t, lang, COUNT(*) AS cnt
           FROM tok JOIN sw USING (w) GROUP BY doc_id, t, lang),
    best AS (SELECT doc_id, t, lang,
                    row_number() OVER (PARTITION BY doc_id, t
                                       ORDER BY cnt DESC, lang ASC) AS rn
             FROM sc),
    pred AS (SELECT turns.doc_id, turns.t, coalesce(b.lang, 'unk') AS pl
             FROM turns LEFT JOIN best b
               ON b.doc_id = turns.doc_id AND b.t = turns.t AND b.rn = 1),
    pc AS (SELECT doc_id, pl, COUNT(*) AS cnt FROM pred GROUP BY doc_id, pl),
    maj AS (SELECT doc_id, pl AS majority_lang,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, pl ASC) AS rn
            FROM pc),
    mix AS (SELECT doc_id,
                   CAST(SUM(cnt) AS bigint) AS n_turns,
                   CAST(COUNT(*) FILTER (WHERE pl <> 'unk') AS bigint)
                     AS n_langs,
                   CAST(COALESCE(SUM(cnt) FILTER (WHERE pl = 'unk'), 0)
                        AS bigint) AS n_unk_turns
            FROM pc GROUP BY doc_id)
    SELECT mix.doc_id, n_turns, n_langs, n_unk_turns,
           m.majority_lang, n_langs >= 2 AS is_mixed
    FROM mix JOIN maj m ON m.doc_id = mix.doc_id AND m.rn = 1
    """


# --------------------------------------------------- conversation code ratio
# The code-heavy-conversation selector: how much of each conversation's
# text is fenced code? Code-dense transcripts route to code-model
# training; zero-code transcripts route to chat. Shares the turn stream
# (_CODE_TURNS_SQL / _code_turns_df) and the fence scan
# (_CODE_SCAN_SQL / code_blocks_col) — one rendering each — so the
# density it reports is exactly over q_code_blocks' blocks.
@_q(
    "q_code_ratio",
    f"""
    WITH {_CODE_TURNS_SQL},
    {_CODE_SCAN_SQL},
    tc AS (SELECT doc_id, CAST(SUM(length(txt)) AS bigint) AS total_chars
           FROM ct GROUP BY doc_id),
    bc AS (SELECT doc_id,
                  CAST(COUNT(*) AS bigint) AS n_blocks,
                  CAST(SUM(n_code_chars) AS bigint) AS code_chars,
                  CAST(COUNT(DISTINCT lang) AS bigint) AS n_langs
           FROM blocks GROUP BY doc_id)
    SELECT tc.doc_id,
           tc.total_chars,
           COALESCE(bc.n_blocks, 0) AS n_blocks,
           COALESCE(bc.code_chars, 0) AS code_chars,
           COALESCE(bc.n_langs, 0) AS n_langs,
           CAST(COALESCE(bc.code_chars, 0) * 1000 // tc.total_chars
                AS bigint) AS code_milli
    FROM tc LEFT JOIN bc ON bc.doc_id = tc.doc_id
    """,
)
def q_code_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation code density over the shared fence scan: total
    chars, closed blocks, code chars, distinct languages, and the milli
    code ratio (integer division — no float crosses the gate). Two
    conv-grain partial aggregations left-joined on the conversation key
    — turn payloads never move except as per-conv sums."""
    ct = _code_turns_df(spark, sf_dir)
    blocks = ct.select(
        "doc_id", F.explode(code_blocks_col(F.col("txt"))).alias("b")
    )
    tc = ct.groupBy("doc_id").agg(
        F.sum(F.length("txt")).cast("long").alias("total_chars")
    )
    bc = blocks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("b.n_code_chars").cast("long").alias("code_chars"),
        F.countDistinct("b.lang").cast("long").alias("n_langs"),
    )
    return tc.join(bc, "doc_id", "left").select(
        "doc_id",
        "total_chars",
        F.coalesce("n_blocks", F.lit(0)).cast("long").alias("n_blocks"),
        F.coalesce("code_chars", F.lit(0)).cast("long").alias("code_chars"),
        F.coalesce("n_langs", F.lit(0)).cast("long").alias("n_langs"),
        F.expr("coalesce(code_chars, 0) * 1000 div total_chars")
        .cast("long")
        .alias("code_milli"),
    )


# ----------------------------------------------------- hour-of-day mix
@_q(
    "q_hour_mix",
    """
    WITH h AS (SELECT ((epoch_ms(ts) // 3600000) % 24) AS hour_utc,
                      event_type, user_id
               FROM events)
    SELECT CAST(hour_utc AS int) AS hour_utc, event_type,
           CAST(COUNT(*) AS bigint) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS bigint) AS n_users
    FROM h GROUP BY hour_utc, event_type
    """,
)
def q_hour_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × event-type activity histogram — the load-shaping
    report a batch-window scheduler reads (when to run compaction, when
    the ingest peak lands). The hour is derived from the PHYSICAL epoch
    milliseconds by integer arithmetic ((ms // 3600000) % 24) — no
    calendar function, no session-timezone dependence — so both engines
    bucket the identical int64 the parquet file stores (the same
    tz-free discipline as the clock-regression audit). Shape: in-row
    derivation on the scan, one ≤24×|types|-key partial agg; the
    distinct-user count shuffles (hour, type, user) partials."""
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "user_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    h = ev.select(ms.alias("_ms"), "event_type", "user_id").select(
        F.expr("(_ms div 3600000) % 24").cast("int").alias("hour_utc"),
        "event_type",
        "user_id",
    )
    return h.groupBy("hour_utc", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# --------------------------------------------------- per-user activity span
@_q(
    "q_activity_span",
    """
    WITH s AS (SELECT user_id,
                      CAST(COUNT(*) AS bigint) AS n_events,
                      MIN(epoch_ms(ts)) AS beg_ms,
                      MAX(epoch_ms(ts)) AS end_ms
               FROM events GROUP BY user_id)
    SELECT user_id, n_events,
           CAST(end_ms - beg_ms AS bigint) AS span_ms,
           CAST(CASE WHEN end_ms = beg_ms THEN 0
                ELSE n_events * 86400000 * 1000 // (end_ms - beg_ms) END
             AS bigint) AS rate_per_day_milli
    FROM s
    """,
)
def q_activity_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity span and exact integer event rate: first→last
    observed millisecond and milli-events-per-day over that span — the
    bot/power-user screen (a clock-dense user with an absurd rate is
    automation; a one-event user pins the span-0 sentinel). Float
    discipline: the rate is ONE integer division of exact epoch-ms
    sums (n·86400000·1000 // span); single-event users define rate 0.
    Shape: one user-grain partial agg on the scan — min/max/count all
    combine map-side; no window, no ordering."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(F.unix_millis(F.col("ts").cast("timestamp"))).alias("beg_ms"),
        F.max(F.unix_millis(F.col("ts").cast("timestamp"))).alias("end_ms"),
    )
    return s.select(
        "user_id",
        "n_events",
        (F.col("end_ms") - F.col("beg_ms")).cast("long").alias("span_ms"),
        F.expr(
            "CASE WHEN end_ms = beg_ms THEN 0L"
            " ELSE n_events * 86400000L * 1000L div (end_ms - beg_ms) END"
        )
        .cast("long")
        .alias("rate_per_day_milli"),
    )


# ------------------------------------------------- event-type audience overlap
@_q(
    "q_event_overlap",
    """
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    c AS (SELECT event_type, CAST(COUNT(*) AS bigint) AS n
          FROM tu GROUP BY event_type),
    p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(COUNT(*) AS bigint) AS n_both
          FROM tu a JOIN tu b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2)
    SELECT type_a, type_b, n_both,
           ca.n AS n_a, cb.n AS n_b,
           1000 * n_both // (ca.n + cb.n - n_both) AS jaccard_milli
    FROM p JOIN c ca ON ca.event_type = p.type_a
           JOIN c cb ON cb.event_type = p.type_b
    """,
)
def q_event_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: for every co-observed pair
    of event types, the exact Jaccard (integer milli) of their user
    sets — the feature-adoption / cannibalization matrix a product
    analytics team reads, and for a training pipeline the signal for
    which interaction modes share an audience (pairs with zero common
    users emit no row — there is nothing to measure). Set algebra is
    exact integers end to end.

    Scale: one (event_type, user) dedup exchange, then a user-keyed
    self-equi-join whose per-user expansion is bounded by the number of
    DISTINCT event types (a fixed product-schema constant, like
    q_engine_winrate's in-row pair expansion — never n² in users); the
    type-cardinality dim is O(types) and broadcast back onto the
    O(types²) pair frame."""
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    tu = ev.distinct()
    c = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = tu.alias("a")
    b = tu.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ca = c.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    cb = c.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        p.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("1000 * n_both div (n_a + n_b - n_both)").alias(
                "jaccard_milli"
            ),
        )
    )


# ------------------------------------------------- activity concentration
_GINI_BUCKETS = 64


@_q(
    "q_gini_activity",
    """
    WITH cnt AS (SELECT event_type, user_id, CAST(COUNT(*) AS bigint) AS x
                 FROM events GROUP BY event_type, user_id),
    r AS (SELECT event_type, x,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY x, user_id) AS r
          FROM cnt)
    SELECT event_type,
           CAST(COUNT(*) AS bigint) AS n_users,
           CAST(SUM(x) AS bigint) AS n_events,
           CAST((1000 * (2 * SUM(r * x) - (COUNT(*) + 1) * SUM(x)))
                // (COUNT(*) * SUM(x)) AS bigint) AS gini_milli
    FROM r GROUP BY event_type
    """,
)
def q_gini_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration (Gini) per event type: how unequal the
    per-user event distribution is — the bot/whale screen a pipeline
    reads before trusting engagement counts (uniform usage → 0;
    one-user dominance → →1000). Exact integer milli from the rank
    formula G = (2·Σ r·x − (n+1)·Σx)/(n·Σx) over users ranked
    ascending by (count, user_id) — ties broken deterministically, no
    floats anywhere.

    Scale — ranks WITHOUT a whole-type window (the q_score_calibration
    / q_epoch_shuffle two-phase): the oracle's `row_number() OVER
    (PARTITION BY event_type ORDER BY x)` would sort every user of a
    type in ONE task, and there are O(5) types. Instead (1) bucket
    users by equal-width VALUE ranges of x (monotone in x, ties share
    a bucket), (2) a tiny per-(type, bucket) count dim yields each
    bucket's exclusive prefix via an O(types×buckets) post-agg window,
    (3) row_number runs within (type, bucket) — ~1/64 of a type per
    task — plus the prefix offset. Identical ranks to the single
    window, oracle-gated. The (type,user) count agg is the only
    corpus-scale exchange."""
    from .util import two_phase_ranks

    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    cnt = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    ranked = two_phase_ranks(
        cnt, ["event_type"], "x", ["user_id"], buckets=_GINI_BUCKETS
    ).select("event_type", "x", "r")
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("x").cast("long").alias("n_events"),
            F.sum(F.col("r") * F.col("x")).cast("long").alias("srx"),
        )
        .select(
            "event_type",
            "n_users",
            "n_events",
            F.expr(
                "CAST((1000 * (2 * srx - (n_users + 1) * n_events))"
                " div (n_users * n_events) AS bigint)"
            ).alias("gini_milli"),
        )
    )


# ------------------------------------------------- heavy users per type
# The per-event-type heavy-user review queue (abuse/bot triage, whale
# analysis) — the SECOND consumer of util.topk_by_count, proving the
# digit-bucket top-K machinery is generic: identical shape to the
# per-source vocabulary ranks, a different table entirely.
_TOPU_K = 10


@_q(
    "q_event_topusers",
    f"""
    WITH cnt AS (SELECT event_type, user_id,
                        CAST(COUNT(*) AS bigint) AS c
                 FROM events GROUP BY event_type, user_id),
    rk AS (SELECT event_type, user_id, c,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY c DESC, user_id) AS rnk
           FROM cnt)
    SELECT event_type, CAST(rnk AS bigint) AS rnk, user_id,
           c AS n_events
    FROM rk WHERE rnk <= {_TOPU_K}
    """,
)
def q_event_topusers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top {_TOPU_K} users per event type by exact event count with the
    deterministic (count DESC, user ASC) rank — the heavy-user queue an
    abuse/whale review reads per interaction mode.

    Scale: the (event_type, user) count agg is the only corpus
    exchange; ranks come from util.topk_by_count (digit-bucket
    histogram prefix pruning → row_number on the surviving head), so no
    task ever sorts a whole event type's user population — the oracle
    is the plain whole-partition rank window, making the gate itself
    the proof that pruning is rank-preserving."""
    from .util import topk_by_count

    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    cnt = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return topk_by_count(cnt, ["event_type"], ["user_id"], _TOPU_K).select(
        "event_type",
        F.col("rnk").cast("long").alias("rnk"),
        "user_id",
        F.col("c").alias("n_events"),
    )


# ------------------------------------------------- shipping-priority top-K
# The TPC-H Q3 shape: selective dim filter → fact join → grouped
# revenue → global top-K. The top-10 runs on the ROUNDED revenue with
# the o_orderkey tiebreak (the q_pmi_collocations discipline) so rank
# is identical across engines, and Spark plans it as
# TakeOrderedAndProject — per-partition top-K before one tiny driver
# merge, never a global sort.
_SHIP_SEG = "BUILDING"
_SHIP_DATE = "1995-03-15"
_SHIP_TOPK = 10


@_q(
    "q_ship_priority",
    f"""
    SELECT o.o_orderkey, o.o_orderdate,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue,
           CAST(COUNT(*) AS bigint) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = '{_SHIP_SEG}'
      AND o.o_orderdate < DATE '{_SHIP_DATE}'
      AND l.l_shipdate > DATE '{_SHIP_DATE}'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT {_SHIP_TOPK}
    """,
)
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_SHIP_TOPK} unshipped-revenue orders in the {_SHIP_SEG}
    segment as of {_SHIP_DATE} — the classic selective-dim → fact →
    top-K report. Both date predicates and the segment filter push to
    the scans; customer broadcast; the only wide exchange is the
    (orderkey) revenue agg, pre-combined map-side."""
    c = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == _SHIP_SEG)
        .select("c_custkey")
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < F.lit(_SHIP_DATE).cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > F.lit(_SHIP_DATE).cast("date"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )
    return rev.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(
        _SHIP_TOPK
    )


# ------------------------------------------------- late-shipment semi-join
# The TPC-H Q4 shape: EXISTS → LEFT SEMI join. An order counts once per
# priority bucket if ANY of its lines shipped more than _LATE_DAYS
# after the order date — the semi join never duplicates an order
# however many lines qualify, which a plain inner join + distinct
# would pay a dedup shuffle to fix.
_LATE_DAYS = 90


@_q(
    "q_late_orders",
    f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS bigint) AS n_late
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL {_LATE_DAYS} DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one line shipped > {_LATE_DAYS} days after
    order date, counted per priority — the operational-lateness
    rollup. LEFT SEMI join on orderkey with the date comparison as the
    join filter; output is O(priorities)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.date_add(o.o_orderdate, _LATE_DAYS)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_late")
    )


# ------------------------------------------------- large-volume customers
# The TPC-H Q18 shape: a HAVING prune on the fact aggregate BEFORE any
# dim joins back — the order of operations that matters at scale: the
# quantity rollup shrinks the fact table to the handful of qualifying
# orders first, and only those rows touch customer/orders again.
_BIGQTY_MIN = 250
_BIGQTY_TOPK = 20


@_q(
    "q_big_spenders",
    f"""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(l_quantity) AS bigint) AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(l_quantity) > {_BIGQTY_MIN})
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           ROUND(o.o_totalprice, 2) AS o_totalprice, big.total_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY big.total_qty DESC, o.o_orderkey
    LIMIT {_BIGQTY_TOPK}
    """,
)
def q_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_BIGQTY_TOPK} orders by total line quantity above
    {_BIGQTY_MIN}, with the customer — TPC-H Q18. The HAVING prune
    runs on the one fact aggregate (map-side combined) so the joins
    back to orders/customer see only qualifying orderkeys; the top-K
    is TakeOrderedAndProject on the exact integer quantity with the
    orderkey tiebreak."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > _BIGQTY_MIN)
        .select(
            "l_orderkey", F.col("_q").cast("long").alias("total_qty")
        )
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )
    return out.orderBy(F.desc("total_qty"), F.asc("o_orderkey")).limit(
        _BIGQTY_TOPK
    )


# ---------------------------------------------------------- DAU / WAU
# Rolling engagement: daily active users beside the trailing-7-day
# weekly actives and the DAU/WAU stickiness ratio — the
# product-health curve every event warehouse serves. The day index is
# PHYSICAL integer arithmetic on epoch milliseconds (the q_hour_mix
# rule — no calendar, no timezone), and the rolling distinct avoids
# any per-day re-scan: each (user, day) pair supports exactly the 7
# trailing windows ending on days d..d+6, so a bounded 7× in-row
# fan-out followed by a (day, user) dedup computes every window's
# exact distinct count in one pass. Output keeps only days that have
# events (the observed-days convention).


@_q(
    "q_dau_wau",
    """
    WITH e AS (SELECT DISTINCT CAST(epoch_ms(ts) // 86400000 AS bigint)
                        AS day, user_id
               FROM events),
    dau AS (SELECT day, CAST(COUNT(*) AS bigint) AS dau
            FROM e GROUP BY day),
    x AS (SELECT CAST(e.day + gg.i AS bigint) AS day, e.user_id
          FROM e, unnest(generate_series(0, 6)) gg(i)),
    wau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS bigint) AS wau
            FROM x GROUP BY day)
    SELECT d.day, d.dau, w.wau,
           CAST(1000 * d.dau // w.wau AS bigint) AS stickiness_milli
    FROM dau d JOIN wau w USING (day)
    """,
)
def q_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day exact DAU, trailing-7-day WAU and integer-milli
    stickiness (DAU/WAU — 1000 means every weekly user shows up daily,
    ~143 means each appears once a week).

    Scale: one (day, user) dedup exchange (dau is its rollup — COUNT(*)
    on already-distinct pairs), a bounded 7× in-row explode, one
    (day, user) dedup-rollup for wau, and an O(days) join. No window
    functions, no per-day re-aggregation of the event stream."""
    ev = load(spark, sf_dir, "events").select("ts", "user_id")
    day = F.expr(
        "cast(unix_millis(cast(ts as timestamp)) div 86400000 as bigint)"
    )
    e = ev.select(day.alias("day"), "user_id").distinct()
    dau = e.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    x = e.select(
        F.explode(F.expr("sequence(day, day + 6)")).alias("day"),
        "user_id",
    )
    wau = x.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("1000 * dau div wau").cast("long").alias(
                "stickiness_milli"
            ),
        )
    )


# ------------------------------------------------------ activity streaks
# Longest consecutive-day activity streak per user — the canonical
# gaps-and-islands problem. Day index is the shared physical epoch-ms
# integer rule (q_hour_mix / q_dau_wau — no calendar, no timezone).
# The oracle spells the textbook form (day − row_number constant on a
# run); the ENGINE never windows at all: a user's distinct-day set is
# bounded by the CALENDAR (≤ timespan days, never event volume), so
# collect_set(day) per user is a bounded-size aggregate with MAP-SIDE
# partial dedup — a user with 10^9 events ships ≤ days values per
# input partition — and the whole island scan (lengths, count,
# longest, earliest-longest tie-break) is ONE in-row higher-order
# aggregate() fold over the sorted array. One exchange, zero
# Sort/Window/Join nodes (plan-asserted).

_STREAK_FOLD = """
aggregate(
  sort_array(days),
  named_struct(
    'prev', cast(-4611686018427387904 as bigint),
    'cur_len', cast(0 as bigint),
    'cur_start', cast(0 as bigint),
    'best_len', cast(0 as bigint),
    'best_start', cast(0 as bigint),
    'n_streaks', cast(0 as bigint)),
  (s, d) -> named_struct(
    'prev', d,
    'cur_len',
      IF(d = s.prev + 1, s.cur_len + 1, cast(1 as bigint)),
    'cur_start',
      IF(d = s.prev + 1, s.cur_start, d),
    'best_len',
      IF(IF(d = s.prev + 1, s.cur_len + 1, cast(1 as bigint))
           > s.best_len,
         IF(d = s.prev + 1, s.cur_len + 1, cast(1 as bigint)),
         s.best_len),
    'best_start',
      IF(IF(d = s.prev + 1, s.cur_len + 1, cast(1 as bigint))
           > s.best_len,
         IF(d = s.prev + 1, s.cur_start, d),
         s.best_start),
    'n_streaks',
      s.n_streaks
        + IF(d = s.prev + 1, cast(0 as bigint), cast(1 as bigint))))
"""


@_q(
    "q_user_streaks",
    """
    WITH days AS (SELECT DISTINCT user_id,
                         CAST(epoch_ms(ts) // 86400000 AS bigint) AS day
                  FROM events),
    seq AS (SELECT user_id, day,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                     AS rn
            FROM days),
    isl AS (SELECT user_id, day - rn AS anchor,
                   CAST(COUNT(*) AS bigint) AS len,
                   CAST(MIN(day) AS bigint) AS start
            FROM seq GROUP BY 1, 2),
    agg AS (SELECT user_id,
                   CAST(SUM(len) AS bigint) AS n_active_days,
                   CAST(COUNT(*) AS bigint) AS n_streaks,
                   CAST(MAX(len) AS bigint) AS longest
            FROM isl GROUP BY 1)
    SELECT a.user_id, a.n_active_days, a.n_streaks, a.longest,
           CAST(MIN(i.start) AS bigint) AS longest_start_day
    FROM agg a
    JOIN isl i ON a.user_id = i.user_id AND i.len = a.longest
    GROUP BY 1, 2, 3, 4
    """,
)
def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-streak profile: distinct active days, number
    of maximal consecutive-day runs, the longest run's length and the
    epoch-day it starts (earliest among equal-length ties — the fold's
    strictly-greater comparison means a later equal run never
    replaces).

    Scale — collect_set(day) bounds every user's payload by the
    calendar with map-side partial dedup, so the single user_id
    exchange moves ≤ days values per (partition, user); the island
    scan is an in-row fold, so the oracle's window + double rollup +
    join-back never materialize in the engine (plan pins 1 Exchange,
    0 Sort/Window/Join nodes)."""
    ev = load(spark, sf_dir, "events").select("ts", "user_id")
    day = F.expr(
        "cast(unix_millis(cast(ts as timestamp)) div 86400000 as bigint)"
    )
    g = (
        ev.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(F.collect_set("day").alias("days"))
    )
    return g.select(
        "user_id",
        F.size("days").cast("long").alias("n_active_days"),
        F.expr(_STREAK_FOLD).alias("_s"),
    ).select(
        "user_id",
        "n_active_days",
        F.col("_s.n_streaks").alias("n_streaks"),
        F.col("_s.best_len").alias("longest"),
        F.col("_s.best_start").alias("longest_start_day"),
    )


# ------------------------------------------------------ brand revenue share
# The last un-exercised driver table: part (a 200-row product dim —
# always broadcast). Q14-flavored: revenue and line share per brand,
# the category-mix report. The share is exact integer milli over LINE
# COUNTS (never a ratio of two rounded revenues); the corpus total is
# the classic 1-row broadcast dim (the q_bm25 pattern).


@_q(
    "q_brand_revenue",
    """
    WITH j AS (SELECT p.p_brand,
                      l.l_extendedprice * (1 - l.l_discount) AS rev
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    b AS (SELECT p_brand, ROUND(SUM(rev), 2) AS revenue,
                 CAST(COUNT(*) AS bigint) AS n_lines
          FROM j GROUP BY p_brand),
    t AS (SELECT CAST(SUM(n_lines) AS bigint) AS total FROM b)
    SELECT b.p_brand, b.revenue, b.n_lines,
           CAST(1000 * b.n_lines // t.total AS bigint) AS share_milli
    FROM b, t
    """,
)
def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue, line count and exact integer-milli line share per part
    brand. part broadcasts onto the lineitem scan; one (brand) partial
    agg is the only exchange; the total is a 1-row broadcast dim."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )
    t = b.agg(F.sum("n_lines").cast("long").alias("total"))
    return b.crossJoin(F.broadcast(t)).select(
        "p_brand",
        "revenue",
        "n_lines",
        F.expr("1000 * n_lines div total").cast("long").alias("share_milli"),
    )


# ---------------------------------------------------------- RFM segments
# Classic customer segmentation: per customer, Recency (days since
# last order vs the corpus's latest order), Frequency (order count)
# and Monetary (lifetime spend in exact cents), each quintile-scored
# 1-5 with the deterministic rank formula q = least(5, 1 +
# (5·(rank−1)) div n) over (metric, custkey) order — ties and
# boundaries exact integer arithmetic, never ntile's engine-specific
# bucketing. Ranks are GLOBAL (the customer dim has no group key), so
# they run through util.two_phase_ranks with a constant group: the
# fact windows partition by (_g, _vbucket) — at 10^9 customers no
# task ever sorts the whole dim. Monetary per order is
# floor(o_totalprice·100) — identical on identical doubles — summed
# as bigint, so the rank key is exact.


@_q(
    "q_rfm_segments",
    """
    WITH mx AS (SELECT CAST(MAX(epoch_ms(o_orderdate)) AS bigint) AS m
                FROM orders),
    c AS (SELECT o_custkey,
                 CAST((mx.m - MAX(epoch_ms(o_orderdate))) // 86400000
                      AS bigint) AS recency_days,
                 CAST(COUNT(*) AS bigint) AS frequency,
                 CAST(SUM(CAST(floor(o_totalprice * 100) AS bigint))
                      AS bigint) AS monetary_cents
          FROM orders, mx GROUP BY o_custkey, mx.m),
    n AS (SELECT CAST(COUNT(*) AS bigint) AS n FROM c),
    r AS (SELECT c.*,
                 row_number() OVER (ORDER BY -recency_days, o_custkey)
                   AS rr,
                 row_number() OVER (ORDER BY frequency, o_custkey) AS rf,
                 row_number() OVER (ORDER BY monetary_cents, o_custkey)
                   AS rm
          FROM c)
    SELECT o_custkey, recency_days, frequency, monetary_cents,
           CAST(LEAST(5, 1 + (5 * (rr - 1)) // n.n) AS int) AS r_q,
           CAST(LEAST(5, 1 + (5 * (rf - 1)) // n.n) AS int) AS f_q,
           CAST(LEAST(5, 1 + (5 * (rm - 1)) // n.n) AS int) AS m_q
    FROM r, n
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM quintile scores (r_q high = recently active,
    f_q high = frequent, m_q high = big spender) beside the raw
    metrics.

    Scale: one (custkey) partial agg builds the metric dim; each of
    the three quintile passes is a two_phase_ranks run over that dim
    (value-bucketed — no global sort); the corpus-latest-date and
    row-count dims are 1-row broadcasts."""
    from .util import two_phase_ranks

    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    ms = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    mx = o.agg(F.max(ms).cast("long").alias("m"))
    c = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "cast((min(m) - max(unix_millis(cast(o_orderdate as"
                " timestamp)))) div 86400000 as bigint)"
            ).alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("long")
            )
            .cast("long")
            .alias("monetary_cents"),
        )
        .withColumn("_g", F.lit(0))
        .withColumn("neg_recency", -F.col("recency_days"))
    )
    n = c.groupBy("_g").agg(F.count(F.lit(1)).alias("n"))

    # rank each metric over a SLIM (custkey, metric) projection and
    # join the rank columns back — chaining the passes would make each
    # pass's eager min/max bucket-sizing job re-execute every earlier
    # pass's rank join (reviewed: 3× re-execution of pass 1 at scale)
    def _rank(metric: str, name: str):
        slim = c.select("_g", "o_custkey", metric)
        return two_phase_ranks(
            slim, ["_g"], metric, ["o_custkey"], rank_name=name
        ).select("o_custkey", name)

    out = (
        c.join(_rank("neg_recency", "rr"), "o_custkey")
        .join(_rank("frequency", "rf"), "o_custkey")
        .join(_rank("monetary_cents", "rm"), "o_custkey")
        .join(F.broadcast(n), "_g")
    )

    def _q5(rank_col: str):
        return (
            F.least(
                F.lit(5), 1 + F.expr(f"(5 * ({rank_col} - 1)) div n")
            )
            .cast("int")
        )

    return out.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        _q5("rr").alias("r_q"),
        _q5("rf").alias("f_q"),
        _q5("rm").alias("m_q"),
    )


# ---------------------------------------------------------- basket pairs
# Association mining: part pairs co-ordered in the same order, with
# exact support counts and lift = P(ab)/(P(a)·P(b)) — the classic
# market-basket report, and for a curation pipeline the template for
# any "X co-occurs with Y more than chance" question. Pairs expand
# IN-ROW from each order's sorted distinct part list (bounded by
# basket size — never a corpus self-join, the q_source_jsd pattern);
# the part marginals are an O(parts) broadcast dim; lift is ONE
# rounded expression over four exact integers.
_BASKET_MIN = 3  # pair support floor — sub-floor pairs never leave the agg


@_q(
    "q_basket_pairs",
    f"""
    WITH e AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS bigint) AS n_orders
          FROM e),
    m AS (SELECT l_partkey AS p, CAST(COUNT(*) AS bigint) AS n_p
          FROM e GROUP BY 1),
    pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                  CAST(COUNT(*) AS bigint) AS n_ab
           FROM e a JOIN e b ON a.l_orderkey = b.l_orderkey
                            AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2
           HAVING COUNT(*) >= {_BASKET_MIN})
    SELECT pr.pa AS part_a, pr.pb AS part_b, pr.n_ab,
           ma.n_p AS n_a, mb.n_p AS n_b,
           ROUND(CAST(pr.n_ab AS double) * n.n_orders
                 / (ma.n_p * mb.n_p), 6) AS lift
    FROM pr JOIN m ma ON ma.p = pr.pa JOIN m mb ON mb.p = pr.pb, n
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-ordered part pairs at support ≥ {_BASKET_MIN}: exact pair and
    marginal counts plus lift (>1 = attract, <1 = repel), rounded
    once. Baskets sort their distinct parts so pa < pb
    deterministically on both engines.

    Scale: one (orderkey) basket agg, in-row pair explode bounded by
    basket size (HAVING floor keeps rare pairs inside the partial
    agg), O(parts) marginal dim broadcast back, 1-row order-count
    dim."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    b = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    n = b.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    m = b.select(F.explode("parts").alias("p")).groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("n_p")
    )
    pr = (
        b.where(F.size("parts") >= 2)
        .select(
            F.explode(
                F.expr(
                    inrow_pairs_expr(
                        "parts",
                        lambda i, j: (
                            f"element_at(parts, {i}) as pa,"
                            f" element_at(parts, {j}) as pb"
                        ),
                    )
                )
            ).alias("x")
        )
        .select("x.*")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= _BASKET_MIN)
    )
    ma = m.select(F.col("p").alias("pa"), F.col("n_p").alias("n_a"))
    mb = m.select(F.col("p").alias("pb"), F.col("n_p").alias("n_b"))
    return (
        pr.join(F.broadcast(ma), "pa")
        .join(F.broadcast(mb), "pb")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------- top supplier
# The TPC-H Q15 shape: an aggregate-of-aggregate argmax WITH TIES —
# revenue per supplier, then exactly the suppliers achieving the
# maximum (a LIMIT 1 would silently drop ties; the 1-row broadcast max
# dim keeps them all, the tie-safe argmax pattern).


@_q(
    "q_top_supplier",
    """
    WITH r AS (SELECT l_suppkey,
                      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                        AS revenue
               FROM lineitem GROUP BY l_suppkey),
    mx AS (SELECT MAX(revenue) AS m FROM r)
    SELECT s.s_suppkey, s.s_name, r.revenue
    FROM r JOIN supplier s ON s.s_suppkey = r.l_suppkey, mx
    WHERE r.revenue = mx.m
    """,
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier(s) with maximum lineitem revenue — ties kept. The
    comparison runs on the ROUNDED per-supplier revenue (one rounded
    double per supplier, identical on both engines), so tie detection
    can never straddle engines. One fact exchange (supplier rollup),
    a 1-row broadcast max dim, and the 10-row supplier dim broadcast
    back."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    r = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    mx = r.agg(F.max("revenue").alias("m"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        r.crossJoin(F.broadcast(mx))
        .where(F.col("revenue") == F.col("m"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "revenue")
    )


# ------------------------------------------------- important part shares
# The TPC-H Q11 shape: a HAVING prune against a FRACTION OF A GLOBAL
# aggregate — per-part stocked quantity vs 1.2x the average part's
# share. Every number in the comparison is an exact integer
# (l_quantity is integral, summed as bigint; the threshold is the
# cross-multiplied 10*qty*n_parts > 12*total), so the prune can never
# straddle engines, and the global total is the classic 1-row
# broadcast dim — the fact table is aggregated ONCE and the filter is
# a broadcast-nested-loop against two scalars.


@_q(
    "q_part_value_share",
    """
    WITH pq AS (SELECT l_partkey,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                         AS qty
                FROM lineitem GROUP BY l_partkey),
    t AS (SELECT CAST(SUM(qty) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_parts
          FROM pq)
    SELECT pq.l_partkey AS p_partkey, pq.qty,
           CAST(1000000 * pq.qty // t.total AS BIGINT) AS share_micro
    FROM pq, t
    WHERE 10 * pq.qty * t.n_parts > 12 * t.total
    """,
)
def q_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts holding more than 1.2x the average part's share of total
    shipped quantity (TPC-H Q11's fraction-of-global HAVING). One fact
    exchange (the part rollup); the total/n_parts dim is a single
    broadcast row; share_micro is exact integer floor division."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    pq = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty")
    )
    t = pq.agg(
        F.sum("qty").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    return (
        pq.crossJoin(F.broadcast(t))
        .where(10 * F.col("qty") * F.col("n_parts") > 12 * F.col("total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "qty",
            F.expr("CAST(1000000 * qty div total AS BIGINT)").alias(
                "share_micro"
            ),
        )
    )


# ------------------------------------------- customer order distribution
# The TPC-H Q13 shape: distribution-of-counts — how many customers
# placed exactly k (non-urgent) orders, ZERO included. The scale plan
# aggregates orders down to a per-customer count dim FIRST (partial
# agg on the fact side), then LEFT-joins customer to that dim and
# coalesces the missing rows to 0 — never the row-exploding
# customer x orders join the naive formulation runs.


@_q(
    "q_cust_order_dist",
    """
    WITH co AS (SELECT c.c_custkey,
                       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
                FROM customer c
                LEFT JOIN orders o
                  ON o.o_custkey = c.c_custkey
                 AND o.o_orderpriority <> '1-URGENT'
                GROUP BY c.c_custkey)
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM co GROUP BY n_orders
    """,
)
def q_cust_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of customers by their non-urgent order count, zero
    bucket included (TPC-H Q13). Orders pre-aggregate to an
    O(customers) count dim before the customer join; the second
    aggregate groups on the count itself."""
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    counts = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey")
    co = c.join(
        counts, c.c_custkey == counts.o_custkey, "left"
    ).select(F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"))
    return co.groupBy("n_orders").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


# ------------------------------------------------------- idle rich money
# The TPC-H Q22 shape: an anti join against a filtered fact PLUS a
# scalar-subquery filter (balance above the positive-balance average).
# The average is held as exact integer cents with the comparison
# cross-multiplied (bal_cents * n > sum_cents), so the cut can never
# straddle engines; the urgent-customer set is the anti-join probe.


@_q(
    "q_idle_customers",
    """
    WITH cents AS (SELECT c_custkey, c_mktsegment,
                          CAST(ROUND(c_acctbal * 100) AS BIGINT)
                            AS bal_cents
                   FROM customer WHERE c_acctbal > 0.0),
    avgd AS (SELECT CAST(SUM(bal_cents) AS BIGINT) AS s,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM cents)
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(bal_cents) AS BIGINT) AS bal_cents_sum
    FROM cents c, avgd
    WHERE c.bal_cents * avgd.n > avgd.s
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers who never placed an urgent
    order, rolled up per market segment (TPC-H Q22). The
    positive-balance average is a 1-row broadcast dim compared in
    exact integer cents; urgent custkeys probe as a LEFT ANTI join."""
    c = load(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0.0)
    cents = c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    avgd = cents.agg(
        F.sum("bal_cents").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    urgent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = cents.crossJoin(F.broadcast(avgd)).where(
        F.col("bal_cents") * F.col("n") > F.col("s")
    )
    idle = rich.join(
        urgent, rich.c_custkey == urgent.o_custkey, "left_anti"
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("bal_cents").cast("long").alias("bal_cents_sum"),
    )


# ------------------------------------------------- brand supplier spread
# The TPC-H Q16 shape: DISTINCT-count per group after a dim join, with
# an excluded-supplier list applied as an anti probe BEFORE the
# expensive distinct — the exclusion dim (low-balance suppliers; the
# testdata generator draws balances in [500, 10000] so a <1000 cut is
# the non-empty analogue of Q16's complaint blocklist) broadcasts, the
# part dim broadcasts, and the only corpus exchange is the
# (brand, suppkey) dedup that the distinct count needs anyway.


@_q(
    "q_brand_suppliers",
    """
    SELECT p.p_brand,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey
                        AND s.s_acctbal < 1000.0)
    GROUP BY p.p_brand
    """,
)
def q_brand_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers serving each brand, excluding suppliers in
    the low-balance blocklist (TPC-H Q16's supplier-cardinality
    report). Blocklist and part dims broadcast; the distinct count is
    the single shuffle."""
    excl = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 1000.0)
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    kept = li.join(
        F.broadcast(excl), li.l_suppkey == excl.s_suppkey, "left_anti"
    )
    j = kept.join(F.broadcast(p), kept.l_partkey == p.p_partkey)
    return j.groupBy("p_brand").agg(
        F.count_distinct("l_suppkey").cast("long").alias("n_suppliers")
    )


# ------------------------------------------------- local-supplier volume
# The TPC-H Q5 shape: revenue kept inside a region — lines where the
# ordering customer and the supplier share a nation, rolled up per
# nation for one region + one order-date year. The scale layout:
# nation/supplier/customer are broadcast dims ATTACHED to their facts
# (orders gains c_nationkey, lineitem gains s_nationkey), the single
# wide exchange is the lineitem⋈orders orderkey join with the
# nation-equality as a join predicate (never a post-join filter over
# the full cross of nations), and the rollup is O(nations-in-region).
_LSV_REGION = 3  # EUROPE — has suppliers at every SF
_LSV_LO, _LSV_HI = "1996-01-01", "1997-01-01"


@_q(
    "q_local_supplier_volume",
    f"""
    WITH n AS (SELECT n_nationkey, n_name FROM nation
               WHERE n_regionkey = {_LSV_REGION}),
    s AS (SELECT s_suppkey, s_nationkey FROM supplier
          JOIN n ON s_nationkey = n_nationkey),
    c AS (SELECT c_custkey, c_nationkey FROM customer
          JOIN n ON c_nationkey = n_nationkey),
    o AS (SELECT o_orderkey, c.c_nationkey FROM orders
          JOIN c ON o_custkey = c.c_custkey
          WHERE o_orderdate >= TIMESTAMP '{_LSV_LO}'
            AND o_orderdate < TIMESTAMP '{_LSV_HI}')
    SELECT nn.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue,
           CAST(COUNT(*) AS bigint) AS n_lines
    FROM lineitem l
    JOIN s ON l.l_suppkey = s.s_suppkey
    JOIN o ON l.l_orderkey = o.o_orderkey
          AND o.c_nationkey = s.s_nationkey
    JOIN n nn ON nn.n_nationkey = s.s_nationkey
    GROUP BY nn.n_name
    """,
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue where customer and supplier nations match,
    region {_LSV_REGION}, orders in [{_LSV_LO}, {_LSV_HI}) — the
    classic "kept-local" volume report. Dims broadcast; one
    orderkey fact-fact exchange with the nation equality inside the
    join condition; O(5) rollup."""
    n = (
        load(spark, sf_dir, "nation")
        .where(F.col("n_regionkey") == _LSV_REGION)
        .select("n_nationkey", "n_name")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n.select("n_nationkey")), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey")
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n.select("n_nationkey")), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit(_LSV_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_LSV_HI).cast("timestamp"))
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    j = li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (o.c_nationkey == li.s_nationkey),
    )
    agg = j.groupBy("s_nationkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    return agg.join(
        F.broadcast(n), agg.s_nationkey == n.n_nationkey
    ).select("n_name", "revenue", "n_lines")


# ------------------------------------------------- forecast revenue delta
# The TPC-H Q6 shape: a pure scan→filter→global-sum with ZERO joins —
# the predicate-pushdown benchmark. The one global group makes a
# double sum order-sensitive at scale, so revenue is computed in
# EXACT integer e4 units (cents × discount-percent, both from
# floor(x·100) which is identical on identical doubles) and summed in
# bigint: associative, engine-independent, no rounding step at all.
_FCR_LO, _FCR_HI = "1997-01-01", "1998-01-01"
_FCR_DLO, _FCR_DHI = 0.05, 0.07
_FCR_QTY = 24


@_q(
    "q_forecast_revenue",
    f"""
    SELECT CAST(SUM(CAST(floor(l_extendedprice * 100) AS bigint)
                    * CAST(floor(l_discount * 100) AS bigint))
                AS bigint) AS revenue_e4,
           CAST(COUNT(*) AS bigint) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{_FCR_LO}'
      AND l_shipdate < TIMESTAMP '{_FCR_HI}'
      AND l_discount BETWEEN {_FCR_DLO} AND {_FCR_DHI}
      AND l_quantity < {_FCR_QTY}
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Would-be revenue if discounts in [{_FCR_DLO}, {_FCR_DHI}] on
    small orders (< {_FCR_QTY} units) shipped in {_FCR_LO[:4]} had
    been dropped: SUM(price · discount) in exact e4 units. All four
    predicates push to the parquet scan; no shuffle beyond the final
    2-column partial-agg collect."""
    li = load(spark, sf_dir, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= F.lit(_FCR_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_FCR_HI).cast("timestamp"))
        & (F.col("l_discount") >= _FCR_DLO)
        & (F.col("l_discount") <= _FCR_DHI)
        & (F.col("l_quantity") < _FCR_QTY)
    )
    return f.agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100).cast("long")
            * F.floor(F.col("l_discount") * 100).cast("long")
        )
        .cast("long")
        .alias("revenue_e4"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


# ------------------------------------------------- two-nation trade volume
# The TPC-H Q7 shape: shipping volume between one nation PAIR, both
# directions kept as separate rows, per ship-year. Same fact-layout
# rule as Q5: supplier/customer nation names attach to their facts via
# broadcast dims filtered to the two nations FIRST (so the fact join's
# inputs are already pruned to ~2/25ths), the orderkey join is the one
# wide exchange, and supp≠cust is a join-side predicate.
_TNV_A, _TNV_B = 3, 8  # both have suppliers at every SF


@_q(
    "q_two_nation_volume",
    f"""
    WITH s AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
               JOIN nation ON s_nationkey = n_nationkey
               WHERE n_nationkey IN ({_TNV_A}, {_TNV_B})),
    c AS (SELECT c_custkey, n_name AS cust_nation FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          WHERE n_nationkey IN ({_TNV_A}, {_TNV_B})),
    o AS (SELECT o_orderkey, cust_nation FROM orders
          JOIN c ON o_custkey = c_custkey)
    SELECT supp_nation, cust_nation,
           CAST(year(l_shipdate) AS int) AS l_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS bigint) AS n_lines
    FROM lineitem l
    JOIN s ON l.l_suppkey = s.s_suppkey
    JOIN o ON l.l_orderkey = o.o_orderkey
    WHERE supp_nation <> cust_nation
    GROUP BY 1, 2, 3
    """,
)
def q_two_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped between NATION_{_TNV_A} and NATION_{_TNV_B}
    (each direction its own row) per ship-year. Broadcast-pruned dims
    on both facts, one orderkey exchange, O(2·years) rollup."""
    nat = load(spark, sf_dir, "nation").where(
        F.col("n_nationkey").isin(_TNV_A, _TNV_B)
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = (
        load(spark, sf_dir, "orders")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    j = li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (F.col("supp_nation") != F.col("cust_nation")),
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


# ------------------------------------------------- market-share by year
# The TPC-H Q8 shape: one nation's share of a region's market for one
# part type, per order-year. Share is a ratio of two EXACT bigint e4
# sums computed in ONE conditional aggregation pass (never two scans,
# never a join of two aggregates), so the only float step is the
# single published division — identical IEEE on both engines.
_MKS_REGION = 1  # AMERICA customers form the market
_MKS_NATION = 3  # NATION_3 suppliers' share — suppliers at every SF
_MKS_TYPE = "ECONOMY"


@_q(
    "q_market_share",
    f"""
    WITH nn AS (SELECT n_nationkey FROM nation
                WHERE n_regionkey = {_MKS_REGION}),
    c AS (SELECT c_custkey FROM customer
          JOIN nn ON c_nationkey = n_nationkey),
    o AS (SELECT o_orderkey, CAST(year(o_orderdate) AS int) AS o_year
          FROM orders JOIN c ON o_custkey = c.c_custkey),
    p AS (SELECT p_partkey FROM part WHERE p_type = '{_MKS_TYPE}'),
    f AS (SELECT o.o_year,
                 CAST(floor(l.l_extendedprice * 100) AS bigint)
                   * (100 - CAST(floor(l.l_discount * 100) AS bigint))
                   AS rev_e4,
                 CASE WHEN s.s_nationkey = {_MKS_NATION} THEN 1 ELSE 0
                   END AS is_nat
          FROM lineitem l
          JOIN p ON l.l_partkey = p.p_partkey
          JOIN o ON l.l_orderkey = o.o_orderkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey)
    SELECT o_year,
           CAST(SUM(rev_e4) AS bigint) AS total_e4,
           CAST(SUM(is_nat * rev_e4) AS bigint) AS nation_e4,
           ROUND(CAST(SUM(is_nat * rev_e4) AS double) / SUM(rev_e4), 6)
             AS share
    FROM f GROUP BY o_year
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_{_MKS_NATION}'s share of the region-{_MKS_REGION}
    customers' {_MKS_TYPE}-part market, per order-year — exact e4
    numerator/denominator from one pass, share as the single rounded
    division. Part/customer/supplier dims broadcast; the orderkey
    fact-fact join is the one wide exchange; O(years) rollup."""
    nn = (
        load(spark, sf_dir, "nation")
        .where(F.col("n_regionkey") == _MKS_REGION)
        .select("n_nationkey")
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nn), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    o = (
        load(spark, sf_dir, "orders")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").cast("int").alias("o_year"))
    )
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_type") == _MKS_TYPE)
        .select("p_partkey")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev_e4 = F.floor(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.floor(F.col("l_discount") * 100).cast("long")
    )
    f = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "o_year",
            rev_e4.alias("rev_e4"),
            F.when(F.col("s_nationkey") == _MKS_NATION, F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_nat"),
        )
    )
    return f.groupBy("o_year").agg(
        F.sum("rev_e4").cast("long").alias("total_e4"),
        F.sum(F.col("is_nat") * F.col("rev_e4"))
        .cast("long")
        .alias("nation_e4"),
        F.round(
            F.sum(F.col("is_nat") * F.col("rev_e4")).cast("double")
            / F.sum("rev_e4"),
            6,
        ).alias("share"),
    )


# ------------------------------------------------- product-line profit
# The TPC-H Q9 shape: profit per (supplier nation, order year) over a
# name-matched part family, where cost stands in for ps_supplycost as
# 10% of retail price per unit. Profit is exact e4 integer throughout:
# price·(1−disc) = cents·(100−pct) and cost = retail_cents·qty·10,
# both bigint — the grouped difference sums associatively with no
# float accumulation anywhere.
_PPF_LIKE = "widget"


@_q(
    "q_part_profit",
    f"""
    WITH p AS (SELECT p_partkey,
                      CAST(floor(p_retailprice * 100) AS bigint)
                        AS retail_cents
               FROM part WHERE p_name LIKE '%{_PPF_LIKE}%'),
    o AS (SELECT o_orderkey, CAST(year(o_orderdate) AS int) AS o_year
          FROM orders)
    SELECT n.n_name, o.o_year,
           CAST(SUM(CAST(floor(l.l_extendedprice * 100) AS bigint)
                    * (100 - CAST(floor(l.l_discount * 100) AS bigint))
                    - p.retail_cents * CAST(l.l_quantity AS bigint) * 10)
                AS bigint) AS profit_e4,
           CAST(COUNT(*) AS bigint) AS n_lines
    FROM lineitem l
    JOIN p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def q_part_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer profit (revenue e4 minus 10%-of-retail unit cost
    e4) per supplier nation and order year for '%{_PPF_LIKE}%' parts.
    Part (name-pruned), supplier and nation dims broadcast onto the
    lineitem scan; orders joins on orderkey — the one wide exchange;
    O(nations × years) rollup."""
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").like(f"%{_PPF_LIKE}%"))
        .select(
            "p_partkey",
            F.floor(F.col("p_retailprice") * 100)
            .cast("long")
            .alias("retail_cents"),
        )
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    profit_e4 = F.floor(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.floor(F.col("l_discount") * 100).cast("long")
    ) - F.col("retail_cents") * F.col("l_quantity").cast("long") * 10
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    return j.groupBy("n_name", "o_year").agg(
        F.sum(profit_e4).cast("long").alias("profit_e4"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


# ------------------------------------------------- returned-item report
# The TPC-H Q10 shape: top-K customers by revenue they returned in one
# quarter. The custkey rollup happens BEFORE the customer dim joins
# back (the q_big_spenders prune-early rule), the top-20 runs on the
# ROUNDED revenue with the custkey tiebreak and plans as
# TakeOrderedAndProject — per-partition heaps, never a global sort.
_RTC_LO, _RTC_HI = "1996-07-01", "1996-10-01"
_RTC_TOPK = 20


@_q(
    "q_returned_customers",
    f"""
    WITH rev AS (
      SELECT o.o_custkey,
             ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
               AS revenue,
             CAST(COUNT(*) AS bigint) AS n_lines
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '{_RTC_LO}'
        AND o.o_orderdate < TIMESTAMP '{_RTC_HI}'
      GROUP BY o.o_custkey)
    SELECT r.o_custkey AS c_custkey, c.c_name, n.n_name,
           r.revenue, r.n_lines
    FROM rev r
    JOIN customer c ON r.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY r.revenue DESC, r.o_custkey
    LIMIT {_RTC_TOPK}
    """,
)
def q_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_RTC_TOPK} customers by returned ('R') revenue for orders
    placed in [{_RTC_LO}, {_RTC_HI}) — the returned-item reporting
    query. Both filters push to their scans; the orderkey join is the
    one wide exchange; customer/nation broadcast onto the O(custkeys)
    rollup; top-K is TakeOrderedAndProject."""
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit(_RTC_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_RTC_HI).cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    out = (
        rev.join(F.broadcast(c), rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "c_name", "n_name", "revenue", "n_lines",
        )
    )
    return out.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(_RTC_TOPK)


# ------------------------------------------------- small-quantity revenue
# The TPC-H Q17 shape: lines whose quantity sits below 20% of their
# part's own average. The per-part average joins back as an O(parts)
# aggregate dim, and the threshold comparison is EXACT integer
# arithmetic — qty < 0.2·(sum/n) ⟺ 5·qty·n < sum — so a line exactly
# at 20% of average can never straddle engines. The brand prune runs
# BEFORE the per-part aggregate (broadcast semi), so at 100× the
# average is computed only over the brand's own lines, never the
# whole fact table.
_SQR_BRAND = "Brand#1"


@_q(
    "q_small_qty_revenue",
    f"""
    WITH pb AS (SELECT p_partkey FROM part
                WHERE p_brand = '{_SQR_BRAND}'),
    f AS (SELECT l.l_partkey, CAST(l.l_quantity AS bigint) AS qty,
                 l.l_extendedprice
          FROM lineitem l JOIN pb ON l.l_partkey = pb.p_partkey),
    a AS (SELECT l_partkey, CAST(SUM(qty) AS bigint) AS sum_qty,
                 CAST(COUNT(*) AS bigint) AS n
          FROM f GROUP BY 1)
    SELECT CAST(COUNT(*) AS bigint) AS n_small_lines,
           CAST(SUM(CAST(floor(f.l_extendedprice * 100) AS bigint))
                AS bigint) AS revenue_cents,
           ROUND(CAST(SUM(CAST(floor(f.l_extendedprice * 100) AS bigint))
                      AS double) / 700.0, 2) AS avg_yearly
    FROM f JOIN a ON f.l_partkey = a.l_partkey
    WHERE 5 * f.qty * a.n < a.sum_qty
    """,
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue sitting in {_SQR_BRAND} lines below 20% of their part's
    average quantity (exact-integer threshold 5·qty·n < sum_qty),
    published as exact cents plus the 7-year-average convention.
    Brand dim broadcast-prunes the fact FIRST; one (partkey) exchange
    builds the average dim; the dim broadcasts back."""
    pb = (
        load(spark, sf_dir, "part")
        .where(F.col("p_brand") == _SQR_BRAND)
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    f = li.join(F.broadcast(pb), li.l_partkey == pb.p_partkey).select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_extendedprice",
    )
    a = f.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("sum_qty"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    small = f.join(F.broadcast(a), "l_partkey").where(
        5 * F.col("qty") * F.col("n") < F.col("sum_qty")
    )
    cents = F.sum(
        F.floor(F.col("l_extendedprice") * 100).cast("long")
    ).cast("long")
    return small.agg(
        F.count(F.lit(1)).cast("long").alias("n_small_lines"),
        cents.alias("revenue_cents"),
        F.round(cents.cast("double") / 700.0, 2).alias("avg_yearly"),
    )


# ------------------------------------------------- banded-arm revenue
# The TPC-H Q19 shape: an OR of brand×size×quantity conjunctions. The
# arms are disjoint by construction (distinct brands), so each line
# lands in at most one arm and the rollup is exact per arm. Revenue is
# exact e4 (cents·(100−pct)) — no rounding anywhere. The implied
# disjunction envelope (brand ∈ {{arms}}, size ≤ 15, qty ≤ 30) is
# applied explicitly on the Spark side so the part dim is pruned
# before broadcast and the quantity bound pushes to the fact scan —
# the rewrite Catalyst cannot derive from the CASE itself.
_BAND_ARMS = (
    ("Brand#1", 5, 1, 11),
    ("Brand#2", 10, 10, 20),
    ("Brand#3", 15, 20, 30),
)


def _band_case_sql() -> str:
    whens = "\n".join(
        f"WHEN p.p_brand = '{b}' AND p.p_size BETWEEN 1 AND {smax}"
        f" AND l.l_quantity BETWEEN {qlo} AND {qhi} THEN {i + 1}"
        for i, (b, smax, qlo, qhi) in enumerate(_BAND_ARMS)
    )
    return f"CASE {whens} END"


@_q(
    "q_band_revenue",
    f"""
    WITH f AS (
      SELECT {_band_case_sql()} AS arm,
             CAST(floor(l.l_extendedprice * 100) AS bigint)
               * (100 - CAST(floor(l.l_discount * 100) AS bigint))
               AS rev_e4
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
    SELECT CAST(arm AS int) AS arm,
           CAST(COUNT(*) AS bigint) AS n_lines,
           CAST(SUM(rev_e4) AS bigint) AS revenue_e4
    FROM f WHERE arm IS NOT NULL GROUP BY arm
    """,
)
def q_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-e4 revenue per disjunctive brand/size/quantity arm — the
    OR-of-ANDs predicate family. Part pruned to the arm brands and
    size envelope before broadcast; quantity envelope pushed to the
    lineitem scan; O(arms) rollup."""
    brands = [b for b, *_ in _BAND_ARMS]
    size_max = max(s for _, s, _, _ in _BAND_ARMS)
    qty_lo = min(q for *_, q, _ in _BAND_ARMS)
    qty_hi = max(q for *_, _, q in _BAND_ARMS)
    p = (
        load(spark, sf_dir, "part")
        .where(
            F.col("p_brand").isin(brands)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= size_max)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_quantity") >= qty_lo) & (F.col("l_quantity") <= qty_hi)
        )
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    arm = F.lit(None).cast("int")
    for i, (b, smax, qlo, qhi) in reversed(list(enumerate(_BAND_ARMS))):
        arm = F.when(
            (F.col("p_brand") == b)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= smax)
            & (F.col("l_quantity") >= qlo)
            & (F.col("l_quantity") <= qhi),
            F.lit(i + 1),
        ).otherwise(arm)
    rev_e4 = F.floor(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.floor(F.col("l_discount") * 100).cast("long")
    )
    f = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(arm.cast("int").alias("arm"), rev_e4.alias("rev_e4"))
        .where(F.col("arm").isNotNull())
    )
    return f.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("rev_e4").cast("long").alias("revenue_e4"),
    )


# ------------------------------------------------- sole-blame supplier
# The TPC-H Q21 shape: the DOUBLE correlated subquery — suppliers who
# were the ONLY late shipper in a multi-supplier order (EXISTS another
# supplier in the order, NOT EXISTS another LATE supplier). The naive
# plan is two extra self-joins of the fact table against itself; the
# scale rewrite is ONE pass: after the orderkey join, a per-order
# aggregate computes n_suppliers, n_late_suppliers and the (unique,
# when n_late_suppliers == 1) blamed suppkey via a conditional MAX —
# both EXISTS predicates become WHERE clauses on O(orders) aggregate
# rows instead of O(lines²) probe pairs. The oracle runs the LITERAL
# EXISTS / NOT EXISTS form, so the gate proves the rewrite equivalent.
_BLAME_DAYS = 105
_BLAME_STATUS = "F"
_BLAME_TOPK = 20


@_q(
    "q_blame_supplier",
    f"""
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(DISTINCT l1.l_orderkey) AS bigint) AS n_orders
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = '{_BLAME_STATUS}'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL {_BLAME_DAYS} DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL {_BLAME_DAYS} DAY)
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY n_orders DESC, s.s_suppkey
    LIMIT {_BLAME_TOPK}
    """,
)
def q_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the sole >{_BLAME_DAYS}-day-late shipper in a
    multi-supplier '{_BLAME_STATUS}'-status order, counted per supplier
    (distinct orders), top-{_BLAME_TOPK} — TPC-H Q21's double
    correlated EXISTS / NOT EXISTS, rewritten as one per-order
    aggregate. The distinct counts are deliberately NOT countDistinct
    (whose multi-distinct plan Expands the fact rows ×2): a two-level
    aggregate — (orderkey, suppkey) dedup-with-max(late) first, then
    the per-order rollup — is the same answer in one un-duplicated
    pass, and BOTH levels' grouping keys contain orderkey, so at scale
    (orders too big to broadcast → sort-merge join partitioned by
    orderkey) neither aggregate re-exchanges the fact table at all.
    The blame rollup is O(qualifying orders) → O(suppliers); supplier
    dim broadcast; top-K is TakeOrderedAndProject on (n_orders DESC,
    s_suppkey). The two self-joins the literal form implies never
    happen on the Spark side — the oracle runs them, making the gate
    an equivalence proof for the rewrite."""
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == _BLAME_STATUS)
        .select("o_orderkey", "o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), _BLAME_DAYS)
    per_supp_order = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late).alias("_late")
    )
    per_order = (
        per_supp_order.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("_ns"),
            F.sum(F.col("_late").cast("int")).alias("_nl"),
            F.max(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
                "_blamed"
            ),
        )
        .where((F.col("_ns") > 1) & (F.col("_nl") == 1))
    )
    per_supp = per_order.groupBy("_blamed").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(
            F.broadcast(s), per_supp._blamed == s.s_suppkey
        )
        .select("s_suppkey", "s_name", "n_orders")
        .orderBy(F.desc("n_orders"), F.asc("s_suppkey"))
        .limit(_BLAME_TOPK)
    )


# ------------------------------------------------- shipclass priority mix
# The TPC-H Q12 shape: a conditional-sum (pivot-style) matrix computed
# after a join whose RANGE predicate references BOTH sides — the
# lateness band (l_shipdate within (orderdate+LO, orderdate+HI]) can
# never push to either scan, so it rides the join as a residual
# filter; the CASE/SUM pair turns what would be two passes (one per
# priority class) into one. Output is O(returnflag classes).
_SHIPCLASS_LO = 60
_SHIPCLASS_HI = 120
_SHIPCLASS_HIGH = ("1-URGENT", "2-HIGH")


@_q(
    "q_priority_shipclass",
    f"""
    SELECT l.l_returnflag AS shipclass,
           CAST(SUM(CASE WHEN o.o_orderpriority IN
                         ('{_SHIPCLASS_HIGH[0]}', '{_SHIPCLASS_HIGH[1]}')
                    THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN
                         ('{_SHIPCLASS_HIGH[0]}', '{_SHIPCLASS_HIGH[1]}')
                    THEN 0 ELSE 1 END) AS bigint) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL {_SHIPCLASS_LO} DAY
      AND l.l_shipdate <= o.o_orderdate + INTERVAL {_SHIPCLASS_HI} DAY
    GROUP BY l.l_returnflag
    """,
)
def q_priority_shipclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines shipped {_SHIPCLASS_LO}–{_SHIPCLASS_HI} days after their
    order date, split per returnflag class into high- vs low-priority
    counts — TPC-H Q12's CASE-inside-SUM matrix. One orderkey join
    (the band predicate is a join residual — it references both
    tables, so there is nothing to push), then a map-side-combined
    aggregate straight to O(classes) rows; priorities classify in-row,
    never as a second join or a pivot shuffle."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (
            F.col("l_shipdate")
            > F.date_add(F.col("o_orderdate"), _SHIPCLASS_LO)
        )
        & (
            F.col("l_shipdate")
            <= F.date_add(F.col("o_orderdate"), _SHIPCLASS_HI)
        ),
    )
    is_high = F.col("o_orderpriority").isin(*_SHIPCLASS_HIGH)
    return (
        j.select("l_returnflag", is_high.alias("_hi"))
        .groupBy(F.col("l_returnflag").alias("shipclass"))
        .agg(
            F.sum(F.when(F.col("_hi"), 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(F.col("_hi"), 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


# --------------------------------------------- min-cost supplier (Q2 shape)
# TPC-H Q2's correlated-MIN argmin: for every part, the cheapest
# supplier within one region, cost measured as the supplier's best
# historical line charge in EXACT e4 integers (cents × remaining
# discount-percent — the q_forecast_revenue rule), so the per-part
# minimum and the tie comparison can never straddle engines. The
# ORACLE runs the literal correlated scalar-subquery form (cost_e4 =
# (SELECT MIN ... WHERE same part)); the engine rewrite is a single
# min(struct(cost, suppkey)) aggregate — argmin and smallest-suppkey
# tie-break in one buffer, no self-join, no join-back.
_MCS_REGION = 3


@_q(
    "q_min_cost_supplier",
    f"""
    WITH rs AS (SELECT s_suppkey, s_name FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_regionkey = {_MCS_REGION}),
    pc AS (SELECT l_partkey, l_suppkey,
                  MIN(CAST(floor(l_extendedprice * 100) AS bigint)
                      * (100 - CAST(floor(l_discount * 100) AS bigint)))
                    AS cost_e4
           FROM lineitem JOIN rs ON l_suppkey = rs.s_suppkey
           GROUP BY 1, 2),
    n AS (SELECT l_partkey, CAST(COUNT(*) AS bigint) AS n_suppliers
          FROM pc GROUP BY 1),
    win AS (SELECT pc.l_partkey, MIN(pc.l_suppkey) AS s_suppkey,
                   pc.cost_e4
            FROM pc
            WHERE pc.cost_e4 = (SELECT MIN(p2.cost_e4) FROM pc p2
                                WHERE p2.l_partkey = pc.l_partkey)
            GROUP BY 1, 3)
    SELECT w.l_partkey AS p_partkey, w.s_suppkey, rs.s_name,
           CAST(w.cost_e4 AS bigint) AS cost_e4, n.n_suppliers
    FROM win w
    JOIN rs ON w.s_suppkey = rs.s_suppkey
    JOIN n ON w.l_partkey = n.l_partkey
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per part: the cheapest region-{_MCS_REGION} supplier (best
    historical line charge, exact e4), smallest suppkey on cost ties,
    and how many region suppliers quoted the part at all.

    Scale — suppliers prune to the region BEFORE touching the fact
    (broadcast semi shape), ONE fact exchange builds the (part, supp)
    cost table map-side-combined, the per-part argmin + tie-break is a
    single min(struct) aggregate over that pre-aggregated table (the
    oracle's correlated subquery and join-back never materialize), and
    the name attaches via the same broadcast dim."""
    nat = load(spark, sf_dir, "nation").where(
        F.col("n_regionkey") == _MCS_REGION
    )
    rs = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select("n_nationkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    charge = F.floor(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.floor(F.col("l_discount") * 100).cast("long")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", charge.alias("_c")
    )
    pc = (
        li.join(
            F.broadcast(rs.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("_c").alias("cost_e4"))
    )
    per = pc.groupBy("l_partkey").agg(
        F.min(F.struct("cost_e4", "l_suppkey")).alias("_b"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    out = per.select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("_b.l_suppkey").alias("s_suppkey"),
        F.col("_b.cost_e4").cast("long").alias("cost_e4"),
        "n_suppliers",
    )
    return out.join(F.broadcast(rs), "s_suppkey").select(
        "p_partkey", "s_suppkey", "s_name", "cost_e4", "n_suppliers"
    )


# -------------------------------------------- dominant suppliers (Q20 shape)
# TPC-H Q20's availability threshold ("more than half of what moved"):
# suppliers who, inside a ship-date window, shipped STRICTLY more than
# 50% of some part's total shipped quantity. Quantities are whole
# doubles at every SF, so CAST AS bigint is exact in both engines and
# the cut is the cross-multiplied integer 2·qty > tot — no division,
# no rounding, no straddle. The ORACLE runs the literal correlated
# scalar-subquery form; the engine joins the per-part total dim back
# to the (part, supp) rollup.
_DOM_LO, _DOM_HI = "1996-01-01", "1998-01-01"


@_q(
    "q_dominant_suppliers",
    f"""
    WITH ps AS (SELECT l_partkey, l_suppkey,
                       CAST(SUM(CAST(l_quantity AS bigint)) AS bigint)
                         AS qty
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '{_DOM_LO}'
                  AND l_shipdate < TIMESTAMP '{_DOM_HI}'
                GROUP BY 1, 2),
    dom AS (SELECT ps.l_suppkey, ps.qty,
                   (SELECT CAST(SUM(p2.qty) AS bigint) FROM ps p2
                    WHERE p2.l_partkey = ps.l_partkey) AS tot
            FROM ps)
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(*) AS bigint) AS n_dominated,
           CAST(MAX(1000 * qty // tot) AS bigint) AS max_share_milli
    FROM dom JOIN supplier s ON dom.l_suppkey = s.s_suppkey
    WHERE 2 * qty > tot
    GROUP BY 1, 2
    """,
)
def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers that shipped strictly more than half of at least one
    part's total quantity inside [{_DOM_LO}, {_DOM_HI}): the count of
    parts they dominate and their largest integer-milli share.

    Scale — the date window pushes to the fact scan; ONE fact exchange
    builds the (part, supp) qty rollup map-side-combined; every later
    stage (per-part totals, the totals join, the supplier rollup) runs
    over aggregate-sized tables, and the oracle's correlated subquery
    becomes a plain equi-join against the O(parts) total dim. The
    strict > keeps an exact 50/50 split OUT on both engines."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(_DOM_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_DOM_HI).cast("timestamp"))
    )
    ps = (
        li.select(
            "l_partkey",
            "l_suppkey",
            F.col("l_quantity").cast("long").alias("_q"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("_q").cast("long").alias("qty"))
    )
    tot = ps.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("tot")
    )
    dom = ps.join(tot, "l_partkey").where(
        2 * F.col("qty") > F.col("tot")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    agg = dom.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_dominated"),
        F.max(F.expr("1000 * qty div tot")).cast("long").alias(
            "max_share_milli"
        ),
    )
    return agg.join(
        F.broadcast(s), agg.l_suppkey == s.s_suppkey
    ).select("s_suppkey", "s_name", "n_dominated", "max_share_milli")


# --------------------------------------------------------- event gaps
# Inter-arrival profile: per event type, a histogram of the gap (in
# ms) between each event and the SAME USER's previous event (any
# type) — the think-time distribution behind sessionization windows
# and bot screens. Buckets are DECIMAL-DIGIT COUNTS of the integer
# gap (len(str(gap))): integer-exact in both engines, where a
# floor(log2(...)) bucket could straddle on a libm ulp at an exact
# power of two. One user_id exchange, O(n log n) per partition for
# the (ts, event_id) sort — the q_asof_join discipline.
@_q(
    "q_event_gaps",
    """
    WITH seq AS (
      SELECT event_type, epoch_ms(ts) AS ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ms(ts), event_id) AS prev_ms
      FROM events
    ),
    g AS (SELECT event_type, ms - prev_ms AS gap
          FROM seq WHERE prev_ms IS NOT NULL)
    SELECT event_type, CAST(LENGTH(CAST(gap AS varchar)) AS int)
             AS gap_digits,
           CAST(COUNT(*) AS bigint) AS n,
           CAST(MIN(gap) AS bigint) AS min_gap_ms,
           CAST(MAX(gap) AS bigint) AS max_gap_ms
    FROM g GROUP BY 1, 2
    """,
)
def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: how long after the user's previous event it
    fired, as a digit-count histogram (bucket d covers gaps with d
    decimal digits: 1 = 0–9 ms, 4 = 1.0–9.999 s, ...) with exact
    bucket min/max.

    Scale — one user_id exchange; the per-user sort is bounded by
    that user's activity, and the later-event attribution is a lag,
    never a self-join."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        F.expr(
            "cast(unix_millis(cast(ts as timestamp)) as bigint)"
        ).alias("ms"),
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    seq = ev.withColumn("prev_ms", F.lag("ms").over(w))
    g = seq.where(F.col("prev_ms").isNotNull()).select(
        "event_type", (F.col("ms") - F.col("prev_ms")).alias("gap")
    )
    return g.groupBy(
        "event_type",
        F.length(F.col("gap").cast("string")).cast("int").alias(
            "gap_digits"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("gap").cast("long").alias("min_gap_ms"),
        F.max("gap").cast("long").alias("max_gap_ms"),
    )


# ----------------------------------------------------- reorder latency
# Customer reorder cadence WITHOUT a window: for a customer with n≥2
# orders, the mean gap between consecutive orders is EXACTLY
# (last − first) / (n − 1) — the interior terms telescope away — so
# the whole report is one map-side-combined groupBy(custkey) carrying
# (count, min, max) and an exact integer-milli division. No per-
# customer sort, no lag, no second pass; the oracle states the same
# telescoped form.
@_q(
    "q_reorder_latency",
    """
    SELECT o_custkey,
           CAST(COUNT(*) AS bigint) AS n_orders,
           CAST((epoch_ms(MAX(o_orderdate)) - epoch_ms(MIN(o_orderdate)))
                // 86400000 AS bigint) AS span_days,
           CAST(1000 * ((epoch_ms(MAX(o_orderdate))
                         - epoch_ms(MIN(o_orderdate))) // 86400000)
                // (COUNT(*) - 1) AS bigint) AS mean_gap_milli_days
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 2
    """,
)
def q_reorder_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per repeat customer (≥2 orders): order count, first→last span
    in whole days, and the exact mean reorder gap in integer
    milli-days — span·1000 // (n−1), the telescoped identity that
    needs no per-customer ordering at all."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "cast(unix_millis(cast(o_orderdate as timestamp)) as bigint)"
        ).alias("ms"),
    )
    agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("ms").alias("_lo"),
        F.max("ms").alias("_hi"),
    )
    span = F.expr("(_hi - _lo) div 86400000")
    return agg.where(F.col("n_orders") >= 2).select(
        "o_custkey",
        "n_orders",
        span.cast("long").alias("span_days"),
        F.expr("1000 * ((_hi - _lo) div 86400000) div (n_orders - 1)")
        .cast("long")
        .alias("mean_gap_milli_days"),
    )


# ----------------------------------------------------- tool stationary
# The long-run tool mix: the stationary distribution π of the
# tool→tool transition chain (πP = π) — where an agent fleet's tool
# budget concentrates if today's behavior persists. The data-sized
# work is exactly q_tool_transitions' rollup (one exchange to a k²
# matrix, k = #tools); the power iteration runs on the collected k×k
# counts on the driver — O(k²·iters), independent of corpus size.
# Rows-only (iterative eigenvector); gated by a pure-numpy replay,
# the πP = π fixed-point law, and a hand-derivable two-state chain.
def stationary_dist(
    trans: list[tuple[str, str, int]]
) -> dict[str, float]:
    """Pure spec shared with the pytest gate: row-normalize the count
    matrix over the sorted tool vocabulary (a tool with no out-edges
    redistributes uniformly), then power-iterate from uniform until
    the L1 step falls below 1e-13 (or 100k rounds)."""
    import numpy as np

    tools = sorted({t for a, b, _ in trans for t in (a, b)})
    idx = {t: i for i, t in enumerate(tools)}
    k = len(tools)
    c = np.zeros((k, k), dtype=np.float64)
    for a, b, n in trans:
        c[idx[a], idx[b]] += float(n)
    rows = c.sum(axis=1)
    p = np.where(
        rows[:, None] > 0, c / np.where(rows[:, None] > 0, rows[:, None], 1),
        1.0 / k,
    )
    pi = np.full(k, 1.0 / k)
    for _ in range(100_000):
        nxt = pi @ p
        if np.abs(nxt - pi).sum() < 1e-13:
            pi = nxt
            break
        pi = nxt
    return {t: float(pi[idx[t]]) for t in tools}


def _q_tool_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary tool distribution from the transition matrix, with
    each tool's observed out-edge count alongside. See the family
    comment: one corpus exchange, k×k driver iteration."""
    trans = [
        (r["prev_tool"], r["next_tool"], int(r["n"]))
        for r in q_tool_transitions(spark, sf_dir).collect()
    ]
    pi = stationary_dist(trans)
    n_out = {t: 0 for t in pi}
    for a, _, n in trans:
        n_out[a] += n
    rows = [(t, pi[t], n_out[t]) for t in sorted(pi)]
    return spark.createDataFrame(
        rows, schema="tool string, stationary double, n_out bigint"
    )


QUERIES["x_tool_stationary"] = _q_tool_stationary


# -------------------------------------------------- growth accounting
# The canonical DAU decomposition: every active (user, day) is NEW
# (first day ever), RETAINED (also active the day before) or
# RESURRECTED (active before, but not yesterday); CHURNED(d) counts
# users active on d−1 who are not active on d (emitted from the gap
# AFTER each active day, so it needs no day-level self-join — the
# identity dau(d−1) = retained(d) + churned(d) is pinned in tests).
# Same engine shape as q_user_streaks: collect_set(day) bounds every
# user by the calendar with map-side partial dedup, the per-day class
# labels fall out of ONE in-row transform over the sorted array, and
# the only exchanges are the user rollup and the O(days×4) final
# count. The ORACLE spells the textbook lag/lead window form.
@_q(
    "q_growth_accounting",
    """
    WITH d AS (SELECT DISTINCT user_id,
                      CAST(epoch_ms(ts) // 86400000 AS bigint) AS day
               FROM events),
    lagd AS (SELECT day,
                    lag(day) OVER (PARTITION BY user_id ORDER BY day)
                      AS prev
             FROM d),
    cls AS (SELECT day,
                   CASE WHEN prev IS NULL THEN 'new'
                        WHEN day = prev + 1 THEN 'retained'
                        ELSE 'resurrected' END AS klass
            FROM lagd),
    nxt AS (SELECT day,
                   lead(day) OVER (PARTITION BY user_id ORDER BY day)
                     AS nx
            FROM d),
    ch AS (SELECT day + 1 AS day, 'churned' AS klass
           FROM nxt WHERE nx IS NULL OR nx > day + 1),
    u AS (SELECT * FROM cls UNION ALL SELECT * FROM ch)
    SELECT day, klass, CAST(COUNT(*) AS bigint) AS n
    FROM u GROUP BY 1, 2
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day: how many active users were new, retained or
    resurrected, and how many of yesterday's actives churned (the
    churn row lands on the first INACTIVE day, including the day
    after the corpus ends — the honest tail).

    Scale — one calendar-bounded collect_set exchange per user, class
    labels from an in-row transform over the sorted day array (no
    Window, no self-join), one O(days×classes) count exchange."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "cast(unix_millis(cast(ts as timestamp)) div 86400000"
            " as bigint)"
        ).alias("day"),
    )
    g = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("day")).alias("ds")
    )
    lab = F.expr(
        """
        concat(
          transform(ds, (d, i) -> named_struct(
            'day', d,
            'klass', CASE WHEN i = 0 THEN 'new'
                          WHEN d = element_at(ds, i) + 1
                            THEN 'retained'
                          ELSE 'resurrected' END)),
          filter(
            transform(ds, (d, i) -> IF(
              i = size(ds) - 1 OR element_at(ds, i + 2) > d + 1,
              named_struct('day', d + 1,
                           'klass', 'churned'),
              null)),
            x -> x IS NOT NULL))
        """
    )
    return (
        g.select(F.explode(lab).alias("x"))
        .groupBy(F.col("x.day").alias("day"), F.col("x.klass").alias("klass"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# ---------------------------------------------------- forecast backtest
# ------------------------------------------- densified daily series
# Shared core of the time-series family (q_forecast_backtest,
# q_changepoint, q_dow_seasonality, q_autocorr): the per-type daily
# count series DENSIFIED over the corpus day span — a day with no
# events is an actual of 0, not a skipped row (a silent skip would
# flatter forecasts, shift every CUSUM index and bias the dow mix).
# One rendering on each side so the four gates all prove the same
# grid: the SQL CTE chain below ends at `d(event_type, day, n)`, and
# dense_daily_counts() is the DataFrame twin. Scale: the per-(type,
# day) rollup is the only corpus exchange; the grid is the 1-row
# broadcast (lo, hi) bounds dim crossJoined onto the O(types) dim —
# O(types × days), calendar-bounded at any corpus size.
_DENSE_DAILY_CTE = """
    b AS (SELECT CAST(epoch_ms(MIN(ts)) // 86400000 AS bigint)
                   AS lo,
                 CAST(epoch_ms(MAX(ts)) // 86400000 AS bigint)
                   AS hi
          FROM events),
    t AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT t.event_type, g.d AS day
             FROM t, b, unnest(generate_series(b.lo, b.hi)) g(d)),
    c AS (SELECT event_type,
                 CAST(epoch_ms(ts) // 86400000 AS bigint) AS day,
                 CAST(COUNT(*) AS bigint) AS n
          FROM events GROUP BY 1, 2),
    d AS (SELECT grid.event_type, grid.day, COALESCE(c.n, 0) AS n
          FROM grid LEFT JOIN c
            ON grid.event_type = c.event_type AND grid.day = c.day)"""


def dense_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n) — the densified per-type daily count
    series over the corpus day span. See family comment."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "cast(unix_millis(cast(ts as timestamp)) div 86400000"
            " as bigint)"
        ).alias("day"),
    )
    c = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    bounds = ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = (
        c.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(lo, hi)")).alias("day"),
        )
    )
    return grid.join(c, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("n")
    )


# The ops-side question every event warehouse answers weekly: does a
# seasonal-naive forecast (same weekday last week, lag 7) beat the
# last-day carry-forward (lag 1) on daily event counts? Scored as a
# proper dense backtest: the day grid is DENSIFIED over the corpus
# span (a day with no events is an actual of 0, not a skipped row —
# skipping would flatter both baselines), errors are EXACT integer
# count sums (MAE published as 1000·Σ|err| // n), and both baselines
# score over the identical day set (day ≥ lo+7) so the verdict column
# compares like with like. Scale: the per-(type, day) count rollup is
# the only corpus exchange; the grid, lags and scoring run on
# O(types × days) dims — calendar-bounded at any corpus size.
@_q(
    "q_forecast_backtest",
    f"""
    WITH {_DENSE_DAILY_CTE},
    s AS (SELECT event_type, day, n,
                 lag(n, 7) OVER (PARTITION BY event_type ORDER BY day)
                   AS f7,
                 lag(n, 1) OVER (PARTITION BY event_type ORDER BY day)
                   AS f1
          FROM d)
    SELECT event_type,
           CAST(COUNT(*) AS bigint) AS n_scored,
           CAST(SUM(ABS(n - f7)) AS bigint) AS sae7,
           CAST(1000 * SUM(ABS(n - f7)) // COUNT(*) AS bigint)
             AS mae7_milli,
           CAST(SUM(ABS(n - f1)) AS bigint) AS sae1,
           CAST(1000 * SUM(ABS(n - f1)) // COUNT(*) AS bigint)
             AS mae1_milli,
           SUM(ABS(n - f7)) < SUM(ABS(n - f1)) AS seasonal_better
    FROM s WHERE f7 IS NOT NULL
    GROUP BY event_type
    """,
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: seasonal-naive (lag-7) vs carry-forward (lag-1)
    daily-count backtest over the densified day grid — scored days,
    exact absolute-error sums, integer-milli MAEs, and the
    seasonal_better verdict. See family comment for the dense-grid
    and exact-integer rules."""
    d = dense_daily_counts(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    s = d.select(
        "event_type",
        "n",
        F.lag("n", 7).over(w).alias("f7"),
        F.lag("n", 1).over(w).alias("f1"),
    ).where(F.col("f7").isNotNull())
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("n") - F.col("f7")))
        .cast("long")
        .alias("sae7"),
        F.expr("1000 * sum(abs(n - f7)) div count(1)")
        .cast("long")
        .alias("mae7_milli"),
        F.sum(F.abs(F.col("n") - F.col("f1")))
        .cast("long")
        .alias("sae1"),
        F.expr("1000 * sum(abs(n - f1)) div count(1)")
        .cast("long")
        .alias("mae1_milli"),
        (
            F.sum(F.abs(F.col("n") - F.col("f7")))
            < F.sum(F.abs(F.col("n") - F.col("f1")))
        ).alias("seasonal_better"),
    )


# ------------------------------------------------- CUSUM changepoint
# "When did this metric change level?" — the classic CUSUM
# changepoint on daily event counts, EXACT: the statistic
# G_k = |S_k·N − k·S| (the cumulative sum's deviation from the
# uniform ramp, cleared of divisions by cross-multiplication) is pure
# integer arithmetic, the argmax tie-breaks to the earliest day, and
# the two segment means publish as exact integer milli. Runs on the
# DENSIFIED day grid (q_forecast_backtest's rule — missing days are
# zeros, and a silent skip would shift every k). Scale: the
# per-(type, day) rollup is the only corpus exchange; prefix sums and
# the argmax run on O(types × days) calendar-bounded dims.
@_q(
    "q_changepoint",
    f"""
    WITH {_DENSE_DAILY_CTE},
    p AS (SELECT event_type, day, n,
                 SUM(n) OVER (PARTITION BY event_type ORDER BY day)
                   AS sk,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY day) AS k,
                 SUM(n) OVER (PARTITION BY event_type) AS s,
                 COUNT(*) OVER (PARTITION BY event_type) AS nd
          FROM d),
    g AS (SELECT event_type, day, k, sk, s, nd,
                 ABS(sk * nd - k * s) AS gstat
          FROM p WHERE k < nd),
    mx AS (SELECT event_type, MAX(gstat) AS mg FROM g GROUP BY 1),
    best AS (SELECT g.event_type, MIN(g.day) AS split_day
             FROM g JOIN mx
               ON g.event_type = mx.event_type AND g.gstat = mx.mg
             GROUP BY 1)
    SELECT g.event_type, g.day AS split_day,
           CAST(g.gstat AS bigint) AS g_stat,
           CAST(1000 * g.sk // g.k AS bigint) AS mean_before_milli,
           CAST(1000 * (g.s - g.sk) // (g.nd - g.k) AS bigint)
             AS mean_after_milli
    FROM g JOIN best
      ON g.event_type = best.event_type AND g.day = best.split_day
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: the CUSUM-argmax split day (level change ends
    that day; earliest day on ties), the exact integer statistic, and
    the exact milli means of the two segments. See family comment —
    the oracle's IN-subquery argmax is a max(struct(gstat, −day))
    aggregate here."""
    d = dense_daily_counts(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    p = d.select(
        "event_type",
        "day",
        F.sum("n").over(wo).alias("sk"),
        F.row_number().over(wo).alias("k"),
        F.sum("n").over(wa).alias("s"),
        F.count(F.lit(1)).over(wa).alias("nd"),
    ).where(F.col("k") < F.col("nd"))
    g = p.withColumn(
        "gstat", F.abs(F.col("sk") * F.col("nd") - F.col("k") * F.col("s"))
    )
    best = F.max(
        F.struct(
            F.col("gstat").alias("g"), (-F.col("day")).alias("nd_")
        )
    )
    picked = g.groupBy("event_type").agg(
        best.alias("_b"),
    )
    return (
        g.join(picked, "event_type")
        .where(
            (F.col("gstat") == F.col("_b.g"))
            & (F.col("day") == -F.col("_b.nd_"))
        )
        .select(
            "event_type",
            F.col("day").alias("split_day"),
            F.col("gstat").cast("long").alias("g_stat"),
            F.expr("1000 * sk div k").cast("long").alias(
                "mean_before_milli"
            ),
            F.expr("1000 * (s - sk) div (nd - k)")
            .cast("long")
            .alias("mean_after_milli"),
        )
    )


# ----------------------------------------------- weekly seasonality
# "How weekly IS this metric?" — the day-of-week decomposition of
# daily event counts, EXACT end to end: dev_milli is the L1 distance
# between the dow-sum mix and the dow-day mix, Σ_d |N·s_d − n_d·S|
# cleared of divisions by cross-multiplication (the q_changepoint
# rule) and published as 1000·Σ|…| div (N·S) ∈ [0, 2000); peak and
# trough day-of-week are argmax/argmin over the exact integer milli
# means (ties break to the smaller dow — a tie AT milli precision is
# a tie in the published statistic, so the break is deterministic in
# both engines). Runs on the DENSIFIED day grid (q_forecast_backtest's
# rule — a skipped empty day would inflate every dow mean and skew
# n_d). dow = day % 7 on the epoch day number (dow 0 = Thursday;
# pure integer arithmetic, no calendar-library divergence between
# engines). Scale: the per-(type, day) rollup is the only corpus
# exchange; the dow rollup and the argmax run on O(types × 7)
# calendar-bounded dims.
@_q(
    "q_dow_seasonality",
    f"""
    WITH {_DENSE_DAILY_CTE},
    w AS (SELECT event_type, day % 7 AS dow,
                 CAST(COUNT(*) AS bigint) AS nd,
                 CAST(SUM(n) AS bigint) AS sd
          FROM d GROUP BY 1, 2),
    tot AS (SELECT event_type,
                   CAST(SUM(nd) AS bigint) AS ndays,
                   CAST(SUM(sd) AS bigint) AS s
            FROM w GROUP BY 1),
    m AS (SELECT w.event_type, w.dow, w.nd, w.sd, tot.ndays, tot.s,
                 CAST(1000 * w.sd // w.nd AS bigint) AS mean_milli
          FROM w JOIN tot ON w.event_type = tot.event_type)
    SELECT event_type,
           MAX(ndays) AS n_days,
           MAX(s) AS total,
           CAST(1000 * SUM(ABS(ndays * sd - nd * s)) // (MAX(ndays)
                * MAX(s)) AS bigint) AS dev_milli,
           CAST(MAX_BY(dow, mean_milli * 8 + (7 - dow)) AS bigint)
             AS peak_dow,
           MAX(mean_milli) AS peak_mean_milli,
           CAST(MIN_BY(dow, mean_milli * 8 + dow) AS bigint)
             AS trough_dow,
           MIN(mean_milli) AS trough_mean_milli
    FROM m GROUP BY event_type
    """,
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: n_days, total events, the exact L1 uniformity
    deviation of the day-of-week mix in milli, and the peak/trough
    day-of-week with their exact milli mean daily counts. See family
    comment for the cross-multiplication and dense-grid rules; the
    oracle's MAX_BY/MIN_BY(struct) argmax mirrors the engine's
    max(struct(mean_milli, −dow))."""
    d = dense_daily_counts(spark, sf_dir).select(
        "event_type", (F.col("day") % 7).alias("dow"), "n"
    )
    w = d.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("n").cast("long").alias("sd"),
    )
    wa = Window.partitionBy("event_type")
    m = w.select(
        "event_type",
        "dow",
        "nd",
        "sd",
        F.sum("nd").over(wa).alias("ndays"),
        F.sum("sd").over(wa).alias("s"),
    ).withColumn(
        "mean_milli", F.expr("1000 * sd div nd").cast("long")
    )
    return m.groupBy("event_type").agg(
        F.max("ndays").alias("n_days"),
        F.max("s").alias("total"),
        F.expr(
            "cast(1000 * sum(abs(ndays * sd - nd * s))"
            " div (max(ndays) * max(s)) as bigint)"
        ).alias("dev_milli"),
        F.expr("max_by(dow, mean_milli * 8 + (7 - dow))")
        .cast("long")
        .alias("peak_dow"),
        F.max("mean_milli").alias("peak_mean_milli"),
        F.expr("min_by(dow, mean_milli * 8 + dow)")
        .cast("long")
        .alias("trough_dow"),
        F.min("mean_milli").alias("trough_mean_milli"),
    )


# ------------------------------------------------- autocorrelation
# "Does yesterday (or last week) predict today?" — lag-1 and lag-7
# Pearson autocorrelation of the densified daily count series per
# event type, the q_ols_per_source numeric discipline: six exact
# bigint sums per (type, lag), then r² as ONE double expression over
# the bigints (both engines perform the identical IEEE ops before the
# single round-6), sign published separately from the exact integer
# covariance numerator so the directional claim never rests on a
# float. Constant series ⇒ zero variance ⇒ r² NULL via nullif.
# Scale: the per-(type, day) rollup is the only corpus exchange; the
# lag window and sums run on the O(types × days) calendar-bounded
# dim (the q_forecast_backtest shape).
@_q(
    "q_autocorr",
    f"""
    WITH {_DENSE_DAILY_CTE},
    l AS (SELECT event_type, day, n,
                 LAG(n, 1) OVER (PARTITION BY event_type
                                 ORDER BY day) AS l1,
                 LAG(n, 7) OVER (PARTITION BY event_type
                                 ORDER BY day) AS l7
          FROM d),
    p AS (SELECT event_type, 1 AS lag, n AS y, l1 AS x FROM l
          WHERE l1 IS NOT NULL
          UNION ALL
          SELECT event_type, 7 AS lag, n AS y, l7 AS x FROM l
          WHERE l7 IS NOT NULL),
    s AS (SELECT event_type, CAST(lag AS bigint) AS lag,
                 CAST(COUNT(*) AS bigint) AS np,
                 CAST(SUM(x) AS bigint) AS sx,
                 CAST(SUM(y) AS bigint) AS sy,
                 CAST(SUM(x * y) AS bigint) AS sxy,
                 CAST(SUM(x * x) AS bigint) AS sxx,
                 CAST(SUM(y * y) AS bigint) AS syy
          FROM p GROUP BY 1, 2)
    SELECT event_type, lag, np AS n_pairs,
           CAST(np * sxy - sx * sy AS bigint) AS cov_num,
           CAST(CASE WHEN np * sxy - sx * sy > 0 THEN 1
                     WHEN np * sxy - sx * sy < 0 THEN -1
                     ELSE 0 END AS bigint) AS r_sign,
           ROUND(CAST(np * sxy - sx * sy AS double)
                 * (np * sxy - sx * sy)
                 / NULLIF((np * sxx - sx * sx)
                          * CAST(np * syy - sy * sy AS double), 0),
                 6) AS r2
    FROM s
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event type, lag ∈ {1, 7}): pair count, exact integer
    covariance numerator and its sign, and round-6 r² of the daily
    count series against its own lag. See family comment — one double
    expression, exact bigint sums, nullif on the zero-variance
    denominator."""
    d = dense_daily_counts(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("day")
    lagged = d.select(
        "event_type",
        "n",
        F.lag("n", 1).over(wo).alias("l1"),
        F.lag("n", 7).over(wo).alias("l7"),
    )
    p = lagged.select(
        "event_type",
        F.expr("stack(2, 1, l1, 7, l7)").alias("lag", "x"),
        F.col("n").alias("y"),
    ).where(F.col("x").isNotNull())
    s = p.groupBy("event_type", F.col("lag").cast("long").alias("lag")).agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "event_type",
        "lag",
        F.col("np").alias("n_pairs"),
        num.cast("long").alias("cov_num"),
        F.when(num > 0, F.lit(1))
        .when(num < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r_sign"),
        F.round(
            num.cast("double")
            * num
            / F.expr(
                "nullif((np * sxx - sx * sx)"
                " * cast(np * syy - sy * sy as double), 0)"
            ),
            6,
        ).alias("r2"),
    )


# --------------------------------------------------- Benford screen
# The classic fabricated-numbers audit: the first significant digit
# of order totals against Benford's law. Digits come from the CENTS
# integer (cast(floor(o_totalprice * 100)) — floor() is the same
# IEEE op in both engines, where a bare double→bigint cast would
# truncate in Spark but round in DuckDB), so the digit extraction is
# pure integer/string arithmetic. The Benford expectation log10(1 +
# 1/d) is irrational — it enters as the FIXED milli constant table
# [301, 176, 125, 97, 79, 67, 58, 51, 46] indexed in-row (no join),
# and every published column is an exact integer: per-digit counts,
# 1000·c div n shares, |share − benford| deviations, and the corpus
# L1 total replicated per row. Scale: one 9-bucket map-side-combined
# aggregation is the only exchange; the 1-row total dim joins back
# as a scalar broadcast (the q_key_skew pattern).
@_q(
    "q_benford",
    """
    WITH c AS (SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100)
                             AS bigint) AS varchar), 1, 1) AS bigint)
                        AS digit,
                      CAST(COUNT(*) AS bigint) AS n
               FROM orders
               WHERE FLOOR(o_totalprice * 100) >= 1
               GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS bigint) AS total FROM c),
    m AS (SELECT c.digit, c.n, tot.total,
                 CAST(1000 * c.n // tot.total AS bigint)
                   AS share_milli,
                 ([301, 176, 125, 97, 79, 67, 58, 51, 46])[c.digit]
                   AS benford_milli
          FROM c, tot)
    SELECT digit, n, share_milli,
           CAST(benford_milli AS bigint) AS benford_milli,
           CAST(ABS(share_milli - benford_milli) AS bigint)
             AS dev_milli,
           CAST(SUM(ABS(share_milli - benford_milli)) OVER ()
                AS bigint) AS l1_total_milli
    FROM m
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order totals vs Benford's law: 9
    rows of exact integer counts, milli shares, per-digit deviation,
    and the corpus L1 total. See family comment for the floor-cents
    rule and the fixed milli constant table."""
    cents = F.expr("cast(floor(o_totalprice * 100) as bigint)")
    c = (
        load(spark, sf_dir, "orders")
        .where(F.expr("floor(o_totalprice * 100) >= 1"))
        .select(
            F.substring(cents.cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = c.agg(F.sum("n").cast("long").alias("total"))
    m = c.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.expr("cast(1000 * n div total as bigint)").alias("share_milli"),
        F.expr(
            "element_at(array(301, 176, 125, 97, 79, 67, 58, 51, 46),"
            " cast(digit as int))"
        )
        .cast("long")
        .alias("benford_milli"),
    )
    # the L1 total runs over the ≤9-row digit dim — a bounded window
    return m.select(
        "digit",
        "n",
        "share_milli",
        "benford_milli",
        F.abs(F.col("share_milli") - F.col("benford_milli"))
        .cast("long")
        .alias("dev_milli"),
        F.sum(F.abs(F.col("share_milli") - F.col("benford_milli")))
        .over(Window.partitionBy())
        .cast("long")
        .alias("l1_total_milli"),
    )


# ------------------------------------------------- session pathing
# "Given where a session starts, where does it go?" — the funnel-
# discovery complement to q_funnel's fixed-order scoring: sessions
# are segmented by the SAME 30-minute gap rule as q_sessionize (one
# constant, one rendering per engine), each session's first ≤5 event
# types join into a '>' path under the deterministic (ms, event_id)
# order, and the top-10 paths per entry type rank through the
# digit-bucketed topk_by_count pruner (oracle = the plain whole-
# partition rank window, so the gate again proves pruning
# rank-preserving). Scale: one user_id exchange serves the session
# windows; collect_list is session-bounded; the path-count dim is
# value-domain-bounded (≤ types^5 distinct paths) and the rank
# window only ever sees the pruned head.
@_q(
    "q_session_paths",
    f"""
    WITH s AS (
      SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_ms(ts), event_id) AS prev_ms
      FROM events
    ), r AS (
      SELECT user_id, event_id, event_type, ms,
             CAST(SUM(CASE WHEN prev_ms IS NULL
                           OR ms - prev_ms > {_SESSION_GAP_MS}
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ms, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS bigint) AS session_id
      FROM s
    ), p AS (
      SELECT user_id, session_id,
             (list(event_type ORDER BY ms, event_id))[1] AS entry,
             array_to_string((list(event_type ORDER BY ms,
                                   event_id))[1:5], '>') AS path
      FROM r GROUP BY 1, 2
    ), c AS (
      SELECT entry, path, CAST(COUNT(*) AS bigint) AS n_sessions
      FROM p GROUP BY 1, 2
    )
    SELECT entry, path, n_sessions, CAST(rnk AS bigint) AS rnk
    FROM (SELECT entry, path, n_sessions,
                 ROW_NUMBER() OVER (PARTITION BY entry
                   ORDER BY n_sessions DESC, path ASC) AS rnk
          FROM c)
    WHERE rnk <= 10
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 session paths (first ≤5 event types, '>'-joined) per
    entry event type, with session counts and ranks. See family
    comment — q_sessionize's gap rule, topk_by_count's pruner."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    ordw = Window.partitionBy("user_id").orderBy("ms", "event_id")
    s = ev.withColumn("ms", ms).withColumn(
        "prev_ms", F.lag("ms").over(ordw)
    )
    new_sess = F.when(
        F.col("prev_ms").isNull()
        | ((F.col("ms") - F.col("prev_ms")) > _SESSION_GAP_MS),
        1,
    ).otherwise(0)
    r = s.withColumn(
        "session_id",
        F.sum(new_sess)
        .over(ordw.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ms").alias("ms"),
                F.col("event_id").alias("event_id"),
                F.col("event_type").alias("et"),
            )
        )
    )
    p = r.groupBy("user_id", "session_id").agg(arr.alias("a")).select(
        F.element_at("a", 1)["et"].alias("entry"),
        F.array_join(
            F.transform(F.slice("a", 1, 5), lambda x: x["et"]), ">"
        ).alias("path"),
    )
    c = p.groupBy("entry", "path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    return topk_by_count(
        c, ["entry"], ["path"], 10, cnt_col="n_sessions"
    ).select("entry", "path", "n_sessions", F.col("rnk").cast("long"))


# --------------------------------------------- lang×source coupling
# "Are languages spread evenly across sources, or does each source
# own its own languages?" — the independence audit on the documents
# contingency table, EXACT: per cell the signed leverage
# O·N − R·C (observed×total minus the row×column product — positive
# = over-represented), and the corpus association as the total
# variation distance between the joint and the product of marginals,
# TVD = Σ|O·N − R·C| / (2·N²), published as exact integer milli via
# cross-multiplication (the q_dow_seasonality rule). Headroom: each
# leverage cell fits bigint to N ≈ 3·10⁹ (|O·N − R·C| ≤ N²), but
# Σ|·| ≤ 2·N² with the extra ×1000 would overflow int64 near
# N ≈ 6.8·10⁷ — so the Spark side sums |leverage| as decimal(38,0)
# and divides decimal-exactly (ANSI mode would fail loudly, not
# wrap, but the decimal form never reaches the fence); DuckDB's
# bigint SUM already widens to HUGEINT. TVD 0 = independent;
# k equal-mass monolingual sources read 1000·(1 − 1/k), approaching
# 1000 as the block-diagonal grows. Scale: the
# cell rollup is the only corpus exchange; marginals broadcast back
# onto the O(langs × sources) cell dim (NOT a per-lang window — the
# q_mean_filter agg+broadcast remedy), and the corpus TVD is a
# global window over that same bounded cell dim.
@_q(
    "q_lang_source_assoc",
    """
    WITH o AS (SELECT lang, source, CAST(COUNT(*) AS bigint) AS n
               FROM documents GROUP BY 1, 2),
    r AS (SELECT lang, CAST(SUM(n) AS bigint) AS rt FROM o GROUP BY 1),
    c AS (SELECT source, CAST(SUM(n) AS bigint) AS ct FROM o GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS bigint) AS total FROM o),
    m AS (SELECT r.lang, c.source, COALESCE(o.n, 0) AS n,
                 r.rt, c.ct, t.total,
                 COALESCE(o.n, 0) * t.total - r.rt * c.ct AS leverage
          FROM r CROSS JOIN c CROSS JOIN t
          LEFT JOIN o ON o.lang = r.lang AND o.source = c.source)
    SELECT lang, source, n, CAST(leverage AS bigint) AS leverage,
           CAST(1000 * SUM(ABS(leverage)) OVER ()
                // (2 * total * total) AS bigint) AS tvd_milli
    FROM m
    """,
)
def q_lang_source_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) cell of the DENSIFIED langs × sources grid
    (an absent combination is O = 0 with leverage −R·C — dropping it
    would understate the TVD and hide exactly the 'source X has no
    lang-Y docs at all' cells a mix reviewer wants): document count,
    exact signed leverage O·N − R·C, and the corpus TVD-from-
    independence in milli replicated per row. See family comment."""
    docs = load(spark, sf_dir, "documents").select("lang", "source")
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    r = o.groupBy("lang").agg(F.sum("n").cast("long").alias("rt"))
    c = o.groupBy("source").agg(F.sum("n").cast("long").alias("ct"))
    t = o.agg(F.sum("n").cast("long").alias("total"))
    m = (
        r.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(t))
        .join(o, ["lang", "source"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .withColumn(
            "leverage",
            (F.col("n") * F.col("total") - F.col("rt") * F.col("ct"))
            .cast("long"),
        )
    )
    return m.select(
        "lang",
        "source",
        "n",
        "leverage",
        F.expr(
            "cast(1000 * sum(cast(abs(leverage) as decimal(38,0))) over ()"
            " div (cast(2 as decimal(38,0)) * total * total) as bigint)"
        ).alias("tvd_milli"),
    )


def slo_burn_from_daily(g: DataFrame) -> DataFrame:
    """(day, total, err) daily rollup — possibly SPARSE — → the full
    burn table. Densifies over the rollup's own day span (a no-op on
    already-dense input, which is how q_slo_burn calls it; the
    streaming maintainer's SUM-merged partials arrive sparse), then
    the trailing-7 window and the exact milli columns. ONE rendering
    for the batch query and streaming.slo_burn_read_current — their
    equality on the same corpus is pinned in pytest."""
    bounds = g.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = bounds.select(
        F.explode(F.expr("sequence(lo, hi)")).alias("day")
    )
    gd = grid.join(g, "day", "left").select(
        "day",
        F.coalesce("total", F.lit(0)).cast("long").alias("total"),
        F.coalesce("err", F.lit(0)).cast("long").alias("err"),
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    w = gd.select(
        "day",
        "total",
        "err",
        F.sum("total").over(w7).cast("long").alias("tot7"),
        F.sum("err").over(w7).cast("long").alias("err7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("window_days"),
    )
    return w.select(
        "day",
        "total",
        "err",
        F.when(F.col("total") > 0, F.expr("1000 * err div total"))
        .otherwise(0)
        .cast("long")
        .alias("err_milli"),
        "window_days",
        F.when(F.col("tot7") > 0, F.expr("1000 * err7 div tot7"))
        .otherwise(0)
        .cast("long")
        .alias("burn7_milli"),
        (
            (F.col("window_days") == 7)
            & (F.col("tot7") > 0)
            & (F.expr("1000 * err7 div tot7") > _SLO_MILLI)
        ).alias("breach"),
    )



# ------------------------------------------------------- SLO burn
# The on-call question over the event stream: what share of events
# errored each day, and is the trailing-7-day burn over budget? Runs
# on the DENSIFIED day grid (the time-series family rule): totals
# are the cross-type daily sum, the error series is the 'error'
# type's row, both exact integers, and the trailing window publishes
# its own day count so a partial window can never silently pass as a
# full one (breach requires window_days = 7 AND burn over SLO — a
# 3-day-old corpus reports burn but never breaches). SLO is the
# fixed 250-milli error-share budget. Scale: the per-(type, day)
# rollup is the only corpus exchange; the global day series and its
# trailing window are calendar-bounded dims.
_SLO_MILLI = 250


@_q(
    "q_slo_burn",
    f"""
    WITH {_DENSE_DAILY_CTE},
    g AS (SELECT day,
                 CAST(SUM(n) AS bigint) AS total,
                 CAST(SUM(CASE WHEN event_type = 'error' THEN n
                               ELSE 0 END) AS bigint) AS err
          FROM d GROUP BY 1),
    w AS (SELECT day, total, err,
                 CAST(SUM(total) OVER (ORDER BY day ROWS BETWEEN
                   6 PRECEDING AND CURRENT ROW) AS bigint) AS tot7,
                 CAST(SUM(err) OVER (ORDER BY day ROWS BETWEEN
                   6 PRECEDING AND CURRENT ROW) AS bigint) AS err7,
                 CAST(COUNT(*) OVER (ORDER BY day ROWS BETWEEN
                   6 PRECEDING AND CURRENT ROW) AS bigint)
                   AS window_days
          FROM g)
    SELECT day, total, err,
           CAST(CASE WHEN total > 0 THEN 1000 * err // total
                     ELSE 0 END AS bigint) AS err_milli,
           window_days,
           CAST(CASE WHEN tot7 > 0 THEN 1000 * err7 // tot7
                     ELSE 0 END AS bigint) AS burn7_milli,
           (window_days = 7 AND tot7 > 0
            AND 1000 * err7 // tot7 > {_SLO_MILLI}) AS breach
    FROM w
    """,
)
def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day: totals, errors, exact milli error share, the
    trailing-7-day burn with its window size, and the breach verdict
    (full window AND burn over the 250-milli SLO). See
    family comment."""
    d = dense_daily_counts(spark, sf_dir)
    g = d.groupBy("day").agg(
        F.sum("n").cast("long").alias("total"),
        F.sum(F.when(F.col("event_type") == "error", F.col("n")).otherwise(0))
        .cast("long")
        .alias("err"),
    )
    return slo_burn_from_daily(g)


# ------------------------------------------------------ attribution
# The conversion question: when a purchase happens, how long ago was
# the same user's last view? A windowed carry-forward (the q_asof_join
# rule — ZERO join nodes: last_value(view ms IGNORE NULLS) over the
# strictly-preceding frame), lags bucketed by DECIMAL-DIGIT count
# (the q_event_gaps rule — integer-exact where a log bucket could
# straddle a libm ulp), never-viewed purchases published under the
# explicit -1 bucket instead of silently dropping, and the milli
# share over total purchases. Scale: the view/purchase filter pushes
# to the scan, one user_id exchange serves the carry-forward, and
# the histogram + share window run on the ≤20-row digit dim.
@_q(
    "q_attribution",
    """
    WITH seq AS (
      SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
             last_value(CASE WHEN event_type = 'view'
                             THEN epoch_ms(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS last_view_ms
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    p AS (SELECT ms - last_view_ms AS lag_ms FROM seq
          WHERE event_type = 'purchase'),
    b AS (SELECT CASE WHEN lag_ms IS NULL THEN -1
                      ELSE LENGTH(CAST(lag_ms AS varchar)) END
                   AS lag_digits,
                 CAST(COUNT(*) AS bigint) AS n,
                 CAST(MIN(lag_ms) AS bigint) AS min_lag_ms,
                 CAST(MAX(lag_ms) AS bigint) AS max_lag_ms
          FROM p GROUP BY 1)
    SELECT CAST(lag_digits AS bigint) AS lag_digits, n,
           min_lag_ms, max_lag_ms,
           CAST(1000 * n // SUM(n) OVER () AS bigint) AS share_milli
    FROM b
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-to-last-view lag histogram in decimal-digit buckets
    (-1 = purchase with no prior view), with per-bucket min/max lag
    and milli share of all purchases. See family comment."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select("user_id", "event_id", "event_type", "ts")
    )
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.withColumn("ms", ms).withColumn(
        "last_view_ms",
        F.last(
            F.when(F.col("event_type") == "view", F.col("ms")),
            ignorenulls=True,
        ).over(w),
    )
    p = seq.where(F.col("event_type") == "purchase").select(
        (F.col("ms") - F.col("last_view_ms")).alias("lag_ms")
    )
    b = p.groupBy(
        F.when(F.col("lag_ms").isNull(), F.lit(-1))
        .otherwise(F.length(F.col("lag_ms").cast("string")))
        .cast("long")
        .alias("lag_digits")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("lag_ms").cast("long").alias("min_lag_ms"),
        F.max("lag_ms").cast("long").alias("max_lag_ms"),
    )
    return b.select(
        "lag_digits",
        "n",
        "min_lag_ms",
        "max_lag_ms",
        F.expr("cast(1000 * n div sum(n) over () as bigint)").alias(
            "share_milli"
        ),
    )


# ----------------------------------------------- CUBE / RANGE / EXCEPT
# Three operator shapes the registry had not yet demonstrated, each
# in its canonical engine form. q_cube_revenue: full CUBE over
# (priority, status) with the composite grouping id (Spark
# grouping_id() == DuckDB GROUPING(a, b), same bit encoding, the
# gate proves it) and '(all)' markers so every stratum row is
# self-describing; revenue in exact floor-cents (the q_benford
# rule). q_revenue_30d: the trailing-30-day revenue as a RANGE frame
# over the numeric day — on the SPARSE per-day revenue dim a ROWS
# frame would silently span gaps (30 rows ≠ 30 days); publishing
# both the range sum and the in-window day count makes the gap
# handling visible. q_window_shoppers: viewers-minus-purchasers as
# EXCEPT DISTINCT (Spark subtract == DuckDB EXCEPT). Scale: one
# map-side-combined rollup each; the 30-day window runs on the
# calendar-bounded day dim; EXCEPT shuffles distinct user ids only.
@_q(
    "q_cube_revenue",
    """
    SELECT CAST(GROUPING(o_orderpriority, o_orderstatus) AS bigint)
             AS gid,
           COALESCE(o_orderpriority, '(all)') AS priority,
           COALESCE(o_orderstatus, '(all)') AS status,
           CAST(COUNT(*) AS bigint) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS bigint))
                AS bigint) AS rev_cents
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order count and exact floor-cents revenue over the full
    (priority, status) CUBE with the composite grouping id. See
    family comment. The '(all)' marker presumes non-null dimension
    values (TPC-H guarantees both columns); on nullable dims the gid
    column — not the marker — is the authoritative stratum tag, which
    is why it is published at all."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.expr("cast(floor(o_totalprice * 100) as bigint)").alias("cents"),
    )
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
        .select(
            "gid",
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "n_orders",
            "rev_cents",
        )
    )


@_q(
    "q_revenue_30d",
    """
    WITH g AS (SELECT CAST(epoch_ms(o_orderdate) // 86400000 AS bigint)
                        AS day,
                      CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS bigint))
                           AS bigint) AS rev_cents
               FROM orders GROUP BY 1)
    SELECT day, rev_cents,
           CAST(SUM(rev_cents) OVER (ORDER BY day RANGE BETWEEN
                29 PRECEDING AND CURRENT ROW) AS bigint) AS rev30_cents,
           CAST(COUNT(*) OVER (ORDER BY day RANGE BETWEEN
                29 PRECEDING AND CURRENT ROW) AS bigint) AS n30_days
    FROM g
    """,
)
def q_revenue_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order-day: exact cents revenue, the trailing-30-day RANGE-
    frame sum, and the count of revenue days inside the frame (gap
    visibility). See family comment."""
    g = (
        load(spark, sf_dir, "orders")
        .select(
            F.expr(
                "cast(unix_millis(cast(o_orderdate as timestamp))"
                " div 86400000 as bigint)"
            ).alias("day"),
            F.expr("cast(floor(o_totalprice * 100) as bigint)").alias(
                "cents"
            ),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    w = Window.orderBy("day").rangeBetween(-29, 0)
    return g.select(
        "day",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("long").alias("rev30_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("n30_days"),
    )


@_q(
    "q_window_shoppers",
    """
    SELECT user_id, CAST(epoch_ms(ts) // 86400000 AS bigint) AS day
    FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id, CAST(epoch_ms(ts) // 86400000 AS bigint)
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_window_shoppers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-shopping user-days: (user, day) pairs with a view but no
    purchase that day — EXCEPT DISTINCT at the granularity where the
    synthetic corpus actually separates the two (every heavy user
    eventually purchases SOMEDAY, so plain user-level EXCEPT is empty
    — the day grain is the one a re-engagement campaign keys on). See
    family comment."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "cast(unix_millis(cast(ts as timestamp)) div 86400000"
            " as bigint)"
        ).alias("day"),
        "event_type",
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "day"
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "day"
    )
    return views.subtract(buys)


@_q(
    "q_convert_days",
    """
    SELECT user_id, CAST(epoch_ms(ts) // 86400000 AS bigint) AS day
    FROM events WHERE event_type = 'view'
    INTERSECT
    SELECT user_id, CAST(epoch_ms(ts) // 86400000 AS bigint)
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_convert_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_window_shoppers' INTERSECT twin: (user, day) pairs with BOTH
    a view and a purchase — same-day conversions, the set-op shape
    completing EXCEPT/UNION coverage (Spark intersect == DuckDB
    INTERSECT, distinct semantics both sides)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "cast(unix_millis(cast(ts as timestamp)) div 86400000"
            " as bigint)"
        ).alias("day"),
        "event_type",
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "day"
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "day"
    )
    return views.intersect(buys)


# ------------------------------------------------------- SCD2 build
# The warehouse dimension-history operator the registry lacked: from
# an append-only change stream, build the slowly-changing-dimension
# type-2 table — per user, one row per STATUS RUN (consecutive
# same-type events collapse; only changes open a version) carrying
# [valid_from, valid_to) millisecond validity, a per-user version
# number, and the is_current flag (open interval). The deterministic
# order is the house (epoch-ms, event_id) key on BOTH engines (the
# round-3 advisor rule). Scale: ONE user_id exchange serves the
# change-detect lag, the interval lead AND the version row_number —
# all three windows share (user_id | ms, event_id), so Catalyst plans
# a single sort, and a 10^12-event stream pays one shuffle. The
# output is change-grain (≤ event count, typically ≪), and a
# point-in-time probe against it is q_asof_join's carry-forward — no
# new machinery.
@_q(
    "q_scd2_intervals",
    """
    WITH s AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_ms(ts), event_id) AS prev_type
      FROM events
    ),
    c AS (SELECT user_id, event_type AS status, ms, event_id
          FROM s WHERE prev_type IS NULL OR prev_type <> event_type)
    SELECT user_id, status,
           CAST(ms AS bigint) AS valid_from_ms,
           CAST(lead(ms) OVER (PARTITION BY user_id
                ORDER BY ms, event_id) AS bigint) AS valid_to_ms,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY ms, event_id) AS bigint) AS version,
           lead(ms) OVER (PARTITION BY user_id
                ORDER BY ms, event_id) IS NULL AS is_current
    FROM c
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from the event stream: per user, one
    row per status run with [valid_from_ms, valid_to_ms) validity,
    version number and is_current. See family comment — one user_id
    exchange, three windows on one sort."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    ch = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("status"),
            "ms",
            "event_id",
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ms", "event_id")
    nxt = F.lead("ms").over(w2)
    return ch.select(
        "user_id",
        "status",
        F.col("ms").cast("long").alias("valid_from_ms"),
        nxt.cast("long").alias("valid_to_ms"),
        F.row_number().over(w2).cast("long").alias("version"),
        nxt.isNull().alias("is_current"),
    )


# -------------------------------------------------- lateness profile
# Watermark sizing from the data instead of folklore: how late do
# events actually arrive? Arrival order is the monotone ingest id
# (event_id); event time is ms. Per user, the running event-time
# maximum over STRICTLY PRIOR arrivals (1-preceding frame — a row is
# never late vs itself); an arrival is late iff its ms is behind that
# max, and its lateness = max − ms. The profile buckets lateness by
# DECIMAL-DIGIT count (the q_event_gaps integer-exact rule), with
# on-time arrivals published under the explicit 0 bucket (first
# arrival per user included — nothing precedes it), so the shares sum
# to 1000 over ALL events and a streaming operator can read
# "watermark = 10^d ms covers X‰ of arrivals" straight off the rows.
# Scale: one user_id exchange for the running max; histogram + share
# window on the ≤20-row digit dim.
@_q(
    "q_lateness_profile",
    """
    WITH s AS (
      SELECT epoch_ms(ts) AS ms,
             max(epoch_ms(ts)) OVER (PARTITION BY user_id
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS prior_max
      FROM events
    ),
    l AS (SELECT CASE WHEN prior_max IS NULL OR ms >= prior_max THEN 0
                      ELSE LENGTH(CAST(prior_max - ms AS varchar)) END
                   AS late_digits,
                 CASE WHEN prior_max IS NOT NULL AND ms < prior_max
                      THEN prior_max - ms END AS late_ms
          FROM s),
    b AS (SELECT late_digits, CAST(COUNT(*) AS bigint) AS n,
                 CAST(MIN(late_ms) AS bigint) AS min_late_ms,
                 CAST(MAX(late_ms) AS bigint) AS max_late_ms
          FROM l GROUP BY 1)
    SELECT CAST(late_digits AS bigint) AS late_digits, n,
           min_late_ms, max_late_ms,
           CAST(1000 * n // SUM(n) OVER () AS bigint) AS share_milli
    FROM b
    """,
)
def q_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival profile in decimal-digit lateness buckets
    (0 = on-time), with milli shares over all events — the table a
    watermark configuration review reads. See family comment."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = ev.withColumn("prior_max", F.max("ms").over(w))
    late = F.when(
        F.col("prior_max").isNotNull()
        & (F.col("ms") < F.col("prior_max")),
        F.col("prior_max") - F.col("ms"),
    )
    l = s.select(
        F.when(late.isNull(), F.lit(0))
        .otherwise(F.length(late.cast("string")))
        .alias("late_digits"),
        late.alias("late_ms"),
    )
    b = l.groupBy("late_digits").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("late_ms").cast("long").alias("min_late_ms"),
        F.max("late_ms").cast("long").alias("max_late_ms"),
    )
    return b.select(
        F.col("late_digits").cast("long"),
        "n",
        "min_late_ms",
        "max_late_ms",
        F.expr("cast(1000 * n div sum(n) over () as bigint)").alias(
            "share_milli"
        ),
    )


# ------------------------------------------------- activity bitmaps
# The bitmap-index retention pattern: per user, the first 64 days
# after first contact packed into ONE bigint (bit d set = active on
# day base+d; day 63 intentionally uses the sign bit — two's-
# complement bigint semantics are identical in both engines), then
# the corpus rolled up by active-day count with the day-7-retained
# tally read straight off bit 7. Fixed 8 bytes of state per user
# replaces a (user × day) table for every downstream retention
# question — the reason bitmap indexes exist. Scale: the (user, day)
# dedup and the bit_or rollup are ONE map-side-combinable exchange
# chain on user_id; the final histogram is a ≤65-row dim.
@_q(
    "q_activity_bitmap",
    """
    WITH ud AS (SELECT DISTINCT user_id,
                       CAST(epoch_ms(ts) // 86400000 AS bigint) AS day
                FROM events),
    b AS (SELECT user_id, MIN(day) AS base_day FROM ud GROUP BY 1),
    m AS (SELECT ud.user_id,
                 bit_or(CASE WHEN ud.day - b.base_day < 64
                        THEN (CAST(1 AS bigint) << CAST(ud.day - b.base_day AS int))
                        ELSE 0 END) AS mask
          FROM ud JOIN b USING (user_id) GROUP BY 1)
    SELECT CAST(bit_count(mask) AS bigint) AS n_active_64,
           CAST(COUNT(*) AS bigint) AS n_users,
           CAST(SUM((mask >> 7) & 1) AS bigint) AS n_d7_active
    FROM m GROUP BY 1
    """,
)
def q_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users histogrammed by active-day count within their first 64
    days (bitmap-packed), with the day-7-retained tally per bucket.
    See family comment — 8 bytes of state per user, one exchange."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        (
            F.unix_millis(F.col("ts").cast("timestamp"))
            / F.lit(86400000)
        )
        .cast("long")
        .alias("day"),
    )
    # no distinct: bit_or is duplicate-insensitive (the shingle/minhash
    # argument, dedup.py), so the (user, day) dedup would shuffle the
    # raw event stream for nothing — the oracle keeps its DISTINCT,
    # same masks either way. base_day as a window min on the SAME
    # user_id exchange the bit_or rollup needs (round-4 verdict
    # nit 3): the former groupBy + self-join re-read the events down a
    # second plan branch and added a join — min over (partition by
    # user_id) reuses the one hash-partitioning, so the whole query is
    # a single exchange chain on user_id
    ud = ev
    m = (
        ud.withColumn(
            "base_day", F.min("day").over(Window.partitionBy("user_id"))
        )
        .select(
            "user_id",
            F.when(
                F.col("day") - F.col("base_day") < 64,
                F.expr(
                    "shiftleft(cast(1 as bigint),"
                    " cast(day - base_day as int))"
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("bit"),
        )
        .groupBy("user_id")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )
    return m.select(
        F.bit_count("mask").cast("long").alias("n_active_64"),
        F.col("mask"),
    ).groupBy("n_active_64").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.expr("(mask >> 7) & 1")).cast("long").alias("n_d7_active"),
    )


# ------------------------------------------- floor-clamped balance
# The "balance never goes below zero" recurrence — token buckets,
# inventory floors, queue workloads: b_i = max(0, b_{i-1} + d_i).
# NOT expressible as a plain cumulative sum — but the ONE-SIDED clamp
# has the closed form b_i = S_i − min(0, min_{j≤i} S_j) (Lindley's
# recursion / the reflected random walk), which IS two stacked
# windows: a cumulative sum and a running minimum over the same
# (user | ms, event_id) sort. The ENGINE ships the closed form; the
# ORACLE runs the literal recurrence through a DuckDB recursive CTE —
# so the value-hash gate machine-checks the reflection identity on
# real data, not just the textbook proof. Deltas are deterministic
# small ints by event type (mixed signs, so the floor actually
# binds). Scale: one user_id exchange, both windows on one sort,
# state O(1) per row — a 10^12-event stream pays exactly what
# q_sessionize pays.
_BAL_DELTA_SQL = """CASE event_type WHEN 'view' THEN 2
        WHEN 'purchase' THEN -5 WHEN 'signup' THEN 1 ELSE -1 END"""


@_q(
    "q_floor_balance",
    f"""
    WITH RECURSIVE t AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms,
             {_BAL_DELTA_SQL} AS d,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, rn,
             CAST(GREATEST(0, d) AS bigint) AS balance
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.user_id, t.event_id, t.rn,
             CAST(GREATEST(0, r.balance + t.d) AS bigint)
      FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1
    )
    SELECT user_id, event_id, balance FROM r
    """,
)
def q_floor_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: the floor-clamped running balance of type-derived
    deltas, via the reflected-walk closed form (two windows — cumsum
    and running min — on one sort). The oracle replays the literal
    max(0, prev + d) recurrence; see family comment."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        F.expr(_BAL_DELTA_SQL).cast("long").alias("d"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = ev.withColumn("s", F.sum("d").over(w)).withColumn(
        "runmin", F.min("s").over(w)
    )
    return s.select(
        "user_id",
        "event_id",
        (
            F.col("s")
            - F.least(F.lit(0).cast("long"), F.col("runmin"))
        )
        .cast("long")
        .alias("balance"),
    )


# ------------------------------------------ rolling distinct, 90-day
# Exact trailing-90-day distinct users per day — the q_dau_wau
# problem at the window size where its bounded-fan-out trick stops
# scaling (7× in-row fan-out is fine; 90× is ~13 copies of the
# corpus). The difference-array method does it in O(pairs): a (user,
# day) pair is the LAST activity of u inside the window ending D iff
# day ≤ D < min(next_day, day + 90) — so each pair supports exactly
# the window-ends in [day, min(next_day − 1, day + 89)], and the
# per-day distinct count is the prefix sum of +1/−1 interval
# endpoints over the dense day grid. No fan-out, no per-day rescan,
# one lead window per user. The ORACLE is the deliberately naive
# independent formulation — a day × activity range join with
# COUNT(DISTINCT) — so the gate proves the interval algebra, not the
# implementation, at every tested SF. Scale: one user_id exchange
# (dedup + lead share the sort), endpoint rollup on the day dim, the
# prefix sum a global window over the CALENDAR-bounded day grid
# (BOUNDED_OK), corpus never rescanned per day.
_ROLL_WIN = 90


@_q(
    "q_rolling_distinct_90",
    f"""
    WITH ud AS (SELECT DISTINCT user_id,
                       CAST(epoch_ms(ts) // 86400000 AS bigint) AS day
                FROM events),
    span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud),
    days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span)
    SELECT d.day, CAST(COUNT(DISTINCT ud.user_id) AS bigint)
             AS n_active_90
    FROM days d LEFT JOIN ud
      ON ud.day BETWEEN d.day - {_ROLL_WIN - 1} AND d.day
    GROUP BY 1
    """,
)
def q_rolling_distinct_90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day of the corpus span: the exact count of users active in
    the trailing 90 days, via interval endpoints + one prefix sum.
    See family comment — the oracle is the naive range join."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        (
            F.unix_millis(F.col("ts").cast("timestamp"))
            / F.lit(86400000)
        )
        .cast("long")
        .alias("day"),
    )
    ud = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    pairs = ud.withColumn("next_day", F.lead("day").over(w))
    starts = pairs.select(F.col("day").alias("d"), F.lit(1).alias("delta"))
    ends = pairs.select(
        F.least(
            F.coalesce(F.col("next_day"), F.lit(2**62)),
            F.col("day") + F.lit(_ROLL_WIN),
        ).alias("d"),
        F.lit(-1).alias("delta"),
    )
    deltas = starts.unionAll(ends).groupBy("d").agg(
        F.sum("delta").alias("delta")
    )
    span = ud.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    days = span.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    dense = days.join(deltas, days["day"] == deltas["d"], "left").select(
        "day", F.coalesce("delta", F.lit(0)).alias("delta")
    )
    wprefix = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        "day",
        F.sum("delta").over(wprefix).cast("long").alias("n_active_90"),
    )


# ------------------------------------------------- trailing-1h rate
# The rate-limiter's view of the stream: at EVERY event, how many
# events (and how much value, in exact floor-cents) did the same
# user produce in the trailing hour including this one? A TIME-RANGE
# frame (RANGE BETWEEN 3599999 PRECEDING) on the millisecond axis —
# the frame kind that is CORRECT on irregular event spacing where a
# ROWS frame would count a fixed number of events regardless of how
# long ago they happened (the q_revenue_30d distinction, here at
# EVENT grain rather than on a daily rollup dim). Scale: one user_id
# exchange, one sort, O(1) sliding-frame state per row — Spark's
# range-frame implementation advances two pointers over the sorted
# partition, never re-scanning the window per row.
@_q(
    "q_rate_window",
    """
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w AS bigint) AS n_1h,
           CAST(SUM(CAST(FLOOR(value * 100) AS bigint)) OVER w
                AS bigint) AS cents_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                 RANGE BETWEEN 3599999 PRECEDING AND CURRENT ROW)
    """,
)
def q_rate_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: same-user event count and exact floor-cents value
    over the trailing hour (time-RANGE frame, not ROWS). See family
    comment."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms")
        .rangeBetween(-3599999, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.sum("cents").over(w).cast("long").alias("cents_1h"),
    )
