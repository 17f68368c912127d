"""Relational operator parity queries (SURVEY.md §2.2-§2.6) and the
transcript/turn operators of the extraction pipeline.

Each query re-expresses one dataflow operator family of the reference
(file:line cited per query) as idiomatic DataFrame code, with a DuckDB
oracle. Entries stay only while they anchor a §2 coverage row or serve
the pipeline: extraction gates, turn hygiene and conversation assembly
over documents/transcripts. Over ``events`` only the §2 anchors such as
q_asof_join remain. Warehouse reports over the harness tables with
neither role do not belong here. Numeric discipline for cross-engine
equality:

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
from .util import load, spread

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
    audit runs shuffle-free. Pairs with the dedup increment's doc-id
    guard (which refuses duplicate turns at ingest) and the lineage
    resume (which prevents holes from partial failures) — this is the
    detector that proves they worked."""
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


# --------------------------------------------- lang×source coupling
# "Are languages spread evenly across sources, or does each source
# own its own languages?" — the independence audit on the documents
# contingency table, EXACT: per cell the signed leverage
# O·N − R·C (observed×total minus the row×column product — positive
# = over-represented), and the corpus association as the total
# variation distance between the joint and the product of marginals,
# TVD = Σ|O·N − R·C| / (2·N²), published as exact integer milli via
# cross-multiplication (no division before the last step). Headroom: each
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


# -------------------------------------------------------------- CUBE
# q_cube_revenue: full CUBE over (priority, status) with the composite
# grouping id (Spark grouping_id() == DuckDB GROUPING(a, b), same bit
# encoding, the gate proves it) and '(all)' markers so every stratum
# row is self-describing; revenue in exact floor-cents
# (cast(floor(o_totalprice * 100)) — floor() is the same IEEE op in
# both engines, where a bare double→bigint cast would truncate in
# Spark but round in DuckDB). Scale: one map-side-combined rollup.
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
