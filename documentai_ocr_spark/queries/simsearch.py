"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

* ``q_knn_cosine`` — brute-force cosine top-k: the exact baseline,
  oracle-checked against DuckDB. Query side is broadcast; ranking uses
  the ROUNDED cosine + unique tiebreak so both engines rank identically.
* ``x_knn_lsh`` — random-hyperplane LSH bucketed ANN: the scale path
  (bucket equi-join instead of cross product). Deterministic hyperplanes
  (seeded); recall vs the brute-force baseline is property-tested in
  tests/test_simsearch.py.
* ``x_knn_ivf`` — IVF-flat ANN: deterministic k-means coarse quantizer
  (strided seeds + Lloyd passes with driver-combined partial sums) →
  inverted lists → nprobe cluster equi-join → exact re-rank. The second
  scale path, recall-gated like LSH.
* ``simhash_pairs_banded`` / ``q_simhash_pairs_banded`` — pigeonhole-
  banded SimHash pairing, the dedup scale path: hamming_max+1 = 9
  segments over the 60-bit fingerprint guarantee every pair at
  hamming ≤ 8 shares a segment, so the equi-join candidate set is
  provably complete and the output is IDENTICAL to the all-pairs
  baseline (gate-checked against the all-pairs DuckDB SQL).

Scale notes: brute-force is O(n·q) and exists as the correctness anchor;
LSH buckets turn ANN into groupBy + within-bucket top-k, which shuffles
each vector once. At 10^12 rows the bucket key would extend to
(band_id, hyperplane-signs) with multi-probe on the query side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup import SIMHASH_PAIRS_SQL as _DEDUP_SIMHASH_PAIRS_SQL
from .dedup import _SIMHASH_HAMMING_MAX
from .util import guard_allpairs, load, spread

QUERIES: dict = {}
ORACLES: dict = {}


def _q(name: str, sql: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return reg


_KNN_K = 5
_KNN_NQUERIES = 20  # vec_id < 20 are the query vectors


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load(spark, sf_dir, "embeddings"))
    return e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@_q(
    "q_knn_cosine",
    f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS double)) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
    pairs AS (
      SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.emb, d.emb) / (q.nrm * d.nrm), 3) AS cos_sim
      FROM n q JOIN n d ON q.vec_id < {_KNN_NQUERIES} AND d.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs
    ) WHERE rank <= {_KNN_K}
    """,
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: 20 broadcast query vectors against all
    rows; dot products via zip_with/aggregate in doubles (JVM-side
    higher-order functions — no Python in the loop)."""
    e = _emb_double(spark, sf_dir)
    n = e.withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
    q = n.where(F.col("vec_id") < _KNN_NQUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = F.broadcast(q).join(
        n, F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qemb"), F.col("emb")) / (F.col("qnrm") * F.col("nrm")), 3
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ------------------------------------------------------------------ LSH ANN
_LSH_K_PLANES = 4    # planes per table → 16 buckets/table
_LSH_L_TABLES = 8    # independent tables. Measured top-5 recall at
                     # sf0.001: single-probe L=6→0.63, L=12→0.84;
                     # MULTI-PROBE (1-bit flips, query side) L=8→1.00 —
                     # so the index stays 8× and the probe fan-out (k+1)×
                     # lands only on the query side. At production n the
                     # knob is k ∝ log n to hold bucket size.
_LSH_SEED = 1234
_LSH_DIM = 64


def _hyperplanes() -> np.ndarray:
    rng = np.random.RandomState(_LSH_SEED)
    return rng.standard_normal((_LSH_L_TABLES, _LSH_K_PLANES, _LSH_DIM))


def lsh_bucket_ids(
    spark: SparkSession, emb: DataFrame, multiprobe: bool = False
) -> DataFrame:
    """Add a ``buckets array<bigint>`` column: one sign-pattern bucket id
    per LSH table (bucket id encodes the table index so tables never
    collide). One Arrow-batch matmul per partition — no per-row Python.

    ``multiprobe=True`` (QUERY side only) also emits every 1-bit-flip
    neighbor of each bucket — the standard multi-probe trick: recall of
    a much larger L at the cost of (k+1)× more probe keys on the tiny
    query side, while the data-side index stays L× exactly."""
    planes = _hyperplanes()
    bc = spark.sparkContext.broadcast(planes)

    def assign(batches):
        for pdf in batches:
            m = np.stack(pdf["emb"].to_numpy())  # (n, dim)
            p = bc.value  # (L, k, dim)
            signs = (
                np.einsum("nd,lkd->nlk", m, p) > 0
            )  # (n, L, k)
            packed = (signs * (1 << np.arange(_LSH_K_PLANES))).sum(axis=2)
            if multiprobe:
                flips = packed[:, :, None] ^ (
                    1 << np.arange(_LSH_K_PLANES)
                )  # (n, L, k)
                packed = np.concatenate(
                    (packed[:, :, None], flips), axis=2
                )  # (n, L, k+1)
                table_base = (
                    (np.arange(_LSH_L_TABLES) + 1) << _LSH_K_PLANES
                )[None, :, None]
                buckets = (packed + table_base).reshape(len(m), -1)
            else:
                table_base = (np.arange(_LSH_L_TABLES) + 1) << _LSH_K_PLANES
                buckets = packed + table_base  # (n, L), disjoint per table
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "emb": pdf["emb"],
                    "buckets": list(buckets.astype(np.int64)),
                }
            )

    return emb.mapInPandas(
        assign, schema="vec_id bigint, emb array<double>, buckets array<bigint>"
    )


@_q("x_knn_lsh")  # engine-only: ANN is approximate — no SQL oracle
def x_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN (_LSH_L_TABLES tables × 4 hyperplanes):
    candidates share a
    sign bucket in ≥1 table, so the search is an exploded bucket
    equi-join + distinct + within-bucket top-k — the plan that survives
    10^12 rows (no cross product; each vector appears L times). Recall
    vs the brute-force baseline is property-tested."""
    e = _emb_double(spark, sf_dir)
    b = (
        lsh_bucket_ids(spark, e)
        .withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
        .select(
            "vec_id", "emb", "nrm", F.explode("buckets").alias("bucket")
        )
    )
    # query side probes its bucket AND every 1-bit-flip neighbor
    q = (
        lsh_bucket_ids(
            spark, e.where(F.col("vec_id") < _KNN_NQUERIES), multiprobe=True
        )
        .withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
            F.explode("buckets").alias("qbucket"),
        )
    )
    cand = (
        F.broadcast(q)
        .join(
            b,
            (F.col("qbucket") == F.col("bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "qemb", "qnrm", "vec_id", "emb", "nrm")
        .dropDuplicates(["query_id", "vec_id"])
    )
    pairs = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qemb"), F.col("emb")) / (F.col("qnrm") * F.col("nrm")), 3
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ------------------------------------------------------- embedding near-dup
_NEARDUP_TAU = 0.4


@_q(
    "q_embed_neardup",
    f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS double)) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 3) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= {_NEARDUP_TAU}
    """,
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.4). All-pairs
    baseline for the oracle check, ROW-GUARDED so it cannot launch on a
    production-sized input; the LSH-bucketed formulation (x_knn_lsh's
    bucket join) is the scale path — at 10^12 rows this exact variant
    exists only for sampled validation."""
    e = guard_allpairs(_emb_double(spark, sf_dir), "q_embed_neardup")
    n = e.withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
    a = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .where(cos >= _NEARDUP_TAU)
        .select("vec_a", "vec_b", F.round(cos, 3).alias("cos_sim"))
    )


# ------------------------------------------------- banded simhash (scale path)
_SIMHASH_BITS = 60


def simhash_band_segments(
    fp: DataFrame, hamming_max: int, n_bands: int | None = None
) -> DataFrame:
    """Explode a (doc_id, simhash) table into its pigeonhole band keys:
    (doc_id, simhash, seg, seg_val) with ``n_bands = hamming_max + 1``
    segments partitioning the 60 bits (uneven widths are fine — the
    pigeonhole argument only needs a partition). Shared by the
    self-join pair path and the incremental corpus-index probe."""
    if n_bands is None:
        n_bands = hamming_max + 1
    base, rem = divmod(_SIMHASH_BITS, n_bands)
    specs = []
    off = 0
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        specs.append((i, off, width))
        off += width
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("seg"),
                    F.lit(o).alias("off"),
                    F.lit(w).alias("bw"),
                )
                for i, o, w in specs
            ]
        )
    ).alias("band")
    return (
        fp.select("doc_id", "simhash", bands)
        .withColumn(
            "seg_val",
            F.expr(
                "shiftright(simhash, band.off) & (shiftleft(1L, band.bw) - 1L)"
            ),
        )
        .select("doc_id", "simhash", F.col("band.seg").alias("seg"), "seg_val")
    )


def simhash_pairs_banded(
    fp: DataFrame, hamming_max: int, n_bands: int | None = None
) -> DataFrame:
    """Near-dup pairs at hamming ≤ ``hamming_max`` via the pigeonhole
    prefilter, GUARANTEED complete: the 60-bit fingerprint splits into
    ``n_bands = hamming_max + 1`` segments (default), so any pair within
    the bound differs in at most ``hamming_max`` segments and therefore
    shares at least one segment exactly — every qualifying pair is a
    candidate of the (seg, seg_val) equi-join, never by luck. With the
    hamming filter after the join, the output is the IDENTICAL pair set
    to the all-pairs baseline (asserted exactly in tests and in the
    DuckDB gate via q_simhash_pairs_banded).

    Segment widths for 60/9 are uneven (six 7-bit + three 6-bit bands) —
    widths are data-independent literals, the pigeonhole argument only
    needs the segments to partition the 60 bits. Input: (doc_id, simhash).

    Scale: each fingerprint explodes ×n_bands into 8-byte segment keys;
    the only join is the bucket equi-join (AQE splits hot buckets), so
    cost tracks candidate count, not n². Knee to watch: with 60-bit
    fingerprints a segment key has only ~2^6-2^7 values, so beyond ~10^5
    docs per partition-of-keyspace the buckets themselves grow dense and
    candidate count creeps toward quadratic — the standard remedy is
    hierarchical banding (extend the join key with a second segment at
    hamming budget split k1+k2, i.e. candidates must match one segment
    exactly AND a second within budget), or widen the fingerprint to 128
    bits. The pigeonhole completeness argument carries over unchanged."""
    segs = simhash_band_segments(fp, hamming_max, n_bands)
    a = segs.alias("a")
    b = segs.alias("b")
    ham = F.expr("bit_count(a.simhash ^ b.simhash)")
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
        .where(F.col("hamming") <= hamming_max)
        .distinct()
    )


@_q("q_simhash_pairs_banded", _DEDUP_SIMHASH_PAIRS_SQL)
def q_simhash_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production simhash dedup path: banded pigeonhole equi-join,
    cross-checked in the gate against the ALL-PAIRS DuckDB SQL — the
    strongest possible completeness proof (different algorithm, same
    output, different engine)."""
    from .dedup import _SIMHASH_HAMMING_MAX, _simhash_df

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    # merge hint: without it one self-join side broadcasts and Spark
    # recomputes the whole fingerprint pipeline for both sides (no
    # ReusedExchange across Broadcast/Shuffle exchange kinds); with both
    # sides shuffled the plan shares the work — measured ~2× at sf0.1,
    # and SMJ is what this join would pick at production scale anyway
    fp = _simhash_df(docs).hint("merge")
    return simhash_pairs_banded(fp, _SIMHASH_HAMMING_MAX)


# ---------------------------------------------------------------- IVF ANN
_IVF_K = 16        # coarse centroids (∝ sqrt(n) at scale)
_IVF_NPROBE = 10   # centroids probed per query: measured top-5 recall
                   # 0.91 at sf0.001 (4 → 0.60, 6 → 0.79, 8 → 0.84,
                   # 12 → 0.96) — random gaussian vectors are IVF's
                   # worst case; clustered real embeddings do far
                   # better at the same nprobe. At scale K grows ∝ √n
                   # while nprobe stays O(10), so the probed fraction
                   # (candidate volume) shrinks with corpus size
_IVF_ITERS = 2     # Lloyd refinement passes


def _ivf_centroids(e: DataFrame, k: int, iters: int) -> np.ndarray:
    """Deterministic k-means coarse quantizer: seeds are evenly-strided
    vec_ids, then ``iters`` Lloyd passes — exactly the m=1 case of
    _pq_codebooks (ONE implementation of the seed/Lloyd/sorted-combine
    machinery; see its docstring for the determinism contract). The
    update collects per-cluster partial sums (k×dim floats per
    partition — tiny) and combines them on the driver in sorted order.
    At 10^12 rows this is the standard sample-then-train loop: the
    update traffic is k×dim per partition, never data-sized."""
    return _pq_codebooks(e, 1, k, iters)[0]


def _assign_clusters(e: DataFrame, cents: np.ndarray, top: int) -> DataFrame:
    """(vec_id, emb, cluster) — ``top`` nearest centroids per vector
    (top=1 for the index side, nprobe for the query side)."""
    bc = e.sparkSession.sparkContext.broadcast(cents)

    def assign(batches):
        import pandas as _pd

        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["emb"].to_numpy())
            d = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            idx = np.argsort(d, axis=1)[:, :top]
            n = len(pdf)
            yield _pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), top),
                    "emb": [e_ for e_ in pdf["emb"] for _ in range(top)],
                    "cluster": idx.reshape(-1).astype(np.int32),
                }
            )

    return e.mapInPandas(
        assign, schema="vec_id bigint, emb array<double>, cluster int"
    )


@_q("x_knn_ivf")  # approximate — recall-gated in tests, no SQL oracle
def x_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic k-means coarse quantizer → inverted lists
    keyed by cluster id → queries probe their nprobe nearest centroids →
    exact cosine top-k within the probed lists. The search is a cluster
    equi-join (each vector sits in exactly one list; a query touches
    nprobe lists) — candidate count ≈ nprobe/k of the corpus, the
    IVF-flat layout every vector store uses at scale."""
    e = _emb_double(spark, sf_dir)
    cents = _ivf_centroids(e, _IVF_K, _IVF_ITERS)
    data = _assign_clusters(e, cents, 1).withColumn(
        "nrm", F.sqrt(_dot(F.col("emb"), F.col("emb")))
    )
    q = (
        _assign_clusters(
            e.where(F.col("vec_id") < _KNN_NQUERIES), cents, _IVF_NPROBE
        )
        .withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
            "cluster",
        )
    )
    # no dedup needed (unlike LSH's L tables): each vector sits in
    # EXACTLY one inverted list (top=1), so a (query, vec) pair can join
    # through at most one cluster — a dropDuplicates here would shuffle
    # every candidate row's two 64-d arrays for nothing
    cand = (
        F.broadcast(q)
        .join(data, ["cluster"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qemb", "qnrm", "vec_id", "emb", "nrm")
    )
    pairs = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qemb"), F.col("emb")) / (F.col("qnrm") * F.col("nrm")), 3
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ------------------------------------------------------- label centroids
# Vector aggregation: the per-class mean embedding (cluster centroid /
# class prototype) every embedding pipeline computes — for IVF coarse
# quantizers, class-prototype classifiers, or drift monitoring.
# posexplode → groupBy(label, dim) keeps the shuffle at one row per
# (label, dimension) — 64 rows per label regardless of corpus size —
# with map-side partial sums doing all the reduction.
# ONE rendering of the centroid rule (SQL CTE + Spark helper): the
# centroid table and the outlier audit must agree on the prototype to
# the last ulp (q_embed_centroids publishes it, q_embed_outliers
# measures against it).
CENTROID_CTE = """cent AS (
      SELECT label, CAST(g.i - 1 AS int) AS dim,
             ROUND(SUM(CAST(embedding[i] AS double)) / COUNT(*), 6)
               AS centroid,
             CAST(COUNT(*) AS bigint) AS n_vecs
      FROM embeddings, unnest(generate_series(1, len(embedding))) g(i)
      GROUP BY label, g.i)"""


def _centroids_df(e: DataFrame) -> DataFrame:
    """Spark rendering of CENTROID_CTE: per-(label, dim) mean as
    sum/count in a single double division, rounded once."""
    ex = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    return ex.groupBy("label", F.col("dim").cast("int").alias("dim")).agg(
        F.round(
            F.sum(F.col("x").cast("double")) / F.count(F.lit(1)), 6
        ).alias("centroid"),
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
    )


@_q(
    "q_embed_centroids",
    f"""
    WITH {CENTROID_CTE}
    SELECT label, dim, centroid, n_vecs FROM cent
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, dimension-wise: posexplode the vector,
    one groupBy on (label, dim), mean as sum/count in a single double
    division (both engines), rounded for cross-engine accumulation-order
    safety."""
    e = spread(load(spark, sf_dir, "embeddings").select("label", "embedding"))
    return _centroids_df(e)


# ------------------------------------------------------ centroid outliers
# Embedding-space quality audit: the vectors farthest from their
# class prototype are the mislabeled / corrupted / poisoned candidates
# a curation pipeline routes to review first. Distances are
# milli-quantized to integers so the ranking (and the gate) never
# rests on a float comparison across engines.
_OUTLIER_TOPK = 5


@_q(
    "q_embed_outliers",
    f"""
    WITH {CENTROID_CTE},
    ca AS (
      SELECT label, list(centroid ORDER BY dim) AS c
      FROM cent GROUP BY label
    ),
    d AS (
      SELECT e.label, e.vec_id,
             CAST(round(sqrt(list_reduce(
               list_transform(generate_series(1, len(e.embedding)),
                 i -> (CAST(e.embedding[i] AS double) - c[i])
                    * (CAST(e.embedding[i] AS double) - c[i])),
               (a, b) -> a + b)) * 1000) AS bigint) AS dist_milli
      FROM embeddings e JOIN ca ON e.label = ca.label
    )
    SELECT label, vec_id, dist_milli, CAST(rnk AS int) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY label
                    ORDER BY dist_milli DESC, vec_id) AS rnk FROM d)
    WHERE rnk <= {_OUTLIER_TOPK}
    """,
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 (_OUTLIER_TOPK) farthest-from-centroid vectors per label
    (euclidean distance to the label's mean embedding, milli-quantized,
    ties broken on vec_id).

    Scale — the centroid dim is O(labels × 64) rows (the
    q_embed_centroids shuffle), reassembled into per-label arrays and
    BROADCAST; the distance is an in-row index-ordered left fold
    (seeded 0.0 == DuckDB's seedless reduce since 0.0 + x is exact),
    so no per-dim rows ever shuffle for the fact table. The top-k is
    `row_number <= k`, which Spark plans as WindowGroupLimit: every
    map partition pre-prunes to its local top-k BEFORE the label
    exchange, so the per-label sort sees O(k × partitions) rows, not
    the label's population."""
    e = spread(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        )
    )
    ca = (
        _centroids_df(e)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s["centroid"],
            ).alias("c")
        )
    )
    diff2 = F.zip_with(
        F.col("embedding"),
        F.col("c"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    dist_milli = (
        F.round(
            F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda a, x: a + x))
            * 1000
        )
        .cast("long")
        .alias("dist_milli")
    )
    d = e.join(F.broadcast(ca), "label").select(
        "label", "vec_id", dist_milli
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("dist_milli"), F.asc("vec_id")
    )
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _OUTLIER_TOPK)
        .select("label", "vec_id", "dist_milli", F.col("rnk").cast("int"))
    )


# ---------------------------------------------------- semantic dedup (scale)
# SemDeDup-shaped semantic deduplication: coarse k-means clusters bound
# the candidate set, so near-dup discovery is within-cluster pairs
# instead of all-pairs. This is the SCALE PATH for q_embed_neardup (the
# row-guarded O(n²) oracle anchor above): with k ∝ √n centroids the
# candidate volume is Σ cluster² ≈ m²·n²/k — at 10^9 vectors and 30k
# clusters, ~10^5 smaller than all-pairs, and each cluster's pair join
# is an independent equi-join task.
_SEMDEDUP_PROBE = 3  # soft-assignment width: top-m nearest centroids;
#                      measured pair recall vs the all-pairs anchor at
#                      tau=0.4: m=1 → 0.25, m=2 → 0.63, m=3 → 0.83 (sf0.01)
#                      / 0.96 (sf0.001) — gate pinned in test_simsearch.py


def semdedup_pairs(e: DataFrame, cents, m: int, tau: float) -> DataFrame:
    """Within-cluster near-dup candidate pairs: every vector joins its
    top-``m`` nearest centroids' inverted lists; two vectors become a
    candidate iff they share a list (cluster equi-join, never n²); the
    exact cosine filter keeps pairs ≥ ``tau``. Pairs sharing several
    lists are deduplicated AFTER the cosine filter, so the distinct
    shuffles only surviving (vec_a, vec_b) keys — never the vectors."""
    a = _assign_clusters(e, cents, m).withColumn(
        "nrm", F.sqrt(_dot(F.col("emb"), F.col("emb")))
    )
    lhs = a.select(
        "cluster",
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"),
        F.col("nrm").alias("na"),
    )
    rhs = a.select(
        "cluster",
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        lhs.join(rhs, ["cluster"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(cos >= tau)
        .select("vec_a", "vec_b", F.round(cos, 3).alias("cos_sim"))
        .dropDuplicates(["vec_a", "vec_b"])
    )


@_q("x_semdedup")  # approximate scale path — recall-gated in tests
def x_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup decision per vector: drop a vector iff some
    SMALLER-id near-duplicate (cos ≥ 0.4) shares one of its top-3
    clusters — the deterministic stand-in for SemDeDup's
    keep-one-per-neighborhood policy (the paper keeps the member
    farthest from the centroid; min-id is order-free and replayable).
    Output is one row per vector with the keep verdict and its primary
    cluster. The O(n²) q_embed_neardup stays registry-guarded as the
    sampled-validation anchor for this path."""
    e = _emb_double(spark, sf_dir)
    cents = _ivf_centroids(e, _IVF_K, _IVF_ITERS)
    pairs = semdedup_pairs(e, cents, _SEMDEDUP_PROBE, _NEARDUP_TAU)
    dropped = (
        pairs.select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("keep", F.lit(False))
    )
    primary = _assign_clusters(e, cents, 1).select("vec_id", "cluster")
    return (
        primary.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
    )


# ------------------------------------- incremental near-dup (corpus index)
def _fp_cte(src: str) -> str:
    """DuckDB CTE chain deriving (doc_id, simhash) from a (doc_id, text)
    CTE named ``src`` — the same vote formulation as SIMHASH_PAIRS_SQL,
    parameterized so the oracle can fingerprint corpus and batch."""
    return f"""
    tok_{src} AS (
      SELECT doc_id, t AS tok, CAST(COUNT(*) AS bigint) AS w
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM {src})
      GROUP BY doc_id, t),
    h_{src} AS (
      SELECT doc_id, w,
             ('0x' || substr(md5(tok), 1, 15))::bigint AS hv
      FROM tok_{src}),
    vote_{src} AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (hv >> b.bit) & 1 = 1 THEN w ELSE -w END)
               AS vote
      FROM h_{src},
           (SELECT unnest(generate_series(0, {_SIMHASH_BITS - 1})) AS bit) b
      GROUP BY doc_id, b.bit),
    fp_{src} AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (1::bigint << bit)
                           ELSE 0 END) AS bigint) AS simhash
      FROM vote_{src} GROUP BY doc_id)"""


_INCR_HAMMING_MAX = 8


@_q(
    "q_incremental_neardup",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 3 = 0 THEN c.text
                  WHEN d.doc_id % 3 = 1
                    THEN c.text || ' drifted tail token'
                  ELSE d.text || ' wholly new material' END AS text
      FROM documents d JOIN documents c ON c.doc_id = d.doc_id - 1
      WHERE d.doc_id % 2 = 1
    ),
    {_fp_cte("corpus")},
    {_fp_cte("batch")}
    SELECT b.doc_id,
           bool_or(bit_count(xor(b.simhash, c.simhash))
                   <= {_INCR_HAMMING_MAX}) AS is_neardup
    FROM fp_batch b CROSS JOIN fp_corpus c
    GROUP BY b.doc_id
    """,
)
def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-duplicate screen: a fresh crawl batch probed
    against the EXISTING corpus' simhash band index — the near-dup
    analogue of the bloom exact-membership prefilter (corpusops). The
    batch is derived deterministically (each odd doc is an exact replay
    of its even neighbor, a one-phrase drift of it, or genuinely new
    content), both engines build the identical pair of snapshots.

    The Spark path is the pigeonhole equi-join of batch band keys
    against corpus band keys (9 bands ⇒ provably complete at hamming ≤
    8); the oracle brute-forces all batch×corpus pairs — different
    algorithm, same verdict column, so the gate is a completeness
    check of the banded probe, not a reimplementation.

    Scale: the corpus band index (doc_id, seg, seg_val — 9 rows of 24 B
    per corpus doc) is computed once and persisted as a bucketed table
    in production; only the batch (crawl-sized, orders smaller than the
    corpus) fingerprints and shuffles per run. Candidates ∝ band
    matches, never |batch|×|corpus|; AQE splits hot band buckets the
    same way it does in the self-join path."""
    from .dedup import _simhash_df

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    prev = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("prev_text"),
    )
    batch = (
        docs.where(F.col("doc_id") % 2 == 1)
        .join(prev, "doc_id")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 3 == 0, F.col("prev_text"))
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat("prev_text", F.lit(" drifted tail token")),
            )
            .otherwise(F.concat("text", F.lit(" wholly new material")))
            .alias("text"),
        )
    )
    cfp = _simhash_df(corpus)
    bfp = _simhash_df(batch)
    cb = simhash_band_segments(cfp, _INCR_HAMMING_MAX)
    bb = simhash_band_segments(bfp, _INCR_HAMMING_MAX)
    cand = (
        bb.alias("b")
        .join(
            cb.alias("c"),
            (F.col("b.seg") == F.col("c.seg"))
            & (F.col("b.seg_val") == F.col("c.seg_val")),
        )
        .select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("b.simhash").alias("bh"),
            F.col("c.simhash").alias("ch"),
        )
        .distinct()
    )
    hits = (
        cand.where(F.expr("bit_count(bh ^ ch)") <= _INCR_HAMMING_MAX)
        .select("doc_id")
        .distinct()
        .withColumn("is_neardup", F.lit(True))
    )
    return (
        bfp.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_neardup", F.lit(False)).alias("is_neardup"),
        )
    )


# ------------------------------------------- int8 scalar quantization
# Vector compression for ANN at scale: per-dimension min/max codebook
# over the corpus, each float mapped to an 8-bit code — 4× smaller
# index, the standard first rung of the quantization ladder (IVF-SQ8).
# Long (vec_id, dim, code) output keeps the oracle comparison exact.
@_q(
    "q_embed_quantize",
    """
    WITH x AS (
      SELECT vec_id, g.i - 1 AS dim,
             CAST(embedding[g.i] AS double) AS val
      FROM embeddings, LATERAL (
        SELECT unnest(generate_series(1, len(embedding))) AS i
      ) g
    ),
    mm AS (
      SELECT dim, MIN(val) AS lo, MAX(val) AS hi
      FROM x GROUP BY dim
    )
    SELECT x.vec_id, CAST(x.dim AS int) AS dim,
           CAST(LEAST(FLOOR((x.val - mm.lo) / (mm.hi - mm.lo) * 256.0),
                      255.0) AS int) AS code
    FROM x JOIN mm USING (dim)
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantize the embedding corpus to int8 codes against a
    per-dimension min/max codebook: code = min(floor((x-lo)/(hi-lo)
    ·256), 255).

    Scale: the codebook is dims-sized (64 rows here) — it reduces with
    map-side partial min/max and BROADCASTS back, so the vector corpus
    is scanned once and never shuffled; code assignment is a row-local
    expression. Decode (lo + (code+0.5)·(hi-lo)/256) reuses the same
    broadcast dim, so a quantized kNN touches 1/4 of the bytes."""
    e = spread(load(spark, sf_dir, "embeddings"))
    x = e.select(
        "vec_id",
        F.posexplode("embedding").alias("dim", "v"),
    ).select("vec_id", "dim", F.col("v").cast("double").alias("val"))
    mm = x.groupBy("dim").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    return x.join(F.broadcast(mm), "dim").select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.least(
            F.floor(
                (F.col("val") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * 256.0
            ),
            F.lit(255.0),
        )
        .cast("int")
        .alias("code"),
    )


# --------------------------------------------- near-dup graph centrality
# Canonical-document election signal: PageRank over the near-dup graph
# (banded simhash pairs as undirected edges). A doc that is "central"
# among its near-duplicates — closest to many variants — is the best
# keeper; min-id election (x_semdedup, q_dedup_components) is a
# convention, centrality is a quality. Iterative DataFrame linear
# algebra: each round is one join of the edge list with the current
# rank vector + one groupBy — O(iters) shuffle rounds over (edge)
# rows only, the same per-round shape as the components loop.
_PR_ITERS = 5
_PR_DAMPING = 0.85


def pagerank(edges: DataFrame, nodes: DataFrame, iters: int = _PR_ITERS,
             damping: float = _PR_DAMPING) -> DataFrame:
    """Power iteration on an undirected edge list (doc_a, doc_b).
    ``nodes`` is (doc_id); isolated nodes keep teleport-only mass.
    Fixed iteration count keeps the job graph static and deterministic
    (rank changes per round decay geometrically; 5 rounds ≈ 1e-3 on
    graphs of this diameter)."""
    sym = edges.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        edges.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    # materialize the graph once: every iteration joins sym and deg, and
    # without this the whole upstream edge pipeline (fingerprints, band
    # join) would re-execute per round — 5 rounds = 5 corpus passes
    sym = sym.localCheckpoint()
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    ).localCheckpoint()
    n = nodes.count()
    ranks = nodes.select("doc_id", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for _ in range(iters):
        contrib = (
            sym.join(deg, "src")
            .join(
                ranks.withColumnRenamed("doc_id", "src"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("c"))
        )
        ranks = (
            nodes.join(
                contrib.withColumnRenamed("dst", "doc_id"), "doc_id", "left"
            )
            .select(
                "doc_id",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
        )
        # checkpoint the lineage every round: without this the plan
        # doubles per iteration (the components loop does the same)
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


@_q("x_neardup_centrality")
def x_neardup_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank documents by PageRank centrality inside the simhash
    near-dup graph (rows-only entry: iterative — not one SQL
    expression; the numpy independent-spec equality is pinned in
    tests/test_simsearch.py)."""
    from .dedup import _SIMHASH_HAMMING_MAX, _simhash_df

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    fp = _simhash_df(docs).hint("merge")
    edges = simhash_pairs_banded(fp, _SIMHASH_HAMMING_MAX)
    nodes = docs.select("doc_id")
    return pagerank(edges, nodes).select(
        "doc_id", F.round("rank", 9).alias("rank")
    )


@_q("x_canonical_election")
def x_canonical_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical election: near-dup clusters come from the
    components loop (min-label + pointer jumping, dedup.py), the keeper
    per cluster is the member with the highest PageRank centrality in
    the near-dup graph (tie → min doc_id) instead of the min-id
    convention — the doc closest to all its variants represents them
    best. Composition of two already-verified operators; one extra
    (component)-keyed window picks the argmax.

    Scale: ranks and labels are both (doc, value) tables co-keyed on
    doc_id; the election window partitions by component, so skew is
    bounded by the largest near-dup cluster — the same bound the
    components loop already carries."""
    from .dedup import _simhash_df, lsh_components

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    comp = lsh_components(docs).select("doc_id", "component", "n_docs")
    fp = _simhash_df(docs).hint("merge")
    edges = simhash_pairs_banded(fp, 8)
    # elect on the ROUNDED rank — the same value the row publishes.
    # Ordering by the raw float invites a nondeterministic argmax: two
    # members whose ranks differ only past the 9th decimal (float
    # accumulation order varies with partitioning) would round to a tie
    # in the output yet elect by the invisible raw difference.
    ranks = pagerank(edges, docs.select("doc_id")).select(
        "doc_id", F.round("rank", 9).alias("rank")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("rank").desc(), "doc_id"
    )
    return (
        comp.join(ranks, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "component",
            "n_docs",
            "rank",
            (F.col("rn") == 1).alias("canonical"),
        )
    )


# --------------------------------------------------------- IVF-SQ8 ANN
def _decode_sq8(e: DataFrame) -> DataFrame:
    """Round-trip every vector through the int8 scalar quantizer
    (q_embed_quantize's codebook: per-dim min/max → 256 cells, decode
    at cell midpoints). Row-local against the broadcast 64-value
    codebook — no shuffle; this is what the data side of an ANN index
    stores at 1/4 the bytes."""
    mm = (
        e.select(F.posexplode("emb").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )
    lo = np.array([r.lo for r in sorted(mm, key=lambda r: r.dim)])
    hi = np.array([r.hi for r in sorted(mm, key=lambda r: r.dim)])
    bc = e.sparkSession.sparkContext.broadcast((lo, hi))

    def dec(batches):
        import pandas as _pd

        l, h = bc.value
        span = h - l
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["emb"].to_numpy())
            codes = np.minimum(np.floor((m - l) / span * 256.0), 255.0)
            out = l + (codes + 0.5) * span / 256.0
            yield _pd.DataFrame(
                {"vec_id": pdf["vec_id"], "emb": list(out)}
            )

    return e.mapInPandas(dec, schema="vec_id bigint, emb array<double>")


@_q("x_knn_ivf_sq8")  # approximate — recall-gated in tests
def x_knn_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8: the x_knn_ivf probe with the DATA side stored as
    int8-quantized vectors (decoded at cell midpoints for scoring) and
    queries kept full-precision — the memory-bounded production layout:
    coarse pruning cuts candidates to ~nprobe/k of the corpus, scalar
    quantization cuts stored bytes 4×. Composition of two verified
    operators; recall vs the exact kNN is gated in
    tests/test_simsearch.py."""
    e = _emb_double(spark, sf_dir)
    data_dec = _decode_sq8(e)
    cents = _ivf_centroids(data_dec, _IVF_K, _IVF_ITERS)
    data = _assign_clusters(data_dec, cents, 1).withColumn(
        "nrm", F.sqrt(_dot(F.col("emb"), F.col("emb")))
    )
    q = (
        _assign_clusters(
            e.where(F.col("vec_id") < _KNN_NQUERIES), cents, _IVF_NPROBE
        )
        .withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
            "cluster",
        )
    )
    cand = (
        F.broadcast(q)
        .join(data, ["cluster"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qemb", "qnrm", "vec_id", "emb", "nrm")
    )
    pairs = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qemb"), F.col("emb"))
            / (F.col("qnrm") * F.col("nrm")),
            3,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ------------------------------------------------ IVF index as a LAYOUT
# The missing half of IVF at scale: the inverted lists are not a
# runtime DataFrame — they are a STORAGE layout. Persisting the
# cluster-assigned corpus partitioned by cluster id turns every probe
# into a partition-PRUNED scan: a query touching nprobe of K cells
# opens nprobe directories and never reads the rest of the corpus.
# This is what an IVF-flat index physically is in any vector store,
# expressed as a plain partitioned parquet table (Iceberg:
# PARTITIONED BY (cluster) — identity transform).
def write_ivf_index(
    spark: SparkSession, sf_dir: str, path: str
) -> "np.ndarray":
    """Cluster the embeddings (same deterministic k-means as x_knn_ivf)
    and persist (vec_id, emb, nrm) partitioned by cluster id. Returns
    the centroid matrix — the only thing a prober needs besides the
    path. One shuffle (partitionBy on write), run once per index
    build; every subsequent probe is scan-pruned."""
    e = _emb_double(spark, sf_dir)
    cents = _ivf_centroids(e, _IVF_K, _IVF_ITERS)
    data = _assign_clusters(e, cents, 1).withColumn(
        "nrm", F.sqrt(_dot(F.col("emb"), F.col("emb")))
    )
    (
        data.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(path)
    )
    return cents


def probe_ivf_index(
    spark: SparkSession,
    path: str,
    cents: "np.ndarray",
    queries: DataFrame,
) -> DataFrame:
    """Top-k cosine ANN over a persisted IVF layout: assign each query
    vector its nprobe nearest centroids, scan ONLY those cluster
    partitions (`cluster IN (...)` reaches the scan as a partition
    filter — plan-asserted in tests/test_bucketed.py), score within
    the probed lists, take the per-query top-k.

    Scale: the filter prunes (K - nprobe)/K of the corpus at the FILE
    level before a byte is read; the surviving scan joins the
    broadcast query dim on cluster id, exactly x_knn_ivf's shape."""
    q = (
        _assign_clusters(queries, cents, _IVF_NPROBE)
        .withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
            "cluster",
        )
    )
    probed = sorted(
        {r.cluster for r in q.select("cluster").distinct().collect()}
    )
    data = spark.read.parquet(path).where(F.col("cluster").isin(probed))
    cand = (
        F.broadcast(q)
        .join(data, ["cluster"])
        .where(F.col("vec_id") != F.col("query_id"))
    )
    pairs = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qemb"), F.col("emb"))
            / (F.col("qnrm") * F.col("nrm")),
            3,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ------------------------------------------- two-stage retrieve + rerank
# The standard production vector-search shape: a CHEAP first pass over
# the compressed index (IVF coarse pruning + int8-decoded scores) keeps
# a candidate shortlist per query, then ONLY the shortlist's
# full-precision vectors are fetched and scored exactly. Quantization
# error can reorder neighbors inside the shortlist but rarely pushes a
# true neighbor out of a 5×-deeper pool — so the rerank recovers most
# of what SQ8-only loses, while the expensive exact math touches
# |queries| × _RERANK_C rows instead of the corpus.
_RERANK_C = 25  # shortlist depth (5× the final k)


@_q("x_ann_rerank")
def x_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1: x_knn_ivf_sq8's probe (decoded-int8 scores) keeps the
    top _RERANK_C per query. Stage 2: the shortlist joins back to the
    full-precision vectors by vec_id (the point-lookup fetch of a real
    vector store) and exact cosine reranks to top-_KNN_K. Recall ≥ the
    SQ8-only path is pinned in tests/test_simsearch.py."""
    e = _emb_double(spark, sf_dir)
    data_dec = _decode_sq8(e)
    cents = _ivf_centroids(data_dec, _IVF_K, _IVF_ITERS)
    data = _assign_clusters(data_dec, cents, 1).withColumn(
        "nrm", F.sqrt(_dot(F.col("emb"), F.col("emb")))
    )
    q = (
        _assign_clusters(
            e.where(F.col("vec_id") < _KNN_NQUERIES), cents, _IVF_NPROBE
        )
        .withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
            "cluster",
        )
    )
    cheap = (
        F.broadcast(q)
        .join(data, ["cluster"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qemb",
            "qnrm",
            "vec_id",
            (
                _dot(F.col("qemb"), F.col("emb"))
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("q_sim"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("q_sim"), F.asc("vec_id")
    )
    shortlist = (
        cheap.withColumn("crank", F.row_number().over(wc))
        .where(F.col("crank") <= _RERANK_C)
        .select("query_id", "qemb", "qnrm", "vec_id")
    )
    # the fetch: shortlist (|queries| × C rows — broadcastable at any
    # corpus size) joins the full-precision table by primary key
    full = e.select(
        "vec_id",
        F.col("emb").alias("femb"),
        F.sqrt(_dot(F.col("emb"), F.col("emb"))).alias("fnrm"),
    )
    exact = F.broadcast(shortlist).join(full, "vec_id")
    pairs = exact.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qemb"), F.col("femb"))
            / (F.col("qnrm") * F.col("fnrm")),
            3,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------- dedup radius sweep
# Threshold calibration for the simhash dedup: pair volume per hamming
# radius. A dedup rollout picks its radius from this curve (how many
# pairs — and therefore how many merges — each extra bit of tolerance
# admits), the same decide-from-one-pass discipline as
# q_threshold_yield for quality cutoffs.
@_q(
    "q_neardup_hist",
    f"""
    WITH pairs AS ({_DEDUP_SIMHASH_PAIRS_SQL})
    SELECT hamming, CAST(COUNT(*) AS bigint) AS n_pairs
    FROM pairs GROUP BY hamming
    """,
)
def q_neardup_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair counts per hamming distance 0..8 over the simhash near-dup
    candidate set (radii with zero pairs are absent).

    Scale — the histogram rides the production banded path
    (q_simhash_pairs_banded: pigeonhole equi-join, provably complete
    at the radius cap, no cartesian anywhere), then collapses to <= 9
    rows map-side; the oracle brute-forces all pairs, so the gate
    re-proves banded completeness radius by radius."""
    from .dedup import _SIMHASH_HAMMING_MAX, _simhash_df

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    fp = _simhash_df(docs).hint("merge")
    return (
        simhash_pairs_banded(fp, _SIMHASH_HAMMING_MAX)
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# ----------------------------------------------------- split-half drift
@_q(
    "q_embed_drift",
    """
    WITH h AS (SELECT label, CAST(vec_id % 2 AS int) AS half, embedding
               FROM embeddings),
    m AS (SELECT label, half, CAST(g.i - 1 AS int) AS dim,
                 ROUND(SUM(CAST(embedding[i] AS double)) / COUNT(*), 6)
                   AS mu,
                 CAST(COUNT(*) AS bigint) AS n
          FROM h, unnest(generate_series(1, len(embedding))) g(i)
          GROUP BY label, half, g.i),
    j AS (SELECT a.label, a.dim,
                 a.mu AS ma, b.mu AS mb, a.n AS na, b.n AS nb
          FROM m a JOIN m b
            ON a.label = b.label AND a.dim = b.dim
           AND a.half = 0 AND b.half = 1)
    SELECT label,
           CAST(MIN(na) AS bigint) AS n_a,
           CAST(MIN(nb) AS bigint) AS n_b,
           CAST(round(sqrt(list_reduce(
                  list((ma - mb) * (ma - mb) ORDER BY dim),
                  (x, y) -> x + y)) * 1000) AS bigint) AS drift_milli
    FROM j GROUP BY label
    """,
)
def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half embedding drift per label: the train/serve-skew audit
    — halve each label's vectors by the vec_id parity coin, compute both
    halves' centroids (the SAME per-(label,dim) mean rule as
    CENTROID_CTE: one double division, rounded once at 6), and report
    the Euclidean distance between them in integer milli. On an i.i.d.
    corpus the halves estimate the same mean, so drift ≈ 0 up to
    sampling noise; a pipeline bug that routes systematically different
    vectors into one path shows up as a label whose halves disagree.
    Labels present in only one half have no comparison and emit no row.

    Float discipline: half-centroids are rounded-6 doubles derived from
    identical integers+floats on both engines; the cross-dim sum runs
    as an ORDERED left fold over the dim-sorted diff list (seeded 0.0 ==
    DuckDB's seedless list_reduce — 0.0 + x is exact), so the final
    ×1000 round can never straddle engines. Scale: one (label, half,
    dim) partial agg — O(labels × 2 × dims) output — then dims-bounded
    joins; nothing touches the vector corpus twice."""
    e = spread(load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding"))
    h = e.select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("half"),
        "embedding",
    )
    m = (
        h.select(
            "label", "half", F.posexplode("embedding").alias("dim", "x")
        )
        .groupBy("label", "half", F.col("dim").cast("int").alias("dim"))
        .agg(
            F.round(
                F.sum(F.col("x").cast("double")) / F.count(F.lit(1)), 6
            ).alias("mu"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    a = m.where(F.col("half") == 0).select(
        "label", "dim", F.col("mu").alias("ma"), F.col("n").alias("na")
    )
    b = m.where(F.col("half") == 1).select(
        "label", "dim", F.col("mu").alias("mb"), F.col("n").alias("nb")
    )
    j = a.join(b, ["label", "dim"]).select(
        "label",
        "dim",
        "na",
        "nb",
        ((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))).alias(
            "sq"
        ),
    )
    fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "sq"))),
            lambda s: s.sq,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return j.groupBy("label").agg(
        F.min("na").cast("long").alias("n_a"),
        F.min("nb").cast("long").alias("n_b"),
        F.round(F.sqrt(fold) * 1000)
        .cast("long")
        .alias("drift_milli"),
    )


# ------------------------------------------------- label-margin audit
# Nearest-centroid label-noise screen: a vector whose nearest OTHER
# class prototype is closer than its own class's prototype is the
# canonical mislabel candidate (the NearestCentroid confusion rule).
# Reuses THE centroid rendering (CENTROID_CTE / _centroids_df) and the
# outlier audit's exact index-ordered distance fold, so prototype and
# metric can never drift between the outlier and margin screens.
@_q(
    "q_embed_label_margin",
    f"""
    WITH {CENTROID_CTE},
    ca AS (
      SELECT label, list(centroid ORDER BY dim) AS c
      FROM cent GROUP BY label
    ),
    d AS (
      SELECT e.vec_id, e.label, ca.label AS clabel,
             CAST(round(sqrt(list_reduce(
               list_transform(generate_series(1, len(e.embedding)),
                 i -> (CAST(e.embedding[i] AS double) - c[i])
                    * (CAST(e.embedding[i] AS double) - c[i])),
               (a, b) -> a + b)) * 1000) AS bigint) AS dist_milli
      FROM embeddings e CROSS JOIN ca
    ),
    own AS (SELECT vec_id, label, dist_milli AS own_milli
            FROM d WHERE label = clabel),
    oth AS (
      SELECT vec_id, clabel AS nearest_other, dist_milli AS other_milli
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY dist_milli, clabel) AS rn
            FROM d WHERE label <> clabel)
      WHERE rn = 1
    )
    SELECT o.vec_id, o.label, o.own_milli,
           t.nearest_other, t.other_milli,
           t.other_milli - o.own_milli AS margin_milli,
           t.other_milli < o.own_milli AS suspect
    FROM own o JOIN oth t USING (vec_id)
    """,
)
def q_embed_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector nearest-centroid margin: distance to the own-label
    prototype vs the nearest other-label prototype (both exact
    milli-quantized via the q_embed_outliers fold), the margin, and
    the suspect verdict (closer to another class than to its own) —
    the label-noise review queue, ranked by how wrong the label looks.

    Scale: the centroid dim is O(labels × 64) rows broadcast once; the
    fact side fans out ×|labels| in-row against that broadcast (the
    q_knn_cosine bounded-product pattern — |labels| is a schema
    constant, never data-proportional), the nearest-other min is a
    vec_id-keyed partial aggregation of integers, and no per-dim row
    of the fact table ever shuffles. Output is vector-grain."""
    e = spread(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        )
    )
    ca = (
        _centroids_df(e)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s["centroid"],
            ).alias("c")
        )
        .select(F.col("label").alias("clabel"), "c")
    )
    diff2 = F.zip_with(
        F.col("embedding"),
        F.col("c"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    dist_milli = (
        F.round(
            F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda a, x: a + x))
            * 1000
        )
        .cast("long")
        .alias("dist_milli")
    )
    d = e.crossJoin(F.broadcast(ca)).select(
        "vec_id", "label", "clabel", dist_milli
    )
    own = d.where(F.col("label") == F.col("clabel")).select(
        "vec_id", "label", F.col("dist_milli").alias("own_milli")
    )
    oth = (
        d.where(F.col("label") != F.col("clabel"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist_milli", "clabel")).alias("m"))
        .select(
            "vec_id",
            F.col("m.clabel").alias("nearest_other"),
            F.col("m.dist_milli").alias("other_milli"),
        )
    )
    return own.join(oth, "vec_id").select(
        "vec_id",
        "label",
        "own_milli",
        "nearest_other",
        "other_milli",
        (F.col("other_milli") - F.col("own_milli")).alias("margin_milli"),
        (F.col("other_milli") < F.col("own_milli")).alias("suspect"),
    )


# ------------------------------------------- quantized component vectors
# ONE rendering of the milli-quantized integer component list: every
# cross-engine-exact second-moment statistic (dimension correlation,
# Fisher separability) derives from the SAME floor(x·1000) integers, so
# no sum of raw floats — whose accumulation ORDER differs between
# engines — ever reaches a verdict. floor() on identical doubles is
# identical on both engines (float → double widening is exact).
_QVEC_SQL = (
    "list_transform(embedding,"
    " x -> CAST(floor(CAST(x AS double) * 1000) AS bigint))"
)


def _qvec_col():
    """Spark rendering of _QVEC_SQL (floor returns bigint already)."""
    return F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000)
    )


# --------------------------------------------- dimension correlation audit
# Embedding-capacity audit: the exact Pearson correlation between every
# pair of embedding dimensions over the milli-quantized components —
# near-±1 pairs are redundant capacity (a candidate for dim pruning /
# a projection-collapse bug); the verdict derives FROM the published
# rounded r so it can never disagree with the report.
_CORR_REDUNDANT = 0.5


@_q(
    "q_embed_dim_corr",
    f"""
    WITH q AS (SELECT vec_id, {_QVEC_SQL} AS v FROM embeddings),
    p AS (SELECT CAST(gi.i - 1 AS int) AS di, CAST(gj.j - 1 AS int) AS dj,
                 v[gi.i] AS x, v[gj.j] AS y
          FROM q, unnest(generate_series(1, len(v))) gi(i),
                  unnest(generate_series(1, len(v))) gj(j)
          WHERE gi.i < gj.j),
    s AS (SELECT di, dj, CAST(COUNT(*) AS bigint) AS n,
                 CAST(SUM(x) AS bigint) AS sx,
                 CAST(SUM(y) AS bigint) AS sy,
                 CAST(SUM(x * x) AS bigint) AS sxx,
                 CAST(SUM(y * y) AS bigint) AS syy,
                 CAST(SUM(x * y) AS bigint) AS sxy
          FROM p GROUP BY di, dj)
    SELECT di, dj, n,
           ROUND(CAST(n * sxy - sx * sy AS double)
                 / NULLIF(sqrt(CAST(n * sxx - sx * sx AS double)
                               * CAST(n * syy - sy * sy AS double)),
                          0.0), 6) AS r,
           COALESCE(abs(ROUND(CAST(n * sxy - sx * sy AS double)
                 / NULLIF(sqrt(CAST(n * sxx - sx * sx AS double)
                               * CAST(n * syy - sy * sy AS double)),
                          0.0), 6)) >= {_CORR_REDUNDANT}, FALSE)
             AS redundant
    FROM s
    """,
)
def q_embed_dim_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation r for every dimension pair (di < dj, 0-based
    to match q_embed_centroids) over the shared milli-quantized
    components, with the redundancy verdict |r| ≥ {_CORR_REDUNDANT} on
    the PUBLISHED rounded r. A constant dimension has zero variance →
    r NULL, redundant FALSE.

    Float discipline: all five sufficient statistics are EXACT bigint
    sums of quantized integers; r is one expression over those integers
    with ROUND applied once — nothing order-dependent ever crosses an
    engine boundary. Scale: the d²/2 pair expansion is IN-ROW (flatten/
    transform, codegen — never a self-join of the vector corpus) and
    collapses map-side to the O(d²) keyed frame; headroom — n·sxy stays
    under 2^63 to ~10^10 rows at |x|≤10³·|emb|, past which the sums
    move to decimal(38) accumulators; at d in the thousands the same
    statistics come from a per-partition numpy Gram accumulation
    (mapInPandas emitting one d×d partial per batch), which this
    declarative form is the oracle for."""
    e = spread(load(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    q = e.select("vec_id", _qvec_col().alias("v")).where(F.size("v") >= 2)
    from .util import inrow_pairs_expr

    p = q.select(
        F.explode(
            F.expr(
                inrow_pairs_expr(
                    "v",
                    lambda i, j: (
                        f"cast({i} - 1 as int) as di,"
                        f" cast({j} - 1 as int) as dj,"
                        f" element_at(v, {i}) as x,"
                        f" element_at(v, {j}) as y"
                    ),
                )
            )
        ).alias("pp")
    ).select("pp.*")
    s = p.groupBy("di", "dj").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    r = (
        "round(cast(n * sxy - sx * sy as double)"
        " / nullif(sqrt(cast(n * sxx - sx * sx as double)"
        " * cast(n * syy - sy * sy as double)), 0.0d), 6)"
    )
    return s.select(
        "di",
        "dj",
        "n",
        F.expr(r).alias("r"),
        F.expr(
            f"coalesce(abs({r}) >= {_CORR_REDUNDANT}d, false)"
        ).alias("redundant"),
    )


# --------------------------------------------------- Fisher separability
# Feature-selection audit: per dimension, the Fisher score — between-
# class scatter over within-class scatter of the milli-quantized
# component — ranks which embedding dimensions actually carry the label
# signal. Each label's two terms are single expressions over exact
# integers; the cross-LABEL sums run as ordered left folds over the
# label-sorted term lists (the q_embed_drift discipline), so the one
# final rounded division can never straddle engines.


@_q(
    "q_fisher_score",
    f"""
    WITH q AS (SELECT label, {_QVEC_SQL} AS v FROM embeddings),
    ld AS (SELECT label, CAST(g.i - 1 AS int) AS dim,
                  CAST(COUNT(*) AS bigint) AS nl,
                  CAST(SUM(v[i]) AS bigint) AS s,
                  CAST(SUM(v[i] * v[i]) AS bigint) AS ss
           FROM q, unnest(generate_series(1, len(v))) g(i)
           GROUP BY label, g.i),
    t AS (SELECT dim, CAST(SUM(nl) AS bigint) AS n,
                 CAST(SUM(s) AS bigint) AS st
          FROM ld GROUP BY dim),
    terms AS (SELECT ld.dim, ld.label,
                     (CAST(ld.s * t.n - t.st * ld.nl AS double)
                      * CAST(ld.s * t.n - t.st * ld.nl AS double))
                     / (CAST(ld.nl AS double) * t.n * t.n) AS tb,
                     CAST(ld.nl * ld.ss - ld.s * ld.s AS double) / ld.nl
                       AS tw
              FROM ld JOIN t USING (dim))
    SELECT dim,
           CAST(COUNT(*) AS bigint) AS n_labels,
           ROUND(list_reduce(list(tb ORDER BY label), (a, b) -> a + b)
                 / NULLIF(list_reduce(list(tw ORDER BY label),
                                      (a, b) -> a + b), 0.0), 6)
             AS fisher
    FROM terms GROUP BY dim
    """,
)
def q_fisher_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension Fisher score Σ_l n_l(μ_l − μ)² / Σ_l Σ(x − μ_l)²
    over the shared quantized components — near 0 on label-independent
    dimensions, large where a dimension separates the classes.
    Zero within-class scatter (every class constant) → NULL.

    Float discipline: per-(label, dim) sufficient statistics are exact
    bigints; each label's between/within term is one arithmetic
    expression over them (the squared numerator is formed in DOUBLE —
    both engines round the same IEEE product — because its integer form
    could exceed 2^63 at corpus scale); cross-label sums are ordered
    folds by label; ROUND once after the final division. Scale: one
    (label, dim) partial agg — O(labels × dims) output — then a
    dims-keyed rollup; the vector corpus is touched once."""
    e = spread(load(spark, sf_dir, "embeddings").select("label", "embedding"))
    q = e.select("label", _qvec_col().alias("v"))
    ld = (
        q.select("label", F.posexplode("v").alias("dim", "x"))
        .groupBy("label", F.col("dim").cast("int").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("nl"),
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
        )
    )
    t = ld.groupBy("dim").agg(
        F.sum("nl").cast("long").alias("n"),
        F.sum("s").cast("long").alias("st"),
    )
    terms = ld.join(F.broadcast(t), "dim").select(
        "dim",
        "label",
        F.expr(
            "(cast(s * n - st * nl as double)"
            " * cast(s * n - st * nl as double))"
            " / (cast(nl as double) * n * n)"
        ).alias("tb"),
        F.expr("cast(nl * ss - s * s as double) / nl").alias("tw"),
    )

    def _ordered_sum(col_name: str):
        lst = F.transform(
            F.array_sort(F.collect_list(F.struct("label", col_name))),
            lambda st: st[col_name],
        )
        return F.aggregate(lst, F.lit(0.0), lambda a, x: a + x)

    return terms.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.round(
            _ordered_sum("tb") / F.nullif(_ordered_sum("tw"), F.lit(0.0)), 6
        ).alias("fisher"),
    )


# ------------------------------------------------------------ IVF-PQ ANN
# Product quantization completes the index-layout family (LSH tables,
# IVF-flat, IVF-SQ8): data vectors are stored as M sub-codes of
# log2(Ks) bits each — 24 bytes per 64-d vector at the shipped
# (32, 64) config, ~21× smaller than float64 / ~10× than float32 —
# and scored by decode-at-codeword (algebraically identical to the
# classic ADC lookup-table sum, since the reconstruction is exactly the
# concatenated codewords). All M sub-codebooks train in ONE corpus pass
# per Lloyd iteration with the _ivf_centroids discipline: strided
# seeds, per-partition partial sums combined driver-side in sorted
# order. Determinism is exact for a FIXED partitioning; across
# partitionings the per-partition float64 partials re-associate, which
# is still exact here because the inputs are float32-origin values
# (≲40 significant bits — sums stay inside float64's 53) — the
# contract the bit-identity test pins on the shipped input type.
_PQ_M = 32     # subspaces (64 dims → 32×2)
_PQ_KS = 64    # codewords per subspace (6-bit codes → 24 B/vector)
_PQ_ITERS = 2  # Lloyd passes per subspace (all trained together)
# Config measured on the sf0.001 random-gaussian fixture (PQ's worst
# case — no cluster structure to exploit): top-5 recall 0.77 at
# (32, 64) vs 0.14 at the FAISS-default-ish (8, 16), 0.46 at (16, 32),
# 0.58 at (32, 16) — all WITHOUT refine. Real embedding corpora sit
# far above this at the same bytes. With the R=4 exact re-rank
# (x_knn_pq's IndexRefineFlat stage) the recall gate in
# tests/test_simsearch.py is 0.85 — same bar as the LSH/IVF paths.


def _pq_codebooks(
    e: DataFrame, m: int, ks: int, iters: int
) -> np.ndarray:
    """(m, ks, sub_d) codebooks — deterministic per the module-comment
    contract (exact for a fixed partitioning; across partitionings,
    exact while partial sums stay inside float64, as float32-origin
    inputs do). Update
    traffic is m×ks×sub_d floats per partition — the k-means update is
    never data-sized; at 10^12 rows this trains on a strided sample
    exactly like the coarse quantizer."""
    n = e.count()
    stride = max(1, n // ks)
    seed_ids = [i * stride for i in range(ks)]
    seeds = (
        e.where(F.col("vec_id").isin(seed_ids))
        .orderBy("vec_id")
        .limit(ks)
        .collect()
    )
    full = np.stack([np.asarray(r.emb, dtype=np.float64) for r in seeds])
    d = full.shape[1]
    if d % m != 0:
        # a truncating sub_d would leave the dim tail UNQUANTIZED (and
        # _decode_pq's output uninitialized) — refuse loudly
        raise ValueError(
            f"_pq_codebooks: m={m} must divide the vector dim {d}"
        )
    sub_d = d // m
    cents = np.stack(
        [full[:, j * sub_d : (j + 1) * sub_d] for j in range(m)]
    )  # (m, ks, sub_d)

    for _ in range(iters):
        bc = e.sparkSession.sparkContext.broadcast(cents)

        def partial(batches):
            import pandas as _pd

            c = bc.value
            mm, kk, sd = c.shape
            sums = np.zeros_like(c)
            cnts = np.zeros((mm, kk), dtype=np.int64)
            pid = -1
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["emb"].to_numpy())
                for j in range(mm):
                    xs = x[:, j * sd : (j + 1) * sd]
                    dist = ((xs[:, None, :] - c[j][None, :, :]) ** 2).sum(
                        axis=2
                    )
                    a = dist.argmin(axis=1)
                    for cl in range(kk):
                        mask = a == cl
                        if mask.any():
                            sums[j, cl] += xs[mask].sum(axis=0)
                            cnts[j, cl] += int(mask.sum())
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
            rows = []
            for j in range(mm):
                for cl in range(kk):
                    rows.append(
                        (pid, j, cl, sums[j, cl].tolist(), int(cnts[j, cl]))
                    )
            yield _pd.DataFrame(
                rows, columns=["pid", "sub", "cl", "s", "n"]
            )

        parts = e.mapInPandas(
            partial, schema="pid int, sub int, cl int, s array<double>, n long"
        ).collect()
        sums = np.zeros_like(cents)
        cnts = np.zeros((m, ks), dtype=np.int64)
        # fixed combine order → deterministic float accumulation
        for r in sorted(parts, key=lambda r: (r.sub, r.cl, r.pid)):
            sums[r.sub, r.cl] += np.asarray(r.s, dtype=np.float64)
            cnts[r.sub, r.cl] += r.n
        nz = cnts > 0
        cents[nz] = sums[nz] / cnts[nz][:, None]
    return cents


def _decode_pq(e: DataFrame, m: int = _PQ_M, ks: int = _PQ_KS) -> DataFrame:
    """Round-trip every vector through the PQ encoder: per subspace,
    code = argmin ‖sub − codeword‖², reconstruction = the codeword —
    the m·log2(ks)-bit (24 bytes at the shipped 32×64 config)
    storage an IVF-PQ index actually holds.
    Row-local against the broadcast (m×ks×sub_d) codebooks, no
    shuffle."""
    books = _pq_codebooks(e, m, ks, _PQ_ITERS)
    bc = e.sparkSession.sparkContext.broadcast(books)

    def dec(batches):
        import pandas as _pd

        c = bc.value
        mm, _, sd = c.shape
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["emb"].to_numpy())
            out = np.empty_like(x)
            for j in range(mm):
                xs = x[:, j * sd : (j + 1) * sd]
                dist = ((xs[:, None, :] - c[j][None, :, :]) ** 2).sum(axis=2)
                out[:, j * sd : (j + 1) * sd] = c[j][dist.argmin(axis=1)]
            yield _pd.DataFrame({"vec_id": pdf["vec_id"], "emb": list(out)})

    return e.mapInPandas(dec, schema="vec_id bigint, emb array<double>")


_PQ_RERANK = 4  # exact re-rank depth: PQ top-(R·k) → exact top-k


@_q("x_knn_pq")  # approximate — recall-gated in tests
def x_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-rank: the x_knn_ivf probe with the DATA
    side stored as product-quantized codes (M×Ks codebooks, decoded
    at codewords for scoring ≡ the classic ADC lookup sum) and
    queries kept full-precision — then the PQ top-(R·k) candidates
    per query re-ranked against the ORIGINAL vectors (the FAISS
    IndexRefineFlat pattern: the index stores 24-byte codes; only
    R·k·n_queries full vectors are ever fetched, via a vec_id
    equi-join that broadcasts the tiny candidate list — at 10^12
    rows the refine fetch stays O(queries), never O(corpus)). The
    coarse quantizer trains on and assigns the original vectors, so
    the approximations are (a) probed-list coverage and (b) PQ
    ranking beyond the re-rank depth. Composition of verified
    operators (coarse quantizer + inverted-list equi-join + PQ
    storage + exact refine); recall vs the exact kNN is gated in
    tests/test_simsearch.py (0.65-0.77 measured WITHOUT refine at
    the (32, 64) config on the random-gaussian worst case; 0.91
    measured / ≥0.85 gated with the R=4 refine — the refine recovers
    the ordering error PQ's 24-byte reconstruction introduces, and
    the residual misses are probed-list coverage, the same ceiling
    the IVF-flat path carries)."""
    e = _emb_double(spark, sf_dir)
    # coarse quantizer trains on and assigns the ORIGINAL vectors (the
    # index build has them; only the stored payload is quantized), so
    # list membership is exact and the only approximation is the
    # scoring reconstruction
    cents = _ivf_centroids(e, _IVF_K, _IVF_ITERS)
    assign = _assign_clusters(e, cents, 1).select("vec_id", "cluster")
    data = (
        _decode_pq(e, _PQ_M, _PQ_KS)
        .join(assign, "vec_id")
        .withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
    )
    q = (
        _assign_clusters(
            e.where(F.col("vec_id") < _KNN_NQUERIES), cents, _IVF_NPROBE
        )
        .withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
            "cluster",
        )
    )
    cand = (
        F.broadcast(q)
        .join(data, ["cluster"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qemb", "qnrm", "vec_id", "emb", "nrm")
    )
    # PQ-scored shortlist: top-(R*k) per query on the 24-byte codes —
    # full-precision cosine is NOT computed here; the codes are all
    # the index holds
    pq_pairs = cand.select(
        "query_id",
        "qemb",
        "qnrm",
        F.col("vec_id").alias("neighbor_id"),
        (
            _dot(F.col("qemb"), F.col("emb"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("pq_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("pq_sim"), F.asc("neighbor_id")
    )
    shortlist = (
        pq_pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K * _PQ_RERANK)
        .select("query_id", "qemb", "qnrm", "neighbor_id")
    )
    # exact refine: fetch ONLY the shortlisted originals (equi-join on
    # vec_id; the shortlist is queries x R*k rows — broadcast side)
    # and re-rank with the true cosine
    orig = e.select(
        F.col("vec_id").alias("o_vec_id"), F.col("emb").alias("o_emb")
    ).withColumn("o_nrm", F.sqrt(_dot(F.col("o_emb"), F.col("o_emb"))))
    refined = (
        F.broadcast(shortlist)
        .join(orig, F.col("neighbor_id") == F.col("o_vec_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qemb"), F.col("o_emb"))
                / (F.col("qnrm") * F.col("o_nrm")),
                3,
            ).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        refined.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= _KNN_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# --------------------------------------------------------------------- PCA
# Principal-component audit of the embedding table: the classic
# "how many dimensions does this embedding actually use" question an
# embedding-compression / projection-collapse review asks (the
# spectrum-level complement to q_embed_dim_corr's pairwise-r view and
# x_knn_pq's fixed-subspace quantizer). One pass over the data builds
# the d-vector sum and the d×d Gram as PER-PARTITION numpy partials
# (the _pq_codebooks sorted-combine discipline: fixed driver-side
# combine order → deterministic float accumulation for a fixed
# partitioning); the covariance eigendecomposition is O(d³) DRIVER
# work on a d×d matrix — at 10^12 rows the data-sized cost is still
# exactly one scan and the update traffic per partition is d²+d
# doubles. Covariance uses the population convention (divide by N).
_PCA_TOPK = 8  # projection width for x_pca_project


def _pca_moments(e: DataFrame) -> tuple[np.ndarray, np.ndarray, int]:
    """(sum_vec d, gram d×d, n) via per-partition numpy partials
    combined driver-side in pid order."""

    def partial(batches):
        import pandas as _pd
        from pyspark import TaskContext

        s = None
        g = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
            if s is None:
                d = x.shape[1]
                s = np.zeros(d)
                g = np.zeros((d, d))
            s += x.sum(axis=0)
            g += x.T @ x
            n += len(x)
        if s is None:
            return
        pid = TaskContext.get().partitionId()
        yield _pd.DataFrame(
            {
                "pid": [pid],
                "s": [s.tolist()],
                "g": [g.reshape(-1).tolist()],
                "n": [n],
            }
        )

    parts = e.mapInPandas(
        partial, schema="pid int, s array<double>, g array<double>, n long"
    ).collect()
    if not parts:
        raise ValueError("x_pca: empty embeddings table")
    d = len(parts[0].s)
    s = np.zeros(d)
    g = np.zeros((d, d))
    n = 0
    # fixed combine order → deterministic float accumulation
    for r in sorted(parts, key=lambda r: r.pid):
        s += np.asarray(r.s, dtype=np.float64)
        g += np.asarray(r.g, dtype=np.float64).reshape(d, d)
        n += r.n
    return s, g, n


def _pca_eig(
    e: DataFrame,
) -> tuple[np.ndarray, np.ndarray, int, np.ndarray]:
    """(eigenvalues desc, eigenvectors as columns, n, mean vector) of
    the population covariance (G − s·sᵀ/n)/n. numpy eigh is
    deterministic for a fixed input matrix; the matrix is deterministic
    for a fixed partitioning per the sorted-combine contract."""
    s, g, n = _pca_moments(e)
    cov = (g - np.outer(s, s) / n) / n
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]
    return vals[order], vecs[:, order], n, s / n


@_q("x_pca_variance")  # spectrum from a driver-side eigh — no SQL oracle
def x_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explained-variance spectrum of the embedding covariance: one row
    per principal component with the eigenvalue, its variance fraction
    and the cumulative fraction — the report that says whether a 64-d
    embedding is really a 10-d embedding (and therefore how far PQ/SQ8
    compression or a projection can go before recall falls). Negative
    eigh noise at the zero tail is clamped at −1e−9 before publishing.

    Scale: ONE data pass (per-partition d-sum + d×d Gram partials,
    d²+d doubles per partition), driver-side O(d³) eigh, O(d) output.
    """
    vals, _, n, _mu = _pca_eig(_emb_double(spark, sf_dir))
    vals = np.where(vals > -1e-9, np.maximum(vals, 0.0), vals)
    tot = float(vals.sum())
    rows = []
    cum = 0.0
    for i, v in enumerate(vals):
        frac = float(v) / tot if tot > 0 else 0.0
        cum += frac
        rows.append(
            (i, float(round(v, 9)), float(round(frac, 6)),
             float(round(cum, 6)), int(n))
        )
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["component", "eigenvalue", "evr", "cum_evr", "n"]
        ),
        schema="component int, eigenvalue double, evr double, "
        "cum_evr double, n long",
    )


@_q("x_pca_project")  # row-local matmul against broadcast components
def x_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's coordinates in the top-{_PCA_TOPK} principal
    axes plus its squared reconstruction error — the dimensionality-
    reduction path itself (what a 64→{_PCA_TOPK} compressed index or a
    2-D corpus map consumes). Projection of the CENTERED vector; the
    component matrix (d×k doubles) broadcasts; the pass is row-local —
    no shuffle at any width."""
    e = _emb_double(spark, sf_dir)
    vals, vecs, _n, mu = _pca_eig(e)
    k = min(_PCA_TOPK, vecs.shape[1])
    bc = e.sparkSession.sparkContext.broadcast((mu, vecs[:, :k].copy()))

    def project(batches):
        import pandas as _pd

        mu_, w = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["emb"].to_numpy()).astype(np.float64) - mu_
            p = x @ w
            err = ((x - p @ w.T) ** 2).sum(axis=1)
            yield _pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "proj": [row.tolist() for row in p],
                    "recon_err": err,
                }
            )

    return e.mapInPandas(
        project, schema="vec_id long, proj array<double>, recon_err double"
    )


# ------------------------------------------------ k-core decomposition
# The graph-cohesion grain after components (who merges): WHERE in a
# component each document sits. A chain-merged mega-component has a
# dense true-dup nucleus and a fringe of single-link attachments; the
# k-core level (3 = survives 3-core peeling, 2 = 2-core, 1 = edge but
# no cycle support) separates nucleus from fringe, which is exactly
# the keep/re-review split a dedup reviewer wants inside a big
# component. Peeling — repeatedly deleting every vertex of degree
# < k — yields the unique maximal k-core regardless of deletion
# order, so the simultaneous-deletion rounds below compute the same
# set a sequential peel would. Scale: every round is one edge-sized
# degree aggregation plus two semi-joins on the (doc_a, doc_b) pair
# table — never corpus-sized; rounds are bounded by the peeling
# depth (a path peels 2 vertices per round per end, so the cap is
# generous-but-loud, the min_label_components discipline).
_KCORE_MAX_ROUNDS = 100


def kcore_vertices(edges: DataFrame, k: int) -> DataFrame:
    """(doc_a, doc_b) edge table → (v) vertices of the maximal
    k-core. Iterative simultaneous peeling; see family comment."""
    e = edges.select("doc_a", "doc_b").localCheckpoint()
    prev = None
    for _ in range(_KCORE_MAX_ROUNDS):
        deg = (
            e.select(F.col("doc_a").alias("v"))
            .unionAll(e.select(F.col("doc_b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("v").localCheckpoint()
        n = keep.count()
        if n == 0:
            return keep
        if prev is not None and n == prev:
            return keep
        prev = n
        e = (
            e.join(
                keep.withColumnRenamed("v", "doc_a"), "doc_a", "left_semi"
            )
            .join(
                keep.withColumnRenamed("v", "doc_b"), "doc_b", "left_semi"
            )
            .localCheckpoint()
        )
    raise RuntimeError(
        f"kcore_vertices: no convergence in {_KCORE_MAX_ROUNDS} rounds"
    )


@_q("x_kcore")  # iterative peeling fixpoint — replay-gated in tests
def x_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, core_level) for every vertex of the hamming≤8 simhash
    near-dup graph: 3 = in the 3-core, 2 = 2-core only, 1 = edge but
    peeled from every 2-core. Edge set is exactly
    q_simhash_pairs_banded's. See family comment."""
    edges = q_simhash_pairs_banded(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    verts = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .union(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    c2 = kcore_vertices(edges, 2).withColumnRenamed("v", "doc_id")
    c3 = kcore_vertices(edges, 3).withColumnRenamed("v", "doc_id")
    return (
        verts.join(
            c2.withColumn("_in2", F.lit(1)), "doc_id", "left"
        )
        .join(c3.withColumn("_in3", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            (
                F.lit(1)
                + F.coalesce("_in2", F.lit(0))
                + F.coalesce("_in3", F.lit(0))
            )
            .cast("long")
            .alias("core_level"),
        )
    )


# ------------------------------------------------ dedup yield curve
# "If we tightened (or loosened) the near-dup threshold, how much
# would we delete?" — the threshold-sensitivity table a curation
# review reads before committing a dedup pass: for every hamming
# cutoff h ≤ the production threshold, the cumulative pair count and
# the cumulative count of documents touched by ≥1 pair. Engine
# expands each banded pair once per threshold it satisfies (edge-
# sized × ≤9 — never corpus-sized) and distincts (h, doc) for the
# doc counts; the ORACLE derives the same curve from the all-pairs
# SQL, so the gate simultaneously re-proves banded completeness at
# EVERY threshold, not just the production one.
@_q(
    "q_dedup_yield_curve",
    f"""
    WITH p AS ({_DEDUP_SIMHASH_PAIRS_SQL}),
    th AS (SELECT g.h, p.doc_a, p.doc_b
           FROM p, unnest(generate_series(0, {_SIMHASH_HAMMING_MAX})) g(h)
           WHERE p.hamming <= g.h),
    pc AS (SELECT h, CAST(COUNT(*) AS bigint) AS n_pairs_cum
           FROM th GROUP BY 1),
    dc AS (SELECT h, CAST(COUNT(DISTINCT d) AS bigint) AS n_docs_cum
           FROM (SELECT h, doc_a AS d FROM th
                 UNION SELECT h, doc_b FROM th)
           GROUP BY 1)
    SELECT CAST(g.h AS bigint) AS hamming_max,
           COALESCE(pc.n_pairs_cum, 0) AS n_pairs_cum,
           COALESCE(dc.n_docs_cum, 0) AS n_docs_cum
    FROM unnest(generate_series(0, {_SIMHASH_HAMMING_MAX})) g(h)
    LEFT JOIN pc ON pc.h = g.h
    LEFT JOIN dc ON dc.h = g.h
    """,
)
def q_dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per hamming cutoff 0..8: cumulative near-dup pairs and
    documents touched. See family comment — the gate re-proves banded
    completeness at every threshold."""
    from .dedup import _SIMHASH_HAMMING_MAX

    p = q_simhash_pairs_banded(spark, sf_dir).select(
        "doc_a", "doc_b", "hamming"
    )
    th = p.select(
        F.explode(
            F.expr(f"sequence(hamming, {_SIMHASH_HAMMING_MAX})")
        ).alias("h"),
        "doc_a",
        "doc_b",
    )
    pc = th.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs_cum")
    )
    dc = (
        th.select("h", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_cum"))
    )
    grid = spark.range(0, _SIMHASH_HAMMING_MAX + 1).select(
        F.col("id").cast("long").alias("hamming_max")
    )
    return (
        grid.join(pc.withColumnRenamed("h", "hamming_max"), "hamming_max", "left")
        .join(dc.withColumnRenamed("h", "hamming_max"), "hamming_max", "left")
        .select(
            "hamming_max",
            F.coalesce("n_pairs_cum", F.lit(0)).cast("long").alias(
                "n_pairs_cum"
            ),
            F.coalesce("n_docs_cum", F.lit(0)).cast("long").alias(
                "n_docs_cum"
            ),
        )
    )


# ------------------------------------------------ degree histogram
# The dup-storm early-warning gauge: the degree distribution of the
# near-dup graph in exact digit buckets (1 = degree 1-9, 2 = 10-99,
# … — the length of the decimal rendering, the topk_by_count
# bucketing rule). A healthy corpus concentrates in bucket 1; mass in
# bucket 3+ means template hubs are forming and the component-merge
# inflation audit (q_dup_inflation) is about to matter. Everything
# after the banded equi-join is vertex-sized.
@_q(
    "q_dup_degree_hist",
    f"""
    WITH p AS ({_DEDUP_SIMHASH_PAIRS_SQL}),
    deg AS (SELECT d, CAST(COUNT(*) AS bigint) AS deg
            FROM (SELECT doc_a AS d FROM p
                  UNION ALL SELECT doc_b FROM p)
            GROUP BY 1)
    SELECT CAST(length(CAST(deg AS varchar)) AS bigint) AS bucket,
           CAST(COUNT(*) AS bigint) AS n_docs,
           CAST(MIN(deg) AS bigint) AS min_deg,
           CAST(MAX(deg) AS bigint) AS max_deg
    FROM deg GROUP BY 1
    """,
)
def q_dup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digit-bucket degree histogram of the near-dup graph with per-
    bucket min/max degree. See family comment."""
    p = q_simhash_pairs_banded(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        p.select(F.col("doc_a").alias("d"))
        .unionAll(p.select(F.col("doc_b").alias("d")))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return deg.groupBy(
        F.length(F.col("deg").cast("string")).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("deg").cast("long").alias("min_deg"),
        F.max("deg").cast("long").alias("max_deg"),
    )
