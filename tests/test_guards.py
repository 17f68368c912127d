"""The O(n²) oracle anchors must refuse oversized inputs — the round-1
review found nothing stopped an all-pairs query from running against a
production-sized table."""

import pytest

import documentai_ocr_spark.queries.util as util
from documentai_ocr_spark.queries.util import guard_allpairs


def test_guard_allpairs_refuses_oversized(spark, monkeypatch):
    df = spark.range(50)
    monkeypatch.setattr(util, "ALLPAIRS_MAX_ROWS", 10)
    with pytest.raises(RuntimeError, match="O\\(n\\^2\\)"):
        guard_allpairs(df, "test_query")


def test_guard_allpairs_passes_small(spark):
    df = spark.range(50)
    assert guard_allpairs(df, "test_query") is df


def test_anchor_queries_are_guarded(spark, monkeypatch):
    """The actual anchors call the guard (not just that a guard exists)."""
    from documentai_ocr_spark.queries.dedup import q_simhash_pairs
    from documentai_ocr_spark.queries.simsearch import q_embed_neardup

    monkeypatch.setattr(util, "ALLPAIRS_MAX_ROWS", 3)
    for q in (q_simhash_pairs, q_embed_neardup):
        with pytest.raises(RuntimeError, match="capped"):
            q(spark, "/root/testdata/sf0.001")


def test_asof_strictly_prior_tie_break(spark):
    """A click at the exact same timestamp as the purchase but a LOWER
    event_id is 'prior' under the (ts, event_id) total order; one with a
    higher event_id is not — pin the tie semantics the oracle encodes."""
    import datetime

    import pandas as pd

    from documentai_ocr_spark.queries.relational import q_asof_join

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = pd.DataFrame(
        {
            "event_id": [1, 5, 9],
            "ts": [t0, t0, t0],
            "user_id": [7, 7, 7],
            "event_type": ["click", "purchase", "click"],
            "value": [1.5, 0.0, 9.9],
            "props": ["{}"] * 3,
        }
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = {r.purchase_id: r for r in q_asof_join(spark, d).collect()}
    assert out[5].click_id == 1  # same-ts lower-id click counts
    assert out[5].click_value == 1.5  # not the later 9.9 click


def test_dq_checks_fire_on_planted_violations(spark):
    """The suite must actually detect what it claims: plant a duplicate
    pk, an orphan lineitem, an n_chars mismatch, an unknown lang, and an
    out-of-range value in a tiny synthetic warehouse and expect each
    check to count exactly its planted violations."""
    import datetime
    import os
    import tempfile

    import pandas as pd

    from documentai_ocr_spark.queries.relational import q_dq_checks

    t0 = datetime.datetime(2024, 1, 1)
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "o_orderkey": [1, 1, 2],  # planted dup
                    "o_custkey": [1, 1, 1],
                    "o_orderstatus": ["F"] * 3,
                    "o_totalprice": [1.0] * 3,
                    "o_orderdate": [t0] * 3,
                    "o_orderpriority": ["1-URGENT"] * 3,
                }
            )
        ).write.parquet(os.path.join(d, "orders.parquet"))
        spark.createDataFrame(
            pd.DataFrame(
                {"l_orderkey": [1, 2, 99]}  # 99 = planted orphan
            )
        ).write.parquet(os.path.join(d, "lineitem.parquet"))
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2],
                    "text": ["abc", "defg"],
                    "lang": ["en", "xx"],       # planted bad lang
                    "source": ["s"] * 2,
                    "n_chars": [3, 99],         # planted mismatch
                }
            )
        ).write.parquet(os.path.join(d, "documents.parquet"))
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "event_id": [1, 2],
                    "ts": [t0, t0],
                    "user_id": [1, 1],
                    "event_type": ["click", "click"],
                    "value": [10.0, 9999.0],    # planted out-of-range
                    "props": ["{}"] * 2,
                }
            )
        ).write.parquet(os.path.join(d, "events.parquet"))
        got = {r.check_name: r for r in q_dq_checks(spark, d).collect()}
    assert got["orders_pk_unique"].n_violations == 1
    assert got["lineitem_order_fk"].n_violations == 1
    assert got["documents_nchars_consistent"].n_violations == 1
    assert got["documents_lang_domain"].n_violations == 1
    assert got["events_value_range"].n_violations == 1
    assert got["orders_pk_unique"].n_checked == 3


def test_asof_join_no_prior_click_yields_nulls(spark):
    """A purchase with no prior click keeps NULL click columns (left
    semantics), and a user with zero clicks entirely is still present."""
    import datetime
    import os
    import tempfile

    import pandas as pd

    from documentai_ocr_spark.queries.relational import q_asof_join

    t0 = datetime.datetime(2024, 1, 1)
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [t0, t0 + datetime.timedelta(1), t0],
            "user_id": [7, 7, 8],
            "event_type": ["purchase", "click", "purchase"],
            "value": [0.0, 1.0, 0.0],
            "props": ["{}"] * 3,
        }
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = {r.purchase_id: r for r in q_asof_join(spark, d).collect()}
    assert set(out) == {1, 3}
    assert out[1].click_id is None  # click exists but is LATER
    assert out[3].click_id is None  # user has no clicks at all


def test_backfill_dynamic_partition_overwrite(spark, tmp_path_factory):
    """Backfill semantics at scale: re-running one day with dynamic
    partition overwrite must replace ONLY that day's partition and
    leave every other day untouched (static overwrite would wipe the
    table — the classic backfill footgun)."""
    import pyspark.sql.functions as F

    base = str(tmp_path_factory.mktemp("backfill") / "t")
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("day", F.to_date(F.col("ts").cast("timestamp")))
    )
    ev.write.partitionBy("day").mode("overwrite").parquet(base)
    days = [r.day for r in ev.select("day").distinct().collect()]
    target = sorted(days)[1]
    before_total = ev.count()
    before_target = ev.where(F.col("day") == target).count()

    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # backfill: the target day recomputed with a corrected value
        (
            ev.where(F.col("day") == target)
            .withColumn("value", F.col("value") * 0 + 42.0)
            .write.partitionBy("day")
            .mode("overwrite")
            .parquet(base)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
    got = spark.read.parquet(base)
    assert got.count() == before_total
    tgt = got.where(F.col("day") == target)
    assert tgt.count() == before_target
    assert tgt.where(F.col("value") != 42.0).count() == 0
    other = got.where((F.col("day") != target) & (F.col("value") == 42.0))
    assert other.count() == 0


def test_props_stats_tolerates_malformed_json(spark):
    """Malformed JSON and missing keys must degrade to NULL (dropping
    out of sum/min/max but still counted in n) — never fail the job."""
    import datetime
    import os
    import tempfile

    import pandas as pd

    from documentai_ocr_spark.queries.relational import q_props_stats

    t0 = datetime.datetime(2024, 1, 1)
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": [t0] * 4,
            "user_id": [1] * 4,
            "event_type": ["click"] * 4,
            "value": [1.0] * 4,
            "props": ['{"k": 5}', "not json at all", '{"other": 1}', None],
        }
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = q_props_stats(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n, r.n_with_k, r.sum_k, r.min_k, r.max_k) == (4, 1, 5, 5, 5)


def test_length_quantiles_exact_is_guarded(spark, monkeypatch):
    """The exact-percentile anchor refuses oversized inputs just like
    the all-pairs anchors — percentile_approx is the scale path."""
    from documentai_ocr_spark.queries.relevance import q_length_quantiles

    monkeypatch.setattr(util, "ALLPAIRS_MAX_ROWS", 3)
    with pytest.raises(RuntimeError, match="capped"):
        q_length_quantiles(spark, "/root/testdata/sf0.001")


def test_rows_only_registry_is_exhaustive_and_named():
    """Governance: the oracle surface can only shrink LOUDLY. Every
    registered query either has a DuckDB oracle (and is named q_*) or
    appears in ROWS_ONLY with the reason it cannot be SQL-gated and
    the check that gates it instead (and is named x_*). A new
    rows-only query without a reason — or a stale reason for a query
    that gained an oracle or left the registry — fails here."""
    from documentai_ocr_spark.queries import ORACLES, QUERIES, ROWS_ONLY

    non_oracled = set(QUERIES) - set(ORACLES)
    assert non_oracled == set(ROWS_ONLY)
    for name in QUERIES:
        assert name.startswith("x_" if name in ROWS_ONLY else "q_"), name
    for name, reason in ROWS_ONLY.items():
        assert "tests/" in reason or "oracled via" in reason, name
