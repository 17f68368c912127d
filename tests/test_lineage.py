"""Resume/checkpoint semantics: incremental runs must converge to the
same result as a single-shot run, survive a simulated crash between data
write and commit, and be idempotent once caught up."""

import pytest
from pyspark.sql import functions as F

from documentai_ocr_spark.extract import extract_turns
from documentai_ocr_spark.lineage import (
    committed_buckets,
    read_extracted,
    run_extraction_increment,
    run_to_completion,
)
from documentai_ocr_spark.synth import synth_transcripts

N_BUCKETS = 8


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(
        synth_transcripts(n_convs=20, seed=7, skew_factor=5)
    ).repartition(5)


def _result_set(df):
    return {
        (r.conv_id, r.turn_idx, r.text, r.n_spans)
        for r in df.select("conv_id", "turn_idx", "text", "n_spans").collect()
    }


@pytest.fixture(scope="module")
def oneshot(transcripts):
    return _result_set(extract_turns(transcripts))


def test_full_run_then_idempotent(spark, transcripts, oneshot, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lin") / "out")
    n = run_extraction_increment(
        spark, transcripts, out, n_buckets=N_BUCKETS
    )
    assert n == N_BUCKETS
    assert committed_buckets(spark, out) == set(range(N_BUCKETS))
    assert _result_set(read_extracted(spark, out)) == oneshot
    # caught up → rerun is a no-op
    assert run_extraction_increment(spark, transcripts, out, n_buckets=N_BUCKETS) == 0
    assert _result_set(read_extracted(spark, out)) == oneshot


def test_incremental_resume_equals_oneshot(
    spark, transcripts, oneshot, tmp_path_factory
):
    out = str(tmp_path_factory.mktemp("lin") / "out")
    # drain 3 buckets at a time → several commits
    total = run_to_completion(
        spark, transcripts, out, n_buckets=N_BUCKETS, max_buckets_per_run=3
    )
    assert total == N_BUCKETS
    assert _result_set(read_extracted(spark, out)) == oneshot
    # lineage: every bucket committed exactly once (one batch_id per bucket)
    lin = spark.read.parquet(f"{out}/lineage")
    per_bucket = (
        lin.groupBy("bucket").agg(F.countDistinct("batch_id").alias("nb")).collect()
    )
    assert all(r.nb == 1 for r in per_bucket)
    # per-partition lineage counts roll up to the dataset totals
    assert lin.agg(F.sum("n_turns")).collect()[0][0] == transcripts.count()


def test_unbounded_drain_runs_one_pass(
    spark, transcripts, tmp_path_factory, monkeypatch
):
    """Without a per-run bound the first pass takes every pending
    bucket, so the drain returns without a confirming pass (which
    would cost a lineage read and a lock round-trip to find none)."""
    import documentai_ocr_spark.lineage as lineage

    calls = []
    real = lineage.run_extraction_increment

    def counted(*args, **kwargs):
        calls.append(kwargs)
        return real(*args, **kwargs)

    monkeypatch.setattr(lineage, "run_extraction_increment", counted)
    out = str(tmp_path_factory.mktemp("lin") / "out")
    total = run_to_completion(spark, transcripts, out, n_buckets=N_BUCKETS)
    assert total == N_BUCKETS
    assert len(calls) == 1
    assert committed_buckets(spark, out) == set(range(N_BUCKETS))


def test_crash_before_commit_resumes_exactly(
    spark, transcripts, oneshot, tmp_path_factory
):
    out = str(tmp_path_factory.mktemp("lin") / "out")
    # run 1 commits 4 buckets
    run_extraction_increment(
        spark, transcripts, out, n_buckets=N_BUCKETS, max_buckets=4
    )
    # run 2 writes data for the rest but dies before the lineage commit
    run_extraction_increment(
        spark, transcripts, out, n_buckets=N_BUCKETS, _crash_before_commit=True
    )
    assert committed_buckets(spark, out) == set(range(4))
    # committed view is unaffected by the orphaned files
    partial = read_extracted(spark, out)
    assert partial.select(F.countDistinct("bucket")).collect()[0][0] == 4
    # the crashed writer left its lock behind (as a real crash would);
    # resuming requires the explicit operator force_unlock
    from documentai_ocr_spark.lineage import (
        LineageConcurrencyError,
        force_unlock,
    )

    with pytest.raises(LineageConcurrencyError):
        run_extraction_increment(spark, transcripts, out, n_buckets=N_BUCKETS)
    force_unlock(spark, out)
    # resume: reprocesses (and overwrites) the uncommitted buckets
    n = run_extraction_increment(spark, transcripts, out, n_buckets=N_BUCKETS)
    assert n == N_BUCKETS - 4
    assert _result_set(read_extracted(spark, out)) == oneshot
    # no duplicate rows despite the double write of the crashed buckets
    full = read_extracted(spark, out)
    assert full.count() == full.select("conv_id", "turn_idx").distinct().count()


def test_empty_input_commits_and_converges(spark, tmp_path):
    """A run whose pending buckets contain zero input rows must still
    commit them (zero-count lineage rows) rather than crash on schema
    inference over an empty output dir — otherwise run_to_completion
    could never converge on an empty slice."""
    from documentai_ocr_spark.pipeline import TRANSCRIPT_SCHEMA

    out = str(tmp_path / "empty_run")
    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    assert run_extraction_increment(spark, empty, out, n_buckets=8) == 8
    assert run_to_completion(spark, empty, out, n_buckets=8) == 0
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.count() == 8
    assert lin.where("n_turns = 0").count() == 8


def test_time_travel_read_asof_batch(spark, tmp_path_factory):
    """As-of reads reconstruct historical table states: after two
    incremental commits, reading as of batch 0 returns exactly the
    first increment's buckets (and their convs), as of the latest
    batch returns everything, and as of -1 returns nothing."""
    import pyspark.sql.functions as F

    from documentai_ocr_spark.lineage import (
        read_extracted,
        read_extracted_asof,
        run_extraction_increment,
    )
    from documentai_ocr_spark.synth import synth_transcripts

    out = str(tmp_path_factory.mktemp("asof") / "out")
    tr = spark.createDataFrame(
        synth_transcripts(n_convs=12, seed=3, skew_factor=1)
    )
    n1 = run_extraction_increment(
        spark, tr, out, n_buckets=8, max_buckets=3
    )
    n2 = run_extraction_increment(
        spark, tr, out, n_buckets=8, max_buckets=8
    )
    assert n1 and n2

    full = read_extracted(spark, out)
    asof0 = read_extracted_asof(spark, out, 0)
    b_full = {r.bucket for r in full.select("bucket").distinct().collect()}
    b_0 = {r.bucket for r in asof0.select("bucket").distinct().collect()}
    assert len(b_0) == 3 and b_0 < b_full
    assert asof0.count() < full.count()
    # the old snapshot's rows are byte-identical to the same rows today
    # (buckets commit once; later commits never rewrite them)
    key0 = {
        (r.conv_id, r.turn_idx, r.text)
        for r in asof0.select("conv_id", "turn_idx", "text").collect()
    }
    key_full = {
        (r.conv_id, r.turn_idx, r.text)
        for r in full.select("conv_id", "turn_idx", "text").collect()
    }
    assert key0 < key_full
    assert read_extracted_asof(spark, out, -1).count() == 0
    latest = read_extracted_asof(spark, out, 1)
    assert latest.count() == full.count()


def test_writer_lock_excludes_second_writer(
    spark, transcripts, tmp_path_factory
):
    """Single-writer guard: while one writer holds the lock a second
    increment fails loudly naming the holder; after release it runs;
    a successful run releases its own lock."""
    from documentai_ocr_spark.lineage import (
        LineageConcurrencyError,
        acquire_writer_lock,
        release_writer_lock,
    )

    out = str(tmp_path_factory.mktemp("lock") / "out")
    acquire_writer_lock(spark, out, owner="other-writer")
    with pytest.raises(LineageConcurrencyError, match="other-writer"):
        run_extraction_increment(
            spark, transcripts, out, n_buckets=N_BUCKETS, max_buckets=2
        )
    release_writer_lock(spark, out)
    assert (
        run_extraction_increment(
            spark, transcripts, out, n_buckets=N_BUCKETS, max_buckets=2
        )
        == 2
    )
    # lock released after success → the next run proceeds immediately
    assert (
        run_extraction_increment(
            spark, transcripts, out, n_buckets=N_BUCKETS, max_buckets=2
        )
        == 2
    )


def test_schema_evolution_add_column(
    spark, transcripts, oneshot, tmp_path_factory
):
    """A v2 run ADDS a column via the augment hook: v2 buckets carry
    it, v1 buckets read it as NULL through the merged-schema readers,
    the core result set is unchanged, and rule_ver records which
    batches have the new schema."""
    out = str(tmp_path_factory.mktemp("evo") / "out")
    run_extraction_increment(
        spark, transcripts, out, n_buckets=N_BUCKETS, max_buckets=4,
        rule_ver="v1",
    )
    v1_buckets = set(committed_buckets(spark, out))

    def add_quality(df):
        return df.withColumn(
            "quality_milli",
            (F.length("text") * 1000 / (F.length("text") + 1)).cast("long"),
        )

    run_extraction_increment(
        spark, transcripts, out, n_buckets=N_BUCKETS, rule_ver="v2",
        augment=add_quality,
    )
    full = read_extracted(spark, out)
    assert "quality_milli" in full.columns
    assert _result_set(full) == oneshot
    nulls = {
        r["bucket"]
        for r in full.where(F.col("quality_milli").isNull())
        .select("bucket")
        .distinct()
        .collect()
    }
    filled = {
        r["bucket"]
        for r in full.where(F.col("quality_milli").isNotNull())
        .select("bucket")
        .distinct()
        .collect()
    }
    present = {
        r["bucket"]
        for r in full.select("bucket").distinct().collect()
    }
    assert nulls == v1_buckets & present
    assert filled == present - v1_buckets
    lin = spark.read.parquet(f"{out}/lineage")
    vers = {
        r["rule_ver"] for r in lin.select("rule_ver").distinct().collect()
    }
    assert vers == {"v1", "v2"}


def test_expire_snapshots_compacts_and_fences(
    spark, transcripts, oneshot, tmp_path_factory
):
    """Snapshot expiry: per-partition lineage rows before the horizon
    collapse to bucket grain (counts, committed set, max batch_id all
    preserved), the committed view is unchanged, as-of at/after the
    horizon still works, and as-of BEFORE the horizon is refused."""
    from documentai_ocr_spark.lineage import (
        expire_snapshots,
        expired_before,
        read_extracted_asof,
    )

    out = str(tmp_path_factory.mktemp("exp") / "out")
    run_to_completion(
        spark, transcripts, out, n_buckets=N_BUCKETS, max_buckets_per_run=3
    )  # batches 0,1,2
    lin_before = spark.read.parquet(f"{out}/lineage")
    counts_before = lin_before.groupBy("bucket").agg(
        F.sum("n_turns").alias("t")
    ).collect()
    n_rows_before = lin_before.count()

    removed = expire_snapshots(spark, out, before_batch_id=2)
    assert expired_before(spark, out) == 2

    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.count() == n_rows_before - removed
    # expired batches are bucket-grain now
    assert lin.where("batch_id < 2 AND part_id <> -1").count() == 0
    # commit history, counts and committed set preserved exactly
    assert committed_buckets(spark, out) == set(range(N_BUCKETS))
    counts_after = lin.groupBy("bucket").agg(
        F.sum("n_turns").alias("t")
    ).collect()
    assert {(r["bucket"], r["t"]) for r in counts_after} == {
        (r["bucket"], r["t"]) for r in counts_before
    }
    assert _result_set(read_extracted(spark, out)) == oneshot
    # as-of at the horizon and later still works
    assert read_extracted_asof(spark, out, 2).count() > 0
    with pytest.raises(ValueError, match="expiry horizon"):
        read_extracted_asof(spark, out, 1)


def test_lineage_swap_crash_heals(spark, transcripts, tmp_path_factory):
    """A crash between the two expiry renames leaves only lineage_bak;
    the next reader heals it and sees the full committed set."""
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("heal") / "out")
    run_extraction_increment(
        spark, transcripts, out, n_buckets=N_BUCKETS, max_buckets=3
    )
    assert len(committed_buckets(spark, out)) == 3
    shutil.move(f"{out}/lineage", f"{out}/lineage_bak")
    assert not os.path.exists(f"{out}/lineage")
    # the as-of reader heals too (it has its own entry path)
    from documentai_ocr_spark.lineage import read_extracted_asof

    assert read_extracted_asof(spark, out, 0).count() > 0
    assert os.path.exists(f"{out}/lineage")
    assert len(committed_buckets(spark, out)) == 3
    # and again via the state reader after a second simulated crash
    shutil.move(f"{out}/lineage", f"{out}/lineage_bak")
    assert len(committed_buckets(spark, out)) == 3
    assert os.path.exists(f"{out}/lineage")


def test_expire_respects_writer_lock(spark, transcripts, tmp_path_factory):
    """expire_snapshots is a metadata WRITE: while a writer holds the
    lock it must refuse to run (a commit appended between the swap's
    renames would otherwise be lost)."""
    from documentai_ocr_spark.lineage import (
        LineageConcurrencyError,
        acquire_writer_lock,
        expire_snapshots,
        release_writer_lock,
    )

    out = str(tmp_path_factory.mktemp("explock") / "out")
    run_to_completion(
        spark, transcripts, out, n_buckets=N_BUCKETS, max_buckets_per_run=4
    )
    acquire_writer_lock(spark, out, owner="live-writer")
    with pytest.raises(LineageConcurrencyError, match="live-writer"):
        expire_snapshots(spark, out, before_batch_id=1)
    release_writer_lock(spark, out)
    assert expire_snapshots(spark, out, before_batch_id=1) >= 0
    # expiry releases its own lock: a writer can proceed afterwards
    assert (
        run_extraction_increment(spark, transcripts, out, n_buckets=N_BUCKETS)
        == 0
    )


def test_line_pos_guard_is_loud(spark):
    """The q_line_dedup_rewrite pos packing raises on li >= 2^20 on
    BOTH engines instead of silently colliding across documents."""
    import duckdb

    from documentai_ocr_spark.queries.corpusops import (
        _LINE_POS_SHIFT,
        _LINE_POS_SQL,
        _line_pos_col,
    )

    df = spark.createDataFrame(
        [(7, 3), (2, _LINE_POS_SHIFT)], "doc_id long, li long"
    )
    ok = df.where(F.col("li") < _LINE_POS_SHIFT).select(
        _line_pos_col().alias("pos")
    )
    assert ok.collect()[0]["pos"] == 7 * _LINE_POS_SHIFT + 3
    with pytest.raises(Exception, match="pos packing"):
        df.select(_line_pos_col().alias("pos")).collect()
    con = duckdb.connect()
    assert con.sql(
        f"SELECT {_LINE_POS_SQL} AS pos FROM (VALUES (7, 3)) t(doc_id, li)"
    ).fetchone()[0] == 7 * _LINE_POS_SHIFT + 3
    with pytest.raises(Exception, match="pos packing"):
        con.sql(
            f"SELECT {_LINE_POS_SQL} AS pos "
            f"FROM (VALUES (2, {_LINE_POS_SHIFT})) t(doc_id, li)"
        ).fetchall()
