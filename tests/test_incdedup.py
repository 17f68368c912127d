"""Incremental dedup against persisted signature state (round-5
verdict item 3): the state-backed rolling ingest must (a) equal the
oracled one-shot fold on the union, (b) resume batch N+1 WITHOUT
recomputing or rewriting batch ≤N signatures — pinned on the actual
state files, (c) make a crash-before-commit batch invisible to readers
and exactly recoverable, (d) be idempotent on a replayed batch id.

Reference anchor: the insert-if-absent probe + per-run seen-set
(/root/reference/ocrclient/redisdata.py:106-108,170) at corpus scale.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from documentai_ocr_spark.incdedup import (
    committed_batches,
    dedup_increment,
    read_survivors,
    rolling_fold,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .cache()
    )


def _batch(docs, k):
    return docs.where((F.col("doc_id") % 3).cast("int") == k)


def _file_census(root):
    """{relpath: (size, mtime_ns)} for every data file under root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _survivor_set(spark, state):
    return {
        (r["batch_seq"], r["doc_id"])
        for r in read_survivors(spark, state).collect()
    }


def test_increments_equal_oneshot_fold(spark, docs, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("incdedup_eq"))
    for k in range(3):
        st = dedup_increment(spark, _batch(docs, k), state, f"b{k}")
        assert st["batch_seq"] == k and st["n_survivors"] > 0
    got = _survivor_set(spark, state)
    want = {
        (r["batch_seq"], r["doc_id"])
        for r in rolling_fold(docs, 3).collect()
    }
    assert got == want
    assert len(got) > 0
    # the policy actually dropped something (the synth corpus has dups)
    assert len(got) < docs.count()


def test_resume_never_recomputes_prior_batches(spark, docs, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("incdedup_resume"))
    dedup_increment(spark, _batch(docs, 0), state, "b0")
    dedup_increment(spark, _batch(docs, 1), state, "b1")
    before = {
        sub: _file_census(os.path.join(state, sub))
        for sub in ("exact", "signatures", "survivors")
    }
    st = dedup_increment(spark, _batch(docs, 2), state, "b2")
    assert st["n_survivors"] > 0
    # batch ≤N state is byte-stable: the increment only APPENDED a new
    # batch-b2 directory; every pre-existing file is untouched
    # (size AND mtime) — i.e. nothing was recomputed or rewritten
    for sub, old in before.items():
        now = _file_census(os.path.join(state, sub))
        for rel, sig in old.items():
            assert now[rel] == sig, f"{sub}/{rel} was rewritten"
        new_files = set(now) - set(old)
        assert new_files and all("batch-b2" in f for f in new_files)
    assert committed_batches(spark, state) == ["b0", "b1", "b2"]


def test_crash_before_commit_is_invisible_and_recoverable(
    spark, docs, tmp_path_factory
):
    state = str(tmp_path_factory.mktemp("incdedup_crash"))
    dedup_increment(spark, _batch(docs, 0), state, "b0")
    after_b0 = _survivor_set(spark, state)
    st = dedup_increment(
        spark, _batch(docs, 1), state, "b1", _crash_before_commit=True
    )
    assert st["committed"] is False
    # staging exists on disk but readers only see committed batches
    assert os.path.isdir(os.path.join(state, "survivors", "batch-b1"))
    assert committed_batches(spark, state) == ["b0"]
    assert _survivor_set(spark, state) == after_b0
    # retry commits it; final state equals a clean two-batch run
    dedup_increment(spark, _batch(docs, 1), state, "b1")
    assert committed_batches(spark, state) == ["b0", "b1"]
    clean = str(tmp_path_factory.mktemp("incdedup_clean"))
    dedup_increment(spark, _batch(docs, 0), clean, "b0")
    dedup_increment(spark, _batch(docs, 1), clean, "b1")
    assert _survivor_set(spark, state) == _survivor_set(spark, clean)


def test_replayed_batch_is_a_noop(spark, docs, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("incdedup_idem"))
    first = dedup_increment(spark, _batch(docs, 0), state, "b0")
    census = _file_census(state)
    again = dedup_increment(spark, _batch(docs, 0), state, "b0")
    assert again == first
    assert _file_census(state) == census  # not even the ledger grew
    assert committed_batches(spark, state) == ["b0"]


def test_survivors_block_later_batches(spark, tmp_path_factory):
    """Closed-form: batch 0 accepts doc 1; batch 1 replays its text
    (exact rule) and a near-variant sharing every band (near rule) —
    both must drop; an unrelated doc must survive."""
    state = str(tmp_path_factory.mktemp("incdedup_block"))
    spark_df = spark.createDataFrame
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_unrelated = "one two three four five six seven eight nine ten"
    b0 = spark_df([(1, t1)], "doc_id bigint, text string")
    st0 = dedup_increment(spark, b0, state, "b0")
    assert st0["n_survivors"] == 1
    b1 = spark_df(
        [
            (10, t1),
            (11, t1.replace(" beta ", "  beta ")),
            (12, t_unrelated),
            (14, t1 + " lambda"),
        ],
        "doc_id bigint, text string",
    )
    # doc 10: exact replay → exact rule; doc 11: doubled internal
    # space — the NORMALIZED hash still matches (content_hash
    # collapses whitespace runs) → exact rule; doc 14: one appended
    # word keeps 3 of 4 MinHash bands identical (md5-deterministic)
    # → near rule; doc 12: disjoint shingles → survives
    st1 = dedup_increment(spark, b1, state, "b1")
    assert st1["n_in"] == 4
    assert st1["n_exact_dropped"] == 2
    assert st1["n_near_dropped"] == 1
    assert st1["n_survivors"] == 1
    assert _survivor_set(spark, state) == {(0, 1), (1, 12)}


# one pass per increment runs 27-30 jobs on these batches; re-running
# the whole batch plan for every action ran 66-70
INCREMENT_JOB_BUDGET = 36


def test_increment_job_budget_and_one_file_per_table(
    spark, docs, tmp_path_factory
):
    state = str(tmp_path_factory.mktemp("incdedup_budget"))
    sc = spark.sparkContext
    for k in range(3):
        group = f"incdedup_budget_b{k}"
        sc.setJobGroup(group, "dedup_increment")
        try:
            dedup_increment(spark, _batch(docs, k), state, f"b{k}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert 0 < n_jobs <= INCREMENT_JOB_BUDGET, f"b{k}: {n_jobs} jobs"
    # one part file per table and batch: the layout perfbench pre-builds
    for sub in ("exact", "signatures", "survivors"):
        for k in range(3):
            d = os.path.join(state, sub, f"batch-b{k}")
            parts = [f for f in os.listdir(d) if f.startswith("part-")]
            assert len(parts) == 1, f"{sub}/batch-b{k}: {parts}"
