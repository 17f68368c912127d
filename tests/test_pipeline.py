"""E2E rolling-ingest curation pipeline (pipeline.py): extraction's
bucket-granular resume and dedup's ledger commit COMPOSED — a crash
at any point (mid-extraction, between the layers, mid-dedup) must
leave a state from which replaying the same increment converges to
the byte-identical admitted set of a crash-free run."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from documentai_ocr_spark.incdedup import DocIdError, committed_batches
from documentai_ocr_spark.lineage import run_extraction_increment
from documentai_ocr_spark.pipeline import (
    read_admitted,
    run_curation_increment,
)
from documentai_ocr_spark.synth import (
    synth_transcripts,
    transcripts_from_documents,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batches(spark):
    tr = transcripts_from_documents(spark, SF).cache()
    key = F.regexp_extract("conv_id", r"(\d+)", 1).cast("long") % 2
    return [tr.where(key == k) for k in (0, 1)]


def _admitted(spark, out):
    return {
        (r["batch_seq"], r["doc_id"])
        for r in read_admitted(spark, out).collect()
    }


def test_two_batch_ingest_and_crash_replay(
    spark, batches, tmp_path_factory
):
    clean = str(tmp_path_factory.mktemp("pipe_clean"))
    st0 = run_curation_increment(spark, batches[0], clean, "b0")
    st1 = run_curation_increment(spark, batches[1], clean, "b1")
    assert st0["n_survivors"] > 0 and st1["n_survivors"] > 0
    assert st1["batch_seq"] == 1
    want = _admitted(spark, clean)
    assert len(want) == st0["n_survivors"] + st1["n_survivors"]

    # crashy run: extraction dies mid-batch (only 3 of 16 buckets
    # committed), then the increment dies BETWEEN the layers (dedup
    # data written, ledger row never appended)
    crashy = str(tmp_path_factory.mktemp("pipe_crashy"))
    n = run_extraction_increment(
        spark,
        batches[0],
        f"{crashy}/extract/batch-b0",
        max_buckets=3,
        n_buckets=16,  # MUST match the pipeline's bucket count — a
        # mismatched bucket scheme makes "committed" lie about which
        # rows are on disk
    )
    assert n == 3  # partial extraction on disk
    st = run_curation_increment(
        spark, batches[0], crashy, "b0", _crash_before_dedup_commit=True
    )
    assert st["committed"] is False
    assert _admitted(spark, crashy) == set()  # nothing admitted yet

    # straight replays converge to the clean result
    run_curation_increment(spark, batches[0], crashy, "b0")
    run_curation_increment(spark, batches[1], crashy, "b1")
    assert _admitted(spark, crashy) == want

    # and a further replay is a no-op (both layers idempotent)
    again = run_curation_increment(spark, batches[1], crashy, "b1")
    assert again["n_survivors"] == st1["n_survivors"]
    assert _admitted(spark, crashy) == want


def test_cross_batch_dedup_actually_fires(spark, batches, tmp_path_factory):
    """Feeding the SAME shard twice as two ingest batches must admit
    it once: batch 2's docs all collide with batch 1's accepted state
    (same text ⇒ same normalized hash — but note doc_ids differ only
    if conv ids differ; here they are identical convs, so the exact
    rule sees identical hashes and drops everything)."""
    out = str(tmp_path_factory.mktemp("pipe_dupshard"))
    st0 = run_curation_increment(spark, batches[0], out, "day1")
    # same transcripts, new batch id — a replayed SHARD, not a
    # replayed batch (the ledger would no-op a replayed batch id)
    # doc_ids collide too, but the exact-hash rule fires first
    st1 = run_curation_increment(spark, batches[0], out, "day2")
    assert st0["n_survivors"] > 0
    assert st1["n_survivors"] == 0
    # the drops split between the rules: a day-1 ACCEPTED doc blocks
    # its day-2 twin by hash (exact rule); a day-1 near-DROPPED doc's
    # hash is NOT in the accepted state (survivors only), so its
    # day-2 twin re-collides with the same accepted doc's bands
    # instead (near rule) — either way nothing is admitted twice
    assert st1["n_exact_dropped"] + st1["n_near_dropped"] == st1["n_in"]
    assert st1["n_exact_dropped"] >= st0["n_survivors"]


def test_bad_doc_ids_fail_before_any_state_write(spark, tmp_path_factory):
    """turn_doc_id reads the FIRST digit run of conv_id: conv_12 and
    conv_12_part_3 both map to 12 (colliding doc ids), and a
    digit-free conv id maps to NULL. Either batch must be refused
    with DocIdError before the dedup layer commits anything."""
    for conv_ids in (("conv_12", "conv_12_part_3"), ("conv_abc",)):
        pdf = synth_transcripts(n_convs=len(conv_ids), seed=1, skew_factor=1)
        pdf["conv_id"] = pdf["conv_id"].map(
            {f"conv-{c:06d}": cid for c, cid in enumerate(conv_ids)}
        )
        out = str(tmp_path_factory.mktemp("pipe_bad_ids"))
        with pytest.raises(DocIdError):
            run_curation_increment(spark, spark.createDataFrame(pdf), out, "b0")
        assert committed_batches(spark, f"{out}/dedup") == []
        assert not os.path.exists(f"{out}/dedup")  # no staging either
