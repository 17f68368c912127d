"""E2E rolling-ingest curation pipeline (pipeline.py): extraction's
bucket-granular resume and dedup's ledger commit COMPOSED — a crash
at any point (mid-extraction, between the layers, mid-dedup) must
leave a state from which replaying the same increment converges to
the byte-identical admitted set of a crash-free run."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from documentai_ocr_spark.incdedup import (
    DocIdError,
    committed_batches,
    rolling_fold,
)
from documentai_ocr_spark.lineage import (
    read_extracted,
    run_extraction_increment,
)
from documentai_ocr_spark.pipeline import (
    TRANSCRIPT_SCHEMA,
    read_admitted,
    run_curation_increment,
    stream_curation,
    turn_doc_id,
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


def test_importing_the_pipeline_loads_no_registry_module():
    """The increment's kernels live outside queries/: importing the
    pipeline must not load any of the registry's modules."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, documentai_ocr_spark.pipeline; print(sorted("
            "m for m in sys.modules "
            "if m.startswith('documentai_ocr_spark.queries')))",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.stdout.strip() == "[]"


# ------------------------------------------------- streaming front door

_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def _write_files(in_dir, frames):
    """One parquet file per frame, with increasing modification times:
    the file source hands files to micro-batches in mtime order."""
    os.makedirs(in_dir)
    paths = []
    for k, pdf in enumerate(frames):
        path = f"{in_dir}/part-{k:02d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf, _ARROW_SCHEMA, preserve_index=False),
            path,
        )
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
        paths.append(path)
    return paths


def _ledger(spark, out):
    return sorted(
        spark.read.parquet(f"{out}/dedup/ledger").collect(),
        key=lambda r: r["batch_seq"],
    )


def _files(d):
    """(path, size, mtime) of every file under ``d``."""
    out = []
    for r, _, fs in os.walk(d):
        for f in fs:
            st = os.stat(os.path.join(r, f))
            rel = os.path.relpath(os.path.join(r, f), d)
            out.append((rel, st.st_size, st.st_mtime_ns))
    return sorted(out)


def test_stream_curation_drain_equals_rolling_fold(spark, tmp_path):
    """12 conversations as 6 files plus a 7th that re-sends 40 of their
    turns, two files per micro-batch: every epoch commits through the
    ledger, the admitted set equals the one-shot fold over the epochs'
    extracted docs, the funnel reconciles, the re-sent turns are
    dropped, and neither a restart on the checkpoint nor a replay of a
    committed epoch changes anything."""
    pdf = synth_transcripts(n_convs=12, seed=5, skew_factor=1)
    convs = sorted(pdf["conv_id"].unique())
    frames = [pdf[pdf["conv_id"].isin(convs[i : i + 2])] for i in range(0, 12, 2)]
    frames.append(pdf.sort_values(["conv_id", "turn_idx"]).head(40))
    paths = _write_files(str(tmp_path / "in"), frames)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    stream_curation(spark, str(tmp_path / "in"), out, ckpt, 2).awaitTermination()
    led = _ledger(spark, out)
    assert [r["batch_id"] for r in led] == [f"epoch-{i}" for i in range(4)]
    for r in led:
        assert r["n_in"] == (
            r["n_exact_dropped"] + r["n_near_dropped"] + r["n_survivors"]
        )
    assert sum(r["n_exact_dropped"] for r in led) > 0

    docs = None
    for r in led:
        part = (
            read_extracted(spark, f"{out}/extract/batch-{r['batch_id']}")
            .where(F.length("text") > 0)
            .select(turn_doc_id(), "text", F.lit(r["batch_seq"]).alias("seq"))
        )
        docs = part if docs is None else docs.unionByName(part)
    want = {
        (r["batch_seq"], r["doc_id"])
        for r in rolling_fold(docs, len(led), F.col("seq")).collect()
    }
    assert _admitted(spark, out) == want
    assert len(want) == sum(r["n_survivors"] for r in led)
    # a re-sent turn is never admitted twice
    assert len({d for _, d in want}) == len(want)

    # a restart on the same checkpoint finds no new file: no epoch
    before = _files(f"{out}/dedup")
    stream_curation(spark, str(tmp_path / "in"), out, ckpt, 2).awaitTermination()
    assert committed_batches(spark, f"{out}/dedup") == [r["batch_id"] for r in led]
    # an engine replay of epoch 0 (its two files) is a ledger no-op
    again = run_curation_increment(
        spark,
        spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*paths[:2]),
        out,
        batch_id="epoch-0",
    )
    assert again == led[0].asDict()
    assert _files(f"{out}/dedup") == before


def test_stream_curation_duplicate_turn_in_one_epoch_fails_loudly(
    spark, tmp_path
):
    """A turn delivered twice inside one micro-batch gives two docs
    with one doc id: the epoch is refused with DocIdError before the
    dedup layer writes anything."""
    pdf = synth_transcripts(n_convs=2, seed=5, skew_factor=1)
    _write_files(str(tmp_path / "in"), [pdf, pdf.head(3)])
    out = str(tmp_path / "out")
    q = stream_curation(spark, str(tmp_path / "in"), out, str(tmp_path / "ckpt"))
    with pytest.raises(StreamingQueryException, match="DocIdError"):
        q.awaitTermination()
    assert not os.path.exists(f"{out}/dedup")
