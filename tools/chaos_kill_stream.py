#!/usr/bin/env python
"""Executor-loss chaos for the streaming front door.

tools/chaos_kill.py proves batch-job recovery; this tool proves the
same for ``pipeline.stream_curation`` under REAL process loss. An
executor JVM is SIGKILLed in the middle of an availableNow drain of
synthetic transcripts written as 40 parquet files (four per
micro-batch). Each micro-batch runs run_curation_increment under the
batch id ``epoch-<id>``. The standalone master relaunches the
executor, the lost tasks retry, and the drain must finish with:

  * at least 2 epochs committed in the dedup ledger;
  * each epoch's admitted set equal to incdedup.rolling_fold over the
    committed epochs' extracted turn-documents;
  * each epoch's funnel reconciling:
    n_in == n_exact_dropped + n_near_dropped + n_survivors.

Prints ONE JSON line. A failed check, no kill landing mid-drain, or a
hung drain exits nonzero.

Run: python tools/chaos_kill_stream.py
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from documentai_ocr_spark.incdedup import rolling_fold  # noqa: E402
from documentai_ocr_spark.lineage import read_extracted  # noqa: E402
from documentai_ocr_spark.pipeline import (  # noqa: E402
    read_admitted,
    stream_curation,
    turn_doc_id,
)
from documentai_ocr_spark.session import get_spark  # noqa: E402
from documentai_ocr_spark.synth import synth_transcripts  # noqa: E402

WORK = "/tmp/spark_graft_chaos_stream"
ZIP_PATH = "/tmp/documentai_ocr_spark_chaos_stream.zip"
N_FILES = 40
FILES_PER_TRIGGER = 4


def _build_zip() -> None:
    import zipfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with zipfile.ZipFile(ZIP_PATH, "w") as zf:
        for root, _d, files in os.walk(
            os.path.join(pkg_root, "documentai_ocr_spark")
        ):
            if "__pycache__" in root:
                continue
            for fn in files:
                full = os.path.join(root, fn)
                zf.write(full, os.path.relpath(full, pkg_root))


def _executor_pids() -> list[int]:
    out = subprocess.run(
        ["ps", "-eo", "pid,args"], capture_output=True, text=True
    ).stdout
    return [
        int(ln.strip().split()[0])
        for ln in out.splitlines()
        if "CoarseGrainedExecutorBackend" in ln
    ]


def _write_input(ind: str) -> int:
    """Two conversations per file, with increasing mtimes (the file
    source hands files to micro-batches in mtime order). Returns the
    number of turns written."""
    pdf = synth_transcripts(n_convs=2 * N_FILES, seed=11, skew_factor=1)
    convs = sorted(pdf["conv_id"].unique())
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
        ]
    )
    os.makedirs(ind)
    for k in range(N_FILES):
        part = pdf[pdf["conv_id"].isin(convs[2 * k : 2 * k + 2])]
        path = f"{ind}/part-{k:02d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(part, schema, preserve_index=False), path
        )
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
    return len(pdf)


def main() -> int:
    _build_zip()
    shutil.rmtree(WORK, ignore_errors=True)
    ind = f"{WORK}/in"
    out = f"{WORK}/out"
    ckpt = f"{WORK}/ckpt"
    n_turns = _write_input(ind)

    s = get_spark(
        app_name="chaos-stream",
        cores=4,
        shuffle_partitions=8,
        master="local-cluster[4,1,2560]",
        extra={"spark.executor.memory": "1g"},
    )
    s.sparkContext.addPyFile(ZIP_PATH)

    killed = {"pid": None, "t": None, "mid_drain": False}
    q_box: dict = {}

    def assassin():
        # kill once epoch 1 has started, i.e. after epoch 0 committed
        deadline = time.time() + 300
        while not os.path.exists(f"{out}/extract/batch-epoch-1"):
            if time.time() > deadline:
                return
            time.sleep(0.2)
        pids = _executor_pids()
        if pids:
            q = q_box.get("q")
            killed["mid_drain"] = bool(q is not None and q.isActive)
            os.kill(pids[0], signal.SIGKILL)
            killed["pid"] = pids[0]
            killed["t"] = round(time.time() - t0, 1)

    t0 = time.time()
    threading.Thread(target=assassin, daemon=True).start()
    q = q_box["q"] = stream_curation(s, ind, out, ckpt, FILES_PER_TRIGGER)
    finished = q.awaitTermination(600)
    wall = round(time.time() - t0, 1)
    err = q.exception()

    led = []
    if os.path.exists(f"{out}/dedup/ledger"):
        led = sorted(
            s.read.parquet(f"{out}/dedup/ledger").collect(),
            key=lambda r: r["batch_seq"],
        )
    funnel_ok = all(
        r["n_in"]
        == r["n_exact_dropped"] + r["n_near_dropped"] + r["n_survivors"]
        for r in led
    )
    fold_ok = False
    if led:
        docs = None
        for r in led:
            part = (
                read_extracted(s, f"{out}/extract/batch-{r['batch_id']}")
                .where(F.length("text") > 0)
                .select(
                    turn_doc_id(), "text", F.lit(r["batch_seq"]).alias("seq")
                )
            )
            docs = part if docs is None else docs.unionByName(part)
        want = {
            (r["batch_seq"], r["doc_id"])
            for r in rolling_fold(docs, len(led), F.col("seq")).collect()
        }
        got = {
            (r["batch_seq"], r["doc_id"])
            for r in read_admitted(s, out).collect()
        }
        fold_ok = got == want
    s.stop()

    ok = (
        finished
        and err is None
        and killed["pid"] is not None
        and killed["mid_drain"]
        and len(led) >= 2
        and funnel_ok
        and fold_ok
    )
    print(
        json.dumps(
            {
                "metric": "stream_curation_executor_kill_recovery",
                "input_files": N_FILES,
                "input_turns": n_turns,
                "drain_finished": bool(finished and err is None),
                "killed_pid": killed["pid"],
                "killed_at_sec": killed["t"],
                "killed_mid_drain": killed["mid_drain"],
                "wall_sec": wall,
                "epochs_committed": len(led),
                "docs_in": sum(r["n_in"] for r in led),
                "docs_admitted": sum(r["n_survivors"] for r in led),
                "funnel_reconciles": funnel_ok,
                "admitted_equals_rolling_fold": fold_ok,
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
