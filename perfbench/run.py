#!/usr/bin/env python3
"""Rolling-ingest benchmark: end-to-end and per-layer metrics of
``pipeline.run_curation_increment``.

    python3 perfbench/run.py --workload rolling_ingest --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. One Spark driver process, ``local[min(nproc, 4)]``,
one closed-loop client: each increment starts after the previous one has
committed. Set-up generates the seeded shards, starts the session, stages
the shards as parquet and (``replay_probe``) pre-builds the dedup state,
which also warms the code paths; ``rolling_ingest`` instead runs one
warm-up increment into a separate out dir. Then increments run
until their walls add up to ``--seconds``. After each one, untimed, the
ledger funnel must reconcile, every bucket must be committed with one
extracted row per input turn, and a sample of turns must equal
``oracle.extract_turn``; at the end the admitted set must equal
``incdedup.rolling_fold`` over the same docs. A failed check fails its op.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates plain
increments with traced replays of the three calls the increment makes
(``run_to_completion``, ``read_extracted`` + ``turn_doc_id``,
``dedup_increment``), each under its own Spark job group, and prints the
per-layer metrics read from the status store. The last stdout line is the
result JSON; the line before it records the environment and exact counts.
All temporary files live under ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import shutil
import statistics
import sys
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAX_CORES = 4
# a traced run fails when the layer walls of a replayed increment miss the
# wall of a plain increment by more than this share of it
RECONCILE_BOUND = 0.25
ORACLE_SAMPLE = 24
KERNEL_BATCH = 2048
KERNEL_REPS = 3
GEN_REPS = 2
SETUP_SHARDS = 2  # timed shards generated in set-up; more are made on demand
# empty part files one ledger append leaves beside its row: the append
# writes a one-row local DataFrame, and Spark writes a file for the first
# slice even when it is empty (checked by --verify-prebuild)
EMPTY_LEDGER_FILES = 1

E2E_UNITS = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "admitted_docs_per_s": "docs/s",
    "op_s_p50": "s",
    "cpu_s_per_kturn": "s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "extract.classify_ns_per_turn": "ns",
    "extract.plain_ns_per_turn": "ns",
    "extract.html_ns_per_turn": "ns",
    "extract.pdfish_ns_per_turn": "ns",
    "extract.batch_ns_per_turn": "ns",
    "extract.turns_plain": "count",
    "extract.turns_html": "count",
    "extract.turns_pdfish": "count",
    "extract.wall_s": "s",
    "extract.executor_cpu_s": "s",
    "extract.python_bytes_sent": "bytes",
    "extract.python_bytes_received": "bytes",
    "lineage.wall_s": "s",
    "lineage.jobs": "count",
    "lineage.write_bytes": "bytes",
    "lineage.files_written": "count",
    "lineage.buckets_committed": "count",
    "incdedup.wall_s": "s",
    "incdedup.jobs": "count",
    "incdedup.signature_s": "s",
    "incdedup.shuffle_write_bytes": "bytes",
    "incdedup.scan_rows_per_doc_in": "ratio",
    "incdedup.state_read_s": "s",
    "incdedup.probe_s": "s",
    "incdedup.state_rows": "count",
    "incdedup.state_files": "count",
    "incdedup.state_bytes": "bytes",
    "incdedup.committed_batches": "count",
    "incdedup.n_in": "count",
    "incdedup.n_exact_dropped": "count",
    "incdedup.n_near_dropped": "count",
    "incdedup.n_survivors": "count",
    "pipeline.increment_s": "s",
    "pipeline.unattributed_s": "s",
    "spark.task_failures": "count",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "ops_failed_frac": "ratio",
    "synth.gen_s": "s",
    "session.start_s": "s",
    "trace.overhead_frac": "ratio",
}


@dataclass(frozen=True)
class Workload:
    shard_convs: int  # conversations per timed increment
    warm_convs: int  # warm-up increment size; 0 when the state pre-build warms up
    base_convs: int = 0  # replay_probe: conversations behind the prior state
    base_batches: int = 0  # committed prior batches they are spread over
    replay_share: float = 0.0  # share of timed convs that re-send prior content


WORKLOADS = {
    "rolling_ingest": {
        "full": Workload(shard_convs=96, warm_convs=5),
        "tiny": Workload(shard_convs=15, warm_convs=5),
    },
    "replay_probe": {
        "full": Workload(
            shard_convs=12, warm_convs=0,
            base_convs=96, base_batches=160, replay_share=0.6,
        ),
        "tiny": Workload(
            shard_convs=8, warm_convs=0,
            base_convs=40, base_batches=4, replay_share=0.6,
        ),
    },
}
WARM_SHARD, BASE_SHARD, TIMED_SHARD0 = 1, 10, 1000


@dataclass
class Op:
    index: int
    batch_id: str
    n_turns: int
    text_bytes: int
    wall: float = 0.0
    cpu: float = 0.0
    stats: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)
    layers: dict | None = None  # traced replays only


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.wl = WORKLOADS[args.workload][args.size]
        self.work = work
        self.spark = None
        self.shards: dict[int, tuple[str, object]] = {}
        self.replay_pool: list[int] = []
        self.rss_peak = 0.0
        self.record: dict = {}

    # ------------------------------------------------------------ set-up
    def _generate(self) -> dict:
        from workloads import conv_no, make_shard

        wl, seed = self.wl, self.args.seed
        self.replay_pool = [conv_no(BASE_SHARD, c) for c in range(wl.base_convs)]
        return {
            "warm": make_shard(seed, WARM_SHARD, wl.warm_convs) if wl.warm_convs else None,
            "base": make_shard(seed, BASE_SHARD, wl.base_convs) if wl.base_convs else None,
            "timed": [self._make_timed(k) for k in range(SETUP_SHARDS)],
        }

    def _make_timed(self, k: int):
        from workloads import make_shard

        return make_shard(
            self.args.seed, TIMED_SHARD0 + k, self.wl.shard_convs,
            self.replay_pool or None, self.wl.replay_share,
        )

    def _timed_shard(self, k: int) -> tuple[str, object]:
        """(staged path, frame) of timed shard ``k``; shards past the
        set-up pool are generated and staged here, outside any timing."""
        from workloads import assert_doc_ids_unique, stage

        if k not in self.shards:
            pdf = self._make_timed(k)
            path = stage(self.spark, {TIMED_SHARD0 + k: pdf}, self.inputs)
            assert_doc_ids_unique(self.spark, self.inputs)
            self.shards[k] = (path[TIMED_SHARD0 + k], pdf)
        return self.shards[k]

    def setup(self) -> None:
        import pandas as pd

        from documentai_ocr_spark.session import get_spark
        from workloads import assert_doc_ids_unique, stage

        gen_walls, gens = [], []
        for _ in range(GEN_REPS):
            t = time.perf_counter()
            gens.append(self._generate())
            gen_walls.append(time.perf_counter() - t)
        flat = [pd.concat([g["warm"], g["base"], *g["timed"]]) for g in gens]  # None is skipped
        if not all(f.equals(flat[0]) for f in flat[1:]):
            raise RuntimeError("workload generation is not deterministic")
        inputs = gens[0]

        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cores=min(os.cpu_count() or 1, MAX_CORES),
            extra={
                "spark.local.dir": f"{self.work}/local",
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_s = time.perf_counter() - t

        t = time.perf_counter()
        spark = self.spark
        self.inputs = f"{self.work}/in"
        shards = {WARM_SHARD: inputs["warm"], BASE_SHARD: inputs["base"]}
        shards = {s: pdf for s, pdf in shards.items() if pdf is not None}
        shards.update((TIMED_SHARD0 + k, pdf) for k, pdf in enumerate(inputs["timed"]))
        paths = stage(spark, shards, self.inputs)
        for k, pdf in enumerate(inputs["timed"]):
            self.shards[k] = (paths[TIMED_SHARD0 + k], pdf)
        assert_doc_ids_unique(spark, self.inputs)
        stage_s = time.perf_counter() - t

        self.out = f"{self.work}/out"
        t = time.perf_counter()
        if inputs["base"] is not None:
            self._prebuild_state(paths[BASE_SHARD])
        prebuild_s = time.perf_counter() - t

        gen_s = median(gen_walls)
        self.setup_parts = {
            "synth.gen_s": gen_s,
            "session.start_s": session_s,
            "stage_s": stage_s,
            "prebuild_s": prebuild_s,
        }
        self.setup_s = gen_s + session_s + stage_s + prebuild_s

        # warm-up (JIT, codegen, Python workers), not timed: one increment
        # into a separate out dir, unless the state pre-build already ran the
        # extraction, write and signature paths
        t = time.perf_counter()
        if inputs["warm"] is not None:
            from documentai_ocr_spark.pipeline import run_curation_increment

            run_curation_increment(
                spark, self._read(paths[WARM_SHARD]), f"{self.work}/warm", "warm"
            )
        self.setup_parts["warmup_s"] = time.perf_counter() - t

    def _read(self, *paths: str):
        from workloads import TRANSCRIPT_SCHEMA

        return self.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*paths)

    def _prebuild_state(self, base_path: str) -> None:
        """Commit ``base_batches`` small prior batches of dedup state.

        The base shard runs through ``run_to_completion`` (which also warms
        up the extraction and write paths) and one ``batch_survivors``
        pass over all of it. Its survivors share no content hash and no
        band bucket, so ``dedup_increment`` admits each of them whatever
        batch it comes in. Prior batch ``b`` holds the survivors whose rank
        in doc_id order is ``b`` modulo ``base_batches``. The state written
        here is the state that one ``dedup_increment`` per such batch
        leaves, with ledger rows that drop nothing. It is not what
        increments over the raw base convs would leave: they would admit
        some docs this pass drops.

        Hundreds of increments would take far longer than set-up may, so
        the tables are written here in the layout of incdedup.py: per
        table and batch one ``batch-<id>`` dir with one parquet file and a
        ``_SUCCESS`` marker, and per batch one ledger file with its row plus
        the empty part file that a one-row append leaves. A change to
        that layout must change this method too: ``check_op`` fails every
        op whose real increment writes another layout, and
        ``--verify-prebuild`` compares this state with one that real
        increments build."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from documentai_ocr_spark.incdedup import (
            _EXACT_SCHEMA,
            _SIG_SCHEMA,
            LEDGER_SCHEMA,
            batch_survivors,
        )
        from documentai_ocr_spark.lineage import read_extracted, run_to_completion
        from documentai_ocr_spark.pipeline import DEFAULT_BUCKETS, turn_doc_id

        spark, state, n = self.spark, f"{self.out}/dedup", self.wl.base_batches
        base_ex = f"{self.work}/base_extract"
        run_to_completion(spark, self._read(base_path), base_ex, n_buckets=DEFAULT_BUCKETS)
        docs = read_extracted(spark, base_ex).where(F.length("text") > 0).select(turn_doc_id(), "text")
        docs = docs.localCheckpoint()
        sk, sk_bands = batch_survivors(
            docs,
            spark.createDataFrame([], _EXACT_SCHEMA),
            spark.createDataFrame([], _SIG_SCHEMA),
        )
        # both outputs in ONE action, so the plan's shared shuffles run once
        null = F.lit(None)
        both = sk.select("doc_id", "h", null.cast("int").alias("band"), null.cast("string").alias("bh"))
        both = both.unionByName(sk_bands.select("doc_id", null.cast("string").alias("h"), "band", "bh"))
        both = both.localCheckpoint()
        rank = F.row_number().over(Window.orderBy("doc_id")) - 1
        batch_of = both.where(F.col("band").isNull()).select("doc_id", (rank % n).alias("b"))
        both = both.join(batch_of, "doc_id").localCheckpoint()
        sk = both.where(F.col("band").isNull()).select("doc_id", "h", "b")
        # the admitted prior docs and their batch, kept for the checks
        self.base_admitted = docs.join(sk.select("doc_id", "b"), "doc_id")
        counts = dict(sk.groupBy("b").count().collect())
        if len(counts) != n:
            raise RuntimeError(f"{len(counts)} base survivors for {n} prior batches")
        self.base_survivors = sum(counts.values())

        coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
        was = spark.conf.get(coalesce)
        spark.conf.set(coalesce, "false")  # keep every core writing
        for sub, df in (
            ("exact", sk),
            ("signatures", both.where(F.col("h").isNull()).select("doc_id", "band", "bh", "b")),
            ("survivors", sk.select("doc_id", "b")),
        ):
            # hash-partitioned on b: one task, so one file, per batch dir
            staging = f"{state}/_{sub}_staging"
            df.repartition(2 * spark.sparkContext.defaultParallelism, "b").write.partitionBy(
                "b"
            ).parquet(staging)
            os.makedirs(f"{state}/{sub}")
            for b in range(n):
                src, dst = f"{staging}/b={b}", f"{state}/{sub}/batch-base{b}"
                os.makedirs(dst)
                for name in os.listdir(src):  # part-N-<uuid>.c000 -> -c000
                    os.rename(f"{src}/{name}", f"{dst}/{name.replace('.c000.', '-c000.')}")
                for marker in ("_SUCCESS", "._SUCCESS.crc"):
                    shutil.copy(f"{staging}/{marker}", dst)
            shutil.rmtree(staging)
        spark.conf.set(coalesce, was)

        # the ledger: one file per row, written by one task, plus the empty
        # part file that each one-row append leaves beside its row
        ledger = f"{state}/ledger"
        rows = [(b, f"base{b}", counts[b], 0, 0, counts[b]) for b in range(n)]
        spark.createDataFrame(rows, LEDGER_SCHEMA).coalesce(1).write.option(
            "maxRecordsPerFile", 1
        ).parquet(ledger)
        empty = f"{self.work}/empty_ledger"
        spark.createDataFrame([], LEDGER_SCHEMA).write.parquet(empty)
        (part,) = (f for f in os.listdir(empty) if f.startswith("part-"))
        for _ in range(n * EMPTY_LEDGER_FILES):
            name = _FILE_ID.sub(f"00000-{uuid.uuid4()}", part)
            shutil.copy(f"{empty}/{part}", f"{ledger}/{name}")
            shutil.copy(f"{empty}/.{part}.crc", f"{ledger}/.{name}.crc")
        self.base_layout = state_layout(state, "base0")

    def verify_prebuild(self) -> None:
        """Rebuild the prior state with one real ``dedup_increment`` per
        prior batch, fed that batch's survivors, and fail unless every
        table, ledger row and file layout equals the pre-built state."""
        from pyspark.sql import functions as F

        from documentai_ocr_spark.incdedup import (
            _EXACT_SCHEMA,
            _SIG_SCHEMA,
            _read_state,
            committed_batches,
            dedup_increment,
            read_survivors,
        )

        spark, state, real = self.spark, f"{self.out}/dedup", f"{self.work}/real_dedup"
        ids = committed_batches(spark, state)
        for b, batch_id in enumerate(ids):
            batch = self.base_admitted.where(F.col("b") == b).drop("b")
            dedup_increment(spark, batch, real, batch_id)
        problems = []
        if committed_batches(spark, real) != ids:
            problems.append("committed batch ids differ")
        for sub, schema in (("exact", _EXACT_SCHEMA), ("signatures", _SIG_SCHEMA)):
            for batch_id in ids:
                want = _read_state(spark, real, sub, schema, [batch_id]).collect()
                got = _read_state(spark, state, sub, schema, [batch_id]).collect()
                if sorted(want) != sorted(got):
                    problems.append(f"{sub}/batch-{batch_id} differs")
        for read in (lambda d: spark.read.parquet(f"{d}/ledger"), lambda d: read_survivors(spark, d)):
            if sorted(read(real).collect()) != sorted(read(state).collect()):
                problems.append("ledger or survivors differ")
        for batch_id in ids:
            want, got = state_layout(real, batch_id), state_layout(state, batch_id)
            if want != got:
                problems.append(f"layout of batch {batch_id}: {got} != {want}")
        if ledger_files(real) != ledger_files(state):
            problems.append("ledger file count differs")
        if problems:
            raise RuntimeError(f"pre-built state differs from real increments: {problems}")

    # ---------------------------------------------------------------- ops
    def _sample_usage(self) -> float:
        from probe import tree_usage

        cpu, rss = tree_usage()
        self.rss_peak = max(self.rss_peak, rss)
        return cpu

    def _new_op(self, k: int) -> tuple[Op, str]:
        path, pdf = self._timed_shard(k)
        op = Op(
            index=k,
            batch_id=f"t{k}",
            n_turns=len(pdf),
            text_bytes=sum(len(s.encode()) for s in pdf["text"]),
        )
        return op, path

    def plain_op(self, k: int) -> Op:
        from documentai_ocr_spark.pipeline import run_curation_increment

        op, path = self._new_op(k)
        if self.args.trace:
            self.spark.sparkContext.setJobGroup(f"op{k}.pipeline", "increment")
        cpu0 = self._sample_usage()
        t = time.perf_counter()
        op.stats = run_curation_increment(
            self.spark, self._read(path), self.out, op.batch_id
        )
        op.wall = time.perf_counter() - t
        op.cpu = self._sample_usage() - cpu0
        return op

    def traced_op(self, k: int, reader) -> Op:
        """The increment replayed as the three calls run_curation_increment
        makes, each a span under its own job group, plus attribution probes
        that are not part of the layer sum. The signature probe builds the
        content hashes and MinHash bands of every doc with the functions
        batch_survivors uses; the state probe then runs the exact and near
        rules on those signatures against the committed state. (Timing
        batch_survivors against empty and real state instead does not
        isolate the probe: against real state it skips the bands of
        exact-dropped docs, so the difference goes negative on replays.)"""
        from pyspark.sql import functions as F

        from documentai_ocr_spark.extract import extract_turns
        from documentai_ocr_spark.incdedup import (
            accepted_state,
            committed_batches,
            dedup_increment,
            exact_survivors,
            near_filter,
        )
        from documentai_ocr_spark.lineage import (
            committed_buckets,
            read_extracted,
            run_to_completion,
        )
        from documentai_ocr_spark.pipeline import DEFAULT_BUCKETS, turn_doc_id
        from documentai_ocr_spark.queries.dedup import _mh_band_df
        from documentai_ocr_spark.queries.util import content_hash_col
        from probe import dir_usage

        spark, sc = self.spark, self.spark.sparkContext
        op, path = self._new_op(k)
        ex_dir, state = f"{self.out}/extract/batch-{op.batch_id}", f"{self.out}/dedup"
        tracing = 0.0

        def span(name: str) -> None:
            nonlocal tracing
            t0 = time.perf_counter()
            sc.setJobGroup(f"op{k}.{name}", name)
            tracing += time.perf_counter() - t0

        def noop(*dfs) -> None:
            for df in dfs:
                df.write.format("noop").mode("overwrite").save()

        # probes first, on the shard's own extracted docs; then the three
        # calls run back to back, as warm as the plain increment after them
        span("probe.extract")
        t = time.perf_counter()
        probe_docs = extract_turns(self._read(path)).where(F.length("text") > 0)
        probe_docs = probe_docs.select(turn_doc_id(), "text").localCheckpoint()
        extract_s = time.perf_counter() - t
        state_files, state_bytes = dir_usage(state)
        span("probe.state")
        t = time.perf_counter()
        n_batches = len(committed_batches(spark, state))
        acc_exact, acc_bands = accepted_state(spark, state)
        state_rows = acc_exact.count() + acc_bands.count()
        state_read_s = time.perf_counter() - t
        span("probe.signature")
        t = time.perf_counter()
        hashes = probe_docs.select("doc_id", content_hash_col().alias("h")).localCheckpoint()
        bands = _mh_band_df(probe_docs).localCheckpoint()
        signature_s = time.perf_counter() - t
        span("probe.probe")
        t = time.perf_counter()
        noop(*near_filter(exact_survivors(hashes, acc_exact), bands, acc_bands))
        probe_s = time.perf_counter() - t

        cpu0 = self._sample_usage()
        t = time.perf_counter()
        span("lineage")
        run_to_completion(spark, self._read(path), ex_dir, n_buckets=DEFAULT_BUCKETS)
        span("lineage.read")
        docs = read_extracted(spark, ex_dir).where(F.length("text") > 0).select(
            turn_doc_id(), "text"
        )
        lineage_s = time.perf_counter() - t
        span("incdedup")
        t = time.perf_counter()
        op.stats = dedup_increment(spark, docs, state, op.batch_id)
        dedup_s = time.perf_counter() - t
        op.cpu = self._sample_usage() - cpu0
        op.wall = lineage_s + dedup_s

        t = time.perf_counter()
        g = {
            name: reader.group(f"op{k}.{name}")
            for name in ("lineage", "lineage.read", "incdedup")
        }
        g["probe.extract"] = reader.group(f"op{k}.probe.extract", python=True)
        tracing += time.perf_counter() - t
        span("check")
        lin = (g["lineage"], g["lineage.read"], g["incdedup"])
        op.layers = {
            "extract.wall_s": extract_s,
            "extract.executor_cpu_s": g["probe.extract"]["executorCpuTime"] / 1e9,
            "extract.python_bytes_sent": g["probe.extract"]["python_bytes_sent"],
            "extract.python_bytes_received": g["probe.extract"]["python_bytes_received"],
            "lineage.wall_s": lineage_s,
            "lineage.jobs": g["lineage"]["jobs"] + g["lineage.read"]["jobs"],
            "lineage.write_bytes": g["lineage"]["outputBytes"],
            "lineage.files_written": dir_usage(ex_dir)[0],
            "lineage.buckets_committed": len(committed_buckets(spark, ex_dir)),
            "incdedup.wall_s": dedup_s,
            "incdedup.jobs": g["incdedup"]["jobs"],
            "incdedup.signature_s": signature_s,
            "incdedup.shuffle_write_bytes": g["incdedup"]["shuffleWriteBytes"],
            "incdedup.scan_rows_per_doc_in": (
                g["incdedup"]["inputRecords"] / max(op.stats.get("n_in", 0), 1)
            ),
            "incdedup.state_read_s": state_read_s,
            "incdedup.probe_s": probe_s,
            "incdedup.state_rows": state_rows,
            "incdedup.state_files": state_files,
            "incdedup.state_bytes": state_bytes,
            "incdedup.committed_batches": n_batches,
            "spark.spill_bytes": sum(x["diskBytesSpilled"] for x in lin),
            "spark.gc_s": sum(x["jvmGcTime"] for x in lin) / 1e3,
            "tracing_s": tracing,
        }
        return op

    # ------------------------------------------------------------ checks
    def check_op(self, op: Op) -> None:
        """Untimed per-op correctness; appends to ``op.problems``."""
        from pyspark.sql import functions as F

        from documentai_ocr_spark.incdedup import committed_batches
        from documentai_ocr_spark.lineage import committed_buckets, read_extracted
        from documentai_ocr_spark.oracle import extract_turn
        from documentai_ocr_spark.pipeline import DEFAULT_BUCKETS

        st = op.stats
        if st.get("n_in") != (
            st.get("n_exact_dropped", 0) + st.get("n_near_dropped", 0)
            + st.get("n_survivors", 0)
        ):
            op.problems.append(f"ledger funnel does not reconcile: {st}")
        ex_dir = f"{self.out}/extract/batch-{op.batch_id}"
        if committed_buckets(self.spark, ex_dir) != set(range(DEFAULT_BUCKETS)):
            op.problems.append("not every bucket is committed")
        ext = read_extracted(self.spark, ex_dir)
        n = ext.count()
        if n != op.n_turns:
            op.problems.append(f"extracted {n} rows for {op.n_turns} input turns")
        if self.wl.base_batches:
            state = f"{self.out}/dedup"
            if state_layout(state, op.batch_id) != self.base_layout:
                op.problems.append("the increment wrote a state layout the pre-build does not")
            if ledger_files(state) != (1 + EMPTY_LEDGER_FILES) * len(committed_batches(self.spark, state)):
                op.problems.append("ledger files per committed batch differ from the pre-build's")
        pdf = self._timed_shard(op.index)[1]
        sample = pdf.sample(n=min(ORACLE_SAMPLE, len(pdf)), random_state=op.index)
        got = {
            (r["conv_id"], r["turn_idx"]): (r["payload_kind"], r["text"])
            for r in ext.where(F.col("conv_id").isin(sample["conv_id"].tolist()))
            .select("conv_id", "turn_idx", "payload_kind", "text")
            .collect()
        }
        for conv, t, text in zip(sample["conv_id"], sample["turn_idx"], sample["text"]):
            want = extract_turn(text)
            if got.get((conv, int(t))) != (want["payload_kind"], want["text"]):
                op.problems.append(f"{conv}/{t} differs from oracle.extract_turn")

    def check_admitted(self, ops: list[Op]) -> None:
        """The admitted set must equal ``rolling_fold`` over the same docs:
        the admitted prior docs as fold batch 0 (replay_probe; they share no
        hash or bucket, so the fold admits all of them), then one fold
        batch per committed op in commit order. Each op's admitted docs are
        read with the one-batch reader of ``read_survivors``, which itself
        would union one read per prior batch."""
        from pyspark.sql import functions as F

        from documentai_ocr_spark.incdedup import _SURV_SCHEMA, _read_state, rolling_fold
        from documentai_ocr_spark.lineage import read_extracted
        from documentai_ocr_spark.pipeline import turn_doc_id

        committed = [op for op in ops if "batch_seq" in op.stats]
        frames, offset = [], 0
        if self.wl.base_batches:
            frames.append(self.base_admitted.drop("b").withColumn("seq", F.lit(0)))
            offset = 1
        for i, op in enumerate(committed):
            ex = read_extracted(self.spark, f"{self.out}/extract/batch-{op.batch_id}")
            frames.append(
                ex.where(F.length("text") > 0)
                .select(turn_doc_id(), "text")
                .withColumn("seq", F.lit(offset + i))
            )
        if not frames:
            return
        docs = frames[0]
        for f in frames[1:]:
            docs = docs.unionByName(f)
        want: dict[int, set] = {}
        for r in rolling_fold(docs, len(frames), seq_col=F.col("seq")).collect():
            want.setdefault(r["batch_seq"], set()).add(r["doc_id"])
        if offset and len(want.get(0, ())) != self.base_survivors:
            for op in committed:
                op.problems.append("prior state differs from rolling_fold batch 0")
        for i, op in enumerate(committed):
            got = _read_state(self.spark, f"{self.out}/dedup", "survivors", _SURV_SCHEMA, [op.batch_id])
            if {r["doc_id"] for r in got.collect()} != want.get(offset + i, set()):
                op.problems.append("admitted set differs from rolling_fold")

    # --------------------------------------------------------------- run
    def run(self) -> dict:
        self.setup()
        if self.args.verify_prebuild and self.wl.base_batches:
            self.verify_prebuild()
        traced = bool(self.args.trace)
        reader = None
        if traced:
            from probe import StatusReader

            reader = StatusReader(self.spark)
        out_before = self._out_bytes()
        ops: list[Op] = []
        measured = 0.0
        k = 0
        # a traced run alternates plain increments and traced replays; it
        # needs a replay between two plain increments, because the layer
        # walls are reconciled against a plain increment that is as warm
        min_ops = 3 if traced else 1
        while measured < self.args.seconds or len(ops) < min_ops:
            op = Op(index=k, batch_id=f"t{k}", n_turns=0, text_bytes=0)
            try:
                op = self.traced_op(k, reader) if traced and k % 2 else self.plain_op(k)
                self.check_op(op)
            except Exception as e:  # noqa: BLE001 - an op failure is a result
                op.problems.append(f"{type(e).__name__}: {e}")
            ops.append(op)
            measured += op.wall
            k += 1
        t = time.perf_counter()
        self.check_admitted(ops)
        self.setup_parts["fold_check_s"] = time.perf_counter() - t
        self.stored_bytes = self._out_bytes() - out_before

        metrics = self._layer_metrics(ops, reader) if traced else self._e2e(ops)
        failed = sum(1 for op in ops if op.problems)
        self.record = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "size": self.args.size,
            "trace": self.args.trace,
            "env": environment(self.spark),
            "phases": self.setup_parts,
            "ops": [
                {"wall_s": op.wall, "traced": op.layers is not None, **op.stats}
                for op in ops
            ],
            "problems": [p for op in ops for p in op.problems],
            # counts that repeat exactly for a seed, in both modes
            "counts": {
                "funnel": [
                    [op.stats.get(k) for k in ("n_in", "n_exact_dropped", "n_near_dropped", "n_survivors")]
                    for op in ops
                ],
                "stored_bytes_per_input_byte": self.stored_ratio(ops),
                "mix_first_shard": payload_mix(self._timed_shard(0)[1]["text"]),
            },
        }
        return {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": metrics,
        }

    def _out_bytes(self) -> int:
        from probe import dir_usage

        return dir_usage(self.out)[1]

    def stored_ratio(self, ops: list[Op]) -> float:
        return self.stored_bytes / max(sum(op.text_bytes for op in ops), 1)

    def _e2e(self, ops: list[Op]) -> dict:
        total = sum(op.wall for op in ops) or float("nan")
        turns = sum(op.n_turns for op in ops)
        values = {
            "setup_s": self.setup_s,
            "turns_per_s": turns / total,
            "admitted_docs_per_s": sum(op.stats.get("n_survivors", 0) for op in ops) / total,
            "op_s_p50": median([op.wall for op in ops]),
            "cpu_s_per_kturn": sum(op.cpu for op in ops) / (turns / 1e3),
            "stored_bytes_per_input_byte": self.stored_ratio(ops),
            "peak_rss_mb": self.rss_peak,
        }
        return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}

    def _layer_metrics(self, ops: list[Op], reader) -> dict:
        traced = [op for op in ops if op.layers]
        plain = [op for op in ops if op.layers is None and op.wall
                 and traced and op.index > traced[0].index]
        if not traced or not plain:
            raise RuntimeError(f"no successful traced and plain increment: {[op.problems for op in ops]}")
        values = {}
        for name in LAYER_UNITS:
            samples = [op.layers[name] for op in traced if name in op.layers]
            if samples:
                values[name] = median(samples)
        first = traced[0]
        for key in ("n_in", "n_exact_dropped", "n_near_dropped", "n_survivors"):
            values[f"incdedup.{key}"] = first.stats[key]
        values.update(kernel_timings(self._timed_shard(0)[1]))

        increment_s = median([op.wall for op in plain])
        layer_sum = median([op.layers["lineage.wall_s"] + op.layers["incdedup.wall_s"]
                            for op in traced])
        values["pipeline.increment_s"] = increment_s
        values["pipeline.unattributed_s"] = increment_s - layer_sum
        if abs(increment_s - layer_sum) > RECONCILE_BOUND * increment_s:
            first.problems.append(
                f"layer walls {layer_sum:.3f} s miss the increment wall "
                f"{increment_s:.3f} s by more than {RECONCILE_BOUND:.0%}"
            )
        values["trace.overhead_frac"] = (
            median([op.layers["tracing_s"] for op in traced]) / increment_s
        )
        values["spark.task_failures"] = sum(
            reader.group(f"op{op.index}.{g}")["task_failures"]
            for op in ops
            for g in ("pipeline", "lineage", "lineage.read", "incdedup")
        )
        values["ops_failed_frac"] = sum(1 for op in ops if op.problems) / len(ops)
        values["synth.gen_s"] = self.setup_parts["synth.gen_s"]
        values["session.start_s"] = self.setup_parts["session.start_s"]
        return {k: {"value": values[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None


_FILE_ID = re.compile(r"\d{5}-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def state_layout(state: str, batch_id: str) -> dict:
    """Per dedup state table, the file-name shapes in one batch's dir, with
    part numbers and uuids masked."""
    out = {}
    for table in sorted(os.listdir(state)):
        d = os.path.join(state, table, f"batch-{batch_id}")
        if os.path.isdir(d):
            out[table] = sorted({_FILE_ID.sub("#", f) for f in os.listdir(d)})
    return out


def ledger_files(state: str) -> int:
    return sum(1 for f in os.listdir(f"{state}/ledger") if f.startswith("part-"))


def payload_mix(texts) -> dict:
    """Turns per payload kind, as ``classify_payload_batch`` sees them."""
    from documentai_ocr_spark.extract.core import classify_payload_batch

    kinds = classify_payload_batch(texts.reset_index(drop=True)).value_counts()
    return {k: int(kinds.get(k, 0)) for k in ("plain", "html", "pdfish")}


def kernel_timings(pdf) -> dict:
    """Driver-side ns/turn of the extraction kernels on KERNEL_BATCH-row
    batches of the shard's own texts, with one Arrow thread as in a Spark
    Python worker; median of KERNEL_REPS passes. Also the payload mix."""
    from documentai_ocr_spark.extract.core import classify_payload_batch, extract_batch
    from documentai_ocr_spark.extract.textops import (
        extract_html_batch,
        extract_pdfish_batch,
        extract_plain_batch,
        pin_arrow_pools,
    )
    from documentai_ocr_spark.rules import PAYLOAD_HTML, PAYLOAD_PDFISH, PAYLOAD_PLAIN

    pin_arrow_pools()
    kernels = {
        "plain": (PAYLOAD_PLAIN, extract_plain_batch),
        "html": (PAYLOAD_HTML, extract_html_batch),
        "pdfish": (PAYLOAD_PDFISH, extract_pdfish_batch),
    }
    batches = [
        pdf.iloc[i : i + KERNEL_BATCH].reset_index(drop=True)
        for i in range(0, len(pdf), KERNEL_BATCH)
    ]
    reps = []
    counts = payload_mix(pdf["text"])
    for _ in range(KERNEL_REPS):
        ns = dict.fromkeys(["classify", "batch", *kernels], 0)
        for b in batches:
            t = time.perf_counter_ns()
            kinds = classify_payload_batch(b["text"])
            ns["classify"] += time.perf_counter_ns() - t
            for name, (kind, fn) in kernels.items():
                mask = (kinds == kind).to_numpy()
                if mask.any():
                    sub = b["text"][mask].reset_index(drop=True)
                    t = time.perf_counter_ns()
                    fn(sub)
                    ns[name] += time.perf_counter_ns() - t
            t = time.perf_counter_ns()
            extract_batch(b)
            ns["batch"] += time.perf_counter_ns() - t
        reps.append(ns)
    n = len(pdf)
    per = {k: median([r[k] for r in reps]) for k in reps[0]}
    out = {
        "extract.classify_ns_per_turn": per["classify"] / n,
        "extract.batch_ns_per_turn": per["batch"] / n,
    }
    for name in kernels:
        out[f"extract.{name}_ns_per_turn"] = per[name] / max(counts[name], 1)
        out[f"extract.turns_{name}"] = counts[name]
    return out


def environment(spark) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": platform.python_version(),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (it exits when its stdin
    closes), and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: the self-test's sizes")
    p.add_argument("--verify-prebuild", action="store_true",
                   help="compare the pre-built dedup state with real increments")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "documentai_ocr_spark" / "__init__.py").is_file():
        print(f"perfbench: no documentai_ocr_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # Python workers import the package from the checkout, and every
    # temporary file (JVM and Python ones included) stays in ``work``
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    sys.path.insert(0, str(ROOT))

    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()
    print(json.dumps({"record": bench.record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
