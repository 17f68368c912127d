#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Headline: per-turn extraction throughput over the transcripts table
(derived once from $SPARK_GRAFT_SF_DIR/documents.parquet, cached as
parquet in /tmp so generation cost never pollutes the measurement),
plus representative operator queries at the same SF.

Scaling evidence (BASELINE.json north_rule: ≥0.8 throughput scaling
efficiency from N to 4N executors): the same extraction job runs on a
larger replicated input at N and 4N EXECUTOR PROCESSES —
local-cluster[N,1,m] vs local-cluster[4N,1,m]: real executor JVMs,
network shuffle, per-executor memory fences, the package shipped via
addPyFile exactly as spark-submit --py-files would. efficiency =
(throughput_4N / throughput_N) / 4. SPARK_GRAFT_SCALE_MODE=local
falls back to the round-1..3 local[N] thread mode (one JVM);
disable entirely with SPARK_GRAFT_SCALING=0.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from documentai_ocr_spark.extract import assemble_conversations, extract_turns  # noqa: E402
from documentai_ocr_spark.queries import QUERIES  # noqa: E402
from documentai_ocr_spark.session import get_spark  # noqa: E402
from documentai_ocr_spark.synth import transcripts_from_documents  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DO_SCALING = os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"
# scaling-only mode: skip the per-query headline loop (for re-measuring
# the N→4N record on a quiet box without 15 min of query timings)
ONLY_SCALING = os.environ.get("SPARK_GRAFT_ONLY_SCALING", "0") == "1"

BENCH_QUERIES = [
    "q_gaps_islands",
    "q_dedup_exact",
    "q_minhash_lsh_pairs",
    "q_minhash_lsh_pairs_capped",  # the hot-bucket-capped scale path (r5)
    "q_simhash_fingerprint",
    "q_simhash_pairs_banded",  # the dedup scale path (pigeonhole equi-join)
    "q_simhash_wide_banded",   # 120-bit variant (density-knee remedy)
    "q_knn_cosine",
    "x_knn_lsh",               # the ANN scale path (bucketed LSH)
    "q_lang_id",
    "q_winnow_fingerprint",
    "q_hysteresis_spans",       # two-threshold island decode (pure Catalyst)
    "q_extract_plain_runs",     # plain extraction runs, SQL-gated form
    "q_pdfish_line_decode",     # char-box line assembly, SQL-gated form
    "q_model_classify",         # batched model hook (singleton + broadcast)
    "q_substring_dedup",        # repeated-window span removal (corpus-wide)
    "q_epoch_shuffle",          # global rank via bucketed offsets
    "q_top_ngram_coverage",     # Gopher top-n-gram coverage
    "q_dsir_weights",           # DSIR importance weights
    "x_semdedup",               # SemDeDup within-cluster near-dup pairs
    "x_knn_ivf",                # IVF ANN (inverted-list equi-join)
    "q_dedup_components",       # LSH connected components; NOTE at bench
    #   SF its wall is dominated by ~6 driver rounds of fixed per-job
    #   overhead (~1.5 s each) — the number measures the scheduler floor,
    #   not per-row work; the scale behavior (O(log n) rounds, one
    #   shuffle per round) is pinned by tests/test_components.py
    "q_turn_supersede",         # transcript upsert: generation + turn-key window
    "q_prefix_share",           # prompt-cache planning (conv-bounded window)
]

_SF_TAG = SF_DIR.strip("/").replace("/", "_")


def _cache_transcripts(spark, turns_per_doc: int, tag: str) -> str:
    path = f"/tmp/spark_graft_bench/{_SF_TAG}_t{turns_per_doc}_{tag}.parquet"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        # 64 files so any local[N] read gets real splits (at production
        # scale the table has thousands of files/buckets anyway)
        transcripts_from_documents(
            spark, SF_DIR, turns_per_doc=turns_per_doc
        ).repartition(64).write.mode("overwrite").parquet(path)
    return path


def _force_extract(spark, path: str) -> int:
    """Run extraction end-to-end; returns turn count. The aggregate
    touches text AND spans so nothing is pruned."""
    tr = spark.read.parquet(path)
    ext = extract_turns(tr)
    row = ext.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("chars"),
        F.sum("n_spans").alias("spans"),
    ).collect()[0]
    return row["n"]


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None

    # test inputs are tiny vs the 128m default split: force enough file
    # splits that every core gets work (prod tables tune this to data)
    _SPLIT_CONFS = {
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.files.openCostInBytes": "1m",
    }
    spark = get_spark(
        app_name="bench",
        cores=CPUS,
        shuffle_partitions=CPUS * 2,
        extra=_SPLIT_CONFS,
    )
    bench_path = _cache_transcripts(spark, 12, "bench")

    queries: dict[str, float] = {}

    # warm: JVM + python workers + parquet footers
    spark.read.parquet(bench_path).count()

    def timed(fn, reps: int = 3) -> float:
        """min of N runs (k≥3) — this sandbox shows intermittent
        multi-second stalls (minutes-long degraded hypervisor windows,
        BENCH.md "Scaling methodology"); the min is the honest
        steady-state number, and with 3 reps a single noise window
        cannot manufacture a round-over-round regression."""
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return best

    n_turns = spark.read.parquet(bench_path).count()
    # 3 reps for the two headline numbers: these feed turns_per_sec and
    # the round-over-round comparison, so they get the extra noise guard
    t_extract = timed(lambda: _force_extract(spark, bench_path), reps=3)
    queries["extract_turns"] = round(t_extract, 3)

    def _assemble():
        tr = spark.read.parquet(bench_path)
        assemble_conversations(extract_turns(tr)).agg(
            F.count(F.lit(1)), F.sum(F.length("doc_text"))
        ).collect()

    queries["assemble_convs"] = round(timed(_assemble, reps=3), 3)

    if not ONLY_SCALING:
        for name in BENCH_QUERIES:
            queries[name] = round(
                timed(lambda: QUERIES[name](spark, SF_DIR).collect()), 3
            )

    result = {
        "metric": "headline_wall_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf_num,
        "turns": n_turns,
        "turns_per_sec": round(n_turns / t_extract, 1),
        "cpus": CPUS,
    }

    if DO_SCALING:
        # large enough that the local[N] run amortizes fixed job overhead —
        # scaling efficiency measures the pipeline, not the scheduler.
        # 192 turns/doc ⇒ the N=2 job runs ~60 s: ~1 s of driver planning
        # per job then biases the N→4N ratio by <2% (at 96 turns/doc the
        # bias reached ~5% — enough to drag a true ~0.9 under the 0.8 bar)
        scale_path = _cache_transcripts(spark, 192, "scaling")
        spark.stop()
        # default N=2 → 4N=8: the region where this VM's shared memory bus
        # is not yet saturated (full 1..32 curve in BENCH.md — aggregate
        # string-processing bandwidth walls near ~12 effective cores here,
        # a single-box artifact that executor-per-node clusters don't hit)
        n_small = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
        n_big = n_small * 4
        # default: REAL executor processes (separate JVMs + network
        # shuffle + per-executor memory) — N vs 4N single-core
        # executors, the literal "N and 4N executors" of the north
        # rule. "local" = the pre-round-4 thread mode (one JVM).
        scale_mode = os.environ.get("SPARK_GRAFT_SCALE_MODE", "local-cluster")
        zip_path = "/tmp/documentai_ocr_spark_bench.zip"
        if scale_mode == "local-cluster":
            # ALWAYS rebuild — a cached zip would ship stale code to
            # the executors after an edit (<1 s, not worth the risk)
            import zipfile

            pkg_root = os.path.dirname(os.path.abspath(__file__))
            with zipfile.ZipFile(zip_path, "w") as zf:
                for root, _dirs, files in os.walk(
                    os.path.join(pkg_root, "documentai_ocr_spark")
                ):
                    if "__pycache__" in root:
                        continue
                    for fn in files:
                        full = os.path.join(root, fn)
                        zf.write(full, os.path.relpath(full, pkg_root))
        time.sleep(3)  # let the stopped session's workers drain

        def one_run(cores: int, mode: str | None = None) -> float:
            """One fresh session at `cores`, one warm pass, one timed
            pass on the scale input; returns turns/sec. In
            local-cluster mode `cores` single-core executor PROCESSES
            are launched and the package zip is shipped to them via
            addPyFile (the --py-files path, not driver sys.path
            inheritance)."""
            if (mode or scale_mode) == "local-cluster":
                # SPARK_GRAFT_EXEC_CORES=2 → E executors × 2 cores
                # (local-cluster[E,2,m]): covers intra-executor task
                # parallelism + python-worker pool sharing, the
                # topology dimension E×1 executors skip (round-5
                # verdict item 6). Memory scales with cores so the
                # per-CORE execution pool stays constant across modes.
                ec = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "1"))
                s = get_spark(
                    app_name=f"bench-scale-lc{cores}x{ec}",
                    cores=cores * ec,
                    shuffle_partitions=cores * ec * 2,
                    master=f"local-cluster[{cores},{ec},{2560 * ec}]",
                    extra={
                        "spark.sql.files.maxPartitionBytes": "4m",
                        "spark.sql.files.openCostInBytes": "1m",
                        "spark.executor.memory": f"{2 * ec}g",
                    },
                )
                s.sparkContext.addPyFile(zip_path)
            else:
                s = get_spark(
                    app_name=f"bench-scale-{cores}",
                    cores=cores,
                    shuffle_partitions=cores * 2,
                    extra={
                        "spark.sql.files.maxPartitionBytes": "4m",
                        "spark.sql.files.openCostInBytes": "1m",
                    },
                )
            _force_extract(s, bench_path)  # warm JVM + python workers
            t0 = time.time()
            n = _force_extract(s, scale_path)
            tps = n / (time.time() - t0)
            s.stop()
            time.sleep(2)
            return tps

        # this box has MINUTES-long degraded windows (shared hypervisor):
        # measuring all N reps then all 4N reps lets one window poison a
        # single side and the ratio with it. Instead: 3 back-to-back
        # (N, 4N) PAIRS — a slow window hits both sides of a pair alike,
        # so the per-pair ratio cancels common-mode load; the median pair
        # is the reported efficiency and all pairs are published.
        pairs = []
        best = {n_small: 0.0, n_big: 0.0}
        for _ in range(3):
            tn = round(one_run(n_small), 1)
            tb = round(one_run(n_big), 1)
            best[n_small] = max(best[n_small], tn)
            best[n_big] = max(best[n_big], tb)
            # efficiency from the SAME rounded tps that get published,
            # so tps_4n / tps_n / (4N/N) reproduces it exactly
            pairs.append(
                {
                    "tps_n": tn,
                    "tps_4n": tb,
                    "efficiency": round((tb / tn) / (n_big / n_small), 3),
                }
            )
        # the MEDIAN pair is the record, and its raw tps values are the
        # published headline tps — so tps_4n / tps_n / 4 reproduces the
        # published efficiency exactly (best-of-run tps are published
        # separately; they generally come from different pairs)
        med = sorted(pairs, key=lambda p: p["efficiency"])[len(pairs) // 2]
        # the full-width probe is a total-machine-throughput datum,
        # not scaling evidence — always thread mode (32 executor JVMs
        # would measure launch storms, not the pipeline)
        probe_full = [CPUS] if CPUS > n_big else []
        tps = {c: one_run(c, mode="local") for c in probe_full}
        _ec = (
            int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "1"))
            if scale_mode == "local-cluster"
            else 1
        )
        result["scaling"] = {
            "mode": scale_mode,
            "executors_n": n_small if scale_mode == "local-cluster" else None,
            "executors_4n": n_big if scale_mode == "local-cluster" else None,
            "exec_cores": _ec,
            "cores_n": n_small * _ec,
            "cores_4n": n_big * _ec,
            "turns_per_sec_n": med["tps_n"],
            "turns_per_sec_4n": med["tps_4n"],
            "turns_per_sec_n_best": round(best[n_small], 1),
            "turns_per_sec_4n_best": round(best[n_big], 1),
            "efficiency": med["efficiency"],
            "efficiency_pairs": [p["efficiency"] for p in pairs],
            "pairs": pairs,
        }
        if CPUS in tps:
            result["scaling"]["turns_per_sec_full"] = round(tps[CPUS], 1)
            result["scaling"]["cores_full"] = CPUS
    else:
        spark.stop()

    print(json.dumps(result))


if __name__ == "__main__":
    main()
