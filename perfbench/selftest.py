#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (about ten minutes on 4 cores).

    python3 perfbench/selftest.py

For each workload it runs ``run.py --size tiny`` twice untraced and once
traced, all with the same seed, and checks that:

* every run is correct and prints every metric BENCHMARK.json names for its
  mode, with the unit BENCHMARK.json gives;
* every end-to-end metric is above 0, and so is every per-layer metric
  except those that count or time what a healthy run may not do at all
  (``MAY_BE_ZERO``); ``ops_failed_frac`` is 0;
* the pre-built ``replay_probe`` state equals the state that real
  ``dedup_increment`` calls leave (``--verify-prebuild``);
* the exact counts (per-op dedup funnel, stored bytes per input byte,
  payload mix) repeat across the two untraced runs;
* the traced run's first (plain) increment admits exactly what the
  untraced one does, and ``extract.turns_*`` equal the recorded mix.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEED = 3
# per-layer metrics that a healthy run may leave at 0: drops, failures,
# spills and GC that need not happen, and a difference of walls
MAY_BE_ZERO = {
    "incdedup.n_exact_dropped",
    "incdedup.n_near_dropped",
    "spark.task_failures",
    "spark.spill_bytes",
    "spark.gc_s",
    "ops_failed_frac",
    "pipeline.unattributed_s",
}
# 0 on rolling_ingest when its traced op meets an empty state
STATE_METRICS = {
    "incdedup.state_rows",
    "incdedup.state_files",
    "incdedup.state_bytes",
    "incdedup.committed_batches",
}


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
        "--size", "tiny", *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def check_metrics(result: dict, spec: list[dict], where: str, may_be_zero=frozenset()) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    if set(got) != set(want):
        raise AssertionError(f"{where}: metrics {sorted(set(got) ^ set(want))} differ")
    for name, unit in want.items():
        if got[name]["unit"] != unit or not isinstance(got[name]["value"], (int, float)):
            raise AssertionError(f"{where}: {name} = {got[name]}, want unit {unit}")
        if name not in may_be_zero and not got[name]["value"] > 0:
            raise AssertionError(f"{where}: {name} = {got[name]['value']}, want > 0")


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in (w["name"] for w in bench["workloads"]):
        runs = [run(w, 0, "--verify-prebuild"), run(w, 0), run(w, 1)]
        for i, (record, result) in enumerate(runs):
            if not result["correct"] or result["failed"]:
                raise AssertionError(f"{w} run {i}: {record['problems']}")
        (rec_a, res_a), (rec_b, res_b), (rec_t, res_t) = runs
        check_metrics(res_a, bench["end_to_end"], f"{w} untraced")
        zero_ok = MAY_BE_ZERO | (STATE_METRICS if w == "rolling_ingest" else set())
        check_metrics(res_t, bench["per_layer"], f"{w} traced", zero_ok)
        if res_t["metrics"]["ops_failed_frac"]["value"] != 0:
            raise AssertionError(f"{w}: ops_failed_frac is not 0")
        if rec_a["counts"] != rec_b["counts"]:
            raise AssertionError(f"{w}: {rec_a['counts']} != {rec_b['counts']}")
        if rec_t["counts"]["funnel"][0] != rec_a["counts"]["funnel"][0]:
            raise AssertionError(f"{w}: traced run's first funnel differs from the untraced run's")
        mix = {k: res_t["metrics"][f"extract.turns_{k}"]["value"] for k in ("plain", "html", "pdfish")}
        if mix != rec_a["counts"]["mix_first_shard"]:
            raise AssertionError(f"{w}: extract.turns_* {mix} != {rec_a['counts']['mix_first_shard']}")
        print(f"{w}: ok", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
