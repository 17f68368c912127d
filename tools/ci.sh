#!/usr/bin/env bash
# One-command CI: reproduces the full evidence chain behind the
# verdict, exiting nonzero on ANY stage failure.
#
#   1. full oracle gate      — every oracled query vs DuckDB at sf0.01
#                              (value-hash equality; rows-only entries
#                              checked non-empty)
#   2. plan audit            — registry-wide physical-plan audit; any
#                              unguarded cartesian / corpus-constant
#                              window is a failure
#   3. pytest                — the whole test suite
#   4. bench smoke           — the headline extraction pipeline +
#                              bench queries at sf0.001, scaling off
#                              (the per-round scaling record is a
#                              separate, longer `python bench.py` run)
#   5. perfbench self-test   — both rolling-ingest workloads at tiny
#                              size: admitted docs == rolling_fold,
#                              and the replay_probe pre-built state ==
#                              the state real increments leave
#                              (--verify-prebuild); --fast runs only
#                              that pre-build check, on one tiny
#                              replay_probe run, so a change to the
#                              ledger or state layout perfbench pins
#                              fails fast CI too
#
# Usage: tools/ci.sh [--fast]
#   --fast: oracle gate at sf0.001, pytest -x (first failure stops),
#           one tiny replay_probe run with --verify-prebuild instead of
#           the perfbench self-test
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"

FAST=0
[ "${1:-}" = "--fast" ] && FAST=1

if [ "$FAST" = 1 ]; then
  GATE_SF=/root/testdata/sf0.001
  PYTEST_ARGS=(-x -q)
else
  GATE_SF=/root/testdata/sf0.01
  PYTEST_ARGS=(-q)
fi

echo "=== [1/5] oracle gate ($GATE_SF) ==="
python tools/check_queries.py "$GATE_SF" 2>/dev/null | tail -3

echo "=== [2/5] plan audit ==="
python tools/plan_audit.py 2>/dev/null | tail -3

echo "=== [3/5] pytest ==="
python -m pytest tests/ "${PYTEST_ARGS[@]}"

echo "=== [4/5] bench smoke (sf0.001, scaling off) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_SCALING=0 \
  python bench.py 2>/dev/null | tail -1

if [ "$FAST" = 0 ]; then
  echo "=== [5/5] perfbench self-test ==="
  python3 perfbench/selftest.py
else
  echo "=== [5/5] perfbench pre-build check (replay_probe, tiny) ==="
  # a pre-build mismatch raises (nonzero exit); a wrong op leaves
  # "correct": false in the result line
  python3 perfbench/run.py --workload replay_probe --seed 3 --seconds 0 \
    --size tiny --verify-prebuild 2>/dev/null | tail -1 | python3 -c '
import json, sys
r = json.load(sys.stdin)
print({k: r[k] for k in ("correct", "attempted", "failed")})
sys.exit(not r["correct"])'
fi

echo "=== CI green ==="
