#!/usr/bin/env bash
# One-command CI lane (r15 verdict item 6): everything the repo can
# gate on a machine that has python-duckdb — compile, the ScalaTest
# suites, the ScaleSmoke scale pins, one checked run of the reference's
# batch loop (perfbench city_incremental), and BOTH halves of the
# differential fuzz loop (single-batch + split-replay lanes) on seeds
# 0 and 1. FuzzSpec covers only the crash-freedom half in sbt-only CI
# (DuckDB is not on the sbt classpath); this script is the lane where
# cross-engine SEMANTIC regressions on fuzz domains fail a gate
# instead of waiting for someone to run tools/fuzz.sh by hand.
#
# Usage: tools/ci.sh [extra fuzz seeds ...]   (default seeds: 0 1)
set -euo pipefail
cd "$(dirname "$0")/.."

python3 - <<'PY' || { echo "[ci] python-duckdb missing - oracle gate cannot run"; exit 3; }
import duckdb
PY

echo "[ci] 1/5 compile + unit suites"
sbt -batch compile test

echo "[ci] 2/5 scale smoke (CC / anti-join / range-join / beam / c93+c60 / c48 pins)"
sbt -batch "runMain graft.ScaleSmoke"

echo "[ci] 3/5 incremental batch loop end to end (MERGE -> incremental clusters -> challenge lines)"
# The benchmark's city_incremental workload checks every batch's labels,
# challenge lines and table row count; its last stdout line carries the
# verdict.
last=$(python3 perfbench/run.py --workload city_incremental --seed 0 --seconds 10 --trace 0 | tail -n 1)
python3 -c 'import json, sys; sys.exit(0 if json.loads(sys.argv[1]).get("correct") is True else 1)' "$last" \
  || { echo "[ci] city_incremental run is not correct: $last"; exit 1; }

echo "[ci] 4/5 differential fuzz, single-batch + split-width sweep"
# No-arg default is TWO seeds, not the single word "0 1" (the quoted
# ${@:-0 1} expansion collapses to one arg — r16 advice).
if [ $# -eq 0 ]; then set -- 0 1; fi
# First listed seed also runs the k∈{2,8} split widths (D block only);
# every seed runs the default k=4 lane inside this same invocation.
# FUZZ_SPLIT_ONLY reuses the corpus the full run just generated and
# skips the already-gated single-batch lane (r17 advice).
first="$1"
tools/fuzz.sh "$@"
FUZZ_SPLIT_ONLY=1 FUZZ_SPLIT=2,8 tools/fuzz.sh "$first"

echo "[ci] 5/5 done — all gates green"
