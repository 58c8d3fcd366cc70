#!/usr/bin/env bash
# Round-close gate: the FULL test suite (default + slow tier, `-m ""`),
# the benchmark's own tests (metric names and units against
# BENCHMARK.json, seed determinism, the trace fold) and then the
# driver-sim DuckDB differential over every registry key. All three
# always run; exits nonzero if any fails. Usage: tools/close_gate.sh
cd "$(dirname "$0")/.." || exit 1
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
rc=0
python -m pytest tests/ -q -m "" -p no:cacheprovider || rc=1
python -m pytest perfbench/tests -q -p no:cacheprovider || rc=1
python .claude/skills/verify/driver_sim.py || rc=1
exit "$rc"
