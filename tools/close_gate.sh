#!/usr/bin/env bash
# Round-close gate: the FULL test suite (default + slow tier, `-m ""`)
# and then the driver-sim DuckDB differential over every registry key.
# Both always run; exits nonzero if either fails. Usage: tools/close_gate.sh
cd "$(dirname "$0")/.." || exit 1
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
rc=0
python -m pytest tests/ -q -m "" -p no:cacheprovider || rc=1
python .claude/skills/verify/driver_sim.py || rc=1
exit "$rc"
