#!/bin/bash
# Local bench runner (runs from /tmp so BENCH_LOCAL artifacts do not land in the repo root).
# env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, GRAFT_BENCH_ONLY, GRAFT_BENCH_REPS
set -e
LAUNCH="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)/graft_java.sh"
cd /tmp
exec "$LAUNCH" graft.Bench
