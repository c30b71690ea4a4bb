#!/usr/bin/env bash
# Profile one bench query with the Spark event log, then summarize
# where the time went (jobs/stages) with tools/summarize_eventlog.py.
# Usage: tools/profile_query.sh <query> [sfDir] [cpus]
# cpus defaults to every CPU of the host; the heap is run_main.sh's.
set -euo pipefail
Q="$1"; SF="${2:-/root/testdata/sf0.1}"; CPUS="${3:-$(env -u OMP_NUM_THREADS nproc)}"
EVDIR=/tmp/graft_eventlog
rm -rf "$EVDIR"; mkdir -p "$EVDIR"
SPARK_EXTRA_JAVA_OPTS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file://$EVDIR -Dspark.eventLog.compress=false -Dspark.eventLog.rolling.enabled=false" \
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  "$(dirname "$0")/run_main.sh" graft.Bench "$Q" 2>/dev/null
python3 "$(dirname "$0")/summarize_eventlog.py" "$EVDIR"/local-*
