#!/usr/bin/env bash
# Scale-curve measurement harness: one fresh JVM per (query, scale dir),
# launched through tools/run_main.sh (its heap and JVM flags, this
# checkout's classes), 600 s cap per run. Usage:
#   tools/scale_run.sh <sfDir> <cpus> <query> [query...]
# Prints one "<query> <seconds|TIMEOUT|FAIL>" line per query.
set -u
SFDIR="$1"; CPUS="$2"; shift 2
RUN="$(dirname "$0")/run_main.sh"
for q in "$@"; do
  out=$(SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="$CPUS" \
    timeout 600 "$RUN" graft.Bench "$q" 2>/dev/null)
  rc=$?
  sec=$(printf '%s' "$out" | grep -oE "\"$q\":[0-9.eE+-]+" | tail -1 | cut -d: -f2)
  if [ $rc -eq 124 ]; then echo "$q TIMEOUT"
  elif [ -z "$sec" ]; then echo "$q FAIL"
  else echo "$q $sec"
  fi
done
