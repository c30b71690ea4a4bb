#!/bin/bash
# Scale-curve sweep harness (round-8 verdict task 1): measures the
# 12 heaviest queries at 10x and 100x of sf0.1, one fresh JVM per
# (query, scale), 600 s cap, results as JSON lines. Both scale points
# are measured by THIS harness in the same session window (same heap
# and cores), so the 100x/10x ratios are apples-to-apples regardless
# of how earlier rounds' 10x tables were taken. Each JVM runs through
# tools/run_main.sh: SPARK_DRIVER_MEM sets the heap (default: half of
# MemTotal, clamped to 2-8g) and SPARK_GRAFT_CPUS the cores (default:
# every CPU of the host).
#
# Usage: tools/scale_sweep.sh [gen|run|all]
set -u
RUN="$(dirname "$0")/run_main.sh"
CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
SRC=/root/testdata/sf0.1
D10=/tmp/graft_scale10
D100=/tmp/graft_scale100
LOG=/tmp/scale_sweep_results.jsonl
QUERIES="corpus_filter stream_dedup_incremental dedup_incremental dedup_minhash_lsh \
dedup_clusters dedup_clusters_star word_jaccard_pairs edit_distance_pairs \
dedup_substring pagerank_items triangle_count ann_pq_topk"

gen() {
  for spec in "$D10 10" "$D100 100"; do
    set -- $spec
    if [ ! -d "$1/events.parquet" ]; then
      echo "=== ScaleGen $2x -> $1"
      "$RUN" graft.ScaleGen "$SRC" "$1" "$2" 2>/dev/null
    fi
  done
}

run() {
  : > "$LOG"
  for q in $QUERIES; do
    for spec in "10 $D10" "100 $D100"; do
      set -- $spec
      scale=$1; dir=$2
      t0=$(date +%s.%N)
      out=$(SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_CPUS="$CPUS" \
            timeout 600 "$RUN" graft.Bench "$q" 2>/dev/null)
      rc=$?
      t1=$(date +%s.%N)
      sec=$(echo "$out" | grep -o "\"$q\":[0-9.eE+-]*" | head -1 | cut -d: -f2)
      if [ $rc -eq 124 ]; then sec=null; status=timeout
      elif [ -z "$sec" ]; then sec=null; status=error
      else status=ok; fi
      echo "{\"query\":\"$q\",\"scale\":$scale,\"sec\":$sec,\"status\":\"$status\",\"wall\":$(echo "$t1 $t0" | awk '{printf "%.1f", $1-$2}')}" >> "$LOG"
      echo "$(tail -1 "$LOG")"
    done
  done
}

case "${1:-all}" in
  gen) gen ;;
  run) run ;;
  all) gen && run ;;
esac
