#!/bin/bash
# Round-16 verdict task #2: re-run the sf10 >12x cohort ISOLATED (one
# fresh JVM per query) with the heap sized to the machine, to split
# single-JVM spill cost from plan cost. Usage:
#   scripts/spill_cohort.sh <sfDir> <outLog> [mem] [reps] [queries...]
set -uo pipefail
SF=$1; LOG=$2; MEM=${3:-96g}; REPS=${4:-1}; shift 4 || true
QUERIES=("$@")
if [ ${#QUERIES[@]} -eq 0 ]; then
  QUERIES=(q29_funnel_stages q27_cdc_apply q28_bucketed_join
    q09_json_extract q02b_revenue_bucketed q30_activity_streaks
    x15_sql_cosine q12_having_above_avg x80_label_propagation
    q31_trailing_hour q08_running_window q33_gap_fill
    q23_percentile_stats q24_asof_attribution q37_interval_overlap
    q35_sole_problem_supplier q32_cube_summary)
fi
: > "$LOG"
for q in "${QUERIES[@]}"; do
  echo "=== $q (mem=$MEM reps=$REPS) $(date +%T) loadavg=$(cut -d' ' -f1-3 /proc/loadavg)" | tee -a "$LOG"
  SPARK_DRIVER_MEM="$MEM" \
    "$(dirname "$0")/runjvm.sh" graft.Probe "$q" "$SF" reps="$REPS" 2>/dev/null \
    | grep '^PROBE ' | tee -a "$LOG"
done
echo "DONE $(date +%T)" | tee -a "$LOG"
