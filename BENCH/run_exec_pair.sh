#!/bin/bash
# North-rule shape: N vs 4N EXECUTORS as real separate JVMs
# (local-cluster[N,2,mem]) — each executor has its own heap/GC, like a real
# cluster; the driver gets the SAME +2-core allowance at both levels (a real
# driver is a separate node; executor cores are exactly 2 vs 8 = 4x).
# Interleaved reps, best-of; results appended to BENCH/reps_exec.jsonl.
#
# Usage: BENCH/run_exec_pair.sh [reps] [bench_scale]
#   bench_scale multiplies the round size (seeds/cap/politeness/bloom) —
#   the serial-floor amortization knob (production rounds are ~10^8 URLs;
#   per-round fixed costs are level-independent, so efficiency rises with
#   round size). Draws at different scales are recorded with their scale and
#   the renderer compares like with like.
set -u
export SPARK_HOME="${SPARK_HOME:-/opt/spark}"   # local-cluster launches workers via sbin scripts
export JAVA_HOME="${JAVA_HOME:-$(dirname "$(dirname "$(readlink -f "$(which java)")")")}"
cd "$(dirname "$0")/.."
REPS="${1:-3}"
SCALE="${2:-1}"
MULT="${SPARK_GRAFT_SHUFFLE_MULT:-4}"
# N and 4N executor counts for the pair; e.g. LEVELS="2 8" measures
# 2 executors (4 cores) vs 8 executors (16 cores) — same 4x rule, smaller
# relative driver-core allowance than the default 1-vs-4 pair.
LEVELS="${SPARK_GRAFT_EXEC_LEVELS:-1 4}"
# Offset rep ids past any already recorded (like run_scaling.py local mode)
# so draws from separate invocations never share a rep id.
REP0=$(python - <<'EOF'
import json
try:
    reps = [int(json.loads(l).get("rep", 0)) for l in open("BENCH/reps_exec.jsonl") if l.strip()]
    print(max(reps) + 1 if reps else 0)
except FileNotFoundError:
    print(0)
EOF
)
for rep in $(seq "$REP0" $((REP0 + REPS - 1))); do
  for ex in $LEVELS; do
    cores=$((ex * 2 + 2))
    rm -rf /dev/shm/bwc-state; mkdir -p /dev/shm/bwc-state /dev/shm/spark-tmp
    # Full stdout kept per run; the JSON line is the last line.
    log="/tmp/exec_pair_r${rep}_e${ex}_s${SCALE}.log"
    SPARK_GRAFT_EXECUTORS=$ex SPARK_GRAFT_CRAWL_ONLY=1 \
      SPARK_GRAFT_EXEC_MEM_MB=16384 SPARK_GRAFT_BENCH_SCALE=$SCALE \
      SPARK_GRAFT_SHUFFLE_MULT=$MULT \
      SPARK_LOCAL_DIRS=/dev/shm/spark-tmp SPARK_GRAFT_STATE_DIR_BASE=/dev/shm/bwc-state \
      taskset -c 0-$((cores-1)) python bench.py >"$log" 2>"/tmp/exec_pair_r${rep}_e${ex}.err"
    out=$(grep '^{' "$log" | tail -1)
    echo "rep $rep executors=$ex scale=$SCALE: $out"
    if [ -n "$out" ]; then
      echo "{\"rep\": $rep, \"mode\": \"exec\", \"shuffle_mult\": $MULT, $(echo "$out" | sed 's/^{//')" >> BENCH/reps_exec.jsonl
    else
      echo "  RUN FAILED — tail of stderr:"; tail -5 "/tmp/exec_pair_r${rep}_e${ex}.err"
    fi
    rm -rf /dev/shm/bwc-state
  done
done
echo DONE
