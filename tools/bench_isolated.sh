#!/usr/bin/env bash
# Isolated bench protocol (r12 verdict item 5) — the builder discipline,
# now reproducible in one command:
#
#   tools/bench_isolated.sh r13            # 4 full runs, sf0.1
#   tools/bench_isolated.sh r13 3 /root/testdata/sf0.01
#
# Runs graft.Bench N times back to back on an (ideally idle) machine,
# each run writing its full per-rep record to /tmp/graft_bench_<tag>_<i>.json,
# then min-merges per query into BENCH_ISOLATED_<tag>.json at the repo
# root: per-query MIN across runs is the steady-state estimate (run
# totals drift monotonically on a warming container — see the r12 note),
# and the per-run canary min/max are carried so the artifact itself
# records whether the machine was idle.
set -euo pipefail
cd "$(dirname "$0")/.."
TAG=${1:?usage: bench_isolated.sh <tag> [runs] [sfdir]}
RUNS=${2:-4}
SF=${3:-/root/testdata/sf0.1}
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}  # the box it runs on
REPS=${SPARK_GRAFT_REPS:-2}

sbt -batch compile > /dev/null

RUN_FILES=()
for i in $(seq 1 "$RUNS"); do
  OUT="/tmp/graft_bench_${TAG}_${i}.json"
  echo "[bench_isolated] run $i/$RUNS -> $OUT" >&2
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_REPS="$REPS" \
    SPARK_GRAFT_BENCH_OUT="$OUT" \
    sbt -batch "runMain graft.Bench" > /dev/null
  RUN_FILES+=("$OUT")
done

python3 tools/merge_isolated.py "BENCH_ISOLATED_${TAG}.json" "$SF" "${RUN_FILES[@]}"
echo "[bench_isolated] wrote BENCH_ISOLATED_${TAG}.json" >&2
