#!/usr/bin/env bash
# Paired scale receipt (r12 verdict item 3), one command:
#
#   tools/bench_scale.sh r13 [lo_factor=100] [hi_factor=200]
#
# Generates gen_realistic.py Zipf corpora at factor x 5000 docs for the
# two factors (skipped when the dirs already exist), runs the headline
# LSH/dedup/storage chain at both sizes with graft.Bench (which now also
# records per-query shuffle/spill/peak-task-memory), and merges into
# BENCH_SCALE_<tag>.json: exponent = log(t_hi/t_lo) / log(hi/lo) per
# query, with the resource metrics at both sizes so the 100-TB argument
# carries a memory-behavior receipt, not just wall-clock.
#
# Defaults fit the box the script runs on: all `nproc` CPUs and a heap
# of half of MemTotal, capped at 64g; SPARK_GRAFT_CPUS and
# SPARK_DRIVER_MEM override them. Half, not all (r14 finding): at 96g
# of a 125 GB box the 1M-doc chain left the OS no headroom for the
# multi-GB shuffle page cache, and allocation stalls under kernel
# reclaim inflated light queries 10x (merge_scan 226 s at 96g vs 25 s
# at 64g, same code, clean canary at 64g). Real clusters run 8-16 GB
# executor heaps and never see this regime; a single-JVM harness has
# to leave the kernel its share.
set -euo pipefail
cd "$(dirname "$0")/.."
TAG=${1:?usage: bench_scale.sh <tag> [lo_factor] [hi_factor]}
LO=${2:-100}
HI=${3:-200}
SRC=${SPARK_GRAFT_SCALE_SRC:-/root/testdata/sf0.1}
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 1 ? 1 : g > 64 ? 64 : g) "g"}' /proc/meminfo)}
HEADLINE="candidate_pairs,containment_pairs,dedup_keep_best,merge_scan,near_dup_groups,release_pipeline,similar_pairs"

for f in "$LO" "$HI"; do
  dir="/tmp/graft_real$f"
  if [ ! -f "$dir/documents.parquet" ]; then
    echo "[bench_scale] generating $dir (factor $f)" >&2
    python3 tools/gen_realistic.py "$SRC" "$dir" "$f"
  fi
done

sbt -batch compile > /dev/null

for f in "$LO" "$HI"; do
  out="/tmp/graft_scale_${TAG}_${f}.json"
  log="/tmp/graft_scale_${TAG}_${f}.sbt.log"
  echo "[bench_scale] factor $f -> $out (sbt log: $log)" >&2
  # sbt prints runMain failures to STDOUT — keep it in a log, never
  # /dev/null, or an aborted run is indistinguishable from a hang
  SPARK_GRAFT_SF_DIR="/tmp/graft_real$f" \
    SPARK_GRAFT_CPUS="$CPUS" \
    SPARK_GRAFT_REPS="${SPARK_GRAFT_REPS:-2}" \
    SPARK_GRAFT_ONLY="$HEADLINE" \
    SPARK_GRAFT_BENCH_OUT="$out" \
    SPARK_DRIVER_MEM="$HEAP" \
    sbt -batch "runMain graft.Bench" > "$log" 2>&1
done

python3 tools/merge_scale.py "BENCH_SCALE_${TAG}.json" "$LO" "$HI" \
  "/tmp/graft_scale_${TAG}_${LO}.json" "/tmp/graft_scale_${TAG}_${HI}.json"
echo "[bench_scale] wrote BENCH_SCALE_${TAG}.json" >&2
