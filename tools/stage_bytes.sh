#!/usr/bin/env bash
# Per-stage shuffle-write bytes and times of one engine chain over a
# documents parquet, in a graft.Harness.session(cores): the engine
# mains' session settings, which perfbench copies, on `cores` local
# cores (also the shuffle partition count).
#
#   tools/stage_bytes.sh <documents.parquet> [chain] [reps] [cores]
#
# chain: a Scala expression over `docs` returning a DataFrame, default
# graft.operators.MinHashLsh.similarPairs(docs). reps (default 1) runs
# the chain that many times in one JVM; later reps are JIT-warm. cores
# defaults to 4. Prints one "stage <id> <MB> MB <records> records <n>
# tasks <s> task_s <s> wall_s <KB> result_kb <name>" line per completed
# stage (result_kb: the task results sent to the driver), those
# that write no shuffle included (0.00 MB, 0 records: e.g. the
# checkpoint and the final collect), then "digest <d> rows <n>" per
# rep. Build first (sbt compile); needs SPARK_HOME.
set -euo pipefail
root=$(cd "$(dirname "$0")/.." && pwd)
docs=${1:?usage: tools/stage_bytes.sh <documents.parquet> [chain] [reps] [cores]}
chain=${2:-graft.operators.MinHashLsh.similarPairs(docs)}
reps=${3:-1}
cores=${4:-4}
classes=$root/target/scala-2.13/classes
[ -d "$classes" ] || { echo "no $classes: run sbt compile first" >&2; exit 1; }
script=$(mktemp --suffix=.scala)
log=$(mktemp)
trap 'rm -f "$script" "$log"' EXIT
{
  echo "def chain(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = $chain"
  echo "val reps = $reps"
  echo "val cores = $cores"
  cat "$root/tools/stage_bytes.scala"
} > "$script"
DOCS=$(realpath "$docs") "${SPARK_HOME:?set SPARK_HOME}/bin/spark-shell" \
  --master "local[$cores]" --driver-memory 2g --driver-class-path "$classes" \
  --conf spark.ui.enabled=false -i "$script" 2>"$log" | grep -E '^(rep|stage|digest)' || { tail -40 "$log" >&2; exit 1; }
