#!/bin/bash
# Deployment-shape gate (BASELINE.md "spark-submit standalone gate"): the
# reference's production invocation is `spark-submit` of a PACKAGED artifact
# against a real master (apify_dag.py:83-91) — not an sbt-hosted driver.
# This script runs graft's driver-facing mains in exactly that shape:
#   - a standalone Master in its own JVM,
#   - a Worker in its own JVM,
#   - the driver via `spark-submit --master spark://...` (client mode),
#   - executors launched BY THE WORKER in their own JVMs,
# i.e. four separate process roles with the application classes arriving
# only via the packaged jar — the last difference between the test harness
# (sbt-forked driver, local/local-cluster masters) and a real deployment.
#
# Usage:
#   sbt package
#   tools/spark_submit_gate.sh [sfdir=/root/testdata/sf0.01] [out=/tmp/graft_submit]
#   python3 tools/check.py <sfdir> <out>        # expect N pass / 0 fail
#
# The three JDBC fixture queries need a server endpoint under multi-JVM
# masters (embedded Derby is driver-JVM-private — see tools/mjvm_smoke.sh):
#   SPARK_GRAFT_JDBC_URL=jdbc:postgresql://127.0.0.1:<port>/postgres \
#   SPARK_GRAFT_JDBC_USER=graft tools/spark_submit_gate.sh
#
# After Verify, the 20-query gate bench slice (the 17-query ref_subset +
# q_group_agg/q_dedup_minhash/q_triangles) runs at sf0.1 through the same
# master; its one-line JSON prints to stdout.
set -euo pipefail
cd "$(dirname "$0")/.."
SFDIR=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_submit}
JARS_FOUND=(target/scala-2.13/datalake_projectspark_*.jar)
[ ${#JARS_FOUND[@]} -eq 1 ] && [ -f "${JARS_FOUND[0]}" ] || {
  echo "expected exactly one target/scala-2.13/datalake_projectspark_*.jar; run 'sbt package'" >&2
  exit 1
}
JAR=${JARS_FOUND[0]}
export SPARK_HOME=${SPARK_HOME:-/opt/spark}
export SPARK_SCALA_VERSION=2.13
PORT=${SPARK_GRAFT_MASTER_PORT:-7077}
MASTER_URL="spark://127.0.0.1:$PORT"
LOGDIR=$(mktemp -d /tmp/graft_submit_logs.XXXXXX)

MASTER_PID=""; WORKER_PID=""
cleanup() {
  [ -n "$WORKER_PID" ] && kill "$WORKER_PID" 2>/dev/null || true
  [ -n "$MASTER_PID" ] && kill "$MASTER_PID" 2>/dev/null || true
}
trap cleanup EXIT

"$SPARK_HOME/bin/spark-class" org.apache.spark.deploy.master.Master \
  --host 127.0.0.1 --port "$PORT" --webui-port $((PORT + 1)) \
  > "$LOGDIR/master.log" 2>&1 &
MASTER_PID=$!
for _ in $(seq 1 100); do
  grep -q "I have been elected leader" "$LOGDIR/master.log" 2>/dev/null && break
  sleep 0.2
done
grep -q "I have been elected leader" "$LOGDIR/master.log" || {
  echo "standalone master never came up; $LOGDIR/master.log:" >&2
  tail -5 "$LOGDIR/master.log" >&2; exit 1
}

"$SPARK_HOME/bin/spark-class" org.apache.spark.deploy.worker.Worker \
  "$MASTER_URL" --host 127.0.0.1 --cores 32 --memory 20g \
  --work-dir "${SPARK_WORKER_DIR:-/tmp/spark-work}" \
  --webui-port $((PORT + 2)) > "$LOGDIR/worker.log" 2>&1 &
WORKER_PID=$!
for _ in $(seq 1 100); do
  grep -q "Successfully registered with master" "$LOGDIR/worker.log" 2>/dev/null && break
  sleep 0.2
done
grep -q "Successfully registered with master" "$LOGDIR/worker.log" || {
  echo "worker never registered; $LOGDIR/worker.log:" >&2
  tail -5 "$LOGDIR/worker.log" >&2; exit 1
}
echo "spark_submit_gate: master+worker up at $MASTER_URL (logs in $LOGDIR)"

# SPARK_GRAFT_MASTER keeps the session builder's master in agreement with
# spark-submit's --master (builder settings would otherwise win); the app
# jar ships to executors via spark-submit itself.
export SPARK_GRAFT_MASTER="$MASTER_URL"
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
EXTRA_JARS=""
PGJAR=/root/reference/jars/postgresql-42.2.27.jar
if [ -f "$PGJAR" ] && [ -n "${SPARK_GRAFT_JDBC_URL:-}" ]; then
  EXTRA_JARS="--jars file:$PGJAR --driver-class-path $PGJAR"
fi

submit() { # CLASS args...
  local cls=$1; shift
  # shellcheck disable=SC2086
  "$SPARK_HOME/bin/spark-submit" --master "$MASTER_URL" --class "$cls" \
    --driver-memory 8g \
    --conf spark.executor.memory=16g \
    --conf spark.executor.cores=32 \
    --conf spark.ui.enabled=false \
    --conf spark.sql.session.timeZone=UTC \
    $EXTRA_JARS "$JAR" "$@"
}

echo "spark_submit_gate: graft.Verify $SFDIR -> $OUT"
# Verify exits 1 when any query threw; the bench slice still runs, and the
# script exits with Verify's status.
VERIFY_STATUS=0
submit graft.Verify "$SFDIR" "$OUT" 2> "$LOGDIR/verify.stderr" || VERIFY_STATUS=$?
grep "\[verify\]" "$LOGDIR/verify.stderr" || true

GATE_SLICE="q_json_ingest,q_json_normalize,q_scan,q_glob_scan,q_prev_snapshot,\
q_project,q_lit_tag,q_struct_flatten,q_filter_nonempty,q_anti_added,\
q_anti_deleted,q_snapshot_diff,q_union_fold,q_count,q_limit,q_gender_struct,\
q_gender_join,q_group_agg,q_dedup_minhash,q_triangles"
echo "spark_submit_gate: 20-query gate slice at ${SPARK_GRAFT_BENCH_SF:-/root/testdata/sf0.1}"
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_BENCH_SF:-/root/testdata/sf0.1} \
  SPARK_GRAFT_QUERIES="$GATE_SLICE" \
  submit graft.Bench 2> "$LOGDIR/bench.stderr" | grep '"metric"'
echo "spark_submit_gate: done (compare with: python3 tools/check.py $SFDIR $OUT)"
if [ "$VERIFY_STATUS" -ne 0 ]; then
  echo "spark_submit_gate: graft.Verify failed (exit $VERIFY_STATUS); see $LOGDIR/verify.stderr" >&2
fi
exit "$VERIFY_STATUS"
