#!/bin/bash
# Two-PROCESS commit race (X96/X99; BASELINE.md "Two-process commit race"):
# separate writer JVMs race optimistic commits on shared storage — the
# process-isolation upgrade over ManifestSpec's thread barriers, matching
# the reference's parallel per-account spark-submits (apify_dag.py:83-91).
#
# Usage:  sbt compile   # classes dir is the classpath (local master only)
#         tools/commit_race.sh [rounds=8] [repeats=5]
#         SPARK_GRAFT_COMMIT_IMPL=graft.lake.HttpCasCommit tools/commit_race.sh
#
# Each repeat runs SIX races on fresh tables/catalogs:
#   1. append/append     — writers a+b; check-append (per-writer versions
#      STRICTLY increase, union contiguous, no lost row, handoffs>=1)
#   2. append/delete     — appender vs deleter of seeded even ids;
#      order-independent final state checked exactly
#   3. replace/replace   — X96 last-replace-wins rebase; final state owned
#      by the highest version, all versions time-travelable
#   4. catalog tx        — X99: two writers transact over DISJOINT tables
#      through ONE catalog log; final cut references both
#   5. append+optimize   — writers a+b each loop "append one row, then
#      OPTIMIZE" on one table; every version in the log reads and the
#      final rows are exact (a losing OPTIMIZE touches no committed file)
#   6. append/constraint — writer a appends rows alternating valid and
#      violating (id < 0) while the other process toggles ADD/DROP CHECK
#      CONSTRAINT; every version's rows satisfy its own constraint set, and
#      at least one violating append was refused by its put
#
# Start gun is two-phase: each writer touches <START>.ready.<tag> once its
# SparkSession is up; we fire START only after BOTH ready flags exist, so
# overlap never depends on the two JVMs booting at similar speed.
#
# Commit primitive: SPARK_GRAFT_COMMIT_IMPL routes every commit through the
# conf-selected seam. For graft.lake.HttpCasCommit this script boots the
# CasObjectStore stand-in and exports SPARK_GRAFT_CAS_URL itself — the same
# races then prove the conditional-PUT primitive with rename out of the
# commit decision entirely.
set -euo pipefail
cd "$(dirname "$0")/.."
ROUNDS=${1:-8}
REPEATS=${2:-5}
CLASSES=target/scala-2.13/classes
[ -d "$CLASSES" ] || { echo "run 'sbt compile' first" >&2; exit 1; }
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
CP="$CLASSES:/opt/spark/jars/*"
run() { # shellcheck disable=SC2086
  java $OPENS -Xmx2g -Dspark.ui.enabled=false -cp "$CP" graft.CommitRace "$@"
}

# a check's RACE line; on failure its error, never a silent exit
check() {
  local out
  out=$(run "$@" 2>&1) || {
    echo "$1 FAILED" >&2; echo "$out" | grep -v " INFO \| WARN " | tail -20 >&2; exit 1; }
  echo "$out" | grep RACE
}

CAS_PID=""
cleanup() { [ -n "$CAS_PID" ] && kill "$CAS_PID" 2>/dev/null || true; }
trap cleanup EXIT
if [ "${SPARK_GRAFT_COMMIT_IMPL:-}" = "graft.lake.HttpCasCommit" ] \
    && [ -z "${SPARK_GRAFT_CAS_URL:-}" ]; then
  CAS_PORT=$(( 7400 + RANDOM % 200 ))
  CAS_READY=$(mktemp -u /tmp/graft_cas_ready.XXXXXX)
  # shellcheck disable=SC2086
  java $OPENS -cp "$CP" graft.lake.CasObjectStore "$CAS_PORT" "$CAS_READY" &
  CAS_PID=$!
  for _ in $(seq 1 100); do [ -f "$CAS_READY" ] && break; sleep 0.1; done
  [ -f "$CAS_READY" ] || { echo "CAS store never came up" >&2; exit 1; }
  export SPARK_GRAFT_CAS_URL="http://127.0.0.1:$CAS_PORT"
  echo "commit_race: CAS store at $SPARK_GRAFT_CAS_URL (pid $CAS_PID)"
fi
echo "commit_race: impl=${SPARK_GRAFT_COMMIT_IMPL:-graft.lake.RenameCommit (default)}"

# fire START only once every expected ready flag exists (the two-phase gun)
fire_gun() { # START tag1 tag2
  local start=$1; shift
  for _ in $(seq 1 600); do
    local all=1
    for t in "$@"; do [ -f "$start.ready.$t" ] || all=0; done
    [ "$all" = 1 ] && { touch "$start"; return 0; }
    sleep 0.1
  done
  echo "writers never became ready for $start" >&2; return 1
}

TOTAL_HANDOFFS=0
for i in $(seq 1 "$REPEATS"); do
  echo "=== repeat $i/$REPEATS: append/append ($ROUNDS rounds each) ==="
  DIR=$(mktemp -d /tmp/graft_race_aa.XXXXXX)/t
  START="$DIR.start"
  run seed "$DIR"
  run append "$DIR" a "$ROUNDS" "$START" > "$DIR.a.log" 2>&1 &
  PA=$!
  run append "$DIR" b "$ROUNDS" "$START" > "$DIR.b.log" 2>&1 &
  PB=$!
  fire_gun "$START" a b
  wait $PA || { echo "writer a FAILED"; tail -5 "$DIR.a.log"; exit 1; }
  wait $PB || { echo "writer b FAILED"; tail -5 "$DIR.b.log"; exit 1; }
  OUT=$(check check-append "$DIR" "$ROUNDS")
  echo "$OUT"
  TOTAL_HANDOFFS=$(( TOTAL_HANDOFFS + $(echo "$OUT" | sed -n 's/.*handoffs=//p') ))

  echo "=== repeat $i/$REPEATS: append/delete ==="
  DIR=$(mktemp -d /tmp/graft_race_ad.XXXXXX)/t
  START="$DIR.start"
  DROUNDS=$(( ROUNDS < 5 ? ROUNDS : 5 ))
  run seed "$DIR"
  run append "$DIR" a "$ROUNDS" "$START" > "$DIR.a.log" 2>&1 &
  PA=$!
  run delete "$DIR" "$DROUNDS" "$START" > "$DIR.d.log" 2>&1 &
  PD=$!
  fire_gun "$START" a del
  wait $PA || { echo "appender FAILED"; tail -5 "$DIR.a.log"; exit 1; }
  wait $PD || { echo "deleter FAILED"; tail -5 "$DIR.d.log"; exit 1; }
  check check-appdel "$DIR" "$ROUNDS" "$DROUNDS"

  echo "=== repeat $i/$REPEATS: replace/replace ==="
  DIR=$(mktemp -d /tmp/graft_race_rr.XXXXXX)/t
  START="$DIR.start"
  mkdir -p "$DIR"
  run replace "$DIR" a "$ROUNDS" "$START" > "$DIR.a.log" 2>&1 &
  PA=$!
  run replace "$DIR" b "$ROUNDS" "$START" > "$DIR.b.log" 2>&1 &
  PB=$!
  fire_gun "$START" a b
  wait $PA || { echo "replacer a FAILED"; tail -5 "$DIR.a.log"; exit 1; }
  wait $PB || { echo "replacer b FAILED"; tail -5 "$DIR.b.log"; exit 1; }
  check check-replace "$DIR" "$ROUNDS"

  echo "=== repeat $i/$REPEATS: catalog tx (disjoint tables, one catalog) ==="
  ROOT=$(mktemp -d /tmp/graft_race_cat.XXXXXX)/c
  START="$ROOT.start"
  mkdir -p "$ROOT"
  run cat "$ROOT" a "$ROUNDS" "$START" > "$ROOT.a.log" 2>&1 &
  PA=$!
  run cat "$ROOT" b "$ROUNDS" "$START" > "$ROOT.b.log" 2>&1 &
  PB=$!
  fire_gun "$START" a b
  wait $PA || { echo "cat writer a FAILED"; tail -5 "$ROOT.a.log"; exit 1; }
  wait $PB || { echo "cat writer b FAILED"; tail -5 "$ROOT.b.log"; exit 1; }
  OUT=$(check check-cat "$ROOT" "$ROUNDS")
  echo "$OUT"
  TOTAL_HANDOFFS=$(( TOTAL_HANDOFFS + $(echo "$OUT" | sed -n 's/.*handoffs=//p') ))

  echo "=== repeat $i/$REPEATS: append+optimize / append+optimize ==="
  DIR=$(mktemp -d /tmp/graft_race_ao.XXXXXX)/t
  START="$DIR.start"
  run seed "$DIR"
  run append "$DIR" a "$ROUNDS" "$START" optimize > "$DIR.a.log" 2>&1 &
  PA=$!
  run append "$DIR" b "$ROUNDS" "$START" optimize > "$DIR.b.log" 2>&1 &
  PB=$!
  fire_gun "$START" a b
  wait $PA || { echo "writer a FAILED"; tail -5 "$DIR.a.log"; exit 1; }
  wait $PB || { echo "writer b FAILED"; tail -5 "$DIR.b.log"; exit 1; }
  grep -h "RACE append" "$DIR.a.log" "$DIR.b.log"
  check check-appendopt "$DIR" "$ROUNDS"

  echo "=== repeat $i/$REPEATS: append (alternating violating rows) / ADD+DROP CONSTRAINT ==="
  DIR=$(mktemp -d /tmp/graft_race_ac.XXXXXX)/t
  START="$DIR.start"
  run seed "$DIR"
  run append "$DIR" a "$ROUNDS" "$START" violate > "$DIR.a.log" 2>&1 &
  PA=$!
  run constraint "$DIR" "$ROUNDS" "$START" > "$DIR.c.log" 2>&1 &
  PC=$!
  fire_gun "$START" a con
  wait $PA || { echo "writer a FAILED"; tail -5 "$DIR.a.log"; exit 1; }
  wait $PC || { echo "constraint toggler FAILED"; tail -5 "$DIR.c.log"; exit 1; }
  grep -h "RACE append\|RACE constraint" "$DIR.a.log" "$DIR.c.log"
  # the appender's first violating round waits for an active constraint,
  # so at least one append must have been refused by its put
  REFUSED=$(sed -n 's/.*refused=//p' "$DIR.a.log")
  [ "${REFUSED:-0}" -gt 0 ] || { echo "append/constraint: no violating append met a constraint" >&2; exit 1; }
  check check-constraints "$DIR"
done
MAXH=$(( 2 * REPEATS * (2 * ROUNDS - 1) ))
echo "commit_race: all $REPEATS repeats passed (impl=${SPARK_GRAFT_COMMIT_IMPL:-rename});" \
     "append+cat handoffs $TOTAL_HANDOFFS of $MAXH possible"
