#!/bin/bash
# Profile one catalog query: best-of-N noop timing (graft.Run time) with the
# Spark event log on, then joblog.py attribution (jobs, driver gaps, task time).
# Spark 4 writes a rolling, compressed eventlog_v2_* directory by default;
# the two -D flags below make it one plain JSON-lines file joblog.py reads.
# Usage: profile_q.sh <query> [sfDir] [repeats]
set -u
Q="$1"; SF="${2:-/root/testdata/sf0.1}"; N="${3:-3}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
EV="/tmp/evlog_$Q"; rm -rf "$EV"; mkdir -p "$EV"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
SPARK_GRAFT_EVENTLOG="$EV" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  java @"$ROOT/tools/jdk-add-opens.args" -Xmx${SPARK_GRAFT_XMX:-16g} \
  -Dspark.eventLog.rolling.enabled=false -Dspark.eventLog.compress=false -cp "$CP" \
  graft.Run time "$Q" "$SF" "$N" 2>/dev/null
for f in "$EV"/*; do
  [ -f "$f" ] || continue
  echo "--- $(basename "$f")"
  python3 "$ROOT/tools/joblog.py" "$f"
done
