#!/bin/bash
# Dump `explain("formatted")` for a list of catalog queries to plan files.
# Usage: dump_plans.sh <repoRootWithClasses> <sfDir> <outDir> <suffix> <q1> [q2 ...]
# Writes <outDir>/<query>_<suffix>.txt for each query.
set -u
TOOLS="$(cd "$(dirname "$0")" && pwd)"
ROOT="$1"; SF="$2"; OUT="$3"; SUF="$4"; shift 4
mkdir -p "$OUT"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
for q in "$@"; do
  echo "[dump_plans] $q -> $OUT/${q}_${SUF}.txt"
  java @"$TOOLS/jdk-add-opens.args" -Xmx${SPARK_GRAFT_XMX:-8g} \
    -cp "$CP" graft.Run explain "$q" "$SF" \
    > "$OUT/${q}_${SUF}.txt" 2> "/tmp/dump_plans_${q}_${SUF}.stderr" \
    || { echo "[dump_plans] $q FAILED"; tail -5 "/tmp/dump_plans_${q}_${SUF}.stderr"; }
done
