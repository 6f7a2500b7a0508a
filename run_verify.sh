#!/bin/bash
# Local helper: run graft.Verify with the same JVM flags sbt would use.
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
# Heap override for big-corpus sweeps: the 8x/32x replica sweeps at
# local[32] exhausted 8g in round 13 (GCLocker retry storm killed the
# SparkContext mid-sweep); default stays 8g for the gate scales.
exec java @"$(dirname "$0")/tools/jdk-add-opens.args" -Xmx${SPARK_GRAFT_XMX:-8g} -cp "$CP" "$@"
