#!/usr/bin/env bash
# Compiles the graft library (src/main/scala) together with the benchmark
# harness (perfbench/scala) into one class directory, with the Scala
# compiler that ships in the Spark distribution's jars. No sbt, no
# dependency resolution: everything comes from $SPARK_HOME/jars.
#
#   perfbench/build.sh <out-dir>      (run from the root of a checkout)
set -euo pipefail
out="$1"
jars="${SPARK_HOME:?SPARK_HOME must point at the Spark distribution}/jars"
[ -d src/main/scala ] || { echo "build: no src/main/scala here" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null
rm -rf "$out.tmp" && mkdir -p "$out.tmp"
find src/main/scala perfbench/scala -name '*.scala' | sort > "$out.tmp/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -classpath "$jars/*" -d "$out.tmp" -nowarn -deprecation:false \
  "@$out.tmp/sources.txt"
rm -rf "$out" && mv "$out.tmp" "$out"
