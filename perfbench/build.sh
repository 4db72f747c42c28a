#!/usr/bin/env bash
# Builds the program (src/main/scala) and the benchmark harness
# (perfbench/src) into one class directory with the Scala compiler that
# ships in the Spark distribution's jars.
#
#   perfbench/build.sh <spark-jars-dir> <classes-out-dir>
set -euo pipefail
jars="$1"
out="$2"
[ -d src/main/scala ] || { echo "build: no src/main/scala under $(pwd)" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -classpath "$jars/*" @"$out.tmp.sources"
rm -f "$out.tmp.sources"
rm -rf "$out"
mv "$out.tmp" "$out"
