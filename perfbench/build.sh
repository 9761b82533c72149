#!/usr/bin/env bash
# Build file of the chain benchmark: compiles the library sources
# (src/main/scala) together with the benchmark main (perfbench/src) with
# the Scala compiler that ships with the Spark jars, into
# <out>/classes. A stamp of the source hashes skips the build when nothing
# changed. Usage: perfbench/build.sh <out-dir> <spark-jars-dir>
# (run from the repo root)
set -euo pipefail
out=${1:?usage: build.sh <out-dir> <spark-jars-dir>}
jars=${2:?usage: build.sh <out-dir> <spark-jars-dir>}
srcs=$( (find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort) )
stamp=$(cat $srcs | sha256sum | cut -d' ' -f1)
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/classes.stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -d "$out/classes" -classpath "$jars/*" -nowarn \
  -Ybackend-parallelism "$(nproc)" $srcs
echo "$stamp" > "$out/classes.stamp"
