#!/usr/bin/env bash
# Builds the program (src/main/scala) together with the benchmark harness
# (perfbench/scala) using the Scala compiler that ships in Spark's jars.
# Run from the repository root:  SPARK_HOME=<spark> bash perfbench/build.sh
# Classes land in .bench_build/classes; a stamp of the sources skips the
# compile when nothing changed.
set -euo pipefail
jars="${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars"
out=".bench_build"
if [ ! -d src/main/scala ] || [ ! -d perfbench/scala ]; then
  echo "build.sh: run from the repository root (src/main/scala not found)" >&2
  exit 1
fi
sources=$(find src/main/scala perfbench/scala -name '*.scala' -type f | LC_ALL=C sort)
stamp=$(cat $sources | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
# shellcheck disable=SC2086
java -Xss16m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes" $sources
echo "$stamp" > "$out/stamp"
