#!/usr/bin/env bash
# Build file of the benchmark package: compiles the program (src/main) and
# the benchmark (perfbench/src) with the Scala compiler that ships in
# Spark's jar directory, into one class directory.
#
#   bash perfbench/build.sh OUT_DIR SPARK_JARS_DIR   (from the repository root)
#
# Spark's jars are both the compiler and the classpath, as in build.sbt.
set -euo pipefail
out="$1"
jars="$2"
if [ ! -d src/main/scala ] || [ -z "$(find src/main/scala -name '*.scala' -print -quit)" ]; then
  echo "build: no program sources under src/main/scala" >&2
  exit 2
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp/classes"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp/sources.txt"
java -XX:-UsePerfData -Xmx1536m -Xss8m -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp/classes" -classpath "$jars/*" @"$out.tmp/sources.txt"
if [ -d src/main/resources ]; then cp -R src/main/resources/. "$out.tmp/classes/"; fi
rm -rf "$out"
mv "$out.tmp" "$out"
