#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources together
# with the benchmark program (pipebench/src) using the Scala compiler
# that ships in the Spark distribution's jars, and copies graft's main
# resources beside the classes. Needs no dependency resolution.
#
# Usage (from the repository root): bash pipebench/build.sh <classesDir>
set -euo pipefail
out=$1
jars="${SPARK_HOME:?set SPARK_HOME to the Spark distribution}/jars"
test -d src/main/scala || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 1; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala pipebench/src -name '*.scala' | sort > "$out.sources"
java -XX:-UsePerfData -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -d "$out.tmp" @"$out.sources"
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out.tmp/"; fi
rm -rf "$out"
mv "$out.tmp" "$out"
