#!/usr/bin/env bash
# Compiles the engine (src/main/scala) together with the benchmark
# harness (perfbench/src) into .bench_build/classes, using the Scala
# compiler that ships with Spark's jars. Skips the compile when the
# sources are unchanged since the last build.
#
# Usage (from the repository root): bash perfbench/build.sh <spark-jars-dir>
set -euo pipefail

jars="${1:?usage: build.sh <spark-jars-dir>}"
out=.bench_build
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 2; }
[ -d "$jars" ] || { echo "build.sh: no Spark jars at $jars" >&2; exit 2; }

mapfile -t sources < <(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
stamp=$(cat "${sources[@]}" | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi

rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes" "${sources[@]}" >&2
echo "$stamp" > "$out/stamp"
