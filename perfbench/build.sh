#!/usr/bin/env bash
# Builds graft's main sources plus the benchmark runner into
# perfbench/.build/classes with the Scala compiler that ships with Spark
# (the engine declares no scalac options, so this matches `sbt compile`).
# Skips the compile when the sources are unchanged since the last build.
# Usage: perfbench/build.sh   (SPARK_HOME, or spark-submit on PATH, locates Spark)
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
[ -d "$root/src/main/scala" ] || { echo "build.sh: no graft sources at $root/src/main/scala" >&2; exit 2; }
spark_home="${SPARK_HOME:-}"
if [ -z "$spark_home" ]; then
  submit="$(command -v spark-submit)" || { echo "build.sh: set SPARK_HOME" >&2; exit 2; }
  spark_home="$(dirname "$(dirname "$(readlink -f "$submit")")")"
fi
jars="$spark_home/jars"
compiler="$(ls "$jars"/scala-compiler-2.13.*.jar | head -1)"
[ -f "$compiler" ] || { echo "build.sh: no scala-compiler jar in $jars" >&2; exit 2; }

out="$here/.build"
mapfile -t sources < <(find "$root/src/main/scala" "$here/src" -name '*.scala' | LC_ALL=C sort)
stamp="$(cat "${sources[@]}" "$0" | sha256sum | cut -c1-16)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out"
mkdir -p "$out/classes"
cp_jars="$(ls "$jars"/*.jar | tr '\n' ':')"
java -XX:-UsePerfData -Xss8m -Xmx2g \
  -cp "$compiler:$(ls "$jars"/scala-library-2.13.*.jar | head -1):$(ls "$jars"/scala-reflect-2.13.*.jar | head -1)" \
  scala.tools.nsc.Main -nowarn -cp "$cp_jars" -d "$out/classes" "${sources[@]}"
echo "$stamp" > "$out/stamp"
