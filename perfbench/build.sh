#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala plus its
# resources) together with the benchmark's own sources (perfbench/src) into
# one class directory, with the Scala compiler that ships in Spark's jars.
#
#   SPARK_HOME=<spark installation> bash perfbench/build.sh <out-dir>
#
# The compile is skipped when the sources are unchanged since the last
# build into <out-dir> (a content hash is kept in <out-dir>/.stamp).
set -euo pipefail
root="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
out="${1:?usage: build.sh <out-dir>}"
jars="${SPARK_HOME:?build.sh: set SPARK_HOME to the Spark installation}/jars"

cd "$root"
[ -d src/main/scala ] || { echo "build.sh: no program sources under $root/src/main/scala" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1 || { echo "build.sh: no Scala compiler in $jars" >&2; exit 2; }
command -v jar >/dev/null || { echo "build.sh: no jar tool (a JDK's bin/) on PATH" >&2; exit 2; }

srcs="$(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)"
stamp="$( (echo "$srcs"; cat "$0" $srcs; find src/main/resources -type f 2>/dev/null | LC_ALL=C sort | xargs -r cat) | sha256sum | cut -c1-64)"
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi

rm -rf "$out"
mkdir -p "$out/classes"
cp="$(ls "$jars"/*.jar | tr '\n' ':')"
echo "$srcs" > "$out/sources.txt"
java -Xmx3g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -d "$out/classes" -classpath "$cp" @"$out/sources.txt"
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out/classes/"; fi
# a jar, not the class directory, so the JVM can archive its classes (CDS)
jar cf "$out/perfbench.jar" -C "$out/classes" .
echo "$stamp" > "$out/.stamp"
