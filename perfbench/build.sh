#!/usr/bin/env bash
# Build the program and the benchmark's JVM code from source with the
# Scala compiler that ships in Spark's jars (no sbt, no network).
# Usage: bash perfbench/build.sh   (from the repository root)
# Output: .bench_build/app.jar, stamped with a hash of every source so
# an unchanged tree is not rebuilt.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$root/.bench_build"
[ -d "$root/src/main/scala" ] || { echo "build: no program sources under src/main/scala" >&2; exit 2; }
# Spark's jars: $SPARK_HOME/jars, else those of the first spark-submit on
# PATH whose install ships a Scala compiler (a pip pyspark does not)
jars=""
for home in ${SPARK_HOME:-} $(IFS=:; for d in $PATH; do [ -x "$d/spark-submit" ] && echo "$d/.."; done); do
  if compgen -G "$home/jars/scala-compiler-*.jar" >/dev/null; then jars="$(cd "$home/jars" && pwd)"; break; fi
done
[ -n "$jars" ] || { echo "build: no Spark jars with a Scala compiler found; set SPARK_HOME" >&2; exit 2; }
mkdir -p "$out"
echo "$jars" > "$out/spark_jars" # read by run.py

mapfile -t sources < <(cd "$root" && find src/main/scala perfbench/scala -name '*.scala' | sort)
stamp="$(cd "$root" && cat "${sources[@]}" perfbench/build.sh | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ] && [ -f "$out/app.jar" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/app.jar" "$out/app.jsa" "$out/stamp"
mkdir -p "$out/classes"
(cd "$root" && java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -release 17 -d "$out/classes" -classpath "$jars/*" "${sources[@]}")
# a jar, not a class directory: the JVM's class-data archive (made by
# run.py) only covers classes loaded from jars
jar cf "$out/app.jar" -C "$out/classes" .
rm -rf "$out/classes"
echo "$stamp" > "$out/stamp"
