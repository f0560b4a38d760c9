#!/usr/bin/env bash
# Build file of the benchmark: compile the engine (src/main/scala) together
# with the benchmark harness (perfbench/src) into perfbench/.build/classes,
# and write the run classpath to perfbench/.build/classpath. Compiles against
# the Spark jars the repository's own build uses (build.sbt's unmanagedBase;
# $SPARK_HOME/jars when SPARK_HOME is set), with the Scala compiler that
# ships among them, so nothing is fetched. Skips the compile when the
# sources are unchanged since the last successful build.
# Run from the repository root:  bash perfbench/build.sh
set -euo pipefail

OUT=perfbench/.build
if [ ! -d src/main/scala ] || [ ! -d perfbench/src ] || [ ! -f build.sbt ]; then
  echo "build.sh: run from the repository root (src/main/scala, build.sbt and perfbench/src needed)" >&2
  exit 2
fi
if [ -n "${SPARK_HOME:-}" ]; then
  SPARK_JARS="$SPARK_HOME/jars"
else
  SPARK_JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)
fi
if [ -z "$SPARK_JARS" ] || [ ! -d "$SPARK_JARS" ]; then
  echo "build.sh: no Spark jars at '$SPARK_JARS' (set SPARK_HOME)" >&2
  exit 2
fi

SOURCES=$(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
STAMP=$( (echo "$SPARK_JARS"; for f in $SOURCES; do echo "$f"; cat "$f"; done) | sha256sum | cut -d' ' -f1)
if [ -f "$OUT/stamp" ] && [ "$(cat "$OUT/stamp")" = "$STAMP" ]; then
  exit 0
fi

rm -rf "$OUT"
mkdir -p "$OUT/classes"
# shellcheck disable=SC2086
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$SPARK_JARS/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -d "$OUT/classes" $SOURCES
echo "$OUT/classes:$SPARK_JARS/*" > "$OUT/classpath"
echo "$STAMP" > "$OUT/stamp"
