#!/bin/bash
# Direct-JVM runner for any graft main, on the compiled classes of the
# checkout this script sits in (run `sbt compile` there first).
# Usage: run_main.sh <heap> <MainClass> [args...]
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$ROOT/target/scala-2.13/classes"
if [ ! -d "$CLASSES" ]; then
  echo "run_main.sh: no compiled classes at $CLASSES; run 'sbt compile' in $ROOT first" >&2
  exit 1
fi
HEAP="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -Xmx"$HEAP" $ADD_OPENS -cp "$CLASSES:/opt/spark/jars/*" "$@"
