#!/bin/bash
# Run a graft main from compiled classes in a fresh JVM, mirroring the
# sbt fork's JVM flags (JDK17 add-opens + 8g heap). Usage:
#   tools/runmain.sh graft.Bench [args...]
# Classes come from the checkout this script lives in (compile it first);
# Spark jars from $SPARK_HOME/jars, else from the install of the
# spark-submit on PATH (the same lookup as connbench/run.py).
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
if [ -z "$SPARK_HOME" ] && command -v spark-submit >/dev/null; then
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
fi
JARS="$SPARK_HOME/jars"
[ -d "$CLASSES" ] || { echo "no compiled classes at $CLASSES: run sbt compile" >&2; exit 1; }
[ -d "$JARS" ] || { echo "no Spark jars at $JARS: set SPARK_HOME" >&2; exit 1; }
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:$JARS/*" "$@"
