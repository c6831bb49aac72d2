#!/bin/bash
# Run a graft main directly (no sbt lock): tools/java_main.sh <MainClass> [args...]
# Runs the classes compiled in the checkout that holds this script, so a
# second clone (e.g. a parent commit for an A/B) runs its own build.
# src/main/resources is on the path too, so the resources the entry
# registry reads at load (the public-suffix snapshot) are found after a
# plain `sbt compile`, which does not copy them into target/.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# the Spark jars build.sbt compiles against (its unmanagedBase)
SPARK_JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:$SPARK_JARS/*" "$@"
