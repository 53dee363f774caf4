#!/usr/bin/env bash
# Run a graft main directly on the compiled classes — the sbt-free path
# for measurement loops (no sbt startup, no project-lock contention
# with a concurrent `sbt test`). Mirrors build.sbt's javaOptions:
# JDK-17 add-opens, the Vector API incubator module, and the 16g
# default heap (SPARK_DRIVER_MEM overrides).
#   tools/run_main.sh graft.Bench|graft.Verify|graft.ScaleData|graft.Probe [args...]
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
[ -d "$CLASSES" ] || { echo "compile first: sbt compile" >&2; exit 1; }
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${ADD_OPENS[@]}" \
  --add-modules=jdk.incubator.vector \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -cp "$CLASSES:$REPO/src/main/resources:/opt/spark/jars/*" \
  "$@"
