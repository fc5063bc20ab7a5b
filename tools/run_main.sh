#!/usr/bin/env bash
# Run a graft main class directly against the compiled classes + the
# /opt/spark/jars unmanaged classpath, without going through sbt — so a
# long soak (Scale, StreamBench) can run while sbt holds the project
# lock for tests. Mirrors build.sbt's fork settings: JDK 17 add-opens,
# UTC session TZ, and a heap of SPARK_DRIVER_MEM, else half of
# MemTotal clamped to 2–8g (2g when /proc/meminfo is unreadable).
#   tools/run_main.sh graft.StreamBench state 10000000 10000000 64 4
set -euo pipefail
cd "$(dirname "$0")/.."

main="$1"; shift
heap="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
opens=(java.lang java.lang.invoke java.lang.reflect java.io java.net \
  java.nio java.util java.util.concurrent java.util.concurrent.atomic)
flags=()
for p in "${opens[@]}"; do flags+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  flags+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${flags[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx$heap" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$main" "$@"
