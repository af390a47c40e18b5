#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars.
# Usage: tools/run.sh <mainClass> [args...]   (env passes through)
# The heap is SPARK_DRIVER_MEM (default 48g, as in build.sbt); Spark sizes
# its unified memory from it, so set it below the host's RAM.
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
exec java -Xmx"${SPARK_DRIVER_MEM:-48g}" -XX:+UseG1GC -XX:ReservedCodeCacheSize=1g \
  --add-exports=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  -cp "$CP" "$@"
