#!/bin/bash
# Run a graft main directly on the compiled classes (bypasses the sbt
# project lock, so smokes, tools and benches can run while a test suite
# holds it).
# The scala-library jar is resolved from the local coursier cache.
SCALA_LIB="$(find "$HOME/.cache/coursier" -name 'scala-library-2.13*.jar' 2>/dev/null | sort | tail -1)"
CP="/root/repo/target/scala-2.13/classes:$SCALA_LIB:/opt/spark/jars/*"
exec java -Xmx8g \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$CP" "$@"
