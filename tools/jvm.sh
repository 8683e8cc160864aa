# Sourced by the tools that start graft mains with plain java (no sbt).
# Sets JVM_FLAGS: the JDK 17 --add-opens list a SparkSession needs outside spark-submit
# (the same list build.sbt passes to forked runs) and a heap of
# $SPARK_DRIVER_MEM, else half of RAM clamped to 2-8 GB.
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
JVM_FLAGS="-Xmx$HEAP"
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  JVM_FLAGS="$JVM_FLAGS --add-opens $p=ALL-UNNAMED"
done
