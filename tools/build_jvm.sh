#!/bin/sh
# Rebuild maha_spark/jvm/maha-spark.jar from maha_spark/jvm/src (requires
# a JDK; the jar is committed so runtime hosts only need a JRE). Both
# packages compile against the jars PySpark ships: mahaspark.fs (Java)
# against hadoop-client-api, mahaspark.sql (Scala, with the Scala compiler
# PySpark bundles) against spark-catalyst, spark-sql and scala-library.
# Rebuild whenever PySpark's version changes.
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SRC="$REPO/maha_spark/jvm/src"
OUT="$REPO/maha_spark/jvm/classes"
JARS=$(python -c 'import os, pyspark
print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')
CP=$(ls "$JARS"/*.jar | tr '\n' ':')
rm -rf "$OUT" && mkdir -p "$OUT"
javac -encoding UTF-8 --release 17 -cp "$CP" -d "$OUT" \
    "$SRC"/mahaspark/fs/*.java
SCALAC_CP=$(ls "$JARS"/scala-compiler-*.jar "$JARS"/scala-library-*.jar \
    "$JARS"/scala-reflect-*.jar | tr '\n' ':')
java -cp "$SCALAC_CP" scala.tools.nsc.Main -release 17 -deprecation -classpath "$CP" \
    -d "$OUT" "$SRC"/mahaspark/sql/*.scala
jar cf "$REPO/maha_spark/jvm/maha-spark.jar" -C "$OUT" mahaspark
rm -rf "$OUT"
echo "built $REPO/maha_spark/jvm/maha-spark.jar"
