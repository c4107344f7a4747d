#!/bin/bash
# Run a graft main class outside sbt (as the driver does):
#   tools/run.sh graft.Bench [args...]        (env: SPARK_GRAFT_SF_DIR etc.)
#   tools/run.sh graft.Verify <sfDir> <outDir>
cd "$(dirname "$0")/.." || exit 1
CLASSES=target/scala-2.13/classes
if [ ! -d "$CLASSES" ]; then
  echo "tools/run.sh: $CLASSES is missing; run 'sbt compile' first" >&2
  exit 1
fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
# Spark's jars minus the families in project/dropped-jars.properties, the
# list build.sbt drops too. Bench's forks reuse this java.class.path.
set -f
DROPPED=($(sed -n 's/^[^#=]*=//p' project/dropped-jars.properties))
set +f
CP="$CLASSES:src/main/resources${GRAFT_EXTRA_CP:+:$GRAFT_EXTRA_CP}"
for jar in /opt/spark/jars/*.jar; do
  for glob in "${DROPPED[@]}"; do
    [[ ${jar##*/} == $glob ]] && continue 2
  done
  CP="$CP:$jar"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
