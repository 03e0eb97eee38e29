#!/bin/bash
# Run graft.CorpusExec with plain java (no sbt lock): a full-corpus run
# then goes on while sbt compiles or tests in the same checkout. Usage:
#   tools/corpus_run.sh [model names...]
# Env: GRAFT_CORPUS_DIR, GRAFT_CORPUS_DEBUG, GRAFT_CORPUS_COLD,
#      GRAFT_CORPUS_CACHE_DIR, GRAFT_CORPUS_WAREHOUSE, GRAFT_CHANGED_ONLY,
#      SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM
set -eu
cd "$(dirname "$0")/.."
if [ ! -d target/scala-2.13/classes ]; then
  echo "error: target/scala-2.13/classes missing — run 'sbt compile' first" >&2
  exit 1
fi
# snapshot the classes: a `sbt compile` DURING a long run renumbers anonfun
# classes and the lazily-loading JVM dies on ClassNotFoundException
SNAP=$(mktemp -d /tmp/graft_classes_XXXXXX)
cp -a target/scala-2.13/classes/. "$SNAP/"
trap 'rm -rf "$SNAP"' EXIT
CP="$SNAP:/opt/spark/jars/*"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# NOT exec: exec replaces the shell, so the EXIT trap never fires and every
# run leaks its classes snapshot into /tmp
java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.CorpusExec "$@"
