#!/bin/bash
# Local correctness loop: compile, run graft.Verify on sfDir, DuckDB-compare.
# Usage: tools/verify_local.sh [sfDir] [outDir] [queries]
#   queries: optional comma-separated query names (e.g. x104_incr_agg,ql50)
#   — only those run and are compared. Logs land in outDir.
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
ONLY=${3:-}
cd "$(dirname "$0")/.."
rm -rf "$OUT"
mkdir -p "$OUT"
sbt -batch compile > "$OUT/sbt_compile.log" 2>&1 || { tail -40 "$OUT/sbt_compile.log"; exit 1; }
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" ${ONLY:+"$ONLY"} 2>"$OUT/verify_err.log" || { tail -40 "$OUT/verify_err.log"; exit 1; }
grep -E "\[verify\]" "$OUT/verify_err.log" || true
python tools/check.py "$SF" "$OUT"
