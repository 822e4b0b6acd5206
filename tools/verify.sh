#!/bin/bash
# Dev loop: compile, run graft.Verify at $1 (default sf0.01), selfcheck.
# Compiles with sbt first (a no-op when the classes are current), then
# runs Verify with java directly to skip `sbt run`'s forked startup.
set -e
cd "$(dirname "$0")/.."
sbt --batch -Dsbt.log.noformat=true compile >/tmp/verify_build.log 2>&1 ||
  { tail -30 /tmp/verify_build.log; echo "verify.sh: build failed" >&2; exit 1; }
SF_DIR=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
shift 2 2>/dev/null || shift $#
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
# Verify exits non-zero when a query threw, but only after dumping every
# other query and oracle_sql.json: still selfcheck what was written, then
# return the failure.
status=0
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT" "$@" 2>/tmp/verify.log || status=$?
if [ ! -f "$OUT/oracle_sql.json" ]; then tail -30 /tmp/verify.log; exit 1; fi
grep -E "\[verify\]" /tmp/verify.log || true
python3 tools/selfcheck.py "$SF_DIR" "$OUT" "$@" || status=$?
exit $status
