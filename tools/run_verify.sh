#!/bin/bash
# Local verify: run graft.Verify via plain java (fast, no sbt) then compare
# to DuckDB oracles with tools/compare.py.
set -e
SF_DIR=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
rm -rf "$OUT"
# the checkout this script lives in: its classes and its compare.py
REPO=$(cd "$(dirname "$0")/.." && pwd)
. "$REPO/tools/add_opens.sh"
java $ADD_OPENS -Xmx${HEAP:-8g} \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT" ${3:+"$3"}
python3 "$REPO/tools/compare.py" "$SF_DIR" "$OUT"
