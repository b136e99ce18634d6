#!/bin/bash
# Local verify: run graft.Verify via plain java (fast, no sbt) then compare
# to DuckDB oracles with tools/compare.py.
set -e
SF_DIR=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
rm -rf "$OUT"
. "$(dirname "$0")/add_opens.sh"
java $ADD_OPENS -Xmx${HEAP:-8g} \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT" ${3:+"$3"}
python3 /root/repo/tools/compare.py "$SF_DIR" "$OUT"
