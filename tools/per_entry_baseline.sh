#!/bin/bash
# Per-entry BASELINE re-measurement (the round-15 verdict's protocol for
# adjudicating anomalous rows): each named entry runs SINGLETON — its own
# fresh JVM via SPARK_GRAFT_BENCH_ONLY, so no other entry's fixtures or
# page-cache state can warm it — three times; aggregate with
# rebase_baseline.py over the per-run detail files.
#
# Usage: per_entry_baseline.sh <outdir> entry1 [entry2 ...]
# Requires an idle box; run the suite's usual sf0.1 tier.
set -e
OUT=${1:?outdir}; shift
mkdir -p "$OUT"
# the checkout this script lives in: its classes and its tools
REPO=$(cd "$(dirname "$0")/.." && pwd)
. "$REPO/tools/add_opens.sh"
for entry in "$@"; do
  for run in 1 2 3; do
    echo "== $entry run $run" >&2
    # keep each run's output in a log (a crashed JVM used to vanish
    # silently under >/dev/null and set -e aborted the whole loop at the
    # final grep — round-16 ADVICE); `|| echo` keeps remaining entries
    # running after a failed run
    SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
    SPARK_GRAFT_BENCH_ONLY="$entry" \
    SPARK_GRAFT_BENCH_DETAIL="$OUT/${entry}_r${run}.json" \
    java $ADD_OPENS -Xmx${HEAP:-16g} \
      -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
      graft.Bench > "$OUT/${entry}_r${run}.log" 2>&1 \
      || echo "RUN FAILED: $entry run $run (see $OUT/${entry}_r${run}.log)" >&2
  done
  python3 "$REPO/tools/rebase_baseline.py" "$OUT/${entry}"_r*.json 2>/dev/null \
    | grep "^| $entry" \
    || echo "missing row for $entry (all runs failed?)" >&2
done
