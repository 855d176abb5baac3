#!/bin/bash
# Solo subset bench with artifact restore: runs bench.py on the named
# queries, prints the JSON line, then restores BENCH_FULL.json and
# BENCH_HISTORY.jsonl from snapshots taken before the run, so smoke
# runs never pollute the official artifacts (uncommitted results
# included).
# Usage: tools/solo_bench.sh [SF_DIR] QUERY [QUERY...]
# The first argument is taken as SF_DIR only when it is a directory.
set -u
cd "$(dirname "$0")/.."
SF=/root/testdata/sf0.1
if [ $# -gt 0 ] && [ -d "$1" ]; then
  SF="$1"
  shift
fi
SNAP=$(mktemp -d)
cp -p BENCH_FULL.json BENCH_HISTORY.jsonl "$SNAP"/
trap 'cp -p "$SNAP"/BENCH_FULL.json "$SNAP"/BENCH_HISTORY.jsonl . && rm -rf "$SNAP"' EXIT
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" python bench.py "$SF" "$@" 2>/dev/null
