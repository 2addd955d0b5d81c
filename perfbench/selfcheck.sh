#!/bin/bash
# Quick self-check over the smallest shared test tables (sf0.001): every
# workload runs traced twice on one seed, so every output check (DuckDB
# oracle for the queries, the store model for KeyedStore traffic) runs, and
# compare.py then requires the exact counters of the two runs to be equal.
# Run from the repository root: bash perfbench/selfcheck.sh
set -euo pipefail
out=.perfbench/selfcheck
mkdir -p "$out"
for w in sql_mix store_rw; do
  for i in 1 2; do
    python3 perfbench/run.py --workload "$w" --seed 1 --seconds 1 --trace 1 --data /root/testdata/sf0.001 \
      --trace-out "$out/$w-$i.jsonl" | tail -1 > "$out/$w-$i.result"
    python3 -c 'import json,sys; r=json.load(open(sys.argv[1])); sys.exit(0 if r["correct"] and r["failed"] == 0 else 1)' \
      "$out/$w-$i.result" || { echo "$w: failed operations, see $out/$w-$i.result"; exit 1; }
  done
  python3 perfbench/compare.py traces "$out/$w-1.jsonl" "$out/$w-2.jsonl" | tail -1
done
echo "selfcheck passed"
