#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or two traced runs.

Usage:
  compare.py runs A.jsonl B.jsonl
      A and B hold one line per run, as series.py writes them:
      {"workload": ..., "seed": ..., "result": <run.py's result line>}.
      Per workload and end-to-end metric it prints each side's median and
      quartiles, the interquartile spread as a share of the median, the
      share of pairs (A[i], B[i]) each side wins, and two verdicts against
      the metric's bound in BENCHMARK.json: "shift" (the medians differ by
      no more than the bound, either way) and "spread" (both spreads are
      within it). It also compares the share of failed operations, and
      exits 1 when any verdict fails.
  compare.py traces A.jsonl B.jsonl
      A and B are --trace-out files of two traced runs. It prints the
      per-layer metrics side by side, then per operation the exact counters
      that differ (these must repeat on the same seed) apart from the
      timings, which are noisy. Exits 1 when an exact counter differs.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# Counters that repeat exactly on the same seed and program.
EXACT = ["operators.jobs", "operators.stages", "operators.shuffle_write_records",
         "plans.exchanges", "plans.broadcasts", "plans.reused_exchanges", "plans.sorts",
         "plans.windows", "plans.executions", "tables.input_rows"]
EXACT_STORE = ["read_amp", "space_amp", "files"]


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def spec():
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m for m in json.load(fh)["end_to_end"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def compare_runs(a_path, b_path):
    metrics = spec()
    a, b = load(a_path), load(b_path)
    workloads = sorted({r["workload"] for r in a} | {r["workload"] for r in b})
    ok = True
    for w in workloads:
        ra = [r["result"] for r in a if r["workload"] == w]
        rb = [r["result"] for r in b if r["workload"] == w]
        if not ra or not rb:
            print(f"{w}: runs missing on one side ({len(ra)} vs {len(rb)})")
            ok = False
            continue
        print(f"\n{w}: {len(ra)} runs vs {len(rb)} runs")
        fa = sorted({r['failed'] / r['attempted'] for r in ra})
        fb = sorted({r['failed'] / r['attempted'] for r in rb})
        print(f"  failed share: A {fa}  B {fb}  {'same' if fa == fb else 'DIFFERENT'}")
        ok &= fa == fb
        print(f"  {'metric':15s} {'A q1/med/q3':>30s} {'A iqr':>7s} {'B q1/med/q3':>30s} "
              f"{'B iqr':>7s} {'A wins':>7s} {'B wins':>7s} {'shift':>7s} bound")
        for name, m in metrics.items():
            xa = [r["metrics"][name]["value"] for r in ra]
            xb = [r["metrics"][name]["value"] for r in rb]
            qa, qb = quartiles(xa), quartiles(xb)
            lower = m["better"] == "lower"
            pairs = list(zip(xa, xb))
            wins_a = sum((x < y) if lower else (x > y) for x, y in pairs)
            wins_b = sum((y < x) if lower else (y > x) for x, y in pairs)
            shift = (qb[1] - qa[1]) / qa[1]
            iqr_a, iqr_b = (qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1]
            # either direction counts: on the same code a median that moved
            # by more than the bound is as much noise as one that got worse
            shift_ok = abs(shift) <= m["bound"]
            spread_ok = iqr_a <= m["bound"] and iqr_b <= m["bound"]
            ok &= shift_ok and spread_ok
            fmt = lambda q: f"{q[0]:9.4g}/{q[1]:9.4g}/{q[2]:9.4g}"
            print(f"  {name:15s} {fmt(qa):>30s} {iqr_a:7.3f} {fmt(qb):>30s} {iqr_b:7.3f} "
                  f"{wins_a / len(pairs):7.2f} {wins_b / len(pairs):7.2f} {shift:+7.3f} "
                  f"{m['bound']:5} shift {'ok' if shift_ok else 'EXCEEDS'}, "
                  f"spread {'ok' if spread_ok else 'EXCEEDS'}")
    return 0 if ok else 1


def compare_traces(a_path, b_path):
    a, b = load(a_path), load(b_path)
    sa = next(r for r in a if r.get("summary"))
    sb = next(r for r in b if r.get("summary"))
    print(f"{sa['workload']} seed {sa['seed']} vs {sb['workload']} seed {sb['seed']}")
    print(f"\n  {'end-to-end':34s} {'A':>14s} {'B':>14s}")
    for k in sa["end_to_end"]:
        print(f"  {k:34s} {sa['end_to_end'][k]:14.4f} {sb['end_to_end'].get(k, 0):14.4f}")
    print(f"\n  {'per-layer':34s} {'A':>14s} {'B':>14s} {'delta':>8s}")
    for k, va in sa["per_layer"].items():
        vb = sb["per_layer"].get(k, 0.0)
        delta = f"{(vb - va) / va:+8.3f}" if va else " " * 8
        print(f"  {k:34s} {va:14.4f} {vb:14.4f} {delta}")

    def by_op(recs):
        out = {}
        for r in recs:
            if not r.get("summary"):
                out.setdefault(r["op"], []).append(r)
        return out
    oa, ob = by_op(a), by_op(b)
    mismatches = 0
    print(f"\n  per operation (first pass each side ran): time A -> B, then exact counters that differ")
    for op in sorted(set(oa) | set(ob)):
        if op not in oa or op not in ob:
            print(f"  {op}: only in {'A' if op in oa else 'B'}")
            mismatches += 1
            continue
        ra, rb = oa[op], ob[op]
        diffs = []
        for pa, pb in zip(ra, rb):
            for k in EXACT:
                va, vb = pa["counters"].get(k, 0.0), pb["counters"].get(k, 0.0)
                if va != vb:
                    diffs.append(f"pass {pa['pass']} {k} {va:g}->{vb:g}")
            for k in EXACT_STORE:
                if k in pa["store"] and pa["store"][k] != pb["store"].get(k):
                    diffs.append(f"pass {pa['pass']} store.{k} {pa['store'][k]:g}->{pb['store'].get(k)}")
        mismatches += len(diffs)
        print(f"  {op:40s} {ra[0]['ms']:9.1f} -> {rb[0]['ms']:9.1f} ms  "
              f"{'exact counters equal' if not diffs else '; '.join(diffs[:4])}")
    print(f"\n  {mismatches} exact-counter mismatches")
    return 0 if mismatches == 0 else 1


def main():
    if len(sys.argv) != 4 or sys.argv[1] not in ("runs", "traces"):
        sys.exit(__doc__)
    fn = compare_runs if sys.argv[1] == "runs" else compare_traces
    sys.exit(fn(sys.argv[2], sys.argv[3]))


if __name__ == "__main__":
    main()
