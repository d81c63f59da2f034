#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py A B

A and B are each a result file written by perfbench/run.py, a directory
of them, or a glob (quote it); by default run.py keeps every result in
.bench_build/results/. For every (metric, workload) pair the command
prints each set's median and quartiles and the change of the median,
flagging end-to-end metrics that got worse by more than their bound in
BENCHMARK.json. It then lists every deterministic counter (rows and
checksums per op; jobs, stages, tasks, records and shuffle bytes of the
first timed round) that differs between runs of the same workload and
seed, across and within the sets, and the tracing overhead of each set:
the traced median minus the untraced median of each end-to-end metric.
"""
import argparse
import glob
import json
import os
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(spec: str) -> list:
    p = Path(spec)
    if p.is_dir():
        files = sorted(p.glob("*.json"))
    elif p.is_file():
        files = [p]
    else:
        files = [Path(f) for f in sorted(glob.glob(spec))]
    runs = []
    for f in files:
        if f.name.endswith(".spans.json"):
            continue
        try:
            r = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(r, dict) and "metrics" in r and "workload" in r:
            r["_file"] = str(f)
            runs.append(r)
    return runs


def quartiles(xs: list) -> tuple:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def fmt(x: float) -> str:
    return f"{x:.4g}"


def metric_table(a: list, b: list, bench: dict) -> int:
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    worse = 0
    for trace, defs in ((0, e2e), (1, layer)):
        title = "end-to-end metrics (untraced runs)" if trace == 0 else \
            "per-layer metrics (traced runs)"
        print(f"\n== {title}")
        print(f"{'workload':10} {'metric':40} {'A q1/med/q3 (n)':34} "
              f"{'B q1/med/q3 (n)':34} change")
        workloads = sorted({r["workload"] for r in a + b})
        for w in workloads:
            for name, d in defs.items():
                va = [r["metrics"][name] for r in a
                      if r["workload"] == w and r["trace"] == trace and name in r["metrics"]]
                vb = [r["metrics"][name] for r in b
                      if r["workload"] == w and r["trace"] == trace and name in r["metrics"]]
                if not any(va + vb):  # not run, or not exercised by this workload
                    continue
                cols = []
                for v in (va, vb):
                    if v:
                        q1, md, q3 = quartiles(v)
                        cols.append(f"{fmt(q1)}/{fmt(md)}/{fmt(q3)} ({len(v)})")
                    else:
                        cols.append("-")
                change, flag = "", ""
                if va and vb:
                    ma, mb = statistics.median(va), statistics.median(vb)
                    if ma:
                        rel = (mb - ma) / abs(ma)
                        change = f"{rel:+.1%}"
                        if "bound" in d:
                            bad = rel > d["bound"] if d["better"] == "lower" \
                                else -rel > d["bound"]
                            if bad:
                                flag = f"  WORSE than bound {d['bound']:.0%}"
                                worse += 1
                print(f"{w:10} {name:40} {cols[0]:34} {cols[1]:34} {change}{flag}")
    return worse


def counter_diffs(a: list, b: list) -> int:
    print("\n== deterministic counters that differ (same workload, seed and trace)")
    groups = defaultdict(list)
    for tag, runs in (("A", a), ("B", b)):
        for r in runs:
            groups[(r["workload"], r["seed"], r["trace"])].append((tag, r))
    n = 0
    for key in sorted(groups):
        runs = groups[key]
        names = sorted({c for _, r in runs for c in r.get("counters", {})})
        for c in names:
            vals = {(tag, os.path.basename(r["_file"])): r.get("counters", {}).get(c)
                    for tag, r in runs}
            if len(set(vals.values())) > 1:
                n += 1
                shown = ", ".join(f"{t}:{f}={v}" for (t, f), v in sorted(vals.items()))
                print(f"{key[0]} seed={key[1]} trace={key[2]} {c}: {shown}")
    if n == 0:
        print("none")
    return n


def tracing_overhead(tag: str, runs: list, bench: dict) -> None:
    print(f"\n== tracing overhead in {tag} (traced median - untraced median)")
    for w in sorted({r["workload"] for r in runs}):
        for m in bench["end_to_end"]:
            plain = [r["metrics"][m["name"]] for r in runs
                     if r["workload"] == w and r["trace"] == 0 and m["name"] in r["metrics"]]
            traced = [r["metrics"]["traced." + m["name"]] for r in runs
                      if r["workload"] == w and r["trace"] == 1
                      and "traced." + m["name"] in r["metrics"]]
            if plain and traced:
                mp, mt = statistics.median(plain), statistics.median(traced)
                rel = f" ({(mt - mp) / mp:+.1%})" if mp else ""
                print(f"{w:10} {m['name']:20} {fmt(mt - mp)} {m['unit']}{rel}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    a, b = load(args.a), load(args.b)
    if not a or not b:
        print("no result files in " + (args.a if not a else args.b), file=sys.stderr)
        sys.exit(2)
    print(f"A: {len(a)} runs from {args.a}\nB: {len(b)} runs from {args.b}")
    worse = metric_table(a, b, bench)
    counter_diffs(a, b)
    tracing_overhead("A", a, bench)
    tracing_overhead("B", b, bench)
    print(f"\n{worse} end-to-end (metric, workload) pairs worse than their bound")


if __name__ == "__main__":
    main()
