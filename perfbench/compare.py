#!/usr/bin/env python3
"""Compare two sets of benchmark result files: the parent's and a change's.

Usage:
    python3 perfbench/compare.py PARENT CHANGE [--benchmark BENCHMARK.json]
    python3 perfbench/compare.py --overhead RESULTS

PARENT, CHANGE and RESULTS are directories of result files (as run.py
writes them to .bench_build/results/) or single files. For every workload
and end-to-end metric the table gives each side's median and quartiles,
the share of pairs the change wins, and a verdict:

  improved     the change wins at least 9/10 of the pairs (ties count for
               neither) and the medians differ by more than the parent's
               own quartile spread
  unresolved   a side's quartile spread, as a share of its median, is wider
               than the metric's bound, and not every change run beats
               every parent run
  regressed    the change's median is worse than the parent's by more than
               the bound
  same         none of the above

Pairs are the i-th runs of each side in seed order. Traced runs are
compared per layer and by each span's self time per op (medians and their
ratio). --overhead reports, per
workload, how much the traced runs' end-to-end medians differ from the
untraced runs' of the same result set.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(path):
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    return [json.loads(f.read_text()) for f in files]


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def verdict(parent, change, better, bound):
    """The verdict and pair-win fraction for one metric (see module doc)."""
    sign = 1 if better == "higher" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if win_frac >= 0.9 and sign * (cmed - pmed) > (pq3 - pq1):
        return "improved", win_frac
    if max(spread(parent), spread(change)) > bound and not all_better:
        return "unresolved", win_frac
    if -sign * (cmed - pmed) > bound * abs(pmed):
        return "regressed", win_frac
    return "same", win_frac


def by_workload(results, trace):
    out = {}
    for r in sorted(results, key=lambda r: r["seed"]):
        if bool(r["trace"]) == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def values(runs, section, metric):
    return [r[section][metric]["value"] for r in runs if metric in r[section]]


def fmt(x):
    return f"{x:.4g}"


def compare(parent, change, bench):
    lines = []
    pw, cw = by_workload(parent, False), by_workload(change, False)
    for wl in sorted(set(pw) & set(cw)):
        lines.append(f"## {wl}  (parent n={len(pw[wl])}, change n={len(cw[wl])})")
        lines.append("metric | parent q1/med/q3 | change q1/med/q3 | pair wins | verdict")
        for m in bench["end_to_end"]:
            p, c = values(pw[wl], "end_to_end", m["name"]), values(cw[wl], "end_to_end", m["name"])
            if not p or not c:
                continue
            v, win = verdict(p, c, m["better"], m["bound"])
            lines.append(f'{m["name"]} | {"/".join(map(fmt, quartiles(p)))} | '
                         f'{"/".join(map(fmt, quartiles(c)))} | {win:.2f} | {v}')
    pt, ct = by_workload(parent, True), by_workload(change, True)
    for wl in sorted(set(pt) & set(ct)):
        lines.append(f"## {wl} per layer (traced; parent n={len(pt[wl])}, change n={len(ct[wl])})")
        lines.append("metric | parent median | change median | change/parent")
        for name in sorted(pt[wl][0]["per_layer"]):
            p, c = values(pt[wl], "per_layer", name), values(ct[wl], "per_layer", name)
            if not p or not c:
                continue
            pm, cm = statistics.median(p), statistics.median(c)
            ratio = fmt(cm / pm) if pm else "-"
            lines.append(f"{name} | {fmt(pm)} | {fmt(cm)} | {ratio}")
        for name in sorted(pt[wl][0].get("self_ms", {})):
            p = [r["self_ms"][name] for r in pt[wl] if name in r.get("self_ms", {})]
            c = [r["self_ms"][name] for r in ct[wl] if name in r.get("self_ms", {})]
            if p and c:
                pm, cm = statistics.median(p), statistics.median(c)
                lines.append(f"self.{name}_ms | {fmt(pm)} | {fmt(cm)} | {fmt(cm / pm) if pm else '-'}")
    return lines


def overhead(results, bench):
    lines = ["workload | metric | untraced median | traced median | traced/untraced - 1"]
    plain, traced = by_workload(results, False), by_workload(results, True)
    for wl in sorted(set(plain) & set(traced)):
        for m in bench["end_to_end"]:
            u, t = values(plain[wl], "end_to_end", m["name"]), values(traced[wl], "end_to_end", m["name"])
            if u and t:
                um, tm = statistics.median(u), statistics.median(t)
                lines.append(f'{wl} | {m["name"]} | {fmt(um)} | {fmt(tm)} | {fmt(tm / um - 1) if um else "-"}')
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--overhead", metavar="RESULTS")
    ap.add_argument("--benchmark", default=str(HERE.parent / "BENCHMARK.json"))
    args = ap.parse_args(argv)
    bench = json.loads(Path(args.benchmark).read_text())
    if args.overhead:
        lines = overhead(load(args.overhead), bench)
    elif args.parent and args.change:
        lines = compare(load(args.parent), load(args.change), bench)
    else:
        ap.error("give PARENT and CHANGE, or --overhead RESULTS")
    print("\n".join(lines))


if __name__ == "__main__":
    sys.exit(main())
