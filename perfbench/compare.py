#!/usr/bin/env python3
"""Compare two sets of benchmark results (files written by sweep.py).

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Per workload and end-to-end metric it prints both sets' median and
quartiles, the base's spread (quartile distance over median) and a
verdict against the metric's bound from BENCHMARK.json:

  worse       the change's median is worse than the base's by more
              than the bound
  better      the change's median is better by more than the base's
              own spread
  unresolved  the base's spread is wider than the bound, and not every
              change run reads better than every base run
  same        none of the above

Traced results (trace 1) give per-layer deltas: the median of each
per-layer metric in both sets and the change between them, so a moved
end-to-end figure can be pinned on a layer. With one file it prints
that set's figures alone.
"""
import json
import statistics
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def load(path):
    rows = [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]
    return [r for r in rows if r.get("result")]


def stats(values):
    """(median, first quartile, third quartile, spread)."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def verdict(base, change, better, bound):
    bmed, _, _, bspread = stats(base)
    cmed = statistics.median(change)
    if better == "lower":
        worse_by, dominates = (cmed - bmed) / bmed, max(change) < min(base)
    else:
        worse_by, dominates = (bmed - cmed) / bmed, min(change) > max(base)
    if worse_by > bound:
        return "worse"
    if bspread > bound and not dominates:
        return "unresolved"
    if -worse_by > bspread:
        return "better"
    return "same"


def series(rows, workload, trace, metric):
    return [r["result"]["metrics"][metric]["value"] for r in rows
            if r["workload"] == workload and r["trace"] == trace
            and metric in r["result"]["metrics"]]


def main(argv):
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    sets = [load(p) for p in argv[1:3]]
    workloads = list(dict.fromkeys(r["workload"] for s in sets for r in s))
    for w in workloads:
        print(f"== {w}")
        for s, name in zip(sets, ("base", "change")):
            rs = [r for r in s if r["workload"] == w]
            if rs:
                att = sum(r["result"]["attempted"] for r in rs)
                bad = sum(r["result"]["failed"] for r in rs)
                print(f"   {name}: {len(rs)} runs, fail_rate {bad / att:.4f} ({bad} of {att})")
        for m in spec["end_to_end"]:
            vals = [series(s, w, 0, m["name"]) for s in sets]
            if not vals[0]:
                continue
            line = f"   {m['name']:18s} {m['unit']:5s}"
            for v in vals:
                if v:
                    med, q1, q3, sp = stats(v)
                    line += f" | med {med:10.4g} q1 {q1:10.4g} q3 {q3:10.4g} spread {sp:6.1%}"
            if len(vals) == 2 and vals[1]:
                line += f" | {verdict(vals[0], vals[1], m['better'], m['bound'])} (bound {m['bound']:.0%})"
            print(line)
        layer_names = [m["name"] for m in spec["per_layer"]]
        traced = [series(s, w, 1, layer_names[0]) for s in sets]
        if any(traced):
            print("   per layer (traced runs, medians)")
            for name in layer_names:
                vals = [series(s, w, 1, name) for s in sets]
                meds = [statistics.median(v) if v else None for v in vals]
                line = f"     {name:26s}" + "".join(
                    f" {x:12.5g}" if x is not None else f" {'-':>12s}" for x in meds)
                if len(meds) == 2 and None not in meds:
                    line += f"   delta {meds[1] - meds[0]:+.5g}"
                print(line)


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    main(sys.argv)
