#!/usr/bin/env python3
"""Scan a graft.Explain dump for scale-killer operators.

Usage:
  sbt "runMain graft.Explain <sfDir> /tmp/plans"
  python3 tools/plan_audit.py /tmp/plans

graft.Explain writes failures.json next to the plans: every query whose
plan could not be built, as [{query, error}]. A failed query has no
plan to audit, so any entry in it exits 2 naming every failed query,
and so does a dump without failures.json (not an Explain dump).

Verdicts:
  - CartesianProduct: always a finding — no registered query may plan one.
  - BroadcastNestedLoopJoin: listed for eyeball audit. Most instances are
    crossJoin(broadcast(<one-row stats>)) — corpus constants riding a
    broadcast, scalable at any size — or documented bounded-side theta
    joins (cosine_topk's fixed query subset). A BNLJ whose broadcast side
    is data-scale IS a finding; the list keeps that check one glance away.
"""
import glob
import json
import os
import sys


def main() -> int:
    d = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plans"
    failures_path = os.path.join(d, "failures.json")
    if not os.path.isfile(failures_path):
        print(f"no failures.json under {d} — run graft.Explain first", file=sys.stderr)
        return 2
    with open(failures_path, encoding="utf-8") as fh:
        failures = json.load(fh)
    if failures:
        print(f"{len(failures)} queries failed to explain; their plans are UNAUDITED:",
              file=sys.stderr)
        for f in failures:
            print(f"  {f['query']}: {f['error']}", file=sys.stderr)
        return 2
    files = sorted(glob.glob(f"{d}/*.txt"))
    cart, bnlj = [], []
    for f in files:
        t = open(f, encoding="utf-8").read()
        name = os.path.basename(f)[:-4]
        if "CartesianProduct" in t:
            cart.append(name)
        if "BroadcastNestedLoopJoin" in t:
            bnlj.append(name)
    print(f"{len(files)} plans scanned")
    print(f"CartesianProduct: {cart if cart else 'none'}")
    print(f"BroadcastNestedLoopJoin ({len(bnlj)} — audit broadcast side):")
    for n in bnlj:
        print(f"  {n}")
    return 1 if cart else 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BrokenPipeError:  # `| head` closed stdout — not a finding
        sys.exit(0)
