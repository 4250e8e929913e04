#!/usr/bin/env python3
"""Run the benchmark over several seeds and keep every result.

    python3 perfbench/sweep.py OUT.jsonl --workloads wordcount,dedup_search \\
        --seeds 1-10 [--trace 0|1] [--seconds S]

Each run appends one line to OUT.jsonl: the workload, seed, trace flag,
wall seconds and the run's result object. Feed two such files to
perfbench/compare.py. Run from the repository root.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, type=seeds)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int,
                    default=json.loads((BENCH.parent / "BENCHMARK.json").read_text())["run_seconds"])
    a = ap.parse_args()
    for w in a.workloads.split(","):
        for s in a.seeds:
            t = time.time()
            p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(a.seconds),
                                "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True)
            wall = time.time() - t
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": s, "trace": a.trace, "wall_s": wall,
                                     "exit": p.returncode, "result": result}) + "\n")
            print(f"{w} seed={s} exit={p.returncode} {wall:.1f}s", file=sys.stderr, flush=True)


if __name__ == "__main__":
    main()
