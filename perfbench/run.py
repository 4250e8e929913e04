#!/usr/bin/env python3
"""graft's layered benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the harness and
graft from the checkout's sources with sbt (perfbench/build.sbt); later
runs reuse the build while the sources are unchanged. A run prints a
human-readable summary on stderr and, as the last line of stdout, one
JSON object with the keys correct, attempted, failed and metrics:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import corpus  # noqa: E402
import report  # noqa: E402

ROOT = BENCH.parent
WORK = BENCH / ".work"
WORKLOADS = ("wordcount", "driver_rounds", "dedup_search", "stream_ingest")
# dedup_search reads sf0.1, where its operator kernels outweigh per-job
# overhead; the other sf workloads read sf0.01 (see README.md)
SF_DIRS = {"dedup_search": BENCH / "data" / "sf0.1"}
SF_DEFAULT = BENCH / "data" / "sf0.01"
CORPUS_MB = 16
JVM_LIMIT_S = 140
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src" / "main", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft plus the harness once per source state; return the
    runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        raise SystemExit("perfbench: graft's sources (src/main/scala/graft) are not in this "
                         "checkout; run from the repository root")
    stamp_file, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    stamp = sources_stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building graft and the harness with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    # `export` prints the classpath as the one bare, unprefixed line
    cps = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    WORK.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def corpus_dir(seed):
    """Generated corpora are cached per seed, outside the timed run."""
    d = WORK / "corpus" / f"seed-{seed}-{CORPUS_MB}mb"
    done = Path(str(d) + ".expected.tsv")
    if not done.is_file():
        log(f"generating the {CORPUS_MB} MB corpus for seed {seed} ...")
        shutil.rmtree(d, ignore_errors=True)
        corpus.generate(str(d), seed, CORPUS_MB)
    return d


def run_jvm(cp, args, tmp, deadline):
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [str(java), *opens, "-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Harness", *args]
    try:
        p = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: the harness ran past its time limit and was stopped")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        raise SystemExit(f"perfbench: the harness exited with {p.returncode}")


def oracle_check(pending, sf_dir, oracle_dir):
    """Compare first-seen query results against their DuckDB twins with
    tools/oracle_check.py's rules; return the names that failed."""
    spec = importlib.util.spec_from_file_location("oracle_check", ROOT / "tools" / "oracle_check.py")
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    oc.TABLES = [t for t in oc.TABLES if (sf_dir / f"{t}.parquet").is_file()]
    (oracle_dir / "oracle_sql.json").write_text(json.dumps({p["query"]: p["sql"] for p in pending}))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        oc.main(str(sf_dir), str(oracle_dir), {p["query"] for p in pending})
    passed = {l.split()[1] for l in buf.getvalue().splitlines() if l.startswith("PASS ")}
    for l in buf.getvalue().splitlines():
        if l.startswith("FAIL"):
            log(f"oracle: {l}")
    return {p["query"] for p in pending} - passed


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)
    # subprocess.run kills and reaps its child when this exception unwinds
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _: sys.exit(f"perfbench: stopped by signal {signum}"))

    cp = build()
    if a.workload == "wordcount":
        inp, key = corpus_dir(a.seed), f"corpus-{a.seed}"
    else:
        inp = SF_DIRS.get(a.workload, SF_DEFAULT)
        key = str(inp.relative_to(ROOT))
    # a run ends within 180 s; only the first one in a checkout also builds
    deadline = time.time() + JVM_LIMIT_S
    tmp = WORK / "tmp" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    digests = WORK / "digests.tsv"
    out = tmp / "raw.json"
    try:
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--work", str(tmp), "--input", str(inp),
                     "--input-key", key, "--digests", str(digests), "--out", str(out)],
                tmp, deadline)
        raw = json.loads(out.read_text())
        if a.workload == "stream_ingest" and not raw["staged"]:
            log("SparkEntry's event stager was not found: staging falls into the cold pass")
        if raw["pending"]:
            bad = oracle_check(raw["pending"], inp, tmp / "oracle")
            with open(digests, "a") as fh:
                fh.writelines(f"{p['key']}\t{p['query']}\t{p['digest']}\n"
                              for p in raw["pending"] if p["query"] not in bad)
            for q in raw["queries"]:
                if q["name"] in bad and q["ok"]:
                    q["ok"], q["note"] = False, "differs from the DuckDB oracle"
                    raw["failed"] += 1
        for q in raw["queries"]:
            if not q["ok"]:
                log(f"FAILED {q['name']} (pass {q['pass']}): {q['note']}")
        for f in raw["findings"]:
            log(f"determinism finding: {json.dumps(f)}")
        if a.trace:
            trace_file = WORK / f"trace-{a.workload}-{a.seed}.json"
            spans = report.link_spans(raw)
            trace_file.write_text(json.dumps(spans))
            metrics, notes = report.per_layer(raw, spans), {}
            log(f"trace: {len(spans)} spans written to {trace_file.relative_to(ROOT)}")
        else:
            metrics, notes = report.end_to_end(raw)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    correct = raw["failed"] == 0
    log(f"{a.workload} seed={a.seed}: output check {'PASS' if correct else 'FAIL'}; "
        f"fail_rate {raw['failed'] / raw['attempted']:.4f} ratio "
        f"({raw['failed']} of {raw['attempted']} queries)")
    for name, (cold, warm) in report.query_table(raw).items():
        log(f"  query {name:30s} cold {cold:9.1f} ms   warm median {warm:9.1f} ms")
    for name, m in metrics.items():
        log(f"  {name:28s} {m['value']:.6g} {m['unit']}  {notes.get(name, '')}")
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
