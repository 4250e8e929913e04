#!/usr/bin/env python3
"""Docs-vs-registry consistency gate (round 11): the round-10 verdict's
"ledger drifted at round close" failure mode, automated. Reads the
query names from the one registry: `SparkEntry.registry` concatenates
query families (`<Family>Queries.specs`), one file each under
src/main/scala/graft/queries/, and the names are read from those files
in that order (`Q("<name>"` entries have a DuckDB twin,
`RowsOnly("<name>"` entries do not). A listed family file with no
entry, or an entry outside the listed files, is drift. Then it
cross-checks

  1. README's "<N> oracle-verified + <M> rows-only (<T> registered)"
     line against the registry,
  2. README's "other <K> registered queries" line (K == T - 2:
     wordcount and wordcount_x8 are the parity pair),
  3. every registered query name appears somewhere in SURVEY.md
     (the §8 ledger is the auditable coverage record),
  4. bench-history monotonicity (tools/history_check.py),
  5. one session builder: no `SparkSession.builder` under src/ outside
     GraftSession.scala, and no `SPARK_GRAFT_FANOUT` env override,
  6. no `/*"` glob path in a src/main file that builds a DataFrameReader
     (`spark.read.…`): a glob that expands past 32 paths is listed by a
     Spark job, where one directory root with `recursiveFileLookup` is
     listed on the driver,
  7. no composed token clean under src/main: `filter(transform(
     TextOps.tokens(x), … cleanWord …), … length … > 0)` or
     `size(filter(TextOps.tokens(x), … length(… cleanWord …) > 0))` is
     `TextOps.cleanTokens(x)`, the one-pass byte kernel, and `size` of it.

A query with no twin and no rows-only reason cannot be registered, and
a name cannot be registered twice (QueryRegistry throws), so no check
audits the twins against the queries. Exit 0 = consistent; nonzero
prints every drift. Run before the end-of-round snapshot.
"""
import pathlib
import re
import sys

QUERIES_DIR = pathlib.Path("src/main/scala/graft/queries")
# entries sit at the registry's 4-space indent, so a quoted name in SQL
# text or a comment cannot masquerade as one
ENTRY = re.compile(r'^    (Q|RowsOnly)\("([a-z0-9_]+)"', re.M)


def registry_entries(problems):
    """(kind, name) per registry entry, in registration order: the
    family files `SparkEntry.registry` lists, read in its order."""
    src = open("src/main/scala/graft/SparkEntry.scala", encoding="utf-8").read()
    start = src.index("lazy val registry")
    registry = src[start:src.index("lazy val queries", start)]
    families = re.findall(r"\b(\w+Queries)\.specs\b", registry)
    if not families:
        problems.append("no <Family>Queries.specs found in SparkEntry.registry")
    entries, listed = [], set()
    for family in families:
        path = QUERIES_DIR / f"{family}.scala"
        listed.add(path)
        if not path.is_file():
            problems.append(f"{path}: listed in SparkEntry.registry but missing")
            continue
        found = ENTRY.findall(path.read_text(encoding="utf-8"))
        if not found:
            problems.append(f"{path}: no Q(\"…\" / RowsOnly(\"…\" entries")
        entries += found
    for path in sorted(pathlib.Path("src/main").rglob("*.scala")):
        if path not in listed and ENTRY.search(path.read_text(encoding="utf-8")):
            problems.append(f"{path}: registry-indent entries outside the families "
                            "SparkEntry.registry lists (not registered)")
    return entries


def main() -> int:
    problems = []
    entries = registry_entries(problems)
    if not entries:
        for p in problems:
            print(f"DRIFT: {p}")
        print("DRIFT: no Q(\"…\" / RowsOnly(\"…\" entries found in the registry")
        return 1
    queries = {name for _, name in entries}
    rows_only = sorted(name for kind, name in entries if kind == "RowsOnly")
    n_oracle = len(queries) - len(rows_only)

    readme = open("README.md", encoding="utf-8").read()
    m = re.search(r"\*\*(\d+) oracle-verified \+ (\d+) rows-only queries \((\d+)\s*\nregistered\)\*\*", readme)
    if not m:
        problems.append("README counts line not found / reformatted")
    else:
        ro, rr, rt = map(int, m.groups())
        if ro != n_oracle:
            problems.append(f"README says {ro} oracle-verified, registry has {n_oracle}")
        if rr != len(rows_only):
            problems.append(f"README says {rr} rows-only, registry has {len(rows_only)}: {rows_only}")
        if rt != len(queries):
            problems.append(f"README says {rt} registered, registry has {len(queries)}")
    m2 = re.search(r"other (\d+) registered queries cover ground", readme)
    if m2 and int(m2.group(1)) != len(queries) - 2:
        problems.append(
            f"README 'other N' line says {m2.group(1)}, expected {len(queries) - 2}")

    survey = open("SURVEY.md", encoding="utf-8").read()
    unledgered = sorted(q for q in queries if f"`{q}`" not in survey and q not in survey)
    if unledgered:
        problems.append(f"registered queries absent from SURVEY.md: {unledgered}")

    # 4. bench-history monotonicity (VERDICT r16 #1): any upward best
    # revision vs HEAD must carry a bench_adoptions.jsonl record.
    import subprocess, os
    hc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "history_check.py")],
        capture_output=True, text=True)
    if hc.returncode != 0:
        problems.append("bench_history monotonicity: " + hc.stdout.strip())

    # 5. one session builder, no fan-out env override: copies of the
    # builder drift apart, and an env-read A/B device outlives its A/B.
    for path in sorted(pathlib.Path("src").rglob("*.scala")):
        text = path.read_text(encoding="utf-8")
        if "SparkSession.builder" in text and path.name != "GraftSession.scala":
            problems.append(f"{path}: SparkSession.builder outside GraftSession.scala")
        if 'sys.env.get("SPARK_GRAFT_FANOUT"' in text:
            problems.append(f"{path}: SPARK_GRAFT_FANOUT env override")

    # 6. no directory glob read: each expanded path is a root path, and
    # past spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    # the roots are listed by a Spark job.
    for path in sorted(pathlib.Path("src/main").rglob("*.scala")):
        text = path.read_text(encoding="utf-8")
        if not re.search(r"\.read\s*\.", text):  # a DataFrameReader chain
            continue
        for n, line in enumerate(text.splitlines(), 1):
            if '/*"' in line:
                problems.append(f"{path}:{n}: glob read path, list the directory instead")

    # 7. the composed clean is the kernel's job: it splits, strips and
    # lowercases through regexes and a String round trip per token.
    composed = re.compile(
        r"filter\(\s*transform\(\s*TextOps\.tokens\([^;]{0,200}?cleanWord[^;]{0,200}?"
        r"length\([^;]{0,40}?>\s*0\s*\)"
        r"|filter\(\s*TextOps\.tokens\([^;]{0,200}?length\(\s*TextOps\.cleanWord[^;]{0,80}?>\s*0\s*\)",
        re.S)
    for path in sorted(pathlib.Path("src/main").rglob("*.scala")):
        text = path.read_text(encoding="utf-8")
        for m in composed.finditer(text):
            n = text.count("\n", 0, m.start()) + 1
            problems.append(f"{path}:{n}: composed tokens/cleanWord/length filter, "
                            "use TextOps.cleanTokens")

    if problems:
        for p in problems:
            print(f"DRIFT: {p}")
        return 1
    print(f"consistent: {len(queries)} registered = {n_oracle} oracle + "
          f"{len(rows_only)} rows-only; README and SURVEY in sync")
    return 0

if __name__ == "__main__":
    sys.exit(main())
