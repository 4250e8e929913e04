#!/usr/bin/env python3
r"""Docs-vs-registry consistency gate (round 11): the round-10 verdict's
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
  7. one tokenizer vocabulary under src/main: `filter(transform(
     TextOps.tokens(x), … cleanWord …), … length … > 0)` or
     `size(filter(TextOps.tokens(x), … length(… cleanWord …) > 0))` is
     `TextOps.cleanTokens(x)`, the one-pass byte kernel, and `size` of
     it. Outside TextOps.scala, three more shapes are flagged:
     `explode(TextOps.tokens(x))` followed within two lines by
     `cleanWord` is `TextOps.docWords`/`TextOps.words`;
     `filter(split(x, …TokenSepRe), …)` is `TextOps.rawTokens(x)`; and a
     Spark `split(x, "\\s+")` is `TextOps.rawTokens(x)` too, since Java's
     `\s` matches \x0B where the DuckDB twin's RE2 `\s` does not. A
     Spark `regexp_replace(x, "\\s+", …)` is flagged for the same
     reason, everywhere: collapse on `TextOps.TokenSepRe`. Twin SQL
     (`string_split_regex`, `list_filter`, single-quoted patterns)
     matches none of them,
  8. one stream session per (session, partitions, state-store
     provider): `.newSession()` under src/main only in
     `SparkEntry.streamSession` and in plans/Cbo.scala (which starts no
     stream), and the `"spark.sql.streaming.stateStore.providerClass"`
     key only in `SparkEntry.streamSession`. A session per stream
     registers a listener bus that is never removed, and a provider set
     on a shared stream session leaks into the next query,
  9. one drain seam: every bounded stream under src/main is read by
     `EventStreams.fileStream` (the only `"maxFilesPerTrigger"`) and
     run to its end by `EventStreams.drainEach` or `runToMemory` (the
     only `.writeStream`s, both through `drain`'s
     `Trigger.AvailableNow`). `processAllAvailable(` is flagged
     everywhere: a `processAllAvailable()` + `stop()` pair logs two
     "Failed to cancel job group" warnings per query,
 10. one batch store seam: under src/main and outside
     streaming/BatchStore.scala, no string literal in code spells a
     batch-keyed dir (`/b$…`, `batch_id=`), a store seed (`/seed`,
     `.seed_next`) or a `recursiveFileLookup` read (sources/TextCorpus.scala
     reads its corpus recursively and is exempt). A hand copy of the
     layout skips what the seam does on every read and write: the heal,
     the AS-OF filter and the one-rename publish,
 11. one clustered writer and one manifest publisher: under src/main, a
     `repartitionByRange(…)` chain that ends in a `.write`, a
     `"maxRecordsPerFile"` write option, or a `.write` chain whose
     target spells `_manifest` or `manifestDir(` appears only in
     `StatsManifest.writeFiles` (the writer both table layouts land
     their files through) and `StatsManifest.publish` (the staged,
     one-rename manifest publication of both layouts).
     `Sinks.writeCompacted`, the unclustered size-governed sink that
     writes no manifest, may also set `"maxRecordsPerFile"`. A hand copy
     of the writer or the publisher skips what they do: the emptied-table
     guard of a LakeTable commit, the staging and the rename.

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


def call_args(text, open_paren, pair="()"):
    """The text between the bracket at `open_paren` and its match,
    skipping double-quoted Scala string literals."""
    depth, i = 0, open_paren
    while i < len(text):
        c = text[i]
        if c == '"':
            i += 1
            while i < len(text) and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
        elif c == pair[0]:
            depth += 1
        elif c == pair[1]:
            depth -= 1
            if depth == 0:
                return text[open_paren + 1:i]
        i += 1
    return text[open_paren + 1:]


def def_span(text, name):
    """(start, end) of `def name(…)…{ … }` in `text`: its parameter
    list, then its brace-delimited body; None if there is no such def."""
    m = re.search(r"\bdef " + name + r"\(", text)
    if not m:
        return None
    params = m.end() - 1
    body = text.index("{", params + len(call_args(text, params)) + 2)
    return m.start(), body + len(call_args(text, body, "{}")) + 2


def member_span(text, name):
    """(start, end) of the object member `def name` (2-space indent,
    optionally `private`/`private[pkg]`): from its line to the next line
    at that indent, so a brace-less body counts too; None if there is no
    such member."""
    m = re.search(r"^  (?:private(?:\[\w+\])? )?def " + name + r"\b", text, re.M)
    if not m:
        return None
    nxt = re.compile(r"^  \S", re.M).search(text, m.end())
    return m.start(), nxt.start() if nxt else len(text)


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
    # the tokenizer spelt out by hand; an identifier character (or `.`)
    # before the call name keeps out DuckDB's `list_filter(` and
    # `string_split_regex(` and Java's `String.split(`
    explode_clean = re.compile(
        r"(?<![\w.])explode\(\s*TextOps\.tokens\((?:[^\n]*\n){0,2}?[^\n]*?cleanWord")
    raw_split = re.compile(r"(?<![\w.])filter\(\s*split\(")
    ws_split = re.compile(r"(?<![\w.])split\(")
    ws_replace = re.compile(r"(?<![\w.])regexp_replace\(")
    for path in sorted(pathlib.Path("src/main").rglob("*.scala")):
        text = path.read_text(encoding="utf-8")
        line = lambda i: text.count("\n", 0, i) + 1
        for m in composed.finditer(text):
            problems.append(f"{path}:{line(m.start())}: composed tokens/cleanWord/length "
                            "filter, use TextOps.cleanTokens")
        for m in ws_replace.finditer(text):
            if re.search(r',\s*"\\\\s\+"\s*,', call_args(text, m.end() - 1)):
                problems.append(f"{path}:{line(m.start())}: regexp_replace on \"\\\\s+\" (Java \\s "
                                "matches \\x0B, RE2's does not), use TextOps.TokenSepRe")
        if path.name == "TextOps.scala":
            continue
        for m in explode_clean.finditer(text):
            problems.append(f"{path}:{line(m.start())}: explode(TextOps.tokens) then "
                            "cleanWord, use TextOps.docWords or TextOps.words")
        for m in raw_split.finditer(text):
            if "TokenSepRe" in call_args(text, m.end() - 1):
                problems.append(f"{path}:{line(m.start())}: filter(split(…, TokenSepRe)), "
                                "use TextOps.rawTokens")
        for m in ws_split.finditer(text):
            if re.search(r',\s*"\\\\s\+"\s*$', call_args(text, m.end() - 1)):
                problems.append(f"{path}:{line(m.start())}: split on \"\\\\s+\" (Java \\s "
                                "matches \\x0B, RE2's does not), use TextOps.rawTokens")

    # 8. stream sessions come from SparkEntry.streamSession, keyed by
    # (session, partitions, provider): a session per stream leaks its
    # listener bus, catalog and sinks.
    entry = pathlib.Path("src/main/scala/graft/SparkEntry.scala")
    span = def_span(entry.read_text(encoding="utf-8"), "streamSession")
    if span is None:
        problems.append(f"{entry}: no def streamSession")
    provider = re.compile(r'"spark\.sql\.streaming\.stateStore\.providerClass"')
    for path in sorted(pathlib.Path("src/main").rglob("*.scala")):
        text = path.read_text(encoding="utf-8")
        line = lambda i: text.count("\n", 0, i) + 1
        inside = lambda i: path == entry and span is not None and span[0] <= i < span[1]
        for m in re.finditer(r"\.newSession\(\)", text):
            if not inside(m.start()) and path.as_posix() != "src/main/scala/graft/plans/Cbo.scala":
                problems.append(f"{path}:{line(m.start())}: newSession() outside "
                                "SparkEntry.streamSession, take a streamSession")
        for m in provider.finditer(text):
            if not inside(m.start()):
                problems.append(f"{path}:{line(m.start())}: stateStore.providerClass set outside "
                                "SparkEntry.streamSession, pass streamSession(s, stateStore = …)")

    # 9. bounded streams are read and drained in one place: the shape,
    # the EventStreams members that may spell it, and what to call.
    seam = pathlib.Path("src/main/scala/graft/streaming/EventStreams.scala")
    seam_text = seam.read_text(encoding="utf-8")
    drain_shapes = [
        (r"\.writeStream\b", ("drainEach", "runToMemory"), "EventStreams.drainEach or runToMemory"),
        (r"\bprocessAllAvailable\(", (), "EventStreams.drainEach or runToMemory"),
        (r'"maxFilesPerTrigger"', ("fileStream",), "EventStreams.fileStream")]
    for path in sorted(pathlib.Path("src/main").rglob("*.scala")):
        text = path.read_text(encoding="utf-8")
        line = lambda i: text.count("\n", 0, i) + 1
        for pattern, members, use in drain_shapes:
            spans = [member_span(seam_text, n) for n in members] if path == seam else []
            for m in re.finditer(pattern, text):
                if not any(sp and sp[0] <= m.start() < sp[1] for sp in spans):
                    problems.append(f"{path}:{line(m.start())}: {m.group(0)} outside the "
                                    f"drain seam, use {use}")

    # 10. batch-keyed dirs are spelt in one place: the shapes a hand
    # copy of the layout leaves in a string literal of code.
    store_seam = pathlib.Path("src/main/scala/graft/streaming/BatchStore.scala")
    corpus = pathlib.Path("src/main/scala/graft/sources/TextCorpus.scala")
    store_shapes = [  # (pattern, what, the one other file it may appear in)
        (r"/b\$", "a /b$… batch dir", None),
        (r"batch_id=", "a batch_id= dir", None),
        (r"/seed\b|\.seed_next", "a store seed dir", None),
        (r"recursiveFileLookup", "a recursiveFileLookup read", corpus)]
    literal = re.compile(r'"(?:[^"\\\n]|\\.)*"')
    for path in sorted(pathlib.Path("src/main").rglob("*.scala")):
        if path == store_seam:
            continue
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1):
            code = line.split("//")[0]
            if code.lstrip().startswith(("*", "/*")):
                continue
            for lit in literal.findall(code):
                for pattern, what, exempt in store_shapes:
                    if path != exempt and re.search(pattern, lit):
                        problems.append(f"{path}:{n}: {what} outside the batch store seam, "
                                        "use graft.streaming.BatchStore")

    # 11. clustered files and manifests are written in one place: a
    # statement is a line plus the `.`-led lines chained onto it.
    layout = pathlib.Path("src/main/scala/graft/sources/StatsManifest.scala")
    sinks = pathlib.Path("src/main/scala/graft/sources/Sinks.scala")
    layout_text = layout.read_text(encoding="utf-8")
    seams = {layout: [member_span(layout_text, n) for n in ("writeFiles", "publish")],
             sinks: [member_span(sinks.read_text(encoding="utf-8"), "writeCompacted")]}
    write_shapes = [  # (pattern over a statement, what, files whose seams may hold it)
        (r"repartitionByRange\(.*\.write\b", "a repartitionByRange(…)….write", (layout,)),
        (r'"maxRecordsPerFile"', "a maxRecordsPerFile write", (layout, sinks)),
        (r"\.write\b.*(?:_manifest|manifestDir\()", "a _manifest write", (layout,))]
    for path in sorted(pathlib.Path("src/main").rglob("*.scala")):
        text = path.read_text(encoding="utf-8")
        statements, offset = [], 0
        for n, line in enumerate(text.splitlines(keepends=True), 1):
            code = line.split("//")[0].strip()
            if code.startswith(("*", "/*")):
                code = ""
            if code.startswith(".") and statements:
                statements[-1][2] += code
            else:
                statements.append([n, offset, code])
            offset += len(line)
        for n, start, code in statements:
            for pattern, what, homes in write_shapes:
                inside = path in homes and any(
                    sp and sp[0] <= start < sp[1] for sp in seams[path])
                if re.search(pattern, code) and not inside:
                    problems.append(f"{path}:{n}: {what} outside the one clustered writer and "
                                    "publisher, use StatsManifest.writeFiles / publish "
                                    "(LakeTable: landCommit / publish)")

    if problems:
        for p in problems:
            print(f"DRIFT: {p}")
        return 1
    print(f"consistent: {len(queries)} registered = {n_oracle} oracle + "
          f"{len(rows_only)} rows-only; README and SURVEY in sync")
    return 0

if __name__ == "__main__":
    sys.exit(main())
