"""Turns the harness's raw output into the benchmark's metrics.

End-to-end metrics come from the untraced warm passes of an untraced
run. Per-layer metrics come from the traced passes of a traced run,
through the span tree that `link_spans` builds:

    run > pass > query > {sources.open, construct, plan, action}
        > sql (SQL execution) > job > stage

plus micro-batch spans under the layer span that drove them (the
`construct` of a streaming query). Every per-layer metric is taken per
traced pass and reported as the median over those passes.
"""
import statistics

MB = 1_000_000
QUERY_LAYERS = ("sources.open", "construct", "plan", "action")
SELF_LAYERS = ("pass", "query", "sources.open", "construct", "plan", "action",
               "sql", "job", "stage", "microbatch")
PIN_FUNCS = ("localCheckpoint", "checkpoint")


def tail(samples):
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile, sample count, samples beyond). With 10 samples
    or fewer no percentile qualifies, and the maximum stands in, with 0
    samples beyond it."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n, 0
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n, n - 1 - i


def self_time(span, children):
    """A span's duration minus the part of its interval that its
    children cover (overlapping children count once)."""
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def query_ms(workload, q):
    """A query's latency: construction, planning and the materializing
    action. On wordcount opening the corpus is the query's own first
    step; on the sf workloads the sources probe is extra work and is
    left out."""
    t = q["times"]
    return sum(v for k, v in t.items() if k != "sources.open" or workload == "wordcount")


def passes(raw):
    """Per pass index: (traced, wall ms from the summed query latencies)."""
    out = {}
    for q in raw["queries"]:
        traced, ms = out.get(q["pass"], (q["traced"], 0.0))
        out[q["pass"]] = (traced, ms + query_ms(raw["workload"], q))
    return out


def warm_untraced(raw):
    """The untraced passes after the cold one (pass 0) and the warm-up
    one (pass 1), which runs only to settle the JIT."""
    return sorted(i for i, (traced, _) in passes(raw).items() if i >= 2 and not traced)


def query_table(raw):
    """Per query name: (cold latency, median warm untraced latency) in ms."""
    warm = set(warm_untraced(raw))
    out = {}
    for name in dict.fromkeys(q["name"] for q in raw["queries"]):
        qs = [q for q in raw["queries"] if q["name"] == name]
        cold = sum(query_ms(raw["workload"], q) for q in qs if q["pass"] == 0)
        ws = [query_ms(raw["workload"], q) for q in qs if q["pass"] in warm]
        out[name] = (cold, statistics.median(ws) if ws else 0.0)
    return out


def batch_samples(raw):
    """Per warm untraced pass, the latencies of the batches it
    delivered. Streams: micro-batch triggerExecution. Batch workloads:
    the latency of each query, a query being the unit of result a batch
    client receives."""
    ps = [s for s in raw["spans"] if s["name"] == "pass"]
    out = []
    for i in warm_untraced(raw):
        if raw["batches"]:
            out.append([b["durations"].get("triggerExecution", 0) for b in raw["batches"]
                        if ps[i]["start"] <= b["start"] <= ps[i]["end"]])
        else:
            out.append([query_ms(raw["workload"], q) for q in raw["queries"] if q["pass"] == i])
    return out


def end_to_end(raw):
    per_pass = passes(raw)
    warm = [per_pass[i][1] for i in warm_untraced(raw)]
    warm_s = statistics.median(warm) / 1000
    # the queries of a pass deliver batches of different sizes, and a
    # median over single batches would flip between those sizes from
    # run to run; so each pass's mean batch first, then the median
    per_pass_batches = [b for b in batch_samples(raw) if b]
    t, pct, n, beyond = tail([x for b in per_pass_batches for x in b])
    m = {
        "setup_s": (raw["setup_ms"] / 1000, "s"),
        "cold_pass_s": (per_pass[0][1] / 1000, "s"),
        "warm_pass_s": (warm_s, "s"),
        "input_mb_per_s": (raw["input_bytes"] / MB / warm_s, "MB/s"),
        "batch_p50_ms": (statistics.median(statistics.fmean(b) for b in per_pass_batches), "ms"),
        "retained_heap_mb": (raw["heap_bytes"] / MB, "MB"),
    }
    notes = {"warm_pass_s": "passes (s): " + " ".join(f"{x / 1000:.2f}" for x in warm),
             "batch_p50_ms": f"of {n} samples; tail p{pct:.1f} = {t:.1f} ms, {beyond} beyond it"}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, notes


def link_spans(raw):
    """The harness spans plus the listener records of the traced passes,
    each linked to its parent. A micro-batch hangs under the harness
    span that drove it (a streaming query's `construct`). A SQL
    execution, and a job outside any execution, hangs under the
    innermost span open when it started, a micro-batch included. A job
    inside an execution hangs under it, and a stage under its job.
    Every span carries its query's id."""
    hs = [dict(s, layer=s["name"]) for s in raw["spans"]]
    by_id = {s["id"]: s for s in hs}
    log = {q["query"]: q for q in raw["queries"]}
    for s in hs:
        q = log.get(s["query"])
        if q and s["name"] == "query":
            s.update(query_name=q["name"], ok=q["ok"], blockmgr_bytes=q["blockmgr_bytes"])
        elif q and s["name"] == "plan":
            s["phases"] = q["phases"]
    depth = {}
    for s in hs:
        depth[s["id"]] = depth.get(s["parent"], -1) + 1
    traced = {i for i, (t, _) in passes(raw).items() if t}
    for i, p in enumerate(s for s in hs if s["name"] == "pass"):
        p["pass"], p["traced"] = i, i in traced
    live = [p for p in hs if p.get("traced")]

    def traced_pass_of(s):
        while s["name"] != "pass":
            s = by_id[s["parent"]]
        return s

    inner = [s for s in hs if s["name"] in QUERY_LAYERS + ("query",) and traced_pass_of(s)["traced"]]

    def innermost(t):
        best = None
        for s in inner:
            if s["start"] <= t <= s["end"] and (best is None or depth[s["id"]] > depth[best["id"]]):
                best = s
        if best is None:
            best = next((p for p in live if p["start"] <= t <= p["end"]), None)
        return best

    spans = list(hs)
    next_id = max(by_id) + 1 if by_id else 1

    def add(parent, layer, start, end, **attrs):
        nonlocal next_id
        s = dict(id=next_id, parent=parent["id"], query=parent["query"], name=layer, layer=layer,
                 start=start, end=max(end, start), **attrs)
        next_id += 1
        spans.append(s)
        return s

    for b in raw["batches"]:
        p = innermost(b["start"])
        if p is not None:
            d = b["durations"]
            mb = add(p, "microbatch", b["start"], b["start"] + d.get("triggerExecution", 0),
                     batch_id=b["batch"], durations=d, input_rows=b["input_rows"],
                     state_bytes=b["state_bytes"])
            depth[mb["id"]] = depth[p["id"]] + 1
            inner.append(mb)
    execs = {}
    for e in raw["execs"]:
        p = innermost(e["start"])
        if p is not None:
            execs[e["id"]] = add(p, "sql", e["start"], e["end"], exec_id=e["id"],
                                 description=e["description"], plan_hash=e["plan_hash"])
    jobs = []
    for j in raw["jobs"]:
        p = execs.get(j["exec"]) or innermost(j["start"])
        if p is not None:
            jobs.append(add(p, "job", j["start"], j["end"], job_id=j["id"], stage_ids=j["stages"]))
    for st in raw["stages"]:
        owners = [j for j in jobs if st["id"] in j["stage_ids"] and j["start"] <= st["start"] + 1]
        if owners:
            add(owners[-1], "stage", st["start"], st["end"], stage_id=st["id"],
                **{k: st[k] for k in ("tasks", "failed_tasks", "task_ms", "gc_ms", "deser_ms",
                                      "input_bytes", "output_bytes", "shuffle_write_bytes",
                                      "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes")})
    return spans


def per_layer(raw, spans):
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def under(root):
        out, stack = [], [root]
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(kids.get(s["id"], ()))
        return out

    def layer_of(s):
        while s["layer"] not in QUERY_LAYERS and s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s["layer"]

    cores = raw["cores"]
    per_pass = passes(raw)
    rows = []
    for p in (s for s in spans if s.get("traced")):
        sub = under(p)
        of = lambda layer: [s for s in sub if s["layer"] == layer]
        stages, jobs, batches = of("stage"), of("job"), of("microbatch")
        qs = [q for q in raw["queries"] if q["pass"] == p["pass"]]
        rec = [r for q in qs for r in q["recorded"]]
        wall = per_pass[p["pass"]][1]
        task_ms = sum(s["task_ms"] for s in stages)
        repeats = execs = 0
        for q in of("query"):
            seen = set()
            for e in (s for s in under(q) if s["layer"] == "sql"):
                execs += 1
                repeats += e["plan_hash"] in seen
                seen.add(e["plan_hash"])
        dur = lambda layer: sum(s["end"] - s["start"] for s in of(layer))
        jobs_in = lambda layer: sum(1 for j in jobs if layer_of(j) == layer)
        phase = lambda name: sum(q["phases"].get(name, 0) for q in qs)
        st = lambda key: sum(s[key] for s in stages)
        bd = lambda *keys: [sum(b["durations"].get(k, 0) for k in keys) for b in batches]
        med = lambda xs: statistics.median(xs) if xs else 0.0
        row = {
            "sources.open_ms": (dur("sources.open"), "ms"),
            "sources.open_jobs": (jobs_in("sources.open"), "count"),
            "sources.read_mb": (st("input_bytes") / MB, "MB"),
            "sources.scan_rows": (sum(r["scan_rows"] for r in rec), "count"),
            "sources.write_mb": (st("output_bytes") / MB, "MB"),
            "construct.ms": (dur("construct"), "ms"),
            "construct.jobs": (jobs_in("construct"), "count"),
            "construct.pins": (sum(r["func"] in PIN_FUNCS for r in rec), "count"),
            "plan.ms": (dur("plan"), "ms"),
            "plan.analysis_ms": (phase("analysis"), "ms"),
            "plan.optimization_ms": (phase("optimization"), "ms"),
            "plan.physical_ms": (phase("planning"), "ms"),
            "action.ms": (dur("action"), "ms"),
            "action.jobs": (jobs_in("action"), "count"),
            "exec.jobs": (len(jobs), "count"),
            "exec.stages": (len(stages), "count"),
            "exec.tasks": (st("tasks"), "count"),
            "exec.task_ms": (task_ms, "ms"),
            "exec.core_busy": (task_ms / (wall * cores), "ratio"),
            "exec.gc_ms": (st("gc_ms"), "ms"),
            "exec.deser_ms": (st("deser_ms"), "ms"),
            "exec.single_task_stages": (sum(s["tasks"] == 1 for s in stages), "count"),
            "exec.failed_tasks": (st("failed_tasks"), "count"),
            "exec.repeat_exec_ratio": (repeats / execs if execs else 0.0, "ratio"),
            "shuffle.write_mb": (st("shuffle_write_bytes") / MB, "MB"),
            "shuffle.read_mb": (st("shuffle_read_bytes") / MB, "MB"),
            "shuffle.fetch_wait_ms": (st("fetch_wait_ms"), "ms"),
            "shuffle.spill_mb": (st("spill_bytes") / MB, "MB"),
            "shuffle.exchanges": (sum(r["exchanges"] for r in rec), "count"),
            "stream.batches": (len(batches), "count"),
            "stream.batch_ms": (med(bd("triggerExecution")), "ms"),
            "stream.add_batch_ms": (med(bd("addBatch")), "ms"),
            "stream.commit_ms": (med(bd("walCommit", "commitOffsets")), "ms"),
            "stream.latest_offset_ms": (med(bd("latestOffset")), "ms"),
            "stream.planning_ms": (med(bd("queryPlanning")), "ms"),
            "stream.input_rows": (sum(b["input_rows"] for b in batches), "count"),
            "stream.state_mb": (max((b["state_bytes"] for b in batches), default=0) / MB, "MB"),
            "blockmgr.peak_mb": (max((q["blockmgr_bytes"] for q in qs), default=0) / MB, "MB"),
        }
        for layer in SELF_LAYERS:
            row[f"self.{layer}_ms"] = (sum(self_time(s, kids.get(s["id"], ())) for s in of(layer)), "ms")
        row["trace.pass_s"] = (wall / 1000, "s")
        rows.append(row)
    out = {k: {"value": statistics.median(r[k][0] for r in rows), "unit": rows[0][k][1]}
           for k in rows[0]}
    untraced = [per_pass[i][1] for i in warm_untraced(raw)]
    out["trace.untraced_pass_s"] = {"value": statistics.median(untraced) / 1000, "unit": "s"}
    out["trace.overhead_s"] = {"value": out["trace.pass_s"]["value"] - out["trace.untraced_pass_s"]["value"],
                               "unit": "s"}
    return out
