"""The benchmark's arithmetic: percentiles, span self time, job attribution
and the end-to-end and per-layer metrics computed from a run's raw record.

Everything here is a pure function of the raw record the JVM writes
(`raw.json`), so it is unit-tested without Spark (test_perfbench.py).
"""
import statistics

CORES = 4
TAIL_BEYOND = 10
MODULES = ["Ops", "Joins", "Grouping", "Dedup", "Similarity", "Search", "Graph",
           "Stats", "Bpe", "Unigram", "WordPiece", "Lm"]


# Operator modules the workloads call (q00, q11, q136); their job counts are
# printed. The other modules' counts read 0 on both workloads and stay in the
# result file only.
CALLED_MODULES = ("Ops", "Joins", "Grouping")


def printed(name):
    """Whether a per-layer metric is on the traced run's last line. Left
    out: time metrics that only one workload produces (streaming on ingest;
    closures, SQL planning and operator jobs on relational), where a time
    that reads 0 on every run of the other workload would look like a
    constant, and the job counts of modules neither workload calls."""
    if name.startswith("operators.") and name.endswith(".jobs"):
        return name.split(".")[1] in CALLED_MODULES
    return not (name.startswith(("streaming.", "spark.planning.")) and name.endswith("_ms")
                or name.startswith("operators.") and name.endswith(".job_ms")
                or name in ("SparkEntry.build_ms", "spark.exchange.fetch_wait_ms"))


def layer_unit(name):
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s"),
                         ("_ratio", "ratio"), ("_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile of `xs` with at least `beyond` samples above
    it. Returns (value, percentile, n); with fewer than beyond + 1 samples
    there is no such percentile and the maximum is returned with
    percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return s[-1], 100.0, n
    i = n - 1 - beyond
    return s[i], 100.0 * (i + 1) / n, n


def ratio(num, den):
    """A ratio reported together with its base."""
    return {"value": num / den if den else 0.0, "num": num, "den": den}


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the union of its children's intervals,
    clipped to the span, so overlapping children are counted once."""
    clipped = [(max(start, s), min(end, e)) for s, e in children]
    return (end - start) - union_length(clipped)


def attribute(frames):
    """The layer a job belongs to, from the graft frames of its call site
    (innermost first): the innermost `graft.operators` frame names the
    operator module; otherwise a `graft.Tables` frame, any other graft
    frame (the query closure), or the benchmark's own final write."""
    for f in frames:
        if f.startswith("graft.operators."):
            cls = f[len("graft.operators."):].split("(")[0].rsplit(".", 1)[0]
            return "operators." + cls.split("$")[0]
    for f in frames:
        if f.startswith("graft.Tables"):
            return "Tables"
    if any(f.startswith("graft.streaming.") for f in frames):
        return "streaming"
    if any(f.startswith("graft.") for f in frames):
        return "SparkEntry"
    return "write"


# ---------------------------------------------------------------- batch


def exec_s(e):
    return e["end"] - e["start"]


def batch_end_to_end(raw, traced):
    """End-to-end metrics of a relational run."""
    execs = raw["execs"]
    cold = [e for e in execs if e["pass"] == 0]
    warm = [e for e in execs if e["pass"] > 0 and not (traced and e["traced"])]
    passes = {}
    for e in warm:
        passes.setdefault(e["pass"], []).append(exec_s(e))
    # A pooled percentile over a handful of distinct queries jumps between
    # them; the unit latency is the mean query of a pass, median over passes.
    lat = [exec_s(e) for e in warm]
    t, pct, n = tail(lat)
    failed = sum(1 for e in execs if e["error"])
    cpu = {}
    for e in warm:
        cpu[e["pass"]] = cpu.get(e["pass"], 0.0) + e["cpu_s"]
    return {
        "setup_s": raw["setup_s"],
        "cold_cpu_s": sum(e["cpu_s"] for e in cold),
        "cpu_s": median(list(cpu.values())),
        "heap_live_mb": max(e["heap_mb"] for e in execs),
        "cold_wall_s": sum(exec_s(e) for e in cold),
        "wall_s": median([sum(v) for v in passes.values()]),
        "latency_s": median([sum(v) / len(v) for v in passes.values()]),
    }, {"query_p50_s": median(lat), "query_tail_s": t,
        "tail_percentile": pct, "tail_samples": n, "warm_passes": len(passes),
        "attempted": len(execs), "failed": failed,
        "failed_ratio": ratio(failed, len(execs)),
        "pinned_left": sum(e["pinned_left"] for e in cold),
        "tempdirs_left": sum(e["tempdirs_left"] for e in cold)}


def _stage_layers(stage_list, wall_ms):
    """spark.exec / spark.exchange / Tables scan metrics over stages."""
    m = {}
    run = sum(s["run_ms"] for s in stage_list)
    m["spark.exec.run_ms"] = run
    m["spark.exec.cpu_ms"] = sum(s["cpu_ms"] for s in stage_list)
    m["spark.exec.gc_ms"] = sum(s["gc_ms"] for s in stage_list)
    busy = ratio(run, wall_ms * CORES)
    m["spark.exec.busy_ratio"] = busy["value"]
    m["spark.exec.slot_ms"] = busy["den"]
    skews = [s["dur_max"] / s["dur_med"] for s in stage_list
             if s["tasks"] >= 2 and s["dur_med"] > 0]
    m["spark.exec.stage_skew"] = max(skews, default=1.0)
    m["spark.exec.peak_mem_mb"] = max((s["peak_mem"] for s in stage_list), default=0) / 1e6
    m["spark.exchange.write_mb"] = sum(s["write_bytes"] for s in stage_list) / 1e6
    m["spark.exchange.read_mb"] = sum(s["read_bytes"] for s in stage_list) / 1e6
    m["spark.exchange.fetch_wait_ms"] = sum(s["fetch_ms"] for s in stage_list)
    m["spark.exchange.spill_mb"] = sum(s["spill_bytes"] for s in stage_list) / 1e6
    scans = [s for s in stage_list if s["in_rows"] > 0 or s["in_bytes"] > 0]
    m["Tables.scan_tasks"] = sum(s["tasks"] for s in scans)
    m["Tables.read_rows"] = sum(s["in_rows"] for s in scans)
    m["Tables.read_mb"] = sum(s["in_bytes"] for s in scans) / 1e6
    m["spark.scheduler.stages"] = len(stage_list)
    m["spark.scheduler.tasks"] = sum(s["tasks"] for s in stage_list)
    m["spark.scheduler.delay_ms"] = sum(s["delay_ms"] for s in stage_list)
    return m


def _job_layers(jobs):
    m = {f"operators.{mod}.{k}": 0 for mod in MODULES + ["other"] for k in ("jobs", "job_ms")}
    m["Tables.schema_jobs"] = 0
    for j in jobs:
        layer = attribute(j["frames"])
        ms = j["end"] - j["start"]
        if layer.startswith("operators."):
            mod = layer.split(".", 1)[1]
            mod = mod if mod in MODULES else "other"
            m[f"operators.{mod}.jobs"] += 1
            m[f"operators.{mod}.job_ms"] += ms
        elif layer == "Tables":
            m["Tables.schema_jobs"] += 1
    m["spark.scheduler.jobs"] = len(jobs)
    return m


def _planning(sqls):
    return {"spark.planning.analysis_ms": sum(q["analysis_ms"] for q in sqls),
            "spark.planning.optimization_ms": sum(q["optimization_ms"] for q in sqls),
            "spark.planning.physical_ms": sum(q["planning_ms"] for q in sqls)}


def _streaming(batches):
    last = {b["query"]: b for b in batches}.values()  # each query's latest report
    return {"streaming.batches": len(batches),
            "streaming.trigger_ms": sum(b["trigger_ms"] for b in batches),
            "streaming.addBatch_ms": sum(b["addBatch_ms"] for b in batches),
            "streaming.planning_ms": sum(b["planning_ms"] for b in batches),
            "streaming.walCommit_ms": sum(b["walCommit_ms"] for b in batches),
            "streaming.input_rows": sum(b["input_rows"] for b in batches),
            "streaming.state_rows": sum(b["state_rows"] for b in last),
            "streaming.state_mb": sum(b["state_mb"] for b in last)}


def query_spans(execs, trace):
    """The span tree of each traced query execution: query → closure and
    write → jobs → stages, each node with its duration and self time (ms).
    Jobs carry their layer attribution."""
    stages = {s["id"]: s for s in trace["stages"]}
    by_span = {}
    for j in trace["jobs"]:
        by_span.setdefault(j["span"], []).append(j)
    out = []
    for tid, e in enumerate(execs):
        key = f'{e["pass"]}/{e["query"]}'
        s0, s1, s2 = e["start"] * 1e3, e["built"] * 1e3, e["end"] * 1e3
        kids = []
        for part, a, b in (("closure", s0, s1), ("write", s1, s2)):
            jobs = []
            for j in by_span.get(f"{key}/{part}", []):
                st = [stages[i] for i in j["stages"] if i in stages]
                jobs.append({"name": f'job {j["id"]}', "layer": attribute(j["frames"]),
                             "start": j["start"], "end": j["end"],
                             "self_ms": self_time(j["start"], j["end"],
                                                  [(x["submit"], x["done"]) for x in st]),
                             "children": [{"name": f'stage {x["id"]}', "start": x["submit"],
                                           "end": x["done"], "tasks": x["tasks"],
                                           "self_ms": x["done"] - x["submit"]} for x in st]})
            kids.append({"name": part, "start": a, "end": b, "children": jobs,
                         "self_ms": self_time(a, b, [(j["start"], j["end"]) for j in jobs])})
        out.append({"trace_id": tid, "name": key, "start": s0, "end": s2,
                    "self_ms": self_time(s0, s2, [(k["start"], k["end"]) for k in kids]),
                    "children": kids})
    return out


def batch_layers(raw):
    """Per-layer metrics of a traced relational run: the median over
    traced warm passes, except Tables.schema_jobs, which only the cold pass
    pays (the schema memo)."""
    tr = raw["trace"]
    stages = {s["id"]: s for s in tr["stages"]}
    execs = raw["execs"]
    per_pass = []
    traced_passes = sorted({e["pass"] for e in execs if e["traced"]})
    for p in traced_passes:
        ex = [e for e in execs if e["pass"] == p]
        keys = {f'{e["pass"]}/{e["query"]}' for e in ex}
        jobs = [j for j in tr["jobs"] if j["span"] and j["span"].rsplit("/", 1)[0] in keys]
        closure = [j for j in jobs if j["span"].endswith("/closure")]
        st = [stages[i] for j in jobs for i in j["stages"] if i in stages]
        st = list({s["id"]: s for s in st}.values())
        lo, hi = min(e["start"] for e in ex) * 1e3, max(e["end"] for e in ex) * 1e3
        sqls = [q for q in tr["sqls"] if lo <= q["start"] <= hi]
        wall_ms = sum(exec_s(e) for e in ex) * 1e3
        m = {}
        m.update(_job_layers(jobs))
        m.update(_stage_layers(st, wall_ms))
        m.update(_planning(sqls))
        m.update(_streaming([]))
        gap = build = 0.0
        for e in ex:
            key = f'{e["pass"]}/{e["query"]}'
            mine = [(j["start"], j["end"]) for j in jobs if j["span"].startswith(key + "/")]
            gap += self_time(e["start"] * 1e3, e["end"] * 1e3, mine)
            cl = [(j["start"], j["end"]) for j in closure if j["span"] == key + "/closure"]
            build += self_time(e["start"] * 1e3, e["built"] * 1e3, cl)
        m["spark.scheduler.gap_ms"] = gap
        m["SparkEntry.build_ms"] = build
        m["SparkEntry.eager_jobs"] = len(closure)
        m["operators.actions"] = len({j["exec"] or f'job{j["id"]}' for j in closure})
        m["operators.pinned_left"] = sum(e["pinned_left"] for e in ex)
        m["operators.tempdirs_left"] = sum(e["tempdirs_left"] for e in ex)
        m["spark.cache.stored_peak_mb"] = max(e["stored_mb"] for e in ex)
        m["trace.wall_s"] = wall_ms / 1e3
        per_pass.append((p, m))
    warm = [m for p, m in per_pass if p > 0] or [m for _, m in per_pass]
    out = {k: median([m[k] for m in warm]) for k in warm[0]}
    cold = dict(per_pass).get(0)
    if cold:
        out["Tables.schema_jobs"] = cold["Tables.schema_jobs"]
    # the first warm pass still pays warm-up, so compare against the
    # untraced passes that follow the first traced warm pass
    first = min((p for p in traced_passes if p > 0), default=0)
    later = {}
    for e in execs:
        if e["pass"] > first and not e["traced"]:
            later[e["pass"]] = later.get(e["pass"], 0.0) + exec_s(e)
    untraced = median(list(later.values()))
    out["trace.untraced_wall_s"] = untraced
    out["trace.overhead_s"] = out["trace.wall_s"] - untraced
    out["GraftSession.start_ms"] = raw["start_ms"]
    spans = query_spans([e for e in execs if e["traced"]], tr)
    return out, spans


# ---------------------------------------------------------------- ingest


def row_commits(feed, batches):
    """Commit time of every row of one fed stream: the end of the first
    micro-batch whose end offset reaches the offset the row was added at."""
    done = sorted((_offset(b), b["start"] + b["trigger_ms"] / 1e3)
                  for b in batches if b["input_rows"] > 0)
    commits = [None] * feed["n"]
    k = 0
    for add in sorted(feed["adds"], key=lambda a: a["offset"]):
        while k < len(done) and done[k][0] < add["offset"]:
            k += 1
        t = done[k][1] if k < len(done) else None
        for i in range(add["first"], add["until"]):
            commits[i] = t
    return commits


def _offset(b):
    """A micro-batch's end offset (a JSON number; absent before any data)."""
    try:
        return int(b["end_offset"])
    except (TypeError, ValueError):
        return -1


def ingest_end_to_end(raw, traced):
    """End-to-end metrics of an ingest run, over rows due inside the
    measurement window (its untraced half in a traced run)."""
    lo = raw["measure_start"]
    hi = raw["traced_from"] if traced else raw["feed_end"]
    lat, lag, late = [], 0.0, 0.0
    for f in raw["feeds"]:
        commits = row_commits(f, [b for b in raw["progress"] if b["query"] == f["name"]])
        due = [f["start"] + (i - f["first"]) / f["rate"] for i in range(f["n"])]
        for i in range(f["first"], f["n"]):
            if lo <= due[i] < hi and commits[i] is not None:
                lat.append(commits[i] - due[i])
        if f["n"] > f["first"] and commits[-1] is not None:
            lag = max(lag, commits[-1] - due[-1])
        late = max([late] + [a["at"] - due[a["first"]] for a in f["adds"]])
    window = [b for b in raw["progress"] if b["input_rows"] > 0 and lo <= b["start"] < hi]
    t, pct, n = tail(lat)
    attempted = sum(f["n"] for f in raw["feeds"])
    return {
        "setup_s": raw["setup_s"],
        "cold_cpu_s": raw["cold_cpu_s"],
        "cpu_s": raw["ingest_cpu_s"],
        "heap_live_mb": raw["heap_mb"],
        "cold_wall_s": raw["cold_end"] - raw["cold_start"],
        "wall_s": median([b["trigger_ms"] / 1e3 for b in window]),
        "latency_s": median(lat),
    }, {"event_latency_tail_s": t, "tail_percentile": pct, "tail_samples": n,
        "ingest_lag_s": lag,
        "generator_lateness_s": late, "batches": len(window),
        "index_build_s": raw["index_built"] - raw["cold_start"],
        "attempted": attempted, "failed": 0, "failed_ratio": ratio(0, attempted),
        "checks": raw["checks"]}


def ingest_layers(raw):
    """Per-layer metrics of a traced ingest run, over its traced half."""
    tr = raw["trace"]
    lo, hi = raw["traced_from"] * 1e3, raw["drained"] * 1e3
    jobs = [j for j in tr["jobs"] if lo <= j["start"] <= hi]
    stages = {s["id"]: s for s in tr["stages"]}
    st = list({i: stages[i] for j in jobs for i in j["stages"] if i in stages}.values())
    batches = [b for b in tr["batches"] if b["input_rows"] > 0]
    m = {}
    m.update(_job_layers(jobs))
    m.update(_stage_layers(st, hi - lo))
    m.update(_planning([q for q in tr["sqls"] if lo <= q["start"] <= hi]))
    m.update(_streaming(batches))
    m["spark.scheduler.gap_ms"] = (hi - lo) - union_length([(j["start"], j["end"]) for j in jobs])
    m["SparkEntry.build_ms"] = 0.0
    m["SparkEntry.eager_jobs"] = 0
    m["operators.actions"] = len({j["exec"] or f'job{j["id"]}' for j in jobs
                                  if attribute(j["frames"]).startswith("operators.")})
    m["operators.pinned_left"] = 0
    m["operators.tempdirs_left"] = 0
    m["spark.cache.stored_peak_mb"] = 0.0
    traced_wall = median([b["trigger_ms"] / 1e3 for b in batches])
    untraced = ingest_end_to_end(raw, traced=True)[0]["wall_s"]
    m["trace.wall_s"] = traced_wall
    m["trace.untraced_wall_s"] = untraced
    m["trace.overhead_s"] = traced_wall - untraced
    m["GraftSession.start_ms"] = raw["start_ms"]
    spans = [{"trace_id": k, "name": f'{b["query"]} trigger {b["batch"]}',
              "start": b["start"] * 1e3, "end": b["start"] * 1e3 + b["trigger_ms"],
              "children": [{"name": "addBatch", "ms": b["addBatch_ms"]},
                           {"name": "queryPlanning", "ms": b["planning_ms"]},
                           {"name": "walCommit", "ms": b["walCommit_ms"]}]}
             for k, b in enumerate(batches)]
    return m, spans
