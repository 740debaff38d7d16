"""Metric math of the benchmark: pure functions over the events the JVM
harness writes (`events.jsonl`, one JSON object per line, times in epoch
milliseconds). `run.py` calls `end_to_end` for untraced runs and
`per_layer` for traced ones; `test_metrics.py` covers the math.
"""
import math

# The reference's query classes (gpu-bdb bdb_tools/utils.py:627-640).
# q28 is both text and ML there; it is counted once, as ML.
BDB_CLASSES = {
    "session": ["q02", "q03", "q04", "q08", "q30"],
    "nlp": ["q10", "q18", "q19", "q27"],
    "ml": ["q05", "q20", "q25", "q26", "q28"],
}
# Extension pipelines that fit a model while the DataFrame is built.
EXT_ML = ["b61_bdb_q20_kmeans"]
CLASSES = ["sql", "session", "nlp", "ml", "ops"]


def query_class(name):
    """`sql`/`session`/`nlp`/`ml` for the 30 BDB queries, `ml` or `ops`
    (graft.ops pipelines) for the extension pipelines."""
    for cls, names in BDB_CLASSES.items():
        if name in names:
            return cls
    if name in EXT_ML:
        return "ml"
    return "sql" if len(name) == 3 and name.startswith("q") else "ops"


def geomean(xs):
    """Geometric mean of positive values (TPCx-BB's power form)."""
    if not xs:
        raise ValueError("geomean of no values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs, q):
    """The q-th percentile (0..100), linear between closest ranks (the
    `inclusive` method of `statistics.quantiles`)."""
    if not xs:
        raise ValueError("percentile of no values")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def union_length(intervals):
    """Total length covered by possibly overlapping [t0, t1] intervals."""
    total, end = 0.0, None
    for t0, t1 in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def driver_gap(t0, t1, stage_intervals):
    """Wall time of [t0, t1] that no stage interval covers: the time the
    driver spends planning, scheduling and waiting between stages."""
    return (t1 - t0) - union_length(clip(stage_intervals, t0, t1))


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval its children cover. `spans` maps id -> dict with `t0`, `t1`
    and `parent` (None for a root)."""
    children = {}
    for sid, s in spans.items():
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {sid: (s["t1"] - s["t0"]) -
            union_length(clip(children.get(sid, []), s["t0"], s["t1"]))
            for sid, s in spans.items()}


class Run:
    """The events of one harness run, indexed."""

    def __init__(self, events):
        self.events = events
        by = {}
        for e in events:
            by.setdefault(e["k"], []).append(e)
        self.by = by
        self.one = {k: v[0] for k, v in by.items()}
        self.queries = by.get("query", [])

    def ok_latencies(self):
        return [(q["t1"] - q["t0"]) / 1000.0 for q in self.queries if q["ok"]]

    def suite_s(self):
        return (self.one["suite_end"]["t"] - self.one["suite_start"]["t"]) / 1000.0

    def load_s(self):
        return (self.one["load_end"]["t"] - self.one["load_start"]["t"]) / 1000.0


def end_to_end(events, start_ms):
    """The user-visible metrics of an untraced run. `start_ms` is when
    the harness process was launched; set-up ends after the load step."""
    r = Run(events)
    lat = r.ok_latencies()
    suite = r.suite_s()
    return {
        "setup_s": (r.one["setup_done"]["t"] - start_ms) / 1000.0,
        "suite_s": suite,
        "geomean_s": geomean(lat),
        "qph": len(lat) / suite * 3600.0,
        "latency_p50_s": percentile(lat, 50),
        "peak_rss_mb": r.one["host"]["vm_hwm_kb"] / 1024.0,
    }


def build_spans(r):
    """The span tree run -> load | query -> build | write -> job -> stage.
    Jobs carry the job group the harness set per query; jobs started
    under another group (streaming micro-batches run under their own)
    go to the query whose span holds their start, when only one does."""
    spans = {}
    t_run0, t_run1 = r.one["load_start"]["t"], r.one["suite_end"]["t"]
    spans["run"] = dict(kind="run", t0=t_run0, t1=t_run1, parent=None)
    spans["load"] = dict(kind="load", t0=t_run0, t1=r.one["load_end"]["t"],
                         parent="run")
    groups = {}
    for q in r.queries:
        g = q["group"]
        tb = q["t_build"] if q["t_build"] is not None else q["t1"]
        spans["q:" + g] = dict(kind="query", t0=q["t0"], t1=q["t1"],
                               parent="run", name=q["name"], group=g,
                               cls=query_class(q["name"]))
        spans["b:" + g] = dict(kind="build", t0=q["t0"], t1=tb,
                               parent="q:" + g)
        spans["w:" + g] = dict(kind="write", t0=tb, t1=q["t1"],
                               parent="q:" + g)
        groups[g] = (q, tb)
    ends = {e["id"]: e["t1"] for e in r.by.get("job_end", [])}
    stage_job = {}
    for j in r.by.get("job", []):
        g = j["group"]
        if g not in groups and g != "load":
            hits = [h for h, (q, _) in groups.items()
                    if q["t0"] <= j["t0"] <= q["t1"]]
            g = hits[0] if len(hits) == 1 else None
        if g is None:
            continue
        if g == "load":
            parent = "load"
        else:
            q, tb = groups[g]
            parent = ("b:" if j["t0"] < tb else "w:") + g
        jid = "j:%d" % j["id"]
        spans[jid] = dict(kind="job", t0=j["t0"], t1=ends.get(j["id"], j["t0"]),
                          parent=parent, group=g)
        for s in j["stages"]:
            stage_job.setdefault(s, jid)
    for s in r.by.get("stage", []):
        jid = stage_job.get(s["id"])
        if jid is None or s["t0"] is None or s["t1"] is None:
            continue
        spans["s:%d.%d" % (s["id"], s["attempt"])] = dict(
            kind="stage", t0=s["t0"], t1=s["t1"], parent=jid,
            group=spans[jid]["group"], m=s)
    return spans


def write_plan(r, q):
    """The planning record of query `q`'s result write: the one whose
    output path is the query's result directory and whose planning ended
    while the write ran."""
    suffix = "/results/" + q["name"]
    t0 = q["t_build"] if q["t_build"] is not None else q["t0"]
    for p in r.by.get("plan", []):
        if (p["path"] or "").endswith(suffix) and p["t"] is not None and \
                t0 - 1 <= p["t"] <= q["t1"] + 1:
            return p
    return None


STAGE_SUMS = {
    "exec.run_ms": "run_ms", "exec.cpu_ms": "cpu_ms", "exec.gc_ms": "gc_ms",
    "sched.task_delay_ms": "task_delay_ms",
    "shuffle.write_bytes": "shuffle_write", "shuffle.read_bytes": "shuffle_read",
    "shuffle.fetch_wait_ms": "fetch_wait_ms", "spill.bytes": "spill",
    "scan.input_bytes": "input", "sink.output_bytes": "output",
}
# A query span's children (build, write) cover it, so its self time is 0
SELF_KINDS = ["run", "load", "build", "write", "job", "stage"]


def per_layer(events, names):
    """Per-layer metrics of a traced run. `names` lists every query of
    every workload, so each run reports `jobs.<name>` for all of them."""
    r = Run(events)
    spans = build_spans(r)
    qspans = {s["group"]: s for s in spans.values() if s["kind"] == "query"}
    in_query = [s for s in spans.values()
                if s["kind"] in ("job", "stage") and s["group"] in qspans]
    stages = [s for s in in_query if s["kind"] == "stage"]
    load_stages = [s for s in spans.values()
                   if s["kind"] == "stage" and s["group"] == "load"]
    m = {"load_s": r.load_s()}
    tables = r.one["load_end"]["tables"]
    m["load.fact_s"] = sum(t["s"] for t in tables if not t["dim"])
    m["load.dim_s"] = sum(t["s"] for t in tables if t["dim"])
    m["load.input_bytes"] = sum(s["m"]["input"] for s in load_stages)
    m["load.output_bytes"] = sum(s["m"]["output"] for s in load_stages)
    builds = {q["group"]: ((q["t_build"] if q["t_build"] is not None
                            else q["t1"]) - q["t0"]) / 1000.0
              for q in r.queries}
    m["build_s"] = sum(builds.values())
    m["build_s.ml"] = sum(v for g, v in builds.items()
                          if qspans[g]["cls"] == "ml")
    writes = [p for q in r.queries for p in [write_plan(r, q)] if p]
    for ph in ("analysis", "optimization", "planning"):
        m["plan.%s_ms" % ph] = sum(p[ph + "_ms"] for p in writes)
    m["sched.jobs"] = sum(1 for s in in_query if s["kind"] == "job")
    m["sched.stages"] = len(stages)
    m["sched.tasks"] = sum(s["m"]["tasks"] for s in stages)
    by_group = {}
    for s in stages:
        by_group.setdefault(s["group"], []).append((s["t0"], s["t1"]))
    m["sched.driver_gap_ms"] = sum(
        driver_gap(q["t0"], q["t1"], by_group.get(g, []))
        for g, q in qspans.items())
    for name, key in STAGE_SUMS.items():
        m[name] = sum(s["m"][key] for s in stages)
    blocks = r.one.get("blocks", {})
    m["mat.rdd_blocks_peak"] = blocks.get("peak_blocks", 0)
    m["mat.rdd_bytes_peak"] = blocks.get("peak_bytes", 0)
    batches = r.by.get("stream_batch", [])
    m["stream.batches"] = len(batches)
    m["stream.batch_ms"] = sum(b["ms"] for b in batches)
    overhead = 0.0
    for q in qspans.values():
        inside = [b["ms"] for b in batches if q["t0"] <= b["t"] <= q["t1"]]
        if inside:
            overhead += (q["t1"] - q["t0"]) - sum(inside)
    m["stream.overhead_ms"] = overhead
    for cls in CLASSES:
        m["class.%s_s" % cls] = sum(
            (q["t1"] - q["t0"]) / 1000.0 for q in qspans.values()
            if q["cls"] == cls)
    selfs = self_times(spans)
    for kind in SELF_KINDS:
        m["self.%s_ms" % kind] = sum(
            v for sid, v in selfs.items() if spans[sid]["kind"] == kind)
    m["trace.suite_s"] = r.suite_s()
    m["trace.spans"] = len(spans)
    runs, jobs = {}, {}
    for q in qspans.values():
        runs[q["name"]] = runs.get(q["name"], 0) + 1
    for s in in_query:
        if s["kind"] == "job":
            n = qspans[s["group"]]["name"]
            jobs[n] = jobs.get(n, 0) + 1
    for n in names:
        m["jobs." + n] = jobs.get(n, 0) / runs[n] if n in runs else 0
    return m


def layer_split(m):
    """One line splitting the summed query wall time of a traced run
    into write planning, the rest of the driver gap, and time inside
    stages, with the executor and I/O counters beside it."""
    wall = sum(m["class.%s_s" % c] for c in CLASSES)
    plan = (m["plan.analysis_ms"] + m["plan.optimization_ms"] +
            m["plan.planning_ms"]) / 1000.0
    gap = m["sched.driver_gap_ms"] / 1000.0
    return ("of %.1f s query wall: planning %.1f s / scheduling gap %.1f s / "
            "in stages %.1f s (executor run %.1f task-s, CPU %.1f, GC %.1f, "
            "fetch wait %.1f; scan %.1f MB, shuffle write %.1f MB, sink %.2f MB)"
            % (wall, plan, gap - plan, wall - gap, m["exec.run_ms"] / 1000.0,
               m["exec.cpu_ms"] / 1000.0, m["exec.gc_ms"] / 1000.0,
               m["shuffle.fetch_wait_ms"] / 1000.0,
               m["scan.input_bytes"] / 1e6, m["shuffle.write_bytes"] / 1e6,
               m["sink.output_bytes"] / 1e6))
