"""Metric arithmetic for the graft benchmark.

Turns the runner's raw records (perfbench/src, one JSON object per line)
into the end-to-end metrics of an untraced run and the per-layer metrics
of a traced run.  Everything here is pure so it can be tested on
synthetic records (perfbench/test_metrics.py).
"""
import json
import statistics
from collections import defaultdict
from datetime import datetime, timezone

# name -> unit; the order is the order of BENCHMARK.json
END_TO_END = {
    "wall_s": "s",
    "query_ms_p50": "ms",
    "query_ms_p75": "ms",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

# reported by every run next to END_TO_END, but not gated: they are zero
# on a healthy run or apply to one workload only
REPORT_ONLY = {
    "failed_ratio": "ratio",
    "results_mismatched": "count",
    "batch_ms_p50": "ms",
    "batch_ms_p90": "ms",
    "events_per_s": "events/s",
}

CORE_FAMILIES = ["map", "scan", "window", "join", "asof", "cycle", "program"]
LLM_FAMILIES = ["curate", "tokenize", "lm", "retrieval", "multimodal"]

PER_LAYER = {
    "sources.schema_ms": "ms",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "sources.scan_nodes": "count",
    "api.build_ms": "ms",
    "api.build_jobs": "count",
    "api.pinned_rdds": "count",
    "api.pinned_bytes": "bytes",
    "plans.plan_ms": "ms",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "plans.reused_exchanges": "count",
    "exec.wall_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_gap_ms": "ms",
    "exec.task_busy_ms": "ms",
    "exec.slot_util": "ratio",
    "exec.narrow_stage_ms": "ms",
    "exec.max_task_share": "ratio",
    "exec.core_scaling": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_fetch_wait_ms": "ms",
    "exec.spill_bytes": "bytes",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.failed_tasks": "count",
    "exec.unattributed_jobs": "count",
    **{f"operators.{f}_ms": "ms" for f in CORE_FAMILIES},
    **{f"pipeline.{f}_ms": "ms" for f in LLM_FAMILIES},
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_ms": "ms",
    "streaming.source_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.output_rows": "count",
    "streaming.watermark_lag_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.update_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows_dropped_late": "count",
    "state.memory_bytes": "bytes",
    "harness.isolate_ms": "ms",
    "trace.overhead_pct": "%",
}


# ---------------------------------------------------------------- arithmetic

def percentile(xs, q):
    """The q-th percentile (0..100) by linear interpolation between the
    two closest ranks, as numpy's default method."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def beyond(xs, q):
    """How many samples lie strictly above the q-th percentile; a
    percentile is only worth reporting with at least ten of them."""
    p = percentile(xs, q)
    return sum(1 for x in xs if x > p)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), clipped
    to [lo, hi] when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_gap_ms(window, tasks):
    """Time inside `window` during which no task runs."""
    lo, hi = window
    return (hi - lo) - union_length(tasks, lo, hi)


def slot_util(busy_ms, wall_ms, cores):
    """Task busy time over the slot time the wall offered."""
    return busy_ms / (wall_ms * cores) if wall_ms > 0 and cores > 0 else 0.0


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- records

def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def by_kind(recs):
    out = defaultdict(list)
    for r in recs:
        out[r["k"]].append(r)
    return out


def ops(recs):
    k = by_kind(recs)
    attempted = len(k["op"])
    failed = sum(1 for r in k["op"] if not r["ok"])
    return attempted, failed


def setup_s(k):
    return median([r["total_ms"] for r in k["setup"]]) / 1000.0


def peak_rss_mb(k):
    return k["end"][0]["rss_hwm_kb"] / 1024.0 if k["end"] else 0.0


def start_to_timing_s(k):
    """Process start until the first timed pass: every set-up round plus
    the JVM's own start."""
    if not k["start"] or not k["pass"]:
        return 0.0
    return (min(p["start"] for p in k["pass"]) - k["start"][0]["jvm_start"]) / 1000.0


def query_total(sample):
    m = sample["marks"]
    return m[-1] - m[0]


def batch_end_to_end(recs):
    """wall_s and cpu_s are one pass over the queries, each query at the
    median of its untraced samples; the percentiles are over all of them."""
    k = by_kind(recs)
    samples = [s for s in k["sample"] if not s["traced"]]
    per_query = defaultdict(list)
    for s in samples:
        per_query[s["q"]].append(s)
    times = [query_total(s) for s in samples]
    return {
        "wall_s": sum(median([query_total(s) for s in ss]) for ss in per_query.values()) / 1000.0,
        "query_ms_p50": percentile(times, 50),
        "query_ms_p75": percentile(times, 75),
        "cpu_s": sum(median([s["cpu_ms"] for s in ss]) for ss in per_query.values()) / 1000.0,
        "peak_rss_mb": peak_rss_mb(k),
        "setup_s": setup_s(k),
    }, {"query_samples": len(times), "passes": len({s["pass"] for s in samples}),
        "query_p75_beyond": beyond(times, 75), "start_to_timing_s": start_to_timing_s(k)}


def progresses(k):
    """(query, progress dict) for every micro-batch that ran, with or
    without new input: the no-data batches that follow a watermark advance
    emit the closed windows and evict expired state.  An idle trigger's
    progress has no addBatch phase and is left out."""
    out = []
    for r in k["progress"]:
        p = json.loads(r["json"])
        if "addBatch" in p["durationMs"]:
            out.append((r["query"], p))
    return out


def iso_ms(ts):
    """Epoch ms of a progress timestamp such as 2024-01-01T00:00:10.000Z."""
    t = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return t.timestamp() * 1000.0


def in_passes(t, passes):
    return any(p["start"] <= t <= p["end"] for p in passes)


def stream_end_to_end(recs):
    k = by_kind(recs)
    passes = [p for p in k["pass"] if not p["traced"]]
    steps = [s for s in k["step"] if s["pass"] >= 0 and
             any(p["pass"] == s["pass"] for p in passes)]
    per_pass = defaultdict(list)
    for s in steps:
        per_pass[s["pass"]].append(s)
    lat = [s["commit"] - s["create"] for s in steps]
    trig = [p["durationMs"]["triggerExecution"] for _, p in progresses(k)
            if in_passes(iso_ms(p["timestamp"]), passes)]
    loop_ms = sum(max(s["commit"] for s in ss) - min(s["create"] for s in ss)
                  for ss in per_pass.values())
    return {
        "wall_s": median([max(s["commit"] for s in ss) - min(s["create"] for s in ss)
                          for ss in per_pass.values()]) / 1000.0,
        "query_ms_p50": percentile(trig, 50),
        "query_ms_p75": percentile(trig, 75),
        "cpu_s": median([p["cpu_ms"] for p in passes]) / 1000.0,
        "peak_rss_mb": peak_rss_mb(k),
        "setup_s": setup_s(k),
        "batch_ms_p50": percentile(lat, 50),
        "batch_ms_p90": percentile(lat, 90),
        "events_per_s": sum(s["events"] for s in steps) / (loop_ms / 1000.0),
    }, {"query_samples": len(trig), "batches": len(lat), "passes": len(per_pass),
        "batch_p90_beyond": beyond(lat, 90), "query_p75_beyond": beyond(trig, 75),
        "start_to_timing_s": start_to_timing_s(k)}


# ---------------------------------------------------------------- traced run

class SparkEvents:
    """Jobs, stages and tasks recorded while the listeners were attached."""

    def __init__(self, k):
        self.jobs = {}
        for r in k["job_start"]:
            self.jobs[r["job"]] = {"start": r["t"], "end": r["t"], "stages": r["stages"],
                                   "span": r["span"], "stream": r["stream_query"]}
        for r in k["job_end"]:
            if r["job"] in self.jobs:
                self.jobs[r["job"]]["end"] = r["t"]
        self.stages = {(r["stage"], r["attempt"]): r for r in k["stage"]
                       if r["submit"] is not None and r["complete"] is not None}
        self.tasks = defaultdict(list)
        for r in k["task"]:
            self.tasks[r["stage"]].append(r)

    def jobs_in(self, lo, hi):
        return {j: v for j, v in self.jobs.items() if lo <= v["start"] <= hi}

    def stages_of(self, jobs):
        ids = {s for v in jobs.values() for s in v["stages"]}
        return [v for (sid, _), v in self.stages.items() if sid in ids]

    def tasks_of(self, stages):
        return [t for st in {s["stage"] for s in stages} for t in self.tasks[st]]


def exec_counters(ev, jobs):
    stages = ev.stages_of(jobs)
    tasks = ev.tasks_of(stages)
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": len(tasks),
        "exec.task_busy_ms": sum(t["finish"] - t["launch"] for t in tasks),
        "exec.narrow_stage_ms": sum(s["complete"] - s["submit"] for s in stages
                                    if s["tasks"] <= 2),
        "exec.shuffle_write_bytes": sum(t["sw_bytes"] for t in tasks),
        "exec.shuffle_read_bytes": sum(t["sr_bytes"] for t in tasks),
        "exec.shuffle_fetch_wait_ms": sum(t["fetch_wait_ms"] for t in tasks),
        "exec.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "exec.task_cpu_ms": sum(t["cpu_ms"] for t in tasks),
        "exec.gc_ms": sum(t["gc_ms"] for t in tasks),
        "exec.failed_tasks": sum(1 for t in tasks if not t["ok"]),
        "sources.input_bytes": sum(t["in_bytes"] for t in tasks),
        "sources.input_records": sum(t["in_rec"] for t in tasks),
        "exec.unattributed_jobs": sum(1 for v in jobs.values()
                                      if v["span"] is None and v["stream"] is None),
    }, tasks


def zero_layers():
    return {name: 0.0 for name in PER_LAYER}


def overhead_pct(traced, untraced):
    u = median(untraced)
    return (median(traced) - u) / u * 100.0 if u > 0 else 0.0


def batch_per_layer(recs, cores):
    """Per-layer metrics of a traced batch run: per query, per family, and
    the workload total of the traced pass."""
    k = by_kind(recs)
    ev = SparkEvents(k)
    traced = [s for s in k["sample"] if s["traced"]]
    untraced = [s for s in k["sample"] if not s["traced"]]
    per_query = {}
    spans = []
    for s in traced:
        m = s["marks"]
        qid = f'{s["pass"]}/{s["q"]}'
        jobs = {j: v for j, v in ev.jobs.items()
                if v["span"] is not None and v["span"].startswith(qid + "/")}
        c, tasks = exec_counters(ev, jobs)
        wall = m[-1] - m[0]
        phases = dict(zip(["build", "plan", "exec"], zip(m, m[1:])))
        ex = phases.get("exec", (m[-1], m[-1]))
        c.update({
            "wall_ms": wall,
            "api.build_ms": _dur(phases.get("build")),
            "api.build_jobs": sum(1 for v in jobs.values() if v["span"].endswith("/build")),
            "api.pinned_rdds": s.get("pinned_rdds", 0),
            "api.pinned_bytes": s.get("pinned_bytes", 0),
            "plans.plan_ms": _dur(phases.get("plan")),
            "plans.exchanges": s.get("exchanges", 0),
            "plans.broadcasts": s.get("broadcasts", 0),
            "plans.reused_exchanges": s.get("reused_exchanges", 0),
            "sources.scan_nodes": s.get("scan_nodes", 0),
            "exec.wall_ms": _dur(ex),
            "exec.job_gap_ms": job_gap_ms(ex, [(t["launch"], t["finish"]) for t in tasks]),
            "exec.max_task_share": max([(t["finish"] - t["launch"]) / wall for t in tasks
                                        if wall > 0] or [0.0]),
            "harness.isolate_ms": _dur(s["isolate"]),
            "family": s["family"],
            "ok": s["ok"],
        })
        c["exec.slot_util"] = slot_util(c["exec.task_busy_ms"], wall, cores)
        c["exec.unattributed_jobs"] = 0
        per_query[qid] = c
        spans += _query_spans(qid, s, jobs, ev)

    # sums over the traced passes, reported per pass
    n_passes = max(1, len({s["pass"] for s in traced}))
    total = zero_layers()
    additive = [n for n in PER_LAYER if n not in
                ("exec.slot_util", "exec.max_task_share", "exec.core_scaling",
                 "trace.overhead_pct", "sources.schema_ms")]
    for c in per_query.values():
        for n in additive:
            total[n] += c.get(n, 0.0) / n_passes
    wall = sum(c["wall_ms"] for c in per_query.values())
    total["exec.slot_util"] = slot_util(total["exec.task_busy_ms"] * n_passes, wall, cores)
    total["exec.max_task_share"] = max([c["exec.max_task_share"]
                                        for c in per_query.values()] or [0.0])
    fams = defaultdict(float)
    for c in per_query.values():
        fams[c["family"]] += c["wall_ms"] / n_passes
    for f, ms in fams.items():
        key = f"operators.{f}_ms" if f in CORE_FAMILIES else f"pipeline.{f}_ms"
        total[key] = ms
    # jobs that started during a traced pass without the harness's label
    for p in k["pass"]:
        if p["traced"]:
            total["exec.unattributed_jobs"] += sum(
                1 for v in ev.jobs_in(p["start"], p["end"]).values()
                if v["span"] is None) / n_passes
    total["sources.schema_ms"] = median([r["schema_ms"] for r in k["setup"]])
    total["exec.core_scaling"] = core_scaling(k, untraced)
    total["trace.overhead_pct"] = overhead_pct(
        _pass_walls(traced), _pass_walls(untraced))
    return total, {"per_query": per_query, "per_family": dict(fams),
                   "self_ms": self_times(spans)}


def _dur(iv):
    return iv[1] - iv[0] if iv else 0.0


def _pass_walls(samples):
    walls = defaultdict(float)
    for s in samples:
        walls[s["pass"]] += query_total(s)
    return list(walls.values())


def core_scaling(k, untraced):
    one = {r["q"]: r["ms"] for r in k["scaling"] if r["ok"]}
    many = defaultdict(list)
    for s in untraced:
        if s["q"] in one:
            many[s["q"]].append(query_total(s))
    base = sum(median(v) for v in many.values())
    return sum(one[q] for q in many) / base if base > 0 else 0.0


def _query_spans(qid, s, jobs, ev):
    """(kind, start, end, children) for the query, its phases and jobs."""
    m = s["marks"]
    out = []
    phase_children = defaultdict(list)
    for v in jobs.values():
        phase = v["span"].rsplit("/", 1)[1]
        phase_children[phase].append((v["start"], v["end"]))
        stages = ev.stages_of({0: v})
        out.append(("job", v["start"], v["end"],
                    [(st["submit"], st["complete"]) for st in stages]))
        for st in stages:
            out.append(("stage", st["submit"], st["complete"],
                        [(t["launch"], t["finish"]) for t in ev.tasks[st["stage"]]]))
    phases = list(zip(["build", "plan", "exec"], zip(m, m[1:])))
    out.append(("query", m[0], m[-1], [iv for _, iv in phases]))
    for name, (a, b) in phases:
        out.append((name, a, b, phase_children[name]))
    out.append(("isolate", s["isolate"][0], s["isolate"][1], []))
    return out


def self_times(spans):
    acc = defaultdict(float)
    for kind, a, b, children in spans:
        acc[kind] += self_time((a, b), children)
    return dict(acc)


def stream_per_layer(recs, cores):
    k = by_kind(recs)
    ev = SparkEvents(k)
    total = zero_layers()
    traced = [p for p in k["pass"] if p["traced"]]
    untraced = [p for p in k["pass"] if not p["traced"]]
    per_batch = []
    last_state = {}
    lags = []
    for q, p in progresses(k):
        t = iso_ms(p["timestamp"])
        if not in_passes(t, traced):
            continue
        d = p["durationMs"]
        ops_ = p.get("stateOperators", [])
        row = {
            "query": q, "batch": p["batchId"],
            "streaming.add_batch_ms": d.get("addBatch", 0),
            "streaming.planning_ms": d.get("queryPlanning", 0),
            "streaming.wal_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
            "streaming.source_ms": d.get("getBatch", 0) + d.get("latestOffset", 0),
            "streaming.input_rows": p.get("numInputRows", 0),
            "streaming.output_rows": max(p.get("sink", {}).get("numOutputRows", 0), 0),
            "state.rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops_),
            "state.update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops_),
            "state.commit_ms": sum(o.get("commitTimeMs", 0) for o in ops_),
            "state.rows_dropped_late": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops_),
        }
        per_batch.append(row)
        for n, v in row.items():
            if n in total:
                total[n] += v
        last_state[q] = (sum(o.get("numRowsTotal", 0) for o in ops_),
                         sum(o.get("memoryUsedBytes", 0) for o in ops_))
        et = p.get("eventTime", {})
        if "max" in et and "watermark" in et:
            lags.append(iso_ms(et["max"]) - iso_ms(et["watermark"]))
    n_passes = max(1, len(traced))
    for n in list(total):
        total[n] /= n_passes
    total["state.rows_total"] = sum(v[0] for v in last_state.values())
    total["state.memory_bytes"] = sum(v[1] for v in last_state.values())
    total["streaming.watermark_lag_ms"] = median(lags)
    wall = 0.0
    for p in traced:
        jobs = ev.jobs_in(p["start"], p["end"])
        c, tasks = exec_counters(ev, jobs)
        for n, v in c.items():
            total[n] += v / n_passes
        wall += p["end"] - p["start"]
        total["exec.job_gap_ms"] += job_gap_ms(
            (p["start"], p["end"]), [(t["launch"], t["finish"]) for t in tasks]) / n_passes
        total["exec.max_task_share"] = max(
            [total["exec.max_task_share"]] +
            [(t["finish"] - t["launch"]) / (p["end"] - p["start"]) for t in tasks])
    total["exec.wall_ms"] = wall / n_passes
    total["exec.slot_util"] = slot_util(total["exec.task_busy_ms"] * n_passes, wall, cores)
    walls = [p["end"] - p["start"] for p in untraced]
    one = [r["ms"] for r in k["scaling"]]
    total["exec.core_scaling"] = one[0] / median(walls) if one and walls else 0.0
    total["trace.overhead_pct"] = overhead_pct([p["end"] - p["start"] for p in traced], walls)
    return total, {"per_batch": per_batch}
