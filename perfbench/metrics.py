"""Pure arithmetic behind the benchmark's figures: percentiles and the
tail rule, interval unions and span self time, and the layer metrics
derived from a traced run's spans and listener records."""
import math
import re
import statistics
from collections import defaultdict

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MODULES = ("Relational", "Events", "Dedup", "Similarity", "TextAnalysis",
           "Curation", "Multimodal", "Sampling", "Layout")
MODULE_OF_PREFIX = {"q": "Relational", "e": "Events", "d": "Dedup", "s": "Similarity",
                    "t": "TextAnalysis", "c": "Curation", "m": "Multimodal",
                    "p": "Sampling", "l": "Layout"}
ARTIFACTS = ("ensureIvfIndex", "ensureSemanticIndex", "ensureCodebook",
             "ensureTrainedIvfIndex", "ensureBpeModel", "nearDupBandIndex")


def tail_percentile(n):
    """The highest percentile of the ladder with at least ten samples
    beyond it; the median when there are too few samples for any."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) >= 1000.0 - 1e-6:
            return p
    return 50.0


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    are clipped to the span and their overlaps counted once."""
    s, e = span
    clipped = [(max(s, a), min(e, b)) for a, b in children]
    return (e - s) - union_length(clipped)


def module_of(pipeline):
    """The graft.ops module a registry pipeline calls, from its query name
    (q01_..., d05b_...); empty for pipelines that are not registry queries."""
    m = re.match(r"([a-z])\d", pipeline)
    return MODULE_OF_PREFIX.get(m.group(1), "") if m else ""


def layer_metrics(spans, events, cpus, tracing_total_s):
    """Per-layer figures of one traced run. `spans` are the benchmark's
    own spans, `events` the listener records (jobs, stages, tasks, plan
    phases). Times in the records are epoch milliseconds."""
    pipelines = [s for s in spans if s["name"] == "pipeline"]
    by_id = {s["id"]: s for s in spans}
    tasks = [e for e in events if e["kind"] == "task"]
    stages = [e for e in events if e["kind"] == "stage"]
    jobs = [e for e in events if e["kind"] == "job"]
    qes = [e for e in events if e["kind"] == "qe"]
    in_pipeline = lambda g: g.startswith("pb|") and not g.split("|")[1].startswith("setup")

    def group_phase(g):
        parts = g.split("|")
        return (parts[1], parts[2]) if len(parts) >= 3 else ("", "")

    run_jobs = [j for j in jobs if in_pipeline(j["group"])]
    run_stages = [s for s in stages if in_pipeline(s["group"])]
    run_tasks = [t for t in tasks if in_pipeline(t["group"])]
    wall_ms = sum(p["end"] - p["start"] for p in pipelines)

    m = {}
    m["entry.construct_s"] = sum(s["end"] - s["start"] for s in spans
                                 if s["name"] == "construct"
                                 and by_id.get(s["parent"], {}).get("name") == "pipeline") / 1e3
    m["entry.construct_jobs"] = sum(1 for j in run_jobs if group_phase(j["group"])[1] == "construct")

    def in_any_pipeline(t):
        return any(p["start"] <= t <= p["end"] for p in pipelines)
    for key, phase in (("catalyst.analysis_s", "analysis"), ("catalyst.optimize_s", "optimization"),
                       ("catalyst.plan_s", "planning")):
        m[key] = sum(q["phases"][phase]["end"] - q["phases"][phase]["start"] for q in qes
                     if phase in q["phases"] and in_any_pipeline(q["phases"][phase]["start"])) / 1e3

    m["sched.jobs"] = len(run_jobs)
    m["sched.stages"] = len(run_stages)
    m["sched.tasks"] = len(run_tasks)
    m["sched.tasks_per_stage_p50"] = median([s["tasks"] for s in run_stages]) if run_stages else 0.0
    tasks_of = defaultdict(list)
    for t in run_tasks:
        tasks_of[group_phase(t["group"])[0]].append((t["start"], t["end"]))
    m["sched.idle_s"] = sum(self_time((p["start"], p["end"]), tasks_of.get(p["pipeline"], []))
                            for p in pipelines) / 1e3
    m["sched.delay_s"] = sum(max(0, (t["end"] - t["start"]) - t.get("run_ms", 0) - t.get("deser_ms", 0)
                                 - t.get("ser_ms", 0) - t.get("get_ms", 0)) for t in run_tasks) / 1e3

    run_ms = sum(t.get("run_ms", 0) for t in run_tasks)
    m["exec.run_s"] = run_ms / 1e3
    m["exec.cpu_s"] = sum(t.get("cpu_ns", 0) for t in run_tasks) / 1e9
    m["exec.gc_s"] = sum(t.get("gc_ms", 0) for t in run_tasks) / 1e3
    m["exec.busy_frac"] = run_ms / (wall_ms * cpus) if wall_ms else 0.0
    per_stage = defaultdict(list)
    for t in run_tasks:
        per_stage[t["stage"]].append(t["end"] - t["start"])
    skews = [max(d) / statistics.median(d) for d in per_stage.values() if statistics.median(d) > 0]
    m["exec.task_skew"] = median(skews) if skews else 0.0

    for key, field in (("shuffle.write_bytes", "shuffle_write"), ("shuffle.read_bytes", "shuffle_read"),
                       ("shuffle.spill_bytes", "spill"), ("io.input_bytes", "input"),
                       ("io.output_bytes", "output_bytes"), ("io.output_rows", "output_rows")):
        m[key] = sum(t.get(field, 0) for t in run_tasks)

    mod_s, mod_jobs = defaultdict(float), defaultdict(int)
    for p in pipelines:
        mod_s[module_of(p["pipeline"])] += (p["end"] - p["start"]) / 1e3
    for j in run_jobs:
        mod_jobs[module_of(group_phase(j["group"])[0])] += 1
    for mod in MODULES:
        m[f"ops.{mod}_s"] = mod_s.get(mod, 0.0)
        m[f"ops.{mod}_jobs"] = mod_jobs.get(mod, 0)

    setups = [s for s in spans if s["name"] == "setup"]
    last_setup = setups[-1] if setups else None
    for a in ARTIFACTS:
        m[f"artifact.{a}_s"] = sum(s["end"] - s["start"] for s in spans
                                   if s["name"] == f"artifact.{a}" and last_setup
                                   and s["parent"] == last_setup["id"]) / 1e3
    m["trace.total_s"] = tracing_total_s
    return m
