#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
benchmark runner with sbt (perfbench/build.sbt) into .bench_build/ and
records the classpath; later runs reuse it while the sources are
unchanged. Inputs are generated from the seed (perfbench/gen.py) and
cached per seed. The run itself is one JVM (perfbench.Main); its
outputs are then checked (perfbench/check.py).

Every line but the last is a human-readable report: each end-to-end
metric of the workload by name and unit, the checks, and with --trace 1
the layer table. The last line is one JSON object:
{"correct", "attempted", "failed", "metrics"} holding the end-to-end
metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
from array import array
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("registry-sf0.1", "scale-write", "io-enrich", "ingest-stream")
QUERY_WORKLOADS = ("registry-sf0.1", "scale-write")
RUN_TIMEOUT_S = 170
SCALE_K = 3

# registry-sf0.1: one pipeline per graft.ops module the registry set
# touches (Layout runs in scale-write)
REGISTRY_QUERIES = [
    "s04_native_topk", "q31_zip", "c03_blocklist_scrub", "d02_dup_groups",
    "e03_top_users", "t03_langid", "m01_media_meta", "p01_stratified_sample",
]
# scale-write: payload-heavy queries over the x K corpus, each written
SCALE_QUERIES = ["q01_pricing_summary", "l01_zorder", "s11_ivf_indexed"]
ARTIFACTS = {
    "registry-sf0.1": [],
    "scale-write": ["ensureIvfIndex"],
}
# ingest-stream: the p99 limit a sustained rate must meet
EVENT_LIMIT_MS = 5000.0
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_hash(root):
    """The library sources of `root` and this benchmark's own build."""
    h = hashlib.sha1()
    trees = [(root, sorted((root / "src" / "main").rglob("*"))),
             (HERE, sorted((HERE / "src").rglob("*"))
              + [HERE / "build.sbt", HERE / "project" / "build.properties"])]
    for base, files in trees:
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(base)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()[:16]


def sbt_env(root, build_dir):
    """sbt's environment: compile the library sources of `root` (the
    checkout the run is for, which need not hold this file) into its
    build directory."""
    env = dict(os.environ, PERFBENCH_BUILD_DIR=str(build_dir),
               PERFBENCH_SRC_DIR=str(root / "src" / "main" / "scala"))
    env.setdefault("COURSIER_MODE", "offline")
    return env


def exported_dirs(log_text):
    """The directories of an sbt `export` of a list of files (`* path`)."""
    return [l[2:].strip() for l in log_text.splitlines() if l.startswith("* /")]


def build(root, build_dir):
    """Compile with sbt once per source state; return the runtime classpath."""
    if not (root / "src" / "main" / "scala").is_dir():
        fail("no library sources under src/main/scala: run from a checkout root")
    stamp = build_dir / f"classpath-{source_hash(root)}.txt"
    if stamp.exists():
        return stamp.read_text().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = sbt_env(root, build_dir)
    if "SPARK_HOME" not in env:
        # the first spark-submit on PATH that sits in a Spark install
        homes = [Path(d).parent for d in env.get("PATH", "").split(os.pathsep)
                 if (Path(d) / "spark-submit").is_file() and (Path(d).parent / "jars").is_dir()]
        if not homes:
            fail("no Spark install: set SPARK_HOME or put its bin/ on PATH")
        env["SPARK_HOME"] = str(homes[0])
    log = build_dir / "build.log"
    with open(log, "w") as f:
        r = subprocess.run([sbt, "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
                            "compile", "export Compile/unmanagedSourceDirectories",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=f, stderr=subprocess.STDOUT, timeout=840)
    text = log.read_text()
    # `export` prints the classpath as a bare line of jar and class paths
    cps = [l.strip() for l in text.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not cps:
        fail(f"build failed, see {log}")
    if env["PERFBENCH_SRC_DIR"] not in exported_dirs(text):
        fail(f"sbt did not compile the library sources of {root}, see {log}")
    for old in build_dir.glob("classpath-*.txt"):
        old.unlink()
    stamp.write_text(cps[-1])
    return cps[-1]


def prepare_inputs(build_dir, workload, seed):
    d = gen.ensure_inputs(build_dir / "inputs", workload, seed, SCALE_K)
    queries = {"registry-sf0.1": REGISTRY_QUERIES, "scale-write": SCALE_QUERIES}.get(workload)
    if queries is not None:
        order = list(queries)
        random.Random(seed).shuffle(order)
        (d / "queries.txt").write_text("\n".join(order) + "\n")
        (d / "artifacts.txt").write_text("\n".join(ARTIFACTS[workload]) + "\n")
    return d


def heap_gb():
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return max(2, min(3, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration):
        return 2


def run_jvm(classpath, workload, inputs, out, seconds, trace, n_cpu):
    java = shutil.which("java") or fail("java not found on PATH")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap with a fixed young generation: peak RSS then follows
    # old-generation and off-heap growth instead of the collector's
    # adaptive sizing
    h = heap_gb()
    gc = ["-XX:+UseParallelGC", f"-Xms{h}g", f"-Xmx{h}g", f"-Xmn{h * 256}m"]
    cmd = [java, *gc, *opens, "-cp", classpath, "perfbench.Main",
           "--workload", workload, "--inputs", str(inputs), "--out", str(out),
           "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(n_cpu)]
    # keep every scratch file of the run inside its output directory
    tmp = out / "tmp"
    tmp.mkdir()
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(out / "local"))
    log = out / "jvm.log"
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0 or not (out / "result.json").exists():
        tail = "\n".join(log.read_text().splitlines()[-30:])
        fail(f"benchmark JVM exited with {rc}:\n{tail}")
    return log


def units(out, name):
    """Unit latencies (ms) the JVM wrote for one pass or ladder step."""
    a = array("f")
    p = out / "units" / f"{name}.f32"
    if p.exists():
        a.frombytes(p.read_bytes())
    return list(a)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def read_jsonl(p):
    return [json.loads(l) for l in p.read_text().splitlines() if l.strip()] if p.exists() else []


def error_lines(log):
    return sum(1 for l in log.read_text(errors="replace").splitlines() if " ERROR " in l)


def report(name, value, unit, note=""):
    print(f"  {name:<22} {value:>14.4f} {unit:<6} {note}")


def main():
    # a terminated run still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    build_dir = root / ".bench_build"
    build_dir.mkdir(exist_ok=True)
    classpath = build(root, build_dir)
    inputs = prepare_inputs(build_dir, a.workload, a.seed)
    out = build_dir / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    n_cpu = cpus()
    steal0, total0 = cpu_ticks()
    log = run_jvm(classpath, a.workload, inputs, out, a.seconds, a.trace, n_cpu)
    steal1, total1 = cpu_ticks()
    res = json.loads((out / "result.json").read_text())

    passes = res["passes"]
    steady = passes[1:]
    setup_s = M.median(res["setup_s"])
    cold_total_s = passes[0]["wall_s"]
    # The registry bench protocol: minimum over the steady passes, since
    # host noise only ever adds time. total_s sums each pipeline's minimum
    # wall; query workloads' latencies are those minima; io-enrich takes
    # each percentile's minimum over passes (every pass sends the same
    # elements); ingest-stream pools its events, too few per pass for a
    # tail.
    pipeline_min = [1e3 * min(p["pipelines"][i]["wall_s"] for p in steady)
                    for i in range(len(steady[0]["pipelines"]))]
    if a.workload in QUERY_WORKLOADS:
        samples = [pipeline_min]
        total_s = sum(pipeline_min) / 1e3
    elif a.workload == "io-enrich":
        samples = [units(out, f"p{p['index']}") for p in steady]
        total_s = sum(pipeline_min) / 1e3
    else:
        samples = [[x for p in steady for x in units(out, f"p{p['index']}")]]
        total_s = M.median([p["wall_s"] for p in steady])
    n_lat = len(samples[0])
    # a query workload has too few pipelines for the tail rule, which
    # would fall back to the median: its tail is the slowest pipeline
    tail_p = 100.0 if a.workload in QUERY_WORKLOADS else M.tail_percentile(n_lat)

    def pct(q):
        return min(M.percentile(xs, q) for xs in samples)
    lat_p50, lat_tail = pct(50), pct(tail_p)

    steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cpus={n_cpu} passes={len(steady)}+1 cold; cpu steal during the run {steal:.1%}")
    # -- output checks and failure counts
    threw = sum(len(p["failed"]) for p in passes)
    extra = res["extra"]
    if a.workload in QUERY_WORKLOADS:
        if a.workload == "scale-write":
            problems = check.check_queries(out, inputs / "corpus", "sink")
        else:
            # every seed permutes the same rows: oracle results carry over
            problems = check.check_queries(out, inputs / "corpus", "results",
                                           build_dir / "oracle" / gen.base_version())
        attempted = sum(len(p["pipelines"]) for p in passes)
        failed = threw + len(problems)
    elif a.workload == "io-enrich":
        problems = check.check_enrich(out, inputs, extra["modes"], [p["caught"] for p in passes])
        attempted = extra["input_rows"] * sum(len(p["pipelines"]) for p in passes)
        failed = threw * extra["input_rows"] + len(problems)
    else:
        problems = check.check_stream(out)
        attempted = extra["sent"]
        failed = len(problems)
    failed = min(failed, attempted)

    print("end-to-end:")
    report("setup_s", setup_s, "s", f"median of {len(res['setup_s'])} set-ups")
    report("total_s", total_s, "s",
           f"median of {len(steady)} steady passes" if a.workload == "ingest-stream"
           else f"sum of per-pipeline minima over {len(steady)} steady passes")
    report("cold_total_s", cold_total_s, "s", "first pass in this JVM")
    if a.workload in QUERY_WORKLOADS:
        report("pipeline_p50_s", lat_p50 / 1e3, "s", f"n={n_lat}")
        report("pipeline_tail_s", lat_tail / 1e3, "s", f"slowest pipeline (p100), n={n_lat}")
    elif a.workload == "io-enrich":
        report("element_p50_ms", lat_p50, "ms", f"n={n_lat} per pass")
        report("element_p99_ms", pct(99), "ms",
               f"tail rule gives p{tail_p:g}, n={n_lat} per pass")
    else:
        report("event_p50_ms", lat_p50, "ms", f"at {extra['nominal_rate']:g}/s, n={n_lat}")
        report("event_p99_ms", pct(99), "ms",
               f"at {extra['nominal_rate']:g}/s, tail rule gives p{tail_p:g}, n={n_lat}")
        sustained = 0.0
        for i, step in enumerate(extra["ladder"]):
            step_lat = units(out, f"ladder{i}")
            p99 = M.percentile(step_lat, 99) if step_lat else float("inf")
            flat = step["backlog_end"] <= step["rate"] * 0.5
            ok = flat and p99 <= EVENT_LIMIT_MS
            print(f"    ladder {step['rate']:>6g}/s  p99 {p99:8.1f} ms  backlog_end "
                  f"{step['backlog_end']:4d}  generator late {step['generator_late_ms']:.1f} ms"
                  f"  {'ok' if ok else 'over'}")
            if ok:
                sustained = max(sustained, step["rate"])
        report("sustained_eps", sustained, "1/s", f"p99 limit {EVENT_LIMIT_MS:g} ms, flat backlog")
    report("peak_rss_mb", res["peak_rss_mb"], "MiB", "VmHWM of the JVM")
    report("failed_frac", failed / attempted, "1", f"{failed}/{attempted}")
    print("checks: " + ("all outputs match" if not problems else f"{len(problems)} problem(s)"))
    for pr in problems:
        print(f"  MISMATCH {pr}")

    if a.trace:
        records = read_jsonl(out / "spans.jsonl")
        spans = [r for r in records if "alias" not in r]
        alias = {r["alias"]: r["group"] for r in records if "alias" in r}
        events = read_jsonl(out / "events.jsonl")
        for e in events:
            if e.get("group") in alias:
                e["group"] = alias[e["group"]]
        layer = M.layer_metrics(spans, events, n_cpu, total_s)
        layer.update(stream_metrics(a.workload, out, extra, passes, events))
        layer.update(streaming_metrics(a.workload, extra, passes))
        layer["log.error_lines"] = error_lines(log)
        print("per-layer (traced run):")
        for k in sorted(layer):
            print(f"  {k:<32} {layer[k]:.6g}")
        metrics = {k: {"value": v, "unit": LAYER_UNITS.get(k, unit_of(k))} for k, v in layer.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "total_s": {"value": total_s, "unit": "s"},
            "cold_total_s": {"value": cold_total_s, "unit": "s"},
            "latency_p50_ms": {"value": lat_p50, "unit": "ms"},
            "latency_tail_ms": {"value": lat_tail, "unit": "ms"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MiB"},
        }
    for bulky in [*out.glob("warehouse*"), *(out / d for d in ("local", "tmp", "sink", "results",
                                                                "units"))]:
        shutil.rmtree(bulky, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


LAYER_UNITS = {"exec.busy_frac": "ratio", "exec.task_skew": "ratio",
               "stream.partition_skew": "ratio", "stream.inflight_mean": "ratio",
               "sched.tasks_per_stage_p50": "count"}


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def stream_metrics(workload, out, extra, passes, events):
    """graft.stream figures from io-enrich's output rows: in-flight fetches
    sampled at each fetch start (÷ window), fetch-done → emitted wait,
    caught errors, and partition skew (max ÷ median partition busy time)."""
    m = {"stream.inflight_mean": 0.0, "stream.hol_wait_ms_p50": 0.0,
         "stream.caught": 0, "stream.partition_skew": 0.0}
    if workload != "io-enrich":
        return m
    import bisect
    inflight, hol, skews = [], [], []
    for mode in extra["modes"]:
        d = check._read_dir(out / "results" / mode).to_pydict()
        by_part = {}
        for part, s, e, em in zip(d["part"], d["t_start"], d["t_end"], d["t_emit"]):
            by_part.setdefault(part, []).append((s, e, em))
            hol.append((em - e) / 1e6)
        busy = []
        for rows in by_part.values():
            starts = sorted(r[0] for r in rows)
            ends = sorted(r[1] for r in rows)
            for s, _, _ in rows:
                inflight.append(bisect.bisect_right(starts, s) - bisect.bisect_right(ends, s))
            busy.append(max(r[2] for r in rows) - min(r[0] for r in rows))
        med = M.median(busy)
        skews.append(max(busy) / med if med else 0.0)
    m["stream.inflight_mean"] = (sum(inflight) / len(inflight)) / extra["window"] if inflight else 0.0
    m["stream.hol_wait_ms_p50"] = M.percentile(hol, 50)
    m["stream.caught"] = max(c for p in passes for c in p["caught"].values())
    # the library's own count: observeAttempts' error total per action
    observed = [o["errors"] for e in events if e["kind"] == "qe"
                for k, o in e["observed"].items() if k.startswith("io_")]
    if observed:
        m["stream.caught"] = max(observed)
    m["stream.partition_skew"] = M.median(skews)
    return m


def streaming_metrics(workload, extra, passes):
    m = {"streaming.batch_ms_p50": 0.0, "streaming.batch_rows_p50": 0.0,
         "streaming.backlog_end": 0, "streaming.state_rows": 0}
    if workload != "ingest-stream":
        return m
    batches = [b for p in passes[1:] for b in p["batches"]]
    m["streaming.batch_ms_p50"] = M.median([b["dur_ms"] for b in batches])
    m["streaming.batch_rows_p50"] = M.median([b["rows"] for b in batches])
    m["streaming.backlog_end"] = max(p["backlog_end"] for p in passes[1:])
    m["streaming.state_rows"] = max(b["state_rows"] for b in batches)
    return m


if __name__ == "__main__":
    main()
