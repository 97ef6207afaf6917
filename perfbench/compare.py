#!/usr/bin/env python3
"""Compare two sets of benchmark runs by the decision rule of the
choosing-metrics guide, section 8.

Record alternating pairs of runs of a parent checkout and a change
checkout (same benchmark code, same seeds, the side that runs first
alternating from pair to pair):

    python3 perfbench/compare.py record --parent ../parent --change . \
        --workload registry-sf0.1 --pairs 10 --out runs.jsonl

then decide:

    python3 perfbench/compare.py decide runs.jsonl \
        [--claim registry-sf0.1:total_s ...]

For a claimed (workload, metric) a gain needs the change to win at least
nine tenths of the pairs (ties count for neither side) and the medians to
differ by more than the parent's interquartile spread. Every other
(workload, metric) is checked against the metric's bound in
BENCHMARK.json: "regression" when the change's median is worse than the
parent's by more than the bound, "unresolved" when the parent's own
spread (interquartile distance over median) is wider than the bound,
unless every change run is better than every parent run. Each workload
gets its own row.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load_spec(path=None):
    spec = json.loads(Path(path or HERE.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in spec["end_to_end"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def decide(parent, change, better, bound, claimed):
    """parent, change: values of one metric, index i of both from pair i.
    Returns (verdict, detail)."""
    sign = 1.0 if better == "lower" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(1 for a, b in zip(parent, change) if sign * (a - b) > 0)
    pairs = min(len(parent), len(change))
    gap = sign * (pm - cm)  # > 0: change better
    detail = (f"parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  change {cm:.4g} [{c1:.4g}, {c3:.4g}]  "
              f"wins {wins}/{pairs}")
    if claimed:
        ok = pairs > 0 and wins >= 0.9 * pairs and gap > (p3 - p1)
        return ("gain" if ok else "not shown"), detail
    all_better = all(sign * (a - b) > 0 for a in parent for b in change)
    spread = (p3 - p1) / pm if pm else float("inf")
    worse = -gap / pm if pm else 0.0
    if all_better:
        return "better", detail
    if spread > bound:
        return "unresolved", detail + f"  parent spread {spread:.3f} > bound {bound}"
    if worse > bound:
        return "regression", detail + f"  worse by {worse:.3f} > bound {bound}"
    return "within bound", detail + f"  worse by {max(worse, 0.0):.3f} <= bound {bound}"


def cmd_decide(a):
    spec = load_spec(a.spec)
    runs = [json.loads(l) for l in Path(a.runs).read_text().splitlines() if l.strip()]
    claims = set(a.claim or [])
    verdicts = []
    for w in sorted({r["workload"] for r in runs}):
        side = {s: sorted((r for r in runs if r["workload"] == w and r["side"] == s),
                          key=lambda r: r["pair"]) for s in ("parent", "change")}
        print(f"{w}:")
        for name, m in spec.items():
            p = [r["metrics"][name]["value"] for r in side["parent"] if name in r["metrics"]]
            c = [r["metrics"][name]["value"] for r in side["change"] if name in r["metrics"]]
            if not p or not c:
                continue
            v, detail = decide(p, c, m["better"], m["bound"], f"{w}:{name}" in claims)
            verdicts.append(v)
            print(f"  {name:<18} {v:<13} {detail}")
        bad = [r for r in runs if r["workload"] == w and not r.get("correct", True)]
        if bad:
            print(f"  {len(bad)} run(s) failed their output checks")
    return 1 if "regression" in verdicts else 0


def cmd_record(a):
    run_py = HERE / "run.py"
    if a.seconds is None:
        a.seconds = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
    with open(a.out, "a") as f:
        for i in range(a.pairs):
            order = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                order.reverse()
            for side, root in order:
                p = subprocess.run([sys.executable, str(run_py), "--workload", a.workload,
                                    "--seed", str(a.seed0 + i), "--seconds", str(a.seconds),
                                    "--trace", "0"], cwd=root, capture_output=True, text=True)
                if p.returncode != 0:
                    sys.exit(f"{side} run {i} failed:\n{p.stderr[-2000:]}")
                rec = json.loads(p.stdout.strip().splitlines()[-1])
                rec.update(workload=a.workload, side=side, pair=i, seed=a.seed0 + i)
                f.write(json.dumps(rec) + "\n")
                f.flush()
    return 0


def main():
    ap = argparse.ArgumentParser(description="Compare benchmark runs (choosing-metrics §8).")
    sub = ap.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("decide")
    d.add_argument("runs")
    d.add_argument("--claim", action="append", help="workload:metric claimed to improve")
    d.add_argument("--spec", help="BENCHMARK.json (default: the repository's)")
    r = sub.add_parser("record")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    r.add_argument("--seed0", type=int, default=1000)
    r.add_argument("--out", required=True)
    a = ap.parse_args()
    sys.exit(cmd_decide(a) if a.cmd == "decide" else cmd_record(a))


if __name__ == "__main__":
    main()
