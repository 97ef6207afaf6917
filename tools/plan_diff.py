#!/usr/bin/env python3
"""Diff two `graft.Plans` dumps after normalizing run-specific IDs.

A formatted plan carries numbers that change from run to run and from
one source tree to another without any change in the plan: expression
IDs (`c_id#1257L`), plan-node IDs (`Project (37)`, `operator id: 12`),
whole-stage codegen stage numbers (`[codegen id : 3]`), exchange plan
IDs (`[plan_id=88]`), lambda variable suffixes (`lambda x_52`) and the
warehouse root the artifacts live under.
This tool rewrites each of them to a fixed token and diffs the rest.

Usage:
    tools/plan_diff.py BEFORE.txt AFTER.txt
    tools/plan_diff.py DIR            # every <q>_before.txt / <q>_after.txt pair

Prints a unified diff for every pair that differs and a one-line
summary per pair. Exit status: 0 when every pair is identical, 1 when
any differs, 2 on a usage error or a pair with a missing side.
"""
import difflib
import os
import re
import sys

_RULES = [
    # expression IDs, including dynamic-pruning subquery IDs
    (re.compile(r"#\d+"), "#N"),
    # whole-stage codegen stage numbers (formatted and tree-string modes)
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    # plan-node IDs: tree lines end in "(N)", detail headers start with it
    (re.compile(r" \(\d+\)$", re.M), " (N)"),
    (re.compile(r"^\(\d+\) ", re.M), "(N) "),
    (re.compile(r"operator id ?[:=] ?\d+"), "operator id: N"),
    (re.compile(r"Subquery:\d+"), "Subquery:N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # higher-order-function lambda variables draw from a JVM-wide counter
    (re.compile(r"lambda (\w+?)_\d+"), r"lambda \1_N"),
    # each dump runs in its own warehouse
    (re.compile(r"file:[^\s\],]*?/spark-warehouse"), "<warehouse>"),
]


def normalize(text):
    for rx, repl in _RULES:
        text = rx.sub(repl, text)
    return text


def diff_pair(before, after):
    """Unified diff lines of the two normalized dumps (empty = same)."""
    with open(before) as f:
        a = normalize(f.read()).splitlines(keepends=True)
    with open(after) as f:
        b = normalize(f.read()).splitlines(keepends=True)
    return list(difflib.unified_diff(a, b, before, after))


def pairs_in(directory):
    names = sorted(os.listdir(directory))
    queries = sorted({n[:-len(suffix)] for n in names
                      for suffix in ("_before.txt", "_after.txt")
                      if n.endswith(suffix)})
    return [(q, os.path.join(directory, q + "_before.txt"),
             os.path.join(directory, q + "_after.txt")) for q in queries]


def main(argv):
    if len(argv) == 2 and os.path.isdir(argv[1]):
        pairs = pairs_in(argv[1])
    elif len(argv) == 3:
        pairs = [(os.path.basename(argv[1]), argv[1], argv[2])]
    else:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    status = 0
    for name, before, after in pairs:
        missing = [p for p in (before, after) if not os.path.exists(p)]
        if missing:
            print(f"{name}: MISSING {', '.join(missing)}")
            status = 2
            continue
        lines = diff_pair(before, after)
        if lines:
            sys.stdout.writelines(lines)
            changed = sum(1 for l in lines
                          if l[:1] in "+-" and l[:3] not in ("+++", "---"))
            print(f"{name}: DIFFERS ({changed} changed lines)")
            status = max(status, 1)
        else:
            print(f"{name}: identical")
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv))
