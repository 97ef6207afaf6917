#!/usr/bin/env python3
"""Diff two `graft.Plans` dumps after normalizing run-specific IDs.

A formatted plan carries numbers that change from run to run and from
one source tree to another without any change in the plan: expression
IDs (`c_id#1257L`), plan-node IDs (`Project (37)`, `operator id: 12`),
whole-stage codegen stage numbers (`[codegen id : 3]`), exchange plan
IDs (`[plan_id=88]`), lambda variable suffixes (`lambda x_52`), the
warehouse root the artifacts live under, the JVM lambda object a typed
operator prints (`Dedup$$$Lambda$5876/0x00007fa26d695a50@6dcf7c49`),
and the RDD id and source line in a `Scan ExistingRDD` argument
(`MapPartitionsRDD[459] at localCheckpoint at Curation.scala:1171`).
This tool rewrites each of them to a fixed token and diffs the rest.

Catalyst's distinct-aggregate rewrite also numbers its groups in an
order that follows expression hash codes, so the same query can put
`[dim, cell]` or `[cell, dim]` into its `Expand` and the aggregates
above it. Before the IDs are rewritten, each such `Expand` (the one
with a `gid` column) is put into one canonical order: the distinct
columns sorted by name, the groups renumbered in that order, and every
list and `gid = k` filter that names them rewritten to match.

Usage:
    tools/plan_diff.py BEFORE.txt AFTER.txt
    tools/plan_diff.py DIR            # every <q>_before.txt / <q>_after.txt pair

Prints a unified diff for every pair that differs and a one-line
summary per pair, which also counts the shuffle `Exchange` nodes of
each side (broadcast and reused exchanges are not counted), e.g.
`q: DIFFERS (4 changed lines, shuffles 2 → 0)`. Exit status: 0 when every pair is identical, 1 when
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
    # a typed operator prints its JVM lambda object (class counter,
    # hidden-class address, identity hash)
    (re.compile(r"\$\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    # a localCheckpoint'ed frame prints its RDD id and its source line
    (re.compile(r"(\w+RDD)\[\d+\] at (\w+) at ([\w$]+\.scala):\d+"),
     r"\1[N] at \2 at \3:N"),
]

# a shuffle exchange's node in the plan tree (not BroadcastExchange or
# ReusedExchange, not its "(N) Exchange" detail header)
_SHUFFLE = re.compile(r"(?<!\w)Exchange \(\d+\)$", re.M)

_EXPAND = re.compile(r"^Arguments: \[(\[.*\])\], \[([^\[\]]*\bgid#\d+[^\[\]]*)\]$",
                     re.M)


def _split(items):
    """Split a comma list at bracket depth 0."""
    out, depth, cur = [], 0, ""
    for ch in items:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            out.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        out.append(cur.strip())
    return out


def _bare(attr):
    return re.sub(r"#\d+L?$", "", attr)


def _canonical_distinct(text):
    """Put each distinct-aggregate Expand into one group order."""
    for gid in re.findall(r"^Arguments: \[\[.*\b(gid#\d+)\b[^\[\]]*\]$", text, re.M):
        m = next(m for m in _EXPAND.finditer(text) if gid in _split(m.group(2)))
        projections = [_split(p[1:-1]) for p in _split(m.group(1))]
        output = _split(m.group(2))
        g = output.index(gid)
        # distinct columns: before gid and null in some projection (the
        # group-by keys are set in every one)
        cols = [i for i in range(g)
                if any(p[i] == "null" for p in projections)]
        order = sorted(cols, key=lambda i: _bare(output[i]))
        if order == cols:
            continue
        perm = list(range(len(output)))
        for slot, i in zip(cols, order):
            perm[slot] = i
        groups = sorted((p for p in projections if p[g] != "0"),
                        key=lambda p: [_bare(output[i]) for i in order
                                       if p[i] != "null"])
        renumber = {p[g]: str(k + 1) for k, p in enumerate(groups)}
        rows = [p for p in projections if p[g] == "0"] + groups
        rows = [[renumber.get(p[g], p[g]) if i == g else p[i] for i in perm]
                for p in rows]
        new_out = [output[i] for i in perm]
        line = "Arguments: [%s], [%s]" % (
            ", ".join("[%s]" % ", ".join(r) for r in rows), ", ".join(new_out))
        text = text[:m.start()] + line + text[m.end():]
        old_run = ", ".join(output[i] for i in cols)
        new_run = ", ".join(output[i] for i in order)
        text = text.replace(old_run, new_run)
        text = re.sub(r"\b%s = (\d+)" % re.escape(gid),
                      lambda k: "%s = %s" % (gid, renumber.get(k.group(1), k.group(1))),
                      text)
    return text


def normalize(text):
    text = _canonical_distinct(text)
    for rx, repl in _RULES:
        text = rx.sub(repl, text)
    return text


def shuffles(text):
    """Number of shuffle Exchange nodes in a formatted plan."""
    return len(_SHUFFLE.findall(text))


def diff_pair(before, after):
    """Unified diff lines of the two normalized dumps (empty = same)
    and the shuffle count of each side."""
    with open(before) as f:
        a = f.read()
    with open(after) as f:
        b = f.read()
    lines = list(difflib.unified_diff(normalize(a).splitlines(keepends=True),
                                      normalize(b).splitlines(keepends=True),
                                      before, after))
    return lines, (shuffles(a), shuffles(b))


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
        lines, (sa, sb) = diff_pair(before, after)
        if lines:
            sys.stdout.writelines(lines)
            changed = sum(1 for l in lines
                          if l[:1] in "+-" and l[:3] not in ("+++", "---"))
            print(f"{name}: DIFFERS ({changed} changed lines, shuffles {sa} → {sb})")
            status = max(status, 1)
        else:
            print(f"{name}: identical (shuffles {sa} → {sb})")
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv))
