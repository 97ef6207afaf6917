"""Output checks of one run.

Registry pipelines are compared with their `SparkEntry.oracleSql` text
run in DuckDB over the same generated corpus, by the rules of
tools/compare.py: columns sorted by name, rows sorted, floats equal to
1e-9 relative. io-enrich is compared with the output the generated fetch
table implies. ingest-stream's emitted pairs are compared with the same
probe run as a batch over every document the stream was sent.

Each check returns a list of problems, one string per failed unit.
"""
import hashlib
import json
import math
import pickle
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _norm(v):
    return round(v, 9) if isinstance(v, float) else v


def _rows(data):
    return sorted((tuple(_norm(v) for v in r) for r in data), key=repr)


def _cell_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_cell_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare_table(tbl, res_columns, res_rows):
    """Compare a result (pyarrow table) with an oracle result; returns None
    when equal, otherwise a one-line description of the difference."""
    s_cols, d_cols = sorted(tbl.column_names), sorted(res_columns)
    if s_cols != d_cols:
        return f"schema {s_cols} vs oracle {d_cols}"
    data = tbl.to_pylist()
    srows = _rows(([r[c] for c in s_cols] for r in data))
    idx = [res_columns.index(c) for c in d_cols]
    drows = _rows(([r[i] for i in idx] for r in res_rows))
    if len(srows) != len(drows):
        return f"{len(srows)} rows vs oracle {len(drows)}"
    bad = [(a, b) for a, b in zip(srows, drows)
           if not all(_cell_equal(x, y) for x, y in zip(a, b))]
    if bad:
        return f"{len(bad)}/{len(srows)} rows differ; first {bad[0][0]} vs {bad[0][1]}"
    return None


def _read_dir(d):
    files = sorted(Path(d).glob("*.parquet"))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])


def check_queries(out_dir, corpus_dir, results_sub, cache_dir=None):
    """Compare each pipeline's output with its oracle. With `cache_dir`,
    oracle results are kept there keyed by the oracle text; pass it only
    when the corpus content (not its row order) is the same for every
    seed, as it is for the registry permutations."""
    out = Path(out_dir)
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = None
    problems = []
    for name, sql in sorted(oracle.items()):
        tbl = _read_dir(out / results_sub / name)
        if tbl is None:
            problems.append(f"{name}: no output")
            continue
        key = cache_dir and Path(cache_dir) / (hashlib.sha1(sql.encode()).hexdigest() + ".pkl")
        if key and key.exists():
            cols, rows = pickle.loads(key.read_bytes())
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 2")
                con.execute("SET enable_progress_bar = false")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
            res = con.sql(sql)
            cols, rows = res.columns, res.fetchall()
            if key:
                key.parent.mkdir(parents=True, exist_ok=True)
                key.write_bytes(pickle.dumps((cols, rows)))
        diff = compare_table(tbl, cols, rows)
        if diff:
            problems.append(f"{name}: {diff}")
    return problems


def expected_enrich(inputs_dir):
    """event_id -> (k, score) for every event whose fetch succeeds, and the
    number of seeded failures."""
    ev = pq.read_table(Path(inputs_dir) / "corpus" / "events.parquet",
                       columns=["event_id", "props"]).to_pydict()
    ft = pq.read_table(Path(inputs_dir) / "fetch.parquet").to_pydict()
    fetch = {i: (f, s) for i, f, s in zip(ft["event_id"], ft["fail"], ft["score"])}
    expected, failures = {}, 0
    for i, props in zip(ev["event_id"], ev["props"]):
        fail, score = fetch[i]
        if fail:
            failures += 1
        else:
            expected[i] = (json.loads(props)["k"], score)
    return expected, failures


ORDERED_MODES = ("concurrent_ordered", "async_ordered")


def fifo_violation(parts, seqs):
    """The first partition whose elements were emitted out of their input
    order, or None when every partition is FIFO."""
    last = {}
    for part, seq in zip(parts, seqs):
        if seq <= last.get(part, -1):
            return part
        last[part] = seq
    return None


def check_enrich(out_dir, inputs_dir, modes, caught_per_pass):
    expected, failures = expected_enrich(inputs_dir)
    problems = []
    for mode in modes:
        tbl = _read_dir(Path(out_dir) / "results" / mode)
        if tbl is None:
            problems.append(f"{mode}: no output")
            continue
        d = tbl.sort_by("pos").to_pydict()
        got = {i: (k, s) for i, k, s in zip(d["event_id"], d["k"], d["score"])}
        if len(got) != len(d["event_id"]):
            problems.append(f"{mode}: duplicate elements")
        wrong = sum(1 for i, v in got.items() if expected.get(i) != v)
        missing = sum(1 for i in expected if i not in got)
        if wrong or missing:
            problems.append(f"{mode}: {wrong} wrong, {missing} missing elements")
        if mode in ORDERED_MODES:
            bad = fifo_violation(d["part"], d["seq"])
            if bad is not None:
                problems.append(f"{mode}: not FIFO within partition {bad}")
    for i, caught in enumerate(caught_per_pass):
        for mode, c in caught.items():
            if c != failures:
                problems.append(f"{mode} pass {i}: caught {c}, seeded failures {failures}")
    return problems


def _pairs(d):
    t = _read_dir(d)
    if t is None:
        return None
    x = t.to_pydict()
    return sorted(zip(x["doc_a"], x["doc_b"], (round(j, 9) for j in x["jaccard"])))


def check_stream(out_dir):
    stream = _pairs(Path(out_dir) / "results" / "stream_pairs")
    batch = _pairs(Path(out_dir) / "results" / "batch_pairs")
    if stream is None or batch is None:
        return ["stream or batch pairs missing"]
    if stream == batch:
        return []
    s, b = set(stream), set(batch)
    return [f"stream pairs differ from batch: {len(s - b)} extra, {len(b - s)} missing"
            + ("" if len(stream) == len(s) else f", {len(stream) - len(s)} duplicates")]
