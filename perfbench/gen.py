"""Seeded input generator for the benchmark workloads.

Everything a run reads is built here from two numbers: a fixed content
seed (the corpus, shaped like the sf0.1 star schema plus the events,
documents and embeddings tables) and the workload seed passed on the
command line (row order, query order, fetch latencies and failures, the
document stream, the replica masks of the x K derivation).

Generated inputs are cached under the build directory, one directory per
(workload, seed), so generation never falls inside a timed figure.
"""
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

# row counts of the sf0.1 corpus
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM = 150_000, 600_000
N_EVENTS, N_DOCS, N_EMB, EMB_DIM = 100_000, 5_000, 2_000, 64

VOCAB = ("batch sort value hash filter big data dup query row stream the "
         "spark line small fast group customer part column order scan a "
         "slow agg key window table merge vector join").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = "blue old large hot cold red small new".split()
PART_NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REPLICA_SHIFT = 10_000_000

# io-enrich: the simulated fetch, sized on the reference's own timing
# tests (BASELINE.md section 1): a 10 ms median per element (its
# concurrent-map test sleeps 10 ms per element), a heavy tail capped at
# 200 ms (its skew test sleeps 10, 100 and 200 ms), so p99 is about 10x
# the median (sigma 1), and one failure in ten (its erroring source is
# 1/n over range(10)). At 10 ms a fetch, a seeded sample of the events
# rows keeps a pass of three pipelines within a few seconds.
FETCH_MEDIAN_US, FETCH_SIGMA, FETCH_CAP_US = 10_000, 1.0, 200_000
FETCH_FAIL_SHARE = 0.1
ENRICH_ROWS = 3072
# ingest-stream: share of sent documents that are perturbed near-copies
STREAM_NEAR_SHARE = 0.2


def _days(lo, hi, n, rng):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n):
    """Documents over a 31-word vocabulary; about 5 % are near-copies of an
    earlier document (one or two words replaced) and a few are exact
    copies, which gives the dedup operators real pairs to find."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 50))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def base_tables():
    rng = np.random.default_rng(CONTENT_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
                            "n_regionkey": (nk % 5).astype(np.int32)})
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]})
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    ok = np.arange(N_ORDERS, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _days("1995-01-01", "2001-08-01", N_ORDERS, rng),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]})
    n = N_LINEITEM
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n, rng)})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, N_EVENTS).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = _doc_texts(rng, N_DOCS)
    dk = np.arange(N_DOCS, dtype=np.int64)
    t["documents"] = pa.table({
        "doc_id": dk, "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in dk],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    emb = rng.standard_normal((N_EMB, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMB).astype(np.int32)})
    return t


def permuted(tables, seed):
    """Same rows, seeded row order: every table gets its own permutation."""
    rng = np.random.default_rng([seed, 1])
    return {name: tb.take(pa.array(rng.permutation(tb.num_rows)))
            for name, tb in tables.items()}


def replicated(tables, k, seed):
    """x K derivation that keeps each replica's structure (ScaleCheck's
    rules): replica r shifts every star-schema key and the event/user ids
    into a disjoint range, suffixes every document token with `_r` (so
    replicas share no shingles), and flips the sign of a seeded half of
    the embedding dimensions (an orthogonal map: cosines inside a replica
    are kept, replicas decorrelate). region and nation are shared."""
    rng = np.random.default_rng([seed, 2])
    keys = {"customer": ["c_custkey"], "supplier": ["s_suppkey"],
            "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
            "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
            "events": ["event_id", "user_id"], "documents": ["doc_id"],
            "embeddings": ["vec_id"]}
    out = {"region": tables["region"], "nation": tables["nation"]}
    for name, cols in keys.items():
        base = tables[name]
        parts = [base]
        for r in range(1, k):
            tb = base
            for c in cols:
                i = tb.schema.get_field_index(c)
                tb = tb.set_column(i, c, pa.array(tb[c].to_numpy() + r * REPLICA_SHIFT))
            if name == "documents":
                i = tb.schema.get_field_index("text")
                suffixed = [" ".join(w + f"_{r}" for w in doc.split())
                            for doc in tb["text"].to_pylist()]
                tb = tb.set_column(i, "text", pa.array(suffixed))
            if name == "embeddings":
                mask = np.where(rng.random(EMB_DIM) < 0.5, -1.0, 1.0).astype(np.float32)
                flat = tb["embedding"].combine_chunks()
                vals = flat.values.to_numpy().reshape(-1, EMB_DIM) * mask
                i = tb.schema.get_field_index("embedding")
                tb = tb.set_column(i, "embedding", pa.array(list(vals), type=pa.list_(pa.float32())))
            parts.append(tb)
        out[name] = pa.concat_tables(parts)
    return out


def fetch_table(events, seed):
    """io-enrich's simulated service: per event a latency (heavy-tailed,
    capped), a failure flag and the payload a successful fetch returns."""
    rng = np.random.default_rng([seed, 3])
    ids = events["event_id"].to_numpy()
    n = len(ids)
    lat = FETCH_MEDIAN_US * np.exp(FETCH_SIGMA * rng.standard_normal(n))
    lat = np.minimum(lat, FETCH_CAP_US).astype(np.int64)
    fail = rng.random(n) < FETCH_FAIL_SHARE
    score = rng.integers(0, 1000, n).astype(np.int64)
    return pa.table({"event_id": ids, "latency_us": lat, "fail": fail, "score": score})


def stream_docs(docs, seed):
    """ingest-stream's feed: every corpus document re-sent under a new id,
    a seeded share of them perturbed (one to three words replaced), in a
    seeded order. Texts are made unique, so which copy the stream's dedup
    keeps never depends on micro-batch boundaries."""
    rng = np.random.default_rng([seed, 4])
    texts = docs["text"].to_pylist()
    langs = docs["lang"].to_pylist()
    order = rng.permutation(len(texts))
    sent, out_t, out_l = set(), [], []
    for j in order:
        words = texts[j].split()
        if rng.random() < STREAM_NEAR_SHARE:
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        s = " ".join(words)
        if s in sent:
            continue
        sent.add(s)
        out_t.append(s)
        out_l.append(langs[j])
    ids = np.arange(len(out_t), dtype=np.int64) + 100 * REPLICA_SHIFT
    return pa.table({"doc_id": ids, "text": out_t, "lang": out_l})


def _write(tables, d, row_group_size=None):
    d.mkdir(parents=True, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, d / f"{name}.parquet", row_group_size=row_group_size)


def _version(extra):
    """Names generated inputs after this generator's source and `extra`, so
    a changed generator never reuses stale inputs."""
    src = Path(__file__).read_bytes()
    return hashlib.sha1(src + json.dumps(extra).encode()).hexdigest()[:12]


def base_version():
    """Identifies the corpus content (before any seed is applied)."""
    return _version([])


def ensure_inputs(root, workload, seed, scale_k):
    """Build (or reuse) the inputs of one (workload, seed) under `root` and
    return their directory. A `_DONE` marker guards a complete build."""
    root = Path(root)
    d = root / f"{workload}-s{seed}-{_version([scale_k])}"
    if (d / "_DONE").exists():
        return d
    base_dir = root / f"base-{base_version()}"
    if not (base_dir / "_DONE").exists():
        for old in root.glob("base-*"):
            shutil.rmtree(old, ignore_errors=True)
        _write(base_tables(), base_dir)
        (base_dir / "_DONE").write_text("")
    shutil.rmtree(d, ignore_errors=True)
    base = {n: pq.read_table(base_dir / f"{n}.parquet") for n in TABLES}
    tables = permuted(base, seed)
    if workload == "scale-write":
        # many row groups, so scans of the x K tables split across tasks
        _write(replicated(tables, scale_k, seed), d / "corpus", row_group_size=65536)
    elif workload == "io-enrich":
        # the enriched elements: a seeded sample of the events rows
        ft = fetch_table(tables["events"], seed)
        pick = np.sort(np.random.default_rng([seed, 5]).choice(
            tables["events"].num_rows, ENRICH_ROWS, replace=False))
        _write(dict(tables, events=tables["events"].take(pa.array(pick))), d / "corpus")
    else:
        _write(tables, d / "corpus")
    if workload == "io-enrich":
        pq.write_table(ft, d / "fetch.parquet")
        # the same table as flat little-endian arrays indexed by event_id,
        # for the benchmark JVM's simulated service
        order = np.argsort(ft["event_id"].to_numpy())
        for col, dt in (("latency_us", "<i8"), ("fail", "u1"), ("score", "<i8")):
            ft[col].to_numpy()[order].astype(dt).tofile(d / f"fetch_{col}.bin")
    if workload == "ingest-stream":
        pq.write_table(stream_docs(tables["documents"], seed), d / "stream.parquet")
    (d / "_DONE").write_text("")
    # keep the cache bounded: drop older seeds of this workload
    for old in sorted(root.glob(f"{workload}-s*"), key=os.path.getmtime)[:-4]:
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    return d
