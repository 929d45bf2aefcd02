"""Seeded input generator for the benchmark.

Writes parquet tables with the harness schemas (FIXTURES.md, family A)
and nothing else: the engine under test only ever sees these files.
The same (kind, seed, size) always yields byte-identical tables, and a
finished directory carries a `_DONE` marker so it is generated once and
reused by later runs.

Kinds:
  relational  region nation customer supplier part orders lineitem
              events documents embeddings, column distributions after
              the harness tables (independent uniform columns).
  corpus      documents + embeddings only: text recombined from the
              hi-csa-db fixture text, with a known near-duplicate share.

run.py calls `ensure(kind, out_dir, seed, size)`.
"""
import json
import os
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.join("src", "test", "resources", "hicsa")
DIM = 64
N_LABELS = 10
LANGS = np.array(["en", "es", "fr", "de", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# Share of documents (and of vectors) that are near-duplicates of an
# earlier row: a copy with one token appended / a copy plus small noise.
DUP_SHARE = 0.10


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(base, offsets_s):
    us = np.datetime64(base, "us") + (np.asarray(offsets_s) * 1e6).astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def fixture_tokens():
    """The lowercase ASCII word stream of the fixture text, in order."""
    texts = []
    for name, cols in [("support", ["Description"]),
                       ("policy", ["PolicyDescription", "Verbiage"]),
                       ("elements", ["text"])]:
        t = pq.read_table(os.path.join(FIXTURE_DIR, f"{name}.parquet"), columns=cols)
        for c in cols:
            texts += [s for s in t.column(c).to_pylist() if s]
    return re.findall("[a-z]+", " ".join(texts).lower())


def documents(rng, n, tokens):
    """`n` documents of 10..99 words, each a run of fixture windows;
    DUP_SHARE of them copy an earlier document and append ' dup'."""
    tok = np.array(tokens)
    texts = []
    n_dup = 0
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            n_dup += 1
            continue
        want = int(rng.integers(10, 100))
        words = []
        while len(words) < want:
            start = int(rng.integers(0, len(tok) - 20))
            words += list(tok[start:start + int(rng.integers(5, 21))])
        texts.append(" ".join(words[:want]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }, n_dup


def embeddings(rng, n):
    """`n` unit float32 vectors with mild label clusters; DUP_SHARE are
    an earlier vector plus small noise (cosine ~0.999)."""
    centers = rng.standard_normal((N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    v = rng.standard_normal((n, DIM)) + 0.3 * centers[labels]
    n_dup = 0
    for i in range(11, n):
        if rng.random() < DUP_SHARE:
            j = int(rng.integers(0, i))
            v[i] = v[j] / np.linalg.norm(v[j]) * 8.0 + 0.01 * rng.standard_normal(DIM)
            labels[i] = labels[j]
            n_dup += 1
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)),
        pa.array(v.reshape(-1), type=pa.float32()))
    return {"vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb, "label": pa.array(labels)}, n_dup


def corpus(out_dir, seed, n):
    rng = np.random.default_rng(seed)
    docs, doc_dups = documents(rng, n, fixture_tokens())
    emb, vec_dups = embeddings(rng, n)
    _write(out_dir, "documents", docs)
    _write(out_dir, "embeddings", emb)
    return {"documents": n, "embeddings": n,
            "near_dup_docs": doc_dups, "near_dup_vectors": vec_dups}


def relational(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust))})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    adj = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
    noun = ["bolt", "gear", "anvil", "ring", "rod", "plate", "widget", "nut"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})
    day = 86400
    odays = rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", odays * day),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord))})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * day)})
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * day, n_ev))),
        "user_id": pa.array(rng.integers(0, max(1, int(15000 * sf)), n_ev)),
        "event_type": pa.array(rng.choice(["click", "view", "signup", "purchase", "error"], n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    # 200 documents at sf 0.01, not the harness's 500: the DuckDB oracles
    # of the text-classifying queries take about 3 s each per 500
    sizes = corpus(out_dir, seed + 1, int(20000 * sf))
    return {"sf": sf, "lineitem": n_li, "orders": n_ord, "events": n_ev, **sizes}


def ensure(kind, out_dir, seed, size):
    """Generate into `out_dir` unless a finished copy is there; returns
    the recorded sizes and the generation time (0 when cached)."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.isfile(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.monotonic()
    sizes = (relational if kind == "relational" else corpus)(out_dir, seed, size)
    info = {"kind": kind, "seed": seed, "sizes": sizes, "gen_s": time.monotonic() - t0}
    with open(done + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(done + ".tmp", done)
    return dict(info, cached=False)

