"""Seeded input generator for the benchmark.

Two kinds of input, both written as parquet tables with the schemas of
the program's fixtures (the ten tables `graft.tables.Tables` reads):

* ``fixture(out, seed, sf)``: the TPC-H-shaped star schema plus
  ``events``, ``documents`` and ``embeddings``, uniform values as in
  the fixture generator, row counts proportional to ``sf``.
* ``corpus(out, seed, n_docs, n_vecs)``: the same tables, with
  ``documents`` and ``embeddings`` replaced by a larger synthetic
  corpus of the shapes `graft.ScalingProbe` uses: 30% verbatim copies
  of 50 templates, 10% small near-duplicate clusters with
  cluster-rare words, the rest diverse; and clustered 64-dim unit
  vectors (about sqrt(n) gaussian clusters).

The same seed gives the same bytes.
"""
import collections
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
         "hash", "merge", "batch", "spark", "line", "sort", "window", "stream",
         "group", "vector", "filter", "join", "query", "order", "data", "column",
         "small", "big", "the", "customer", "a", "dup"]
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SOURCES = np.array([f"src{i}" for i in range(20)])
DAY_US = 86_400 * 1_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * DAY_US, pa.timestamp("us"))


def _texts(rng, n, lo=10, hi=100, vocab=WORDS[:-1]):
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(vocab), lens.sum())
    words = np.array(vocab, dtype=object)[idx]
    ends = np.cumsum(lens)
    return [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]


def _documents(rng, texts):
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array(rng.choice(SOURCES, n), pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(vecs, labels):
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    }


def _star(out, rng, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(keys),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev)),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(2.0, 50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def fixture(out, seed, sf):
    """The fixture-shaped tables at scale factor `sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    _star(out, rng, sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)
    texts = _texts(rng, n_docs)
    for i in rng.choice(n_docs, max(1, n_docs // 600), replace=False):
        texts[(i + 1) % n_docs] = texts[i] = texts[i] + " dup"
    _write(out, "documents", _documents(rng, texts))
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    _write(out, "embeddings", _embeddings(centers[labels] + rng.normal(0, 1.5, (n_vecs, 64)),
                                          labels))


def corpus(out, seed, sf, n_docs, n_vecs):
    """The fixture tables at `sf`, with a large duplicate-heavy
    `documents` table and a large clustered `embeddings` table.
    Returns the corpus statistics; `duplicate_share` is the share of
    documents whose text occurs more than once."""
    fixture(out, seed, sf)
    rng = np.random.default_rng([seed, 2])
    templates = _texts(rng, 50, 40, 159)
    texts = _texts(rng, n_docs, 40, 159)
    ids = np.arange(n_docs)
    copies = ids % 10 < 3
    pick = rng.integers(0, 50, n_docs)
    for i in np.flatnonzero(copies):
        texts[i] = templates[pick[i]]
    for block in range((n_docs + 99) // 100):
        vocab = WORDS[:-1] + [np.base_repr((seed * 7919 + block + 7) * 1000003 + j * 7919, 36)
                              .lower() for j in range(60)]
        shared = _texts(rng, 1, 40, 159, vocab)[0]
        for i in range(block * 100 + 3, min(n_docs, block * 100 + 100), 10):
            texts[i] = shared
    _write(out, "documents", _documents(rng, texts))
    k = max(4, int(np.sqrt(n_vecs)))
    cluster = np.arange(n_vecs) % k
    centers = rng.normal(0.0, 1.0, (k, 64))
    vecs = centers[cluster] + 0.3 * rng.normal(0.0, 1.0, (n_vecs, 64))
    _write(out, "embeddings", _embeddings(vecs, cluster % 10))
    counts = collections.Counter(texts)
    return {"documents": n_docs, "embeddings": n_vecs, "clusters": k,
            "duplicate_share": sum(counts[t] > 1 for t in texts) / n_docs}


def generate(kind, out, seed, **sizes):
    """Writes the inputs and returns their description, including the
    generation time."""
    t0 = time.perf_counter()
    info = {"kind": kind, "seed": seed, **sizes}
    if kind == "fixture":
        fixture(out, seed, sizes["sf"])
    else:
        info.update(corpus(out, seed, sizes["sf"], sizes["n_docs"], sizes["n_vecs"]))
    info["generate_s"] = time.perf_counter() - t0
    return info
