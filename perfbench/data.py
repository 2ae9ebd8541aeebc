"""Seeded input tables for the benchmark.

The tables follow the schema of the repository's test lake (a TPC-H-shaped
star schema plus `events`, `documents` and `embeddings`), so every public
entry point of the engine can read them through `graft.Sql.open`. The same
seed always yields byte-identical parquet files.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_WORDS = ["red", "blue", "green", "small", "large", "ring", "widget",
              "bolt", "steel", "brass"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
WORDS = ["the", "and", "of", "to", "with", "that", "have", "be", "data",
         "table", "query", "scan", "join", "merge", "window", "value", "row",
         "column", "batch", "stream", "spark", "order", "customer", "line",
         "part", "group", "sort", "filter", "vector", "small", "fast", "slow",
         "big", "key", "hash", "agg"]
LANGS = ["en", "de", "fr", "es", "zh"]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(tbl, path):
    pq.write_table(tbl, path, compression="snappy")


def relational(out, seed, scale, keep=None):
    """region … lineitem + events; `scale` 1 is sf0.01, 10 is sf0.1.
    `keep` names the tables to write (all by default); the rest are still
    drawn, so a table's contents do not depend on `keep`."""
    rng = np.random.default_rng([seed, 1])

    def write(tbl, path):
        if keep is None or os.path.basename(path)[:-len(".parquet")] in keep:
            _write(tbl, path)
    n_cust, n_supp, n_part = 1500 * scale, 100 * scale, 2000 * scale
    n_ord, n_ev = 15000 * scale, 10000 * scale

    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": [f"REGION_{i}" for i in range(5)]}),
           f"{out}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}),
           f"{out}/nation.parquet")
    write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }), f"{out}/supplier.parquet")
    w = rng.integers(0, len(PART_WORDS), (n_part, 2))
    write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.uniform(0, 1100, n_part), 2),
    }), f"{out}/part.parquet")

    odays = rng.integers(0, 2404, n_ord)
    odate = EPOCH_1995 + odays * np.timedelta64(1, "D")
    write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 450000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")

    per = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord), per)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per])
    ship = odate[lok] + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
    write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    }), f"{out}/lineitem.parquet")

    gaps = rng.integers(1_000_000, 400_000_000, n_ev)
    ts = EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]")
    write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 100, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")


def documents(n_docs, rng):
    """Word-salad documents with planted near-duplicates and PII."""
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.15:
            # near-duplicate of an earlier document: one word changed
            toks = texts[int(rng.integers(max(0, i - 200), i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = WORDS[
                int(rng.integers(0, len(WORDS)))]
        else:
            n = int(rng.integers(30, 120))
            toks = [WORDS[j] for j in rng.integers(0, len(WORDS), n)]
            r = rng.random()
            if r < 0.1:
                toks.insert(int(rng.integers(0, n)), f"user{i}@example.com")
            elif r < 0.2:
                toks.insert(int(rng.integers(0, n)), f"http://site{i}.org/p")
            elif r < 0.25:
                toks.insert(int(rng.integers(0, n)), f"555-{i % 1000:03d}-1234")
        texts.append(" ".join(toks))
    return texts


def pipeline(out, seed, n_docs, n_vecs, n_edge_batches):
    """documents, embeddings and the edge batches of `llm-pipeline`."""
    rng = np.random.default_rng([seed, 2])
    texts = documents(n_docs, rng)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")

    dim, n_labels = 64, 10
    centers = rng.normal(0, 1, (n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_vecs, dim))).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet")

    batch, a, b = [], [], []
    for bt in range(n_edge_batches):
        base = bt * 100_000
        n_v = 80
        for _ in range(60):
            u, v = rng.integers(0, n_v, 2)
            if u != v:
                batch.append(bt)
                a.append(base + int(u))
                b.append(base + int(v))
    _write(pa.table({"batch": pa.array(batch, pa.int32()),
                     "a": pa.array(a, pa.int64()),
                     "b": pa.array(b, pa.int64())}), f"{out}/edges.parquet")
    return texts, vecs
