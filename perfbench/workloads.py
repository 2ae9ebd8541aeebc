"""The workloads: seeded inputs, operation lists and result checks.

An operation list is a pure function of (workload, seed, run length).

Every list has four phases: `setup` (lake seeding), `warm` (untimed
warm-up, drawn from a different seed-derived parameter stream), `run`
(the timed closed loop) and `final` (untimed end-state reads for the
correctness check). Timed operations come in blocks: the same operation
kinds in the same order, with seeded parameters. A run is a whole number of blocks,
`--seconds` divided by the workload's nominal block time (at least one),
so every run of a workload does the same amount of the same work. Each
operation carries what the engine runs and, where the check needs it, what
DuckDB runs instead (`duck`).
"""

import math
import os
import re

import numpy as np

import check
import data


# ----------------------------------------------------------------- lake-dml
# One table per format, seeded from sf0.1 `orders`; writes and reads
# interleave, and the tables and their logs grow over the run.

LAKE_SEED_ROWS = 50_000
COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
SET_ALL = ", ".join(f"{c} = s.{c}" for c in COLS.split(", ")[1:])
# One block of lake operations, (kind, table), in a fixed order: each write
# is followed by three reads. The order is the same for every seed (a read's
# cost depends on where it falls among the writes, e.g. a Hudi read before
# or after compaction), so seeds differ only in parameters and data.
D, I, H = "d_orders", "i_orders", "h_orders"
LAKE_BLOCK = [
    ("insert", D), ("point_read", D), ("point_read", I), ("point_read", D),
    ("hudi_upsert", H), ("hudi_read", H), ("point_read", D), ("point_read", I),
    ("merge", I), ("point_read", I), ("time_travel", D), ("point_read", D),
    ("update_from", D), ("point_read", D), ("range_read", I), ("point_read", I),
    ("hudi_upsert", H), ("point_read", I), ("point_read", D), ("point_read", I),
    ("insert", I), ("point_read", I), ("time_travel", D), ("point_read", D),
    ("merge", D), ("point_read", D), ("range_read", D), ("point_read", I),
    ("delete_using", I), ("point_read", I), ("point_read", D), ("point_read", I),
    ("merge_by_source", D), ("point_read", I), ("time_travel", D), ("point_read", D),
    ("hudi_compact", H), ("point_read", D), ("point_read", I), ("point_read", D),
    ("compact", I), ("point_read", D), ("point_read", I), ("point_read", D),
]
# Point lookups (~0.1 s) are 27 of the 44 operations, so the median falls
# inside them, not on the edge between them and a slower kind.
LAKE_READ_KINDS = {"point_read", "range_read", "time_travel", "hudi_read"}
# The warm-up runs every kind once (on other parameters), so no timed
# operation is the first of its kind.
LAKE_WARM = [("point_read", I), ("insert", D), ("merge", I), ("hudi_upsert", H),
             ("update_from", I), ("delete_using", D), ("hudi_read", H), ("time_travel", D),
             ("range_read", D), ("merge_by_source", I), ("hudi_compact", H), ("compact", D)]


class LakeGen:
    """Generates lake statements and tracks what the generator needs to
    keep them valid: the next fresh key offset and the Delta version
    count (for time travel)."""

    def __init__(self, lake):
        self.lake = lake
        self.offset = 0
        self.delta_versions = 1          # CREATE TABLE … AS SELECT is version 0

    def setup(self):
        ops = []
        for t, prov in (("d_orders", "deltalite"), ("i_orders", "iceberglite")):
            ops.append({"phase": "setup", "kind": "lakesql", "target": t, "sql":
                        f"CREATE TABLE {t} USING {prov} LOCATION '{self.lake}/{t}' AS "
                        f"SELECT * FROM orders WHERE o_orderkey < {LAKE_SEED_ROWS}",
                        "duck": [f"CREATE TABLE {t} AS SELECT * FROM orders "
                                 f"WHERE o_orderkey < {LAKE_SEED_ROWS}"]})
        ops.append({"phase": "setup", "kind": "hudi_create", "table": "h_orders",
                    "key": "o_orderkey",
                    "sql": f"SELECT * FROM orders WHERE o_orderkey < {LAKE_SEED_ROWS}",
                    "duck": [f"CREATE TABLE h_orders AS SELECT * FROM orders "
                             f"WHERE o_orderkey < {LAKE_SEED_ROWS}"]})
        return ops

    def run(self, rng, n_blocks):
        out = []
        for block in range(n_blocks):
            for k, t in LAKE_BLOCK:
                out.append(dict(self.op(rng, k, t), phase="run", block=block, lake_kind=k))
        return out

    def warm(self, rng):
        return [dict(self.op(rng, k, t), phase="warm", lake_kind=k) for k, t in LAKE_WARM]

    def _src(self, a, b, bump):
        return (f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + {bump} AS "
                f"o_totalprice, o_orderdate, o_orderpriority FROM orders "
                f"WHERE o_orderkey BETWEEN {a} AND {b}")

    def _upsert_duck(self, t, src):
        return [f"UPDATE {t} SET {SET_ALL} FROM ({src}) AS s "
                f"WHERE {t}.o_orderkey = s.o_orderkey",
                f"INSERT INTO {t} SELECT * FROM ({src}) AS s WHERE NOT EXISTS "
                f"(SELECT 1 FROM {t} WHERE {t}.o_orderkey = s.o_orderkey)"]

    def op(self, rng, kind, t):
        k = int(rng.integers(0, LAKE_SEED_ROWS))
        w = int(rng.integers(300, 900))
        # upsert ranges straddle the end of the seeded key space: a seeded
        # 30-70 % of their keys match, the rest insert
        a = LAKE_SEED_ROWS - int(w * rng.uniform(0.3, 0.7))
        bump = int(rng.integers(1, 100))
        if kind in ("insert", "merge", "merge_by_source", "update_from", "delete_using",
                    "compact") and t == "d_orders":
            self.delta_versions += 1
        if kind == "point_read":
            s = f"SELECT * FROM {t} WHERE o_orderkey = {k}"
            return {"kind": "lakesql", "read": True, "sql": s, "duck": s}
        if kind == "range_read":
            s = (f"SELECT count(*) AS n, sum(o_totalprice) AS p FROM {t} "
                 f"WHERE o_orderkey BETWEEN {k} AND {k + w}")
            return {"kind": "lakesql", "read": True, "sql": s, "duck": s}
        if kind == "time_travel":
            v = int(rng.integers(0, self.delta_versions))
            return {"kind": "lakesql", "read": True,
                    "sql": f"SELECT count(*) AS n, sum(o_orderkey) AS k FROM d_orders "
                           f"VERSION AS OF {v}", "version": v}
        if kind == "hudi_read":
            s = (f"SELECT count(*) AS n, sum(o_totalprice) AS p FROM h_orders "
                 f"WHERE o_orderkey BETWEEN {a} AND {a + w}")
            return {"kind": "hudi_read", "table": "h_orders", "sql": s, "duck": s}
        if kind == "insert":
            self.offset += 1_000_000
            m = int(rng.integers(100, 200))
            s = (f"INSERT INTO {t} SELECT o_orderkey + {self.offset}, o_custkey, "
                 f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders "
                 f"WHERE o_orderkey % {m} = {int(rng.integers(0, m))}")
            return {"kind": "lakesql", "layer": "sources", "target": t, "sql": s,
                    "duck": [s]}
        if kind in ("merge", "merge_by_source"):
            src = self._src(a, a + w, bump)
            s = (f"MERGE INTO {t} USING ({src}) AS src ON {t}.o_orderkey = src.o_orderkey "
                 f"WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
            duck = self._upsert_duck(t, src)
            if kind == "merge_by_source":
                lo = a - int(rng.integers(100, 2000))
                hi = a + w + int(rng.integers(100, 2000))
                s += (f" WHEN NOT MATCHED BY SOURCE AND o_orderkey BETWEEN {lo} AND {hi} "
                      f"THEN DELETE")
                duck.append(f"DELETE FROM {t} WHERE o_orderkey BETWEEN {lo} AND {hi} AND "
                            f"o_orderkey NOT IN (SELECT o_orderkey FROM ({src}))")
            return {"kind": "lakesql", "layer": "sources", "target": t, "sql": s,
                    "duck": duck}
        if kind == "update_from":
            s = (f"UPDATE {t} SET o_totalprice = s.p FROM (SELECT o_orderkey AS k, "
                 f"o_totalprice + {bump} AS p FROM orders WHERE o_orderkey BETWEEN {k} "
                 f"AND {k + w}) AS s WHERE {t}.o_orderkey = s.k")
            return {"kind": "lakesql", "layer": "sources", "target": t, "sql": s,
                    "duck": [s]}
        if kind == "delete_using":
            s = (f"DELETE FROM {t} USING (SELECT o_orderkey AS k FROM orders WHERE "
                 f"o_orderkey BETWEEN {k} AND {k + w} AND o_orderkey % 3 = "
                 f"{int(rng.integers(0, 3))}) AS s WHERE {t}.o_orderkey = s.k")
            return {"kind": "lakesql", "layer": "sources", "target": t, "sql": s,
                    "duck": [s]}
        if kind == "compact":
            return {"kind": "lakesql", "layer": "sources", "target": t,
                    "sql": f"OPTIMIZE {t}", "duck": []}
        if kind == "hudi_upsert":
            src = self._src(a, a + w, bump)
            return {"kind": "hudi_upsert", "table": "h_orders", "target": "h_orders",
                    "sql": src, "duck": self._upsert_duck("h_orders", src)}
        if kind == "hudi_compact":
            return {"kind": "hudi_compact", "table": "h_orders", "target": "h_orders",
                    "duck": []}
        raise ValueError(kind)


def lake_dml(seed, lake, n_blocks):
    gen = LakeGen(lake)
    ops = gen.setup()
    warm, run = np.random.default_rng([seed, 31]), np.random.default_rng([seed, 32])
    ops += gen.warm(warm)
    ops += gen.run(run, n_blocks)
    for t in ("d_orders", "i_orders", "h_orders"):
        s = (f"SELECT count(*) AS n, count(DISTINCT o_orderkey) AS dk, sum(o_orderkey) AS k, "
             f"sum(o_totalprice) AS p FROM {t}")
        kind = "hudi_read" if t == "h_orders" else "lakesql"
        ops.append({"phase": "final", "kind": kind, "read": True, "table": t,
                    "sql": s, "duck": s})
    tables = {"d_orders": ["delta", f"{lake}/d_orders"],
              "i_orders": ["iceberg", f"{lake}/i_orders"],
              "h_orders": ["hudi", f"{lake}/h_orders"]}
    return {"tables": tables}, ops


def check_lake(inputs, ops, results):
    """Replays every statement in DuckDB, in order, and compares every read
    (time travel against the recorded Delta versions). Also returns the rows
    the timed writes changed and the live rows' plain-parquet size."""
    con = duck_views(inputs)
    got = {op["id"]: r for op, r in results}
    bad, versions, changed = {}, [], 0
    for op in ops:
        duck = op.get("duck")
        if isinstance(duck, list):
            for stmt in duck:
                res = con.execute(stmt).fetchall()
                if op["phase"] == "run" and res and isinstance(res[0][0], int):
                    changed += res[0][0]
            if op.get("target") == "d_orders" and op["kind"] == "lakesql":
                versions.append(con.execute(
                    "SELECT count(*), sum(o_orderkey) FROM d_orders").fetchall())
            continue
        r = got.get(op["id"])
        if r is None or "rows" not in r:
            continue
        want = (versions[op["version"]] if "version" in op
                else con.execute(duck).fetchall())
        diff = check.same_rows(r["rows"], want)
        if diff:
            bad[op["id"]] = diff
    return bad, {"changed_rows": changed, "live": _live_parquet_bytes(con, inputs)}


def _live_parquet_bytes(con, inputs):
    """(bytes, rows) of the live rows of the three tables, written once as
    plain parquet."""
    total_b = total_r = 0
    for t in ("d_orders", "i_orders", "h_orders"):
        f = os.path.join(inputs, f"_live_{t}.parquet")
        con.execute(f"COPY {t} TO '{f}' (FORMAT PARQUET)")
        total_b += os.path.getsize(f)
        total_r += con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        os.remove(f)
    return total_b, total_r


# ------------------------------------------------------------- llm-pipeline
# Operator calls over seeded document batches, embeddings and edge lists.

N_DOCS, N_VECS, N_EDGE_BATCHES = 3000, 1600, 20
EDGE_BATCHES_PER_CALL, N_QUERIES, TOP_K = 10, 32, 10
# One block of operator calls in a fixed order: the two slowest operators
# (3-5 s each) once, the rest twice, so the median falls among the many
# short calls.
LLM_BLOCK = ["clean", "jaccard", "topk_brute", "topk_lsh", "sketches", "components",
             "clean", "jaccard", "topk_brute", "topk_lsh", "sketches", "topk_ivf"]
SKETCH_COLUMNS = [["documents", "lang"], ["documents", "source"], ["embeddings", "label"],
                  ["documents", "n_chars"]]
LSH_THETA = (0.5, 0.9)
# every operator once, so no timed call is the first of its operator
LLM_WARM = ["clean", "jaccard", "topk_brute", "topk_lsh", "sketches", "components", "topk_ivf"]


def _operator(rng, name):
    lo = int(rng.integers(0, N_DOCS - 300))
    op = {"kind": "op", "op": name}
    if name == "clean":
        op.update(lo=lo, hi=lo + 299, min_words=int(rng.integers(20, 60)),
                  min_stops=int(rng.integers(1, 4)))
    elif name == "jaccard":
        op.update(lo=lo, hi=lo + 299, theta=round(float(rng.uniform(*LSH_THETA)), 3))
    elif name == "components":
        # a run of consecutive edge batches (disjoint vertex ranges): the
        # operator's round count is the most any of them needs, which
        # varies less between calls than one small graph's
        first = int(rng.integers(0, N_EDGE_BATCHES - EDGE_BATCHES_PER_CALL + 1))
        op.update(batches=[first, first + EDGE_BATCHES_PER_CALL - 1])
    elif name.startswith("topk"):
        op.update(queries=[int(q) for q in rng.choice(N_VECS, N_QUERIES, replace=False)],
                  corpus=N_VECS, k=TOP_K)
    else:
        op.update(columns=SKETCH_COLUMNS)
    return op


def llm_pipeline(seed, n_blocks):
    ops = []
    warm, run = np.random.default_rng([seed, 41]), np.random.default_rng([seed, 42])
    for name in LLM_WARM:
        ops.append(dict(_operator(warm, name), phase="warm"))
    for block in range(n_blocks):
        for name in LLM_BLOCK:
            ops.append(dict(_operator(run, name), phase="run", block=block))
    return {"tables": {}}, ops


def _shingles(text):
    toks = text.split(" ")
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


GOPHER_STOPS = {"the", "be", "to", "of", "and", "that", "have", "with"}
EMAIL = re.compile(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}")
URL = re.compile(r"https?://[^ ]+")
PHONE = re.compile(r"[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}")
P31 = 2147483647
SKETCH_K = 16


def _clean(doc_id, text, min_words, min_stops):
    """TextOps.cleanPipeline's contract for one document (None: dropped)."""
    toks = text.split(" ")
    n = len(toks)
    mean_wl = len(text.replace(" ", "")) / n
    alpha = sum(1 for t in toks if re.search("[a-z]", t)) / n
    if not (min_words <= n <= 100000 and 3.0 <= mean_wl <= 10.0 and alpha >= 0.8
            and len(set(toks) & GOPHER_STOPS) >= min_stops):
        return None
    n_pii = len(EMAIL.findall(text)) + len(URL.findall(text)) + len(PHONE.findall(text))
    return [doc_id, n_pii, PHONE.sub("[PHONE]", URL.sub("[URL]", EMAIL.sub("[EMAIL]", text)))]


def _poly31(v):
    h = 0
    for c in v:
        h = (h * 131 + ord(c)) % P31
    return h


def _components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [[v, find(v)] for v in parent]


class LlmCheck:
    """Invariants of the operators: exact answers where one exists
    (cleaning, Jaccard, components, brute-force top-k, sketches), a recall
    floor against brute force for the approximate top-k operators."""

    ANN_RECALL_FLOOR = 0.5

    def __init__(self, inputs):
        import pyarrow.parquet as pq
        self.texts = pq.read_table(f"{inputs}/documents.parquet").column("text").to_pylist()
        emb = np.array(pq.read_table(f"{inputs}/embeddings.parquet")
                       .column("embedding").to_pylist(), dtype=np.float64)
        self.nv = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        e = pq.read_table(f"{inputs}/edges.parquet").to_pydict()
        self.edges = {}
        for bt, a, b in zip(e["batch"], e["a"], e["b"]):
            self.edges.setdefault(bt, []).append((a, b))
        self.tables = {t: pq.read_table(f"{inputs}/{t}.parquet").to_pydict()
                       for t in ("documents", "embeddings")}
        self.precision = {}      # op id -> (verified pairs, candidate pairs)
        self.recall = {}         # op id -> recall of each query

    def __call__(self, op, rows):
        name, self.op_id = op["op"], op["id"]
        if name == "clean":
            want = [_clean(i, self.texts[i], op["min_words"], op["min_stops"])
                    for i in range(op["lo"], op["hi"] + 1)]
            return check.same_rows(rows, [w for w in want if w is not None])
        if name == "jaccard":
            sh = {}
            for a, b, j in rows:
                a, b = int(a), int(b)
                if not (op["lo"] <= a < b <= op["hi"]):
                    return f"pair ({a}, {b}) outside the batch"
                sa = sh.setdefault(a, _shingles(self.texts[a]))
                sb = sh.setdefault(b, _shingles(self.texts[b]))
                exact = math.floor(len(sa & sb) / len(sa | sb) * 1e6 + 0.5) / 1e6
                if abs(exact - j) > 1e-9:
                    return f"pair ({a}, {b}) jaccard {j} != {exact}"
            self.precision[op["id"]] = (sum(1 for r in rows if r[2] >= op["theta"]),
                                        len(rows))
            return None
        if name == "components":
            lo, hi = op["batches"]
            return check.same_rows(rows, _components(
                [e for bt in range(lo, hi + 1) for e in self.edges[bt]]))
        if name.startswith("topk"):
            return self._topk(op, rows)
        want = []
        for t, c in op["columns"]:
            hs = {_poly31(str(v)) for v in self.tables[t][c] if v is not None}
            for i in range(SKETCH_K):
                a = (2654435761 * (2 * i + 1)) % P31
                want.append([t, c, i, min((a * h + i * 40503 + 1) % P31 for h in hs)])
        return check.same_rows(rows, want)

    def _topk(self, op, rows):
        k, n = op["k"], op["corpus"]
        got = {}
        for q, v, cos, rnk in rows:
            q, v = int(q), int(v)
            if v >= n:
                return f"neighbor {v} outside the corpus"
            exact = float(self.nv[q] @ self.nv[v])
            if abs(round(exact, 4) - cos) > 1.5e-4:
                return f"cos({q}, {v}) {cos} != {exact:.6f}"
            got.setdefault(q, []).append(v)
        for q in op["queries"]:
            sims = self.nv[:n] @ self.nv[q]
            kth = np.sort(sims)[-k]
            best = set(np.argsort(-sims, kind="stable")[:k].tolist())
            mine = got.get(q, [])
            if len(mine) > k:
                return f"query {q}: {len(mine)} neighbors > k={k}"
            if op["op"] == "topk_brute":
                if len(mine) != k or any(sims[v] < kth - 1e-6 for v in mine):
                    return f"query {q}: brute-force top-{k} {sorted(mine)} != {sorted(best)}"
            else:
                self.recall.setdefault(op["id"], []).append(len(best & set(mine)) / k)
        recall = np.mean(self.recall.get(op["id"], [1.0]))
        if recall < self.ANN_RECALL_FLOOR:
            return f"recall {recall:.3f} below floor {self.ANN_RECALL_FLOOR}"
        return None


def check_llm(inputs, ops, results):
    chk = LlmCheck(inputs)
    bad = {}
    for op, r in results:
        if "rows" in r:
            diff = chk(op, r["rows"])
            if diff:
                bad[op["id"]] = diff
    return bad, {"precision": chk.precision, "recall": chk.recall}


# ------------------------------------------------------------------ checks

def duck_views(inputs):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(inputs)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{inputs}/{f}')")
    return con


class Workload:
    def __init__(self, ops_fn, inputs_fn, block_seconds, check_fn):
        self.ops_fn, self.inputs_fn = ops_fn, inputs_fn
        self.block_seconds, self.check = block_seconds, check_fn

    def generate(self, seed, seconds, inputs, lake):
        """Writes the inputs; returns (header, operations)."""
        self.inputs_fn(inputs, seed)
        n_blocks = max(1, round(seconds / self.block_seconds))
        return self.ops_fn(seed, lake, n_blocks)


def _p50(xs):
    return float(np.median(xs)) if xs else 0.0


def layer_metrics(results, out, info):
    """Per-layer figures the checker measures (0 where a workload has no
    such layer); every workload reports the same names. `info` is what
    the workload's check returned beside its failures."""
    timed = [(op, r) for op, r in results if op["phase"] == "run"]
    m = {"lake.read_p50_ms": 0.0, "lake.write_p50_ms": 0.0, "lake.write_amp": 0.0,
         "lake.space_amp": 0.0, "ops.lsh_precision": 0.0, "ops.ann_recall": 0.0}
    kinds = sorted({k for k, _ in LAKE_BLOCK})
    for prefix, field, names in (("lake", "lake_kind", kinds), ("ops", "op", sorted(set(LLM_BLOCK)))):
        for name in names:
            m[f"{prefix}.{name}_ms_p50"] = _p50([r["ms"] for op, r in timed
                                                 if op.get(field) == name])
    if "live" in info:
        reads = [r["ms"] for op, r in timed if op["lake_kind"] in LAKE_READ_KINDS]
        writes = [r["ms"] for op, r in timed if op["lake_kind"] not in LAKE_READ_KINDS]
        live_b, live_r = info["live"]
        written = out["lake_bytes_end"] - out["lake_bytes_start"]
        m["lake.read_p50_ms"] = _p50(reads)
        m["lake.write_p50_ms"] = _p50(writes)
        if info["changed_rows"] and live_r:
            m["lake.write_amp"] = written / (info["changed_rows"] * live_b / live_r)
        if live_b:
            m["lake.space_amp"] = out["lake_bytes_end"] / live_b
    if "precision" in info:
        prec = list(info["precision"].values())
        rec = [x for v in info["recall"].values() for x in v]
        pairs = sum(p for _, p in prec)
        m["ops.lsh_precision"] = sum(v for v, _ in prec) / pairs if pairs else 0.0
        m["ops.ann_recall"] = float(np.mean(rec)) if rec else 0.0
    return m


# Nominal block times (seconds on a 4-core host) turn `--seconds` into a
# block count; they are constants, so the work per run never depends on
# how fast the host or the engine happens to be.
WORKLOADS = {
    "lake-dml": Workload(lake_dml, lambda d, seed: data.relational(d, seed, 10, ["orders"]),
                         12.0, check_lake),
    "llm-pipeline": Workload(lambda seed, lake, n: llm_pipeline(seed, n),
                             lambda d, seed: data.pipeline(d, seed, N_DOCS, N_VECS,
                                                           N_EDGE_BATCHES), 12.0, check_llm),
}
