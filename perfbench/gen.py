"""Seeded input generators for the three benchmark workloads.

Everything graft sees comes from here: the same seed writes
byte-identical files. Nothing is read from outside the output directory.

- pig_etl:       sf0.1-shaped TPC-H-like tables (parquet) plus a stream of
                 Pig Latin scripts, each with the DuckDB twin SQL built
                 from the same template and constants.
- ingest_stream: sf0.1-shaped document batches with planted exact copies
                 and word-level near-duplicates of earlier documents.
- vector_search: a clustered float32 corpus, query batches and append
                 batches drawn from the same mixture.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the repo's TPC-H-like fixture tables
SF01 = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
        "part": 20000, "orders": 150000, "lineitem": 600000}

# Streams are longer than any run can consume at the benchmark's op rates.
PIG_OPS = 300
INGEST_BATCHES = 60
WARM_ROUNDS = 20  # graftbench.Main.MaxWarmRounds
VECTOR_OPS = 300


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    """Two-decimal amounts, so decimal sums are exact in both engines."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


# ------------------------------------------------------------------ tables

def tables(seed, out):
    r = _rng(seed, 1)
    os.makedirs(out, exist_ok=True)
    n = SF01
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(n["region"], dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(n["nation"], dtype=np.int32)),
        "n_name": [f"NATION{i:02d}" for i in range(n["nation"])],
        "n_regionkey": pa.array((np.arange(n["nation"]) % 5).astype(np.int32)),
    }), f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(1, nc + 1, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(r.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(segs[r.integers(0, len(segs), nc)]),
    }), f"{out}/customer.parquet")
    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(1, ns + 1, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": pa.array(r.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, ns)),
    }), f"{out}/supplier.parquet")
    colors = np.array(["almond", "antique", "azure", "beige", "blue", "blush",
                       "brown", "burlywood", "chartreuse", "chiffon", "coral",
                       "cornsilk", "cyan", "dark", "dodger", "drab", "forest",
                       "frosted", "gainsboro", "ghost", "green", "honeydew",
                       "indian", "ivory", "khaki", "lace", "lavender", "lemon",
                       "linen", "magenta"])
    np_ = n["part"]
    cw = colors[r.integers(0, len(colors), (np_, 4))]
    types = np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(1, np_ + 1, dtype=np.int64)),
        "p_name": [" ".join(w) for w in cw],
        "p_brand": [f"Brand#{a}{b}" for a, b in r.integers(1, 6, (np_, 2))],
        "p_type": pa.array(types[r.integers(0, len(types), np_)]),
        "p_size": pa.array(r.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(_money(r, 900.0, 2100.0, np_)),
    }), f"{out}/part.parquet")
    no = n["orders"]
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    base_us = np.int64(694224000) * 1_000_000  # 1992-01-01
    day_us = np.int64(86400) * 1_000_000
    # skewed customer keys: a few customers place many orders, so the
    # skewed join has skew to handle
    ck = np.minimum((r.pareto(1.2, no) * 300).astype(np.int64) + 1, nc)
    ck = np.where(r.random(no) < 0.7, r.integers(1, nc + 1, no), ck)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(1, no + 1, dtype=np.int64)),
        "o_custkey": pa.array(ck.astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(r, 850.0, 450000.0, no)),
        "o_orderdate": pa.array(base_us + r.integers(0, 2400, no) * day_us,
                                type=pa.timestamp("us")),
        "o_orderpriority": pa.array(prios[r.integers(0, 5, no)]),
    }), f"{out}/orders.parquet")
    nl = n["lineitem"]
    per = r.integers(1, 8, no)
    per = per * nl // per.sum()
    per[: nl - per.sum()] += 1
    okey = np.repeat(np.arange(1, no + 1, dtype=np.int64), per)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in per])
    qty = r.integers(1, 51, nl).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(r.integers(1, np_ + 1, nl).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(1, ns + 1, nl).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(r, 900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, nl)]),
        "l_shipdate": pa.array(base_us + r.integers(0, 2500, nl) * day_us,
                               type=pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")


# ----------------------------------------------------------- pig templates
#
# Each template returns (pig_body, twin_sql). The body ends in an alias
# `out`; the STORE is appended by the runner. Every output has a total
# order or is compared as a multiset, and every sum goes through a
# two-decimal DECIMAL so both engines produce the same double. Constants
# are drawn from ranges of similar selectivity, so the cost of a round of
# templates varies little between seeds.

def _t_filter_limit(r):
    q, d, n = int(r.integers(20, 30)), int(r.integers(3, 7)) / 100, int(r.integers(100, 200))
    return (f"""
li = LOAD 'lineitem.parquet';
f = FILTER li BY l_quantity >= {q}.0 AND l_discount <= {d};
p = FOREACH f GENERATE l_orderkey, l_linenumber, l_quantity, l_extendedprice;
o = ORDER p BY l_extendedprice DESC, l_orderkey, l_linenumber;
out = LIMIT o {n};""", f"""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
WHERE l_quantity >= {q}.0 AND l_discount <= {d}
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {n}""")


def _t_group_fused(r):
    q = int(r.integers(20, 40))
    return (f"""
li = LOAD 'lineitem.parquet';
f = FILTER li BY l_quantity < {q}.0;
g = GROUP f BY (l_returnflag, l_linestatus);
a = FOREACH g GENERATE group.l_returnflag AS rf, group.l_linestatus AS ls,
      COUNT(f) AS n, (double) SUM((bigdecimal) f.l_extendedprice) AS sum_price,
      MAX(f.l_discount) AS max_disc;
out = ORDER a BY rf, ls;""", f"""
SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS n,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
  MAX(l_discount) AS max_disc
FROM lineitem WHERE l_quantity < {q}.0 GROUP BY 1, 2 ORDER BY 1, 2""")


def _t_cogroup(r):
    x = int(r.integers(0, 9000))
    return (f"""
c = LOAD 'customer.parquet';
s = LOAD 'supplier.parquet';
fc = FILTER c BY c_acctbal > {x}.0;
cg = COGROUP fc BY c_nationkey, s BY s_nationkey;
a = FOREACH cg GENERATE group AS nk, COUNT(fc) AS nc, COUNT(s) AS ns;
out = ORDER a BY nk;""", f"""
SELECT COALESCE(a.nk, b.nk) AS nk, COALESCE(a.nc, 0) AS nc, COALESCE(b.ns, 0) AS ns
FROM (SELECT c_nationkey AS nk, COUNT(*) AS nc FROM customer
      WHERE c_acctbal > {x}.0 GROUP BY 1) a
FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS ns FROM supplier GROUP BY 1) b
ON a.nk = b.nk ORDER BY 1""")


def _t_join_replicated(r):
    q = int(r.integers(10, 30))
    return (f"""
li = LOAD 'lineitem.parquet';
s = LOAD 'supplier.parquet';
f = FILTER li BY l_quantity > {q}.0;
j = JOIN f BY l_suppkey, s BY s_suppkey USING 'replicated';
g = GROUP j BY s_nationkey;
a = FOREACH g GENERATE group AS nk, COUNT(j) AS n,
      (double) SUM((bigdecimal) j.l_quantity) AS qty;
out = ORDER a BY nk;""", f"""
SELECT s_nationkey AS nk, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE l_quantity > {q}.0 GROUP BY 1 ORDER BY 1""")


PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _t_join_skewed(r):
    p = PRIOS[int(r.integers(0, 5))]
    return (f"""
o = LOAD 'orders.parquet';
c = LOAD 'customer.parquet';
f = FILTER o BY o_orderpriority == '{p}';
j = JOIN f BY o_custkey, c BY c_custkey USING 'skewed';
g = GROUP j BY c_mktsegment;
a = FOREACH g GENERATE group AS seg, COUNT(j) AS n,
      (double) SUM((bigdecimal) j.o_totalprice) AS tot;
out = ORDER a BY seg;""", f"""
SELECT c_mktsegment AS seg, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority = '{p}' GROUP BY 1 ORDER BY 1""")


def _t_join_merge(r):
    p = int(r.integers(150000, 250000))
    return (f"""
li = LOAD 'lineitem.parquet';
o = LOAD 'orders.parquet';
fo = FILTER o BY o_totalprice < {p}.0;
j = JOIN li BY l_orderkey, fo BY o_orderkey USING 'merge';
g = GROUP j BY o_orderstatus;
a = FOREACH g GENERATE group AS status, COUNT(j) AS n,
      (double) SUM((bigdecimal) j.l_extendedprice) AS sum_price;
out = ORDER a BY status;""", f"""
SELECT o_orderstatus AS status, COUNT(*) AS n,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_totalprice < {p}.0 GROUP BY 1 ORDER BY 1""")


def _t_left_outer(r):
    nk, st = int(r.integers(0, 25)), "FOP"[int(r.integers(0, 3))]
    return (f"""
c = LOAD 'customer.parquet';
o = LOAD 'orders.parquet';
fc = FILTER c BY c_nationkey == {nk};
fo = FILTER o BY o_orderstatus == '{st}';
j = JOIN fc BY c_custkey LEFT OUTER, fo BY o_custkey;
p = FOREACH j GENERATE c_custkey, c_mktsegment,
      (o_orderkey IS NULL ? 0 : o_orderkey + 1) AS okey1;
out = ORDER p BY c_custkey, okey1;""", f"""
SELECT c_custkey, c_mktsegment, COALESCE(o_orderkey + 1, 0) AS okey1
FROM (SELECT * FROM customer WHERE c_nationkey = {nk}) c
LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = '{st}') o
ON c_custkey = o_custkey ORDER BY 1, 3""")


def _t_distinct(r):
    d = int(r.integers(0, 10)) / 100
    return (f"""
li = LOAD 'lineitem.parquet';
f = FILTER li BY l_discount >= {d};
p = FOREACH f GENERATE l_suppkey, l_returnflag;
d = DISTINCT p;
g = GROUP d BY l_returnflag;
a = FOREACH g GENERATE group AS rf, COUNT(d) AS nsupp;
out = ORDER a BY rf;""", f"""
SELECT l_returnflag AS rf, COUNT(DISTINCT l_suppkey) AS nsupp
FROM lineitem WHERE l_discount >= {d} GROUP BY 1 ORDER BY 1""")


def _t_union(r):
    lo = int(r.integers(20000, 40000))
    hi = lo + int(r.integers(300000, 350000))
    return (f"""
o = LOAD 'orders.parquet';
a = FILTER o BY o_totalprice < {lo}.0;
b = FILTER o BY o_totalprice > {hi}.0;
u = UNION a, b;
g = GROUP u BY o_orderpriority;
x = FOREACH g GENERATE group AS prio, COUNT(u) AS n;
out = ORDER x BY prio;""", f"""
SELECT o_orderpriority AS prio, COUNT(*) AS n FROM (
  SELECT * FROM orders WHERE o_totalprice < {lo}.0
  UNION ALL SELECT * FROM orders WHERE o_totalprice > {hi}.0)
GROUP BY 1 ORDER BY 1""")


def _t_split(r):
    p = int(r.integers(150000, 300000))
    return (f"""
o = LOAD 'orders.parquet';
SPLIT o INTO lo IF o_totalprice < {p}.0, hi OTHERWISE;
g = GROUP hi BY o_orderpriority;
a = FOREACH g GENERATE group AS prio, COUNT(hi) AS n, MIN(hi.o_totalprice) AS mn;
out = ORDER a BY prio;""", f"""
SELECT o_orderpriority AS prio, COUNT(*) AS n, MIN(o_totalprice) AS mn
FROM orders WHERE NOT (o_totalprice < {p}.0) GROUP BY 1 ORDER BY 1""")


def _t_cube(r):
    p = int(r.integers(50000, 150000))
    return (f"""
o = LOAD 'orders.parquet';
f = FILTER o BY o_totalprice > {p}.0;
c = CUBE f BY CUBE(o_orderstatus, o_orderpriority);
a = FOREACH c GENERATE group.o_orderstatus AS st0, group.o_orderpriority AS pr0,
      (double) SUM((bigdecimal) cube.o_totalprice) AS tot, COUNT(cube) AS n;
b = FOREACH a GENERATE (st0 IS NULL ? 'ALL' : st0) AS st,
      (pr0 IS NULL ? 'ALL' : pr0) AS pr, tot, n;
out = ORDER b BY st, pr;""", f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pr,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot, COUNT(*) AS n
FROM orders WHERE o_totalprice > {p}.0
GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY 1, 2""")


def _t_nested(r):
    p, k = int(r.integers(300000, 440000)), int(r.integers(1, 4))
    return (f"""
o = LOAD 'orders.parquet';
g = GROUP o BY o_custkey;
x = FOREACH g {{
  big = FILTER o BY o_totalprice >= {p}.0;
  srt = ORDER big BY o_totalprice DESC;
  top = LIMIT srt {k};
  GENERATE group AS cust, COUNT(big) AS n_big, FLATTEN(top.o_orderkey) AS okey;
}};
out = ORDER x BY cust, okey;""", f"""
WITH big AS (
  SELECT o_custkey, o_orderkey,
    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
    COUNT(*) OVER (PARTITION BY o_custkey) AS n_big
  FROM orders WHERE o_totalprice >= {p}.0)
SELECT o_custkey AS cust, n_big, o_orderkey AS okey FROM big WHERE rn <= {k}
ORDER BY 1, 3""")


def _t_udf(r):
    s, w = int(r.integers(5, 50)), int(r.integers(50, 400))
    return (f"""
p = LOAD 'part.parquet';
f = FILTER p BY p_size <= {s};
b = FOREACH f GENERATE PRICE_BAND(p_retailprice, {w}.0) AS band, p_partkey;
g = GROUP b BY band;
a = FOREACH g GENERATE group AS band, COUNT(b) AS n;
out = ORDER a BY band;""", f"""
SELECT CAST(FLOOR(p_retailprice / {w}.0) AS BIGINT) AS band, COUNT(*) AS n
FROM part WHERE p_size <= {s} GROUP BY 1 ORDER BY 1""")


def _t_flatten(r):
    s = int(r.integers(10, 30))
    return (f"""
p = LOAD 'part.parquet';
f = FILTER p BY p_size >= {s};
w = FOREACH f GENERATE FLATTEN(TOKENIZE(p_name)) AS word;
g = GROUP w BY word;
c = FOREACH g GENERATE group AS word, COUNT(w) AS n;
out = ORDER c BY n DESC, word;""", f"""
SELECT word, COUNT(*) AS n FROM (
  SELECT UNNEST(string_split(p_name, ' ')) AS word FROM part WHERE p_size >= {s})
GROUP BY 1 ORDER BY n DESC, word""")


TEMPLATES = [
    ("filter_limit", _t_filter_limit), ("group_fused", _t_group_fused),
    ("cogroup", _t_cogroup), ("join_replicated", _t_join_replicated),
    ("join_skewed", _t_join_skewed), ("join_merge", _t_join_merge),
    ("left_outer", _t_left_outer),
    ("distinct", _t_distinct), ("union", _t_union), ("split", _t_split),
    ("cube", _t_cube), ("nested", _t_nested), ("udf", _t_udf),
    ("flatten", _t_flatten),
]


# a filter, a join and a cube: the warm-up rounds' scripts
PIG_WARM_TEMPLATES = TEMPLATES[::5]


def pig_scripts(seed, stream, n, templates=TEMPLATES):
    """`n` scripts cycling through `templates` in a fixed order (so any
    whole round has the same operator mix), with seeded constants."""
    r = _rng(seed, stream)
    ops = []
    for i in range(n):
        name, t = templates[i % len(templates)]
        body, sql = t(r)
        ops.append({"i": i, "template": name, "pig": body.strip(), "sql": " ".join(sql.split())})
    return ops


# --------------------------------------------------------------- documents

# The 31 words of the repo's sf0.1 `documents` fixture table. Its 5,000
# texts are uniform draws of 10-100 of these words; 98.8% of them pass
# Text.qualityScore >= 0.5, and 8 are exact duplicates.
DOC_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
             "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
             "the", "value", "vector", "window"]


class DocStream:
    """Document batches in the shape of the repo's q129/q131 ingest loop.

    A batch is `fresh` new documents drawn like the sf0.1 `documents`
    table, then, from the second batch on:
    - an exact copy, under a fresh id, of every fresh document of the
      batch before (q129 re-sends the previous round's admits);
    - a near-duplicate of every tenth of those, its first three words
      dropped (the edit of LlmQueries.derivedDocs)."""

    def __init__(self, seed, stream, fresh, id_base):
        self.r = _rng(seed, stream)
        self.fresh = fresh
        self.next_id = id_base
        self.prev = []

    def _take_id(self):
        self.next_id += 1
        return self.next_id - 1

    def batch(self):
        r = self.r
        fresh = [" ".join(DOC_VOCAB[int(k)] for k in r.integers(0, len(DOC_VOCAB), n))
                 for n in r.integers(10, 101, self.fresh)]
        near = [" ".join(t.split(" ")[3:]) for t in self.prev[::10]]
        texts = fresh + self.prev + near
        ids = [self._take_id() for _ in texts]
        exact = ids[len(fresh):len(fresh) + len(self.prev)]
        self.prev = fresh
        return ids, texts, exact


def ingest(seed, out, batch_docs):
    os.makedirs(out, exist_ok=True)
    meta = {"batches": []}
    ds = DocStream(seed, 20, batch_docs, 1)
    for b in range(INGEST_BATCHES):
        ids, texts, exact = ds.batch()
        path = f"{out}/batches_{b:04d}.parquet"
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": pa.array(texts, pa.string())}), path)
        meta["batches"].append({"path": os.path.basename(path), "first_id": ids[0],
                                "n": len(ids), "exact_copy_ids": exact,
                                "input_bytes": sum(len(t.encode()) for t in texts)})
    with open(f"{out}/ingest.json", "w") as f:
        json.dump(meta, f)


# ----------------------------------------------------------------- vectors

def vectors(seed, out, corpus, dim, query_batch, append_batch):
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 30)
    # overlapping clusters, so near neighbours straddle IVF cells and
    # recall@10 at nprobe < nCells stays below 1
    centers = r.normal(0, 0.6, (24, dim))

    def draw(n):
        c = r.integers(0, len(centers), n)
        return (centers[c] + r.normal(0, 1.0, (n, dim))).astype(np.float32)

    def table(ids, vs):
        flat = pa.array(vs.reshape(-1), pa.float32())
        offs = pa.array(np.arange(0, len(vs) * dim + 1, dim, dtype=np.int32))
        return pa.table({"vec_id": pa.array(ids, pa.int64()),
                         "embedding": pa.ListArray.from_arrays(offs, flat)})

    _write(table(np.arange(corpus, dtype=np.int64), draw(corpus)), f"{out}/corpus.parquet")
    # op i is an append when i % 10 == 9, otherwise a query batch; query
    # ids live in their own range, so excludeSelf never drops a neighbour
    ops, next_id = [], 1_000_000
    for i in range(VECTOR_OPS):
        path = f"op_{i:05d}.parquet"
        if i % 10 == 9:
            ids = np.arange(next_id, next_id + append_batch, dtype=np.int64)
            next_id += append_batch
            _write(table(ids, draw(append_batch)), f"{out}/{path}")
            ops.append({"kind": "append", "path": path,
                        "input_bytes": append_batch * (8 + 4 * dim)})
        else:
            ids = np.arange(100_000_000 + i * query_batch,
                            100_000_000 + (i + 1) * query_batch, dtype=np.int64)
            _write(table(ids, draw(query_batch)), f"{out}/{path}")
            ops.append({"kind": "query", "path": path})
    with open(f"{out}/vector.json", "w") as f:
        json.dump({"dim": dim, "corpus_input_bytes": corpus * (8 + 4 * dim),
                   "ops": ops}, f)


def generate(workload, seed, out, cfg):
    """Write every input of `workload` under `out`; return the spec the
    JVM side reads."""
    os.makedirs(out, exist_ok=True)
    if workload == "pig_etl":
        tables(seed, f"{out}/tables")
        # warm-up: one script of every template to prime, then rounds of
        # one script of each of PIG_WARM_TEMPLATES
        with open(f"{out}/scripts.json", "w") as f:
            json.dump({"round": len(TEMPLATES),
                       "timed": pig_scripts(seed, 10, PIG_OPS),
                       "prime": pig_scripts(seed, 11, len(TEMPLATES)),
                       "warm_round": len(PIG_WARM_TEMPLATES),
                       "warm": pig_scripts(seed, 12, len(PIG_WARM_TEMPLATES) * WARM_ROUNDS,
                                           PIG_WARM_TEMPLATES)}, f)
    elif workload == "ingest_stream":
        ingest(seed, f"{out}/docs", cfg["batch_docs"])
    elif workload == "vector_search":
        vectors(seed, f"{out}/vectors", cfg["corpus"], cfg["dim"],
                cfg["query_batch"], cfg["append_batch"])
    else:
        raise ValueError(f"unknown workload {workload}")
