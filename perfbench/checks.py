"""Output checks done outside the JVM: each pig_etl op's STOREd result
against its DuckDB twin SQL, compared the way tools/check_oracle.py
compares (columns by name, rows sorted, exact values)."""
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda k: cols[k])
    key = lambda row: tuple((v is None, v if v is not None else 0) for v in row)
    return [cols[k] for k in order], sorted((tuple(r[k] for k in order) for r in rows), key=key)


def _equal(a, b):
    (ca, ra), (cb, rb) = a, b
    if ca != cb:
        return f"columns {ca} vs {cb}"
    if len(ra) != len(rb):
        return f"{len(ra)} rows vs {len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return f"row {i}: {x} vs {y}"
    return None


def check_pig(tables_dir, ops, scripts, out_dir):
    """Return {op index: failure reason} for every op that threw or whose
    stored result differs from its twin."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    bad = {}
    for op in ops:
        i = op["i"]
        if op["error"] or not op["checked"]:
            bad[i] = op["error"] or "check failed"
            continue
        path = os.path.join(out_dir, f"op_{i:05d}")
        try:
            got = pq.read_table(path)
            spark = _canon(got.column_names, [tuple(r.values()) for r in got.to_pylist()])
            cur = con.execute(scripts[i]["sql"])
            twin = _canon([d[0] for d in cur.description], cur.fetchall())
        except Exception as e:  # a missing or unreadable output is a failed op
            bad[i] = f"{type(e).__name__}: {e}"[:300]
            continue
        diff = _equal(spark, twin)
        if diff:
            bad[i] = f"{scripts[i]['template']}: {diff}"[:300]
    return bad
