"""Catalog answers against the DuckDB oracle SQL of SparkEntry.oracleSql.

Both sides are read through DuckDB and reduced to one hash: columns in
name order with their DuckDB types, every value's repr (floats rounded to
9 places to absorb last-ulp noise), rows sorted. Oracle hashes are cached
per dataset and SQL text, so DuckDB runs once per dataset.
"""
import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _hash(con, sql):
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in cur.fetchall():
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(repr(v))
        rows.append(vals)
    rows.sort()
    payload = json.dumps([[cols[i] for i in order],
                          [str(types[cols[i]]) for i in order], rows])
    return hashlib.sha256(payload.encode()).hexdigest()


def dataset_id(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def expected(data_dir, oracle_sql, cache_dir):
    """Oracle hash per row name."""
    ds = dataset_id(data_dir)
    out, con = {}, None
    for row, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256((ds + sql).encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, ds, f"{row}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[row] = json.load(f)["hash"]
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(data_dir, t)}.parquet'")
        out[row] = _hash(con, sql)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"row": row, "hash": out[row]}, f)
    return out


def result_hash(out_dir):
    """Hash of a parquet result directory written by Spark."""
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return "missing"
    con = duckdb.connect()
    return _hash(con, f"SELECT * FROM '{out_dir}/*.parquet'")
