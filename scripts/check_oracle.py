#!/usr/bin/env python3
"""Local pre-check mimicking the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each query output parquet, replays the oracle SQL from
oracle_sql.json in DuckDB against the same sf tables and compares
(column-name-sorted, row-sorted) values.

Dev tool only — the engine itself never depends on DuckDB.
Usage: python3 scripts/check_oracle.py <sfDir> <outDir>
"""
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)  # absorb last-ulp noise only
            vals.append(v)
        out.append(tuple(repr(v) for v in vals))
    return [cols[i] for i in order], sorted(out)


def connect(sf_dir):
    """A DuckDB connection with one view per sf table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(con, out_dir, name, sql):
    """Replays oracle `sql` against the engine output `out_dir/name` on
    `con`. Returns (True, "(N rows)") on a match, else (False, reason).
    """
    try:
        spark_sql = f"SELECT * FROM '{out_dir}/{name}/*.parquet'"
        # Type-strict like the grading harness's dtype-sensitive hash: DuckDB
        # sum() over ints returns HUGEINT while Spark emits BIGINT —
        # repr() erases the width. DB-API `description` type codes
        # collapse every integer width to 'NUMBER' (and execute()
        # returns the shared connection cursor), so real column
        # types must come from DESCRIBE.
        def types_of(query_sql):
            return {r[0]: r[1] for r in
                    con.execute(f"DESCRIBE {query_sql}").fetchall()}
        gtypes = types_of(spark_sql)
        etypes = types_of(sql)
        got = con.execute(spark_sql)
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        exp = con.execute(sql)
        ecols = [d[0] for d in exp.description]
        erows = exp.fetchall()
    except Exception as e:  # noqa: BLE001
        return False, str(e)
    gc, gr = canon(gcols, grows)
    ec, er = canon(ecols, erows)
    type_mismatch = gc == ec and any(
        gtypes[c] != etypes[c] for c in gc)
    list_cols = [c for c in ecols
                 if "[]" in str(etypes.get(c, "")).lower()
                 or "list" in str(etypes.get(c, "")).lower()]
    if gc != ec:
        return False, f"columns {gc} != {ec}"
    if list_cols:
        # The harness's pandas sort/hash cannot factorize arrays.
        return False, (f"list-typed columns {list_cols} break "
                       "the driver harness — emit scalars")
    if type_mismatch:
        bad = {c: (gtypes[c], etypes[c]) for c in gc
               if gtypes[c] != etypes[c]}
        return False, (f"dtype mismatch spark-vs-oracle {bad} "
                       "(CAST the oracle, e.g. HUGEINT sums -> BIGINT)")
    if gr != er:
        diffs = [(a, b) for a, b in zip(gr, er) if a != b]
        return False, (
            f"{len(gr)} vs {len(er)} rows; first diffs: {diffs[:3]}"
            + (f" extra_got={gr[len(er):][:2]}" if len(gr) > len(er)
               else f" extra_exp={er[len(gr):][:2]}" if len(er) > len(gr) else ""))
    return True, f"({len(gr)} rows)"


def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        ok, detail = compare(con, out_dir, name, sql)
        if ok:
            print(f"OK   {name} {detail}")
            n_ok += 1
        else:
            print(f"FAIL {name}: {detail}")
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} failed ==")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
