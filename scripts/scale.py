#!/usr/bin/env python3
"""Scale evidence in one command: derive larger scales from a base scale,
time catalog rows on each with QCheck, replay the DuckDB oracle on the 10x
outputs, write one SCALING artifact and print its markdown table.

Usage:
  python3 scripts/scale.py <srcDir> <replicas> <rows> <artifact.json> \
      [oracleTimeoutSec]

  srcDir    base scale, timed as is (e.g. a testdata sf0.1 dir)
  replicas  comma list; each derives target/testdata/sf<base*replicas>
            (10 on sf0.1 = sf1; 100 = sf10, 2.1 GB)
  rows      comma list of catalog row names
  artifact  rows already in it keep their other scales, so a later run
            can add sf10 for a subset; changed data at a scale is refused
  oracleTimeoutSec  cap per oracle replay (default 1800): TIMEOUT, not skip

Derivation: the fact tables (orders, lineitem, events, documents) become
`replicas` disjoint copies, primary keys shifted by a 1e6 stride; the
dimensions and the 2000 embeddings stay at the base scale (x14 packs
partkey < 1e5 and suppkey < 1e4; verbatim vectors would plant cosine-1.0
pairs the s3/s7 fixtures were not calibrated for). Replica r rotates the
document text through a bijection (`rotation`) and shifts event ts by
r*10us (r*1us past 14 replicas; base ts gaps are >= 140us). MANIFEST.json
fingerprints every table, or says checks_ok:false with none when an
invariant check fails.

Measurement: QCheck times a build pass and a cache-cleared noop serve pass
per row at local[<all cores>]. Scales of at most 10 replicas dump their
outputs and get the oracle compare, which refuses outputs whose copied
MANIFEST.json differs from the data's; larger scales are walls-only, as
DuckDB replays of the worst rows would run for hours. Ratios use serve.
"""
import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import duckdb

import check_oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STRIDE = 1000000
COPY = ["region", "nation", "customer", "supplier", "part", "embeddings"]
SHIFTED = {"orders": "o_orderkey", "lineitem": "l_orderkey",
           "events": "event_id", "documents": "doc_id"}
# every letter band rotates (d16 case-folds, so an unrotated band would
# leak cross-replica 8-gram matches); the consonant bands make replicas
# pairwise distinct on text without vowels or digits
BANDS = [("aeiou", 5), ("AEIOU", 5), ("bcdfghklmn", 10), ("BCDFGHKLMN", 10),
         ("pqrstvwxyz", 10), ("PQRSTVWXYZ", 10), ("0123456789", 10)]
FROM = "".join(b for b, _ in BANDS)


def rotation(r):
    """Replica r's text translation target for FROM. The p-z bands take
    an extra r//10 turn, so all 100 replicas stay pairwise distinct on
    any text with one b-n and one p-z consonant (no-op for r < 10)."""
    def amt(b, m):
        return (r + (r // 10 if b[0].lower() == "p" else 0)) % m
    return "".join(b[amt(b, m):] + b[:amt(b, m)] for b, m in BANDS)


def derive(src, out, replicas):
    """Writes the `replicas`-times scale of `src` to `out`, checks its
    invariants and writes MANIFEST.json; exits 1 on a failed check."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in COPY:
        con.execute(f"COPY (SELECT * FROM '{src}/{t}.parquet') TO '{out}/{t}.parquet'")
    ts_step_us = 10 if replicas <= 14 else 1
    for t, key in SHIFTED.items():
        def col_sel(c):
            if c == key:
                return f"{c} + r.range * {STRIDE} AS {c}"
            if t == "documents" and c == "text":
                cases = " ".join(
                    f"WHEN {r} THEN translate(text, '{FROM}', '{rotation(r)}')"
                    for r in range(replicas))
                return f"CASE r.range {cases} END AS text"
            if t == "events" and c == "ts":
                return (f"CAST(ts AS TIMESTAMP) + "
                        f"to_microseconds(r.range * {ts_step_us}) AS ts")
            return c
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'").fetchall()]
        con.execute(
            f"COPY (SELECT {', '.join(map(col_sel, cols))} FROM "
            f"'{src}/{t}.parquet', range({replicas}) r ORDER BY {key}) "
            f"TO '{out}/{t}.parquet'")
    pq = {t: f"'{out}/{t}.parquet'" for t in COPY + list(SHIFTED)}
    li, ev, docs = pq["lineitem"], pq["events"], pq["documents"]
    checks = {  # name -> a count that must be 0
        "lineitem 4-tuple unique": "SELECT count(*) - count(DISTINCT (l_orderkey, "
        f"l_linenumber, l_partkey, l_suppkey)) FROM {li}",
        "event_id unique": f"SELECT count(*) - count(DISTINCT event_id) FROM {ev}",
        "event_id < 1e10": f"SELECT count(*) FROM {ev} WHERE event_id >= 10000000000",
        "doc_id unique": f"SELECT count(*) - count(DISTINCT doc_id) FROM {docs}",
        "event ts unique": f"SELECT count(*) - count(DISTINCT ts) FROM {ev}",
        "no cross-replica duplicate texts": "SELECT count(*) FROM (SELECT md5(text), "
        f"count(DISTINCT doc_id // {STRIDE}) cr FROM {docs} GROUP BY 1 HAVING cr > 1)",
        "partkey < 1e5": f"SELECT count(*) FROM {li} WHERE l_partkey >= 100000",
        "suppkey < 1e4": f"SELECT count(*) FROM {li} WHERE l_suppkey >= 10000",
    }
    failed = [n for n, sql in checks.items() if con.execute(sql).fetchone()[0] != 0]
    manifest = {"generator_version": 4, "generated_unix": int(time.time()),
                "checks_ok": not failed, "replicas": replicas, "src": src}
    if failed:
        manifest["failed_checks"] = failed
    else:
        manifest["tables"] = {}
        for t in COPY + list(SHIFTED):
            rows, h = con.execute(
                f"SELECT count(*), sum(hash(t)) FROM {pq[t]} t").fetchone()
            manifest["tables"][t] = {"rows": rows, "hash": str(h)}
    with open(f"{out}/MANIFEST.json", "w") as fh:
        json.dump(manifest, fh, indent=1)
    if failed:
        sys.exit(f"{out}: invariant checks FAILED {failed} - checks_ok:false "
                 "manifest written; the oracle compare refuses this dataset")
    return manifest


def refuse_stale(sf_dir, out_dir):
    """Exits unless `out_dir`'s outputs were computed on `sf_dir`'s data
    as it is now, and that data passed its invariant checks."""
    mans = []
    for d in (sf_dir, out_dir):
        try:
            mans.append(json.loads(Path(f"{d}/MANIFEST.json").read_text()))
        except (OSError, ValueError):
            sys.exit(f"REFUSING: {d}/MANIFEST.json missing/unreadable")
    if mans[0] != mans[1]:
        sys.exit(f"REFUSING: dataset fingerprint mismatch between {sf_dir} "
                 f"and {out_dir} - the outputs were computed on other data")
    if mans[0].get("checks_ok") is False:
        sys.exit(f"REFUSING: {sf_dir} failed its invariant checks")
    return mans[0]


def _replay(sf_dir, out_dir, name, sql, conn):
    con = check_oracle.connect(sf_dir)
    # the heavy iterative oracles ran the default posture out of temp
    # space at 10x: spill to a dedicated dir, fewer operator buffers
    tmp = os.path.join(out_dir, "_duck_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'; SET preserve_insertion_order=false; "
                "SET threads=8; SET enable_progress_bar=false")
    conn.send(check_oracle.compare(con, out_dir, name, sql))


def oracle_verdicts(sf_dir, out_dir, timeout):
    """name -> (verdict, reason, seconds) for every oracle in out_dir,
    each replayed in its own process under `timeout` seconds."""
    refuse_stale(sf_dir, out_dir)
    ctx = multiprocessing.get_context("spawn")
    out = {}
    for name, sql in sorted(json.loads(Path(f"{out_dir}/oracle_sql.json").read_text()).items()):
        t0 = time.time()
        recv, send = ctx.Pipe(duplex=False)
        p = ctx.Process(target=_replay, args=(sf_dir, out_dir, name, sql, send))
        p.start()
        send.close()
        try:
            if recv.poll(timeout):
                ok, detail = recv.recv()
                verdict = ("OK", None) if ok else ("FAIL", detail[:300])
            else:
                verdict = ("TIMEOUT", f"oracle_timeout after {timeout}s")
        except EOFError:
            verdict = ("FAIL", "oracle process died")
        p.kill()
        p.join()
        out[name] = verdict + (round(time.time() - t0, 1),)
        print(f"{verdict[0]:7s} {name} ({out[name][2]}s)"
              + (f" :: {verdict[1]}" if verdict[1] else ""), flush=True)
    return out


def qcheck(sf_dir, out_dir, rows, walls_only):
    """Runs QCheck over `rows` on `sf_dir`; returns its walls.json."""
    shutil.rmtree(out_dir, ignore_errors=True)
    env = {k: v for k, v in os.environ.items() if k != "GRAFT_QCHECK_MODE"}
    env.update({"GRAFT_QCHECK_MODE": "walls"} if walls_only else {})
    p = subprocess.Popen(
        ["sbt", "-batch", f"Test/runMain graft.QCheck {sf_dir} {out_dir} {','.join(rows)}"],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    tail = []
    for line in p.stdout:
        tail = (tail + [line])[-40:]
        if "[qcheck]" in line:
            print(line, end="", flush=True)
    if p.wait() != 0:
        sys.exit("QCheck failed:\n" + "".join(tail))
    return json.loads(Path(f"{out_dir}/walls.json").read_text())


def ratio(lo, hi):
    """hi / lo to two places, or None when either wall is missing."""
    return round(hi / lo, 2) if lo and hi else None


def decades(row, order):
    """decadeN_ratio: the row's serve wall at scale N of `order` over its
    serve wall at scale N-1."""
    return {f"decade{i}_ratio": ratio(row.get(f"{order[i - 1]}_serve_sec"),
                                      row.get(f"{order[i]}_serve_sec"))
            for i in range(1, len(order))}


def main():
    if len(sys.argv) not in (5, 6):
        sys.exit(__doc__)
    src, rows, artifact = os.path.abspath(sys.argv[1]), sys.argv[3].split(","), sys.argv[4]
    timeout = float(sys.argv[5]) if len(sys.argv) > 5 else 1800.0
    base = os.path.basename(src)
    art = (json.loads(Path(artifact).read_text()) if os.path.exists(artifact)
           else {"cores": os.cpu_count(), "src": src, "scales": {}, "queries": {}})
    if (art["cores"], art["src"]) != (os.cpu_count(), src):
        sys.exit(f"REFUSING: {artifact} was measured on other cores or data")
    art.update(master=f"local[{art['cores']}]", oracle_timeout_sec=timeout, note=(
        "QCheck walls in s: serve = cache-cleared noop pass; build = build + "
        "coalesce(1) + parquet encode (dump_build) or a noop write "
        "(noop_build), per scales.<sf>.build_wall_mode"))
    results = {}
    for r in [1] + [int(r) for r in sys.argv[2].split(",")]:
        sf = base if r == 1 else f"sf{round(float(base[2:]) * r, 6):g}"
        sf_dir = src if r == 1 else os.path.join(ROOT, "target", "testdata", sf)
        scale = {"dir": sf_dir, "replicas": r}
        if r > 1:
            print(f"deriving {sf} ({r} replicas of {base}) -> {sf_dir}", flush=True)
            scale["manifest"] = derive(src, sf_dir, r)
            old = art["scales"].get(sf, {}).get("manifest", {}).get("tables")
            if old not in (None, scale["manifest"]["tables"]):
                sys.exit(f"REFUSING: {sf} data differs from {artifact}'s")
        out_dir = os.path.join(ROOT, "target", "scale", sf)
        oracle = 1 < r <= 10
        walls = qcheck(sf_dir, out_dir, rows, walls_only=not oracle)
        scale["build_wall_mode"] = walls.pop("_mode")
        art["scales"][sf] = scale
        results[sf] = (walls, oracle_verdicts(sf_dir, out_dir, timeout) if oracle else {})
    for name in rows:
        row = art["queries"].setdefault(name, {})
        for sf, (walls, verdicts) in results.items():
            for k in [k for k in row if k.startswith(f"{sf}_")]:
                del row[k]
            w = walls.get(name, {})
            row.update({f"{sf}_serve_sec": w.get("serve_sec"),
                        f"{sf}_build_sec": w.get("dump_sec"),
                        f"{sf}_serve_steal_cores": w.get("serve_steal_cores"),
                        f"{sf}_build_steal_cores": w.get("dump_steal_cores")})
            if name in verdicts:
                v, why, sec = verdicts[name]
                row.update({f"{sf}_oracle": v, f"{sf}_oracle_sec": sec}
                           | ({f"{sf}_oracle_err": why} if why else {}))
    order = sorted(art["scales"], key=lambda s: art["scales"][s]["replicas"])
    for sf in order:
        vs = [q.get(f"{sf}_oracle") for q in art["queries"].values()]
        if any(vs):
            art["scales"][sf]["oracle"] = {v.lower(): vs.count(v) for v in ("OK", "FAIL", "TIMEOUT")}
    for row in art["queries"].values():
        row.update(decades(row, order))
    with open(artifact, "w") as fh:
        json.dump(art, fh, indent=1)
    print(f"-> {artifact}\n")
    report(art, order)


def report(art, order):
    """The per-row wall table, naming every super-linear decade."""
    n = range(1, len(order))
    head = (["query"] + [f"{sf} serve s" for sf in order]
            + [f"{sf} build s" for sf in order[1:]] + [f"x{i}" for i in n] + ["oracle"])
    print("| " + " | ".join(head) + " |\n|" + "---|" * len(head))
    for name, r in sorted(art["queries"].items()):
        cells = ([r.get(f"{sf}_serve_sec") for sf in order]
                 + [r.get(f"{sf}_build_sec") for sf in order[1:]]
                 + [r.get(f"decade{i}_ratio") for i in n]
                 + [next((r[f"{sf}_oracle"] for sf in order if f"{sf}_oracle" in r), None)])
        print(f"| {name} | " + " | ".join("-" if c is None else str(c) for c in cells) + " |")
    for i in n:
        lo, hi = order[i - 1], order[i]
        both = [r for r in art["queries"].values()
                if r.get(f"{lo}_serve_sec") and r.get(f"{hi}_serve_sec")]
        t_lo, t_hi = (sum(r[f"{sf}_serve_sec"] for r in both) for sf in (lo, hi))
        grow = art["scales"][hi]["replicas"] / art["scales"][lo]["replicas"]
        supers = sorted(k for k, r in art["queries"].items()
                        if (r.get(f"decade{i}_ratio") or 0) > grow)
        print(f"\n{lo} -> {hi} over {len(both)} rows: {t_lo:.1f}s -> {t_hi:.1f}s "
              f"({ratio(t_lo, t_hi)}x for {grow:g}x rows); "
              f"super-linear: {', '.join(supers) or 'none'}")


if __name__ == "__main__":
    main()
