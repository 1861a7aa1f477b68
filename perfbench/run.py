#!/usr/bin/env python3
"""Benchmark of the graft engine: runs one named workload, checks every
answer and prints the metrics as one JSON line.

    python3 perfbench/run.py --workload catalog_small --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The first run builds the engine together
with the harness (perfbench/build.sbt) into .bench_build/; later runs
reuse the build while the sources are unchanged. --trace 0 prints the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run and
writes its spans to .bench_build/sidecars/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170
with open(os.path.join(HERE, "workloads.json")) as _f:
    WORKLOADS = json.load(_f)["workloads"]
# per-layer operators.<row>_ms: one per DataFrame row of catalog_small
OPERATOR_ROWS = WORKLOADS["catalog_small"]["rows"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; returns the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from the root of a full checkout")
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    want = source_fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's own state (server socket, global settings, temp files) stays
    # in the checkout; dependencies still come from the shared caches
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
        "-Dsbt.server.autostart=false"]).strip()
    # also for the JVMs and temporary files the sbt script makes itself
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env["TMPDIR"] = tmp
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or "classes" not in cp or cp.startswith("["):
        fail(f"build failed, see {os.path.relpath(log, ROOT)}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def run_jvm(cp, workload, cfg, seed, seconds, trace, work):
    cache = os.path.join(BUILD, "cache")
    os.makedirs(cache, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cfg_file = os.path.join(work, "config.json")
    with open(cfg_file, "w") as f:
        json.dump(cfg, f)
    data = os.path.join(HERE, "data", cfg["data"]) if "data" in cfg else work
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap: no run-to-run difference in when the heap grows
    cmd = [java, f"-Xms{cfg['heap']}", f"-Xmx{cfg['heap']}",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
            "1" if trace else "0", data, cache, work, cfg_file]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} did not finish in {JVM_TIMEOUT_S} s")
    if rc != 0:
        with open(log) as f:
            tail_lines = f.read().splitlines()[-15:]
        print("\n".join(tail_lines), file=sys.stderr)
        fail(f"{workload} exited with {rc}, see {os.path.relpath(log, ROOT)}")
    with open(os.path.join(work, "samples.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_catalog(samples, cfg, work):
    """Keys of the catalog operations whose answer differs from the
    oracle, with the reason."""
    data = os.path.join(HERE, "data", cfg["data"])
    wrong = dict(samples["check_errors"])
    expected = oracle.expected(data, samples["oracle_sql"],
                               os.path.join(BUILD, "cache", "oracle"))
    keys = sorted({op["key"] for op in samples["ops"]})
    for key in keys:
        if key in wrong:
            continue
        row = key[:-4] if key.endswith(".sql") else key
        if row not in expected:
            wrong[key] = "no oracle for this row"
            continue
        got = oracle.result_hash(os.path.join(work, "out", key))
        if got != expected[row]:
            wrong[key] = f"result {got[:12]} != oracle {expected[row][:12]}"
    return wrong


# ---------------------------------------------------------------- metrics

def metric(value, unit):
    return {"value": value, "unit": unit}


def med(xs):
    return stats.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def wall(op):
    return op["end"] - op["start"]


def measured_events(samples):
    """Lifecycle events caused by heartbeats of the measured window. The
    first second is the stream's own start; the drain is not traffic."""
    first = samples["generator"][0]["due"] + 1000.0
    return [e for e in samples["events"]
            if e["kind"] in ("joined", "updated", "left")
            and e["before_drain"] and e["from"] >= first]


def end_to_end(samples, workload):
    """(metrics, sample count, tail percentile) of an untraced run."""
    if workload == "gossip_stream":
        lat = stats.due_latencies(measured_events(samples))
        gen = samples["generator"]
        window_s = (gen[-1]["due"] - gen[0]["due"] - 1000.0) / 1000.0
        rate = len(lat) / window_s
    else:
        lat = [wall(op) for op in samples["ops"]]
        rate = sum(1 for op in samples["ops"] if not op["error"]) \
            / samples["measured_s"]
    q, tail_value = stats.tail(lat)
    return {
        "setup_s": metric(stats.median(
            [s["total_ms"] for s in samples["setups"]]) / 1000.0, "s"),
        "op_p50_ms": metric(stats.median(lat), "ms"),
        "op_tail_ms": metric(tail_value, "ms"),
        "ops_per_s": metric(rate, "1/s"),
        "peak_rss_mb": metric(samples["peak_rss_mb"], "MB"),
    }, len(lat), q


def traced_ops(samples):
    """Traced operations as (sample, spans, counters, planning) tuples."""
    trace = samples["trace"]
    spans = {}
    for s in trace["spans"]:
        spans.setdefault(s["group"], []).append(s)
    out = []
    for op in samples.get("ops", []):
        if op["traced"]:
            plans = [p for p in trace["planning"]
                     if op["start"] - 1 <= p["start"] <= op["end"] + 1]
            out.append((op, spans.get(op["group"], []),
                        trace["groups"].get(op["group"], {}), plans))
    return out


def op_tree(op, spans):
    """The operation's spans, jobs limited to those that started in it."""
    return [s for s in spans
            if s["name"] != "job" or op["start"] <= s["start"] <= op["end"]]


def per_layer(samples, workload):
    trace = samples["trace"]
    ops = traced_ops(samples)
    if workload == "gossip_stream":
        # listener counters of the stream, per micro-batch the task
        # listeners recorded
        prog = trace["progress"]
        n = max(1, sum(1 for p in prog if p["traced"]))
        totals = {}
        for g, c in trace["groups"].items():
            if not g.startswith(("u:", "t:")):
                for k, v in c.items():
                    totals[k] = totals.get(k, 0) + v
        counters = [{k: v / n for k, v in totals.items()}]
        walls = [med([p["batch_ms"] for p in prog])]
        plans = [[p] for p in trace["planning"]]
        build_ms = med([s["end"] - s["start"] for s in trace["spans"]
                        if s["name"] == "build"])
    else:
        counters = [c for _, _, c, _ in ops]
        walls = [wall(op) for op, _, _, _ in ops]
        plans = [p for _, _, _, p in ops]
        build_ms = med([s["end"] - s["start"] for _, sp, _, _ in ops
                        for s in sp if s["name"] == "build"])

    def cmean(key):
        return mean([c.get(key, 0) for c in counters])

    def cmed(key):
        return med([c.get(key, 0) for c in counters])

    def span_ms(name):
        return med([sum(s["end"] - s["start"] for s in sp if s["name"] == name)
                    for _, sp, _, _ in ops
                    if any(s["name"] == name for s in sp)])

    def phase(name):
        return med([sum(p.get(name, 0.0) for p in pl) for pl in plans])

    build_jobs, coverage = [], []
    for op, sp, _, _ in ops:
        builds = [s for s in sp if s["name"] == "build"]
        build_jobs.append(sum(1 for s in sp for b in builds if s["name"] == "job"
                              and b["start"] <= s["start"] <= b["end"]))
        tree = op_tree(op, sp)
        if tree:
            coverage.append(sum(t for _, t in stats.self_times(tree)) / wall(op))
    busy = [c.get("task_run_ms", 0) / (w * samples["cores"])
            for c, w in zip(counters, walls) if w > 0]

    m = {
        "core.session_start_ms": metric(med(
            [s["session_ms"] for s in samples["setups"]]), "ms"),
        "core.warmup_ms": metric(med(
            [s["warm_ms"] for s in samples["setups"]]), "ms"),
        "queries.build_ms": metric(build_ms, "ms"),
        "queries.build_jobs": metric(mean(build_jobs), "count"),
        "sql.parse_analyze_ms": metric(med(
            [op["built"] - op["start"] for op, _, _, _ in ops
             if op.get("sql")]), "ms"),
        "catalyst.analysis_ms": metric(phase("analysis"), "ms"),
        "catalyst.optimizer_ms": metric(phase("optimization"), "ms"),
        "catalyst.planning_ms": metric(phase("planning"), "ms"),
        "catalyst.codegen_compile_ms": metric(
            samples["codegen_total_ms"], "ms"),
        "scheduler.jobs": metric(cmean("jobs"), "count"),
        "scheduler.stages": metric(cmean("stages"), "count"),
        "scheduler.tasks": metric(cmean("tasks"), "count"),
        "scheduler.task_run_ms": metric(cmed("task_run_ms"), "ms"),
        "scheduler.task_cpu_ms": metric(cmed("task_cpu_ms"), "ms"),
        "scheduler.core_busy_ratio": metric(med(busy), "ratio"),
        "scheduler.delay_ms": metric(cmed("delay_ms"), "ms"),
        "scheduler.task_failures": metric(
            sum(c.get("task_failures", 0) for c in counters), "count"),
        "sources.scan_bytes": metric(cmean("scan_bytes"), "bytes"),
        "sources.scan_records": metric(cmean("scan_records"), "count"),
        "sources.dfs_put_ms": metric(span_ms("dfs_put"), "ms"),
        "sources.dfs_get_ms": metric(span_ms("dfs_get"), "ms"),
        "sources.gen_s": metric(samples.get("gen_s", 0.0), "s"),
        "shuffle.write_bytes": metric(cmean("shuffle_write_bytes"), "bytes"),
        "shuffle.records_written": metric(
            cmean("shuffle_records_written"), "count"),
        "shuffle.read_bytes": metric(cmean("shuffle_read_bytes"), "bytes"),
        "shuffle.fetch_wait_ms": metric(cmed("shuffle_fetch_wait_ms"), "ms"),
        "shuffle.write_ms": metric(cmed("shuffle_write_ms"), "ms"),
        "memory.spill_disk_bytes": metric(cmean("spill_disk_bytes"), "bytes"),
        "memory.gc_ms": metric(med([op["gc_ms"] for op, _, _, _ in ops]),
                               "ms"),
        "memory.peak_exec_bytes": metric(cmed("peak_exec_bytes"), "bytes"),
        "memory.cached_bytes": metric(cmed("cached_peak_bytes"), "bytes"),
    }
    # shuffle-map stages run the Maples, result stages the Juices
    mr = workload == "condorcet_mr"
    m["mapreduce.maple_stage_ms"] = metric(
        cmed("map_stage_ms") if mr else 0.0, "ms")
    m["mapreduce.juice_stage_ms"] = metric(
        cmed("result_stage_ms") if mr else 0.0, "ms")
    m["mapreduce.keys_per_kv"] = metric(med(
        [op["output_keys"] / c["shuffle_records_written"]
         for op, _, c, _ in ops
         if "output_keys" in op and c.get("shuffle_records_written")]),
        "ratio")
    for row in OPERATOR_ROWS:
        m[f"operators.{row}_ms"] = metric(med(
            [wall(op) for op, _, _, _ in ops
             if op.get("row") == row and not op.get("sql")]), "ms")
    m.update(streaming_metrics(samples, workload))
    w = samples["weather"]
    m["harness.steal_cores"] = metric(w["stealCores"], "cores")
    m["harness.foreign_cores"] = metric(w["foreignCores"], "cores")
    m["harness.trace_overhead_ratio"] = metric(
        trace_overhead(samples, workload), "ratio")
    m["harness.self_time_coverage"] = metric(med(coverage), "ratio")
    return m


STREAMING = [("streaming.batches", "count"), ("streaming.batch_ms", "ms"),
             ("streaming.add_batch_ms", "ms"), ("streaming.planning_ms", "ms"),
             ("streaming.wal_commit_ms", "ms"),
             ("streaming.state_rows", "rows"),
             ("streaming.state_mem_bytes", "bytes"),
             ("streaming.state_commit_ms", "ms"),
             ("streaming.watermark_lag_ms", "ms"),
             ("streaming.backlog_files", "files"),
             ("streaming.failure_detect_p50_ms", "ms"),
             ("loadgen.lag_ms", "ms")]


def streaming_metrics(samples, workload):
    if workload != "gossip_stream":
        return {n: metric(0.0, u) for n, u in STREAMING}
    prog = sorted(samples["trace"]["progress"], key=lambda p: p["batch"])
    gen = samples["generator"]

    def pmed(key):
        return med([p[key] for p in prog])

    # files written before each trigger, less the files earlier batches
    # consumed (the file source takes whole files, oldest first)
    cum_rows, total = [], 0
    for w in gen:
        total += w["rows"]
        cum_rows.append(total)
    backlog, consumed_rows = [], 0
    for p in prog:
        written = sum(1 for w in gen if w["at"] <= p["at"])
        consumed = sum(1 for c in cum_rows if c <= consumed_rows)
        if written:
            backlog.append(max(0, written - consumed))
        consumed_rows += p["rows"]
    detect = [e["emitted"] - e["from"] for e in samples["events"]
              if e["kind"] == "failed" and e["before_drain"]]
    vals = {
        "streaming.batches": len(prog),
        "streaming.batch_ms": pmed("batch_ms"),
        "streaming.add_batch_ms": pmed("add_batch_ms"),
        "streaming.planning_ms": pmed("planning_ms"),
        "streaming.wal_commit_ms": pmed("wal_commit_ms"),
        "streaming.state_rows": pmed("state_rows"),
        "streaming.state_mem_bytes": pmed("state_mem_bytes"),
        "streaming.state_commit_ms": pmed("state_commit_ms"),
        "streaming.watermark_lag_ms": med(
            [p["at"] - p["watermark"] for p in prog if p["watermark"] > 0]),
        "streaming.backlog_files": med(backlog),
        "streaming.failure_detect_p50_ms": med(detect),
        "loadgen.lag_ms": stats.tail(stats.generator_lag(gen))[1],
    }
    return {n: metric(vals[n], u) for n, u in STREAMING}


def trace_overhead(samples, workload):
    """Median wall of traced operations over that of the untraced ones of
    the same run (heartbeat latency for gossip_stream)."""
    if workload == "gossip_stream":
        ev = measured_events(samples)
        on = stats.due_latencies([e for e in ev if e["traced"]])
        off = stats.due_latencies([e for e in ev if not e["traced"]])
    else:
        on = [wall(op) for op in samples["ops"] if op["traced"]]
        off = [wall(op) for op in samples["ops"] if not op["traced"]]
    return stats.median(on) / stats.median(off) if on and off else 1.0


def sidecar(samples, workload, seed, trace):
    """Spans with their self times and the box weather, for a reader of
    the run."""
    d = os.path.join(BUILD, "sidecars")
    os.makedirs(d, exist_ok=True)
    out = {"workload": workload, "seed": seed, "weather": samples["weather"],
           "setups": samples["setups"], "ops": []}
    if trace:
        for op, sp, counters, plans in traced_ops(samples):
            tree = op_tree(op, sp)
            out["ops"].append({
                "key": op["key"], "wall_ms": wall(op), "spans": sp,
                "self_ms": stats.self_times(tree) if tree else [],
                "counters": counters, "planning": plans})
        out["progress"] = samples["trace"]["progress"]
    path = os.path.join(d, f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(path, "w") as f:
        json.dump(out, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    cfg = WORKLOADS[a.workload]
    cp = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    samples = run_jvm(cp, a.workload, cfg, a.seed, a.seconds, a.trace, work)

    if a.workload == "catalog_small":
        wrong = check_catalog(samples, cfg, work)
        ops = samples["ops"]
        attempted = len(ops)
        failed = sum(1 for op in ops if op["error"] or op["key"] in wrong)
    elif a.workload == "condorcet_mr":
        wrong = {op["group"]: op["error"] for op in samples["ops"]
                 if op["error"]}
        attempted = len(samples["ops"])
        failed = len(wrong)
    else:
        chk = samples["check"]
        wrong = {"events": chk} if chk["wrong"] else {}
        attempted = max(chk["expected"], 1)
        failed = min(chk["wrong"], attempted)
    if wrong:
        print("perfbench: wrong answers: " + json.dumps(wrong)[:2000],
              file=sys.stderr)

    if a.trace:
        metrics = per_layer(samples, a.workload)
    else:
        metrics, n, q = end_to_end(samples, a.workload)
        print(f"perfbench: {a.workload} seed {a.seed}: {n} latency samples, "
              f"op_tail_ms is p{q:g}; weather {samples['weather']}; "
              f"{time.time() - t0:.1f} s", file=sys.stderr)
    sidecar(samples, a.workload, a.seed, a.trace)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
