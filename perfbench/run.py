#!/usr/bin/env python3
"""Benchmark of the graft replicator and its query library.

usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
harness with sbt (perfbench/build.sbt) into .bench_build/; later runs reuse
the build while the sources are unchanged. Each run makes its inputs from
the seed, starts one JVM (`local[4]`, four shuffle partitions, one sink
connection), measures for about --seconds seconds, checks the outputs and
prints one JSON object as its last line. With --trace 1 it prints the
per-layer metrics instead and writes the spans under .bench_build/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Fixed settings of every workload. An event committed later than
# LAG_LIMIT_MS after it was due counts as failed.
LAG_LIMIT_MS = 10_000
STALE_SHARE = 0.05
COMMIT_TIMEOUT_S = 60
# orders holds over half of the rows a lifecycle commits, so the median row
# is always an orders row, whichever phase commits first
SYNC = dict(customer=500, orders=7000, part=1000, users=600, backlog=3000)
# the traced cdc_sync run tails a synced sink at these fixed rates (entries
# per second), each phase a warm-up and a measured part, in seconds
TAIL_PHASES = [("low", 250, 1, 6), ("high", 1800, 1, 6)]
TAIL_TICK_S = 0.1
WORKLOADS = ["cdc_sync", "query_mix"]
JVM_TIMEOUT_S = 170
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no library sources next to perfbench/; run from a checkout")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = f.read().split("\n", 1)
        if saved[0] == stamp:
            return saved[1].strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        # resolve only from the local caches, through the user's repository
        # list when there is one
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log("building with sbt")
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=840)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or "error" in lines[-1].lower():
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


# ---- inputs -----------------------------------------------------------------

def make_inputs(workload, seed, work):
    """Writes the run's inputs under work/; returns the JVM arguments."""
    if workload == "query_mix":
        gen.write_tables(gen.query_tables(seed), os.path.join(work, "tables"))
        return {}
    names = ["customer", "orders", "part", "users"]
    n_users = SYNC["users"]
    snap = gen.snapshot_tables(seed, SYNC["customer"], SYNC["orders"], SYNC["part"], n_users)
    lines, _ = gen.oplog(seed, SYNC["backlog"], n_users)
    os.makedirs(os.path.join(work, "backlog"))
    with open(os.path.join(work, "backlog", "backlog.json"), "w") as f:
        f.write("\n".join(lines) + "\n")
    args = {"backlog_head": gen.TS0 + len(lines) - 1, "backlog_entries": len(lines),
            "snapshot_rows": sum(snap[t].num_rows for t in names)}
    gen.write_tables(snap, os.path.join(work, "snapshot"))
    with open(os.path.join(work, "config.yml"), "w") as f:
        f.write(gen.config_text(names))
    with open(os.path.join(work, "config_tail.yml"), "w") as f:
        f.write(gen.config_text(["users"]))
    with open(os.path.join(work, "history.json"), "w") as f:
        f.write(gen.history_marker() + "\n")
    args.update({f"rows_{t}": snap[t].num_rows for t in names})
    args.update(pin_ts=gen.TS0 - 1, stale_share=STALE_SHARE, commit_timeout_s=COMMIT_TIMEOUT_S)
    return args


# ---- the JVM ----------------------------------------------------------------

def jvm_command(cp, work, args):
    opts = [o for p in JAVA_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation keep the resident-set peak from
    # following the collector's sizing decisions
    return (["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.stream.error.file={work}/derby.log", "-cp", cp] + opts +
            ["perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])


def wait_for(proc, path, deadline):
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError("harness exited before it was ready")
        if time.time() > deadline:
            raise RuntimeError(f"timed out waiting for {os.path.basename(path)}")
        time.sleep(0.02)


def run_jvm(cp, workload, seed, seconds, trace, work, args):
    args = dict(args, workload=workload, work=work, out=os.path.join(work, "result.json"),
                seconds=seconds)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    deadline = time.time() + JVM_TIMEOUT_S
    log_file = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(jvm_command(cp, work, args), cwd=work, stdout=log_file,
                            stderr=subprocess.STDOUT)
    gen_proc = None
    try:
        if workload == "cdc_sync" and trace:
            wait_for(proc, os.path.join(work, "ready"), deadline)
            seg_dir = os.path.join(work, "tail", "segments")
            gen_proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "tailgen.py"), seg_dir, work, str(seed),
                 str(SYNC["users"]), str(gen.TS0), str(TAIL_TICK_S)] +
                [f"{n}:{r}:{w}:{m}" for n, r, w, m in TAIL_PHASES], cwd=work)
            gen_proc.wait(timeout=max(1, deadline - time.time()))
            gen_proc = None
        proc.wait(timeout=max(1, deadline - time.time()))
    finally:
        for p in (gen_proc, proc):
            if p is not None and p.poll() is None:
                p.kill()
                p.wait()
        log_file.close()
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"harness exited with {proc.returncode}")
    with open(args["out"]) as f:
        return json.load(f)


# ---- checks and metrics -------------------------------------------------------

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def oracle_mismatches(work):
    """(queries checked, those whose Spark result differs from the DuckDB
    oracle), compared with columns sorted by name and rows sorted, values
    canonicalised. The harness writes the oracle SQL of every mix query."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{work}/tables/{t}.parquet'")
    with open(os.path.join(work, "results", "oracle_sql.json")) as f:
        oracle = json.load(f)

    def frame(sql):
        cur = con.sql(sql)
        cols = list(cur.columns)
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = sorted(tuple(canon(r[i]) for i in order) for r in cur.fetchall())
        return [cols[i].lower() for i in order], rows

    bad = []
    for name in oracle:
        try:
            same = frame(f"SELECT * FROM '{work}/results/{name}/*.parquet'") == frame(oracle[name])
        except Exception as e:  # a query the oracle cannot run counts as failed
            log(f"oracle {name}: {e}")
            same = False
        if not same:
            bad.append(name)
    return len(oracle), bad


def e2e(workload, res, work):
    """The end-to-end metrics and the failure counts of one run."""
    m = {"setup_s": res["setup_s"], "rss_peak_mb": res["rss_peak_mb"]}
    commits = [tuple(c) for c in res.get("offset_commits", [])]
    if workload == "query_mix":
        reps = {}
        for rep, ms in res["items"]:
            reps.setdefault(rep, []).append((ms, 1))
        m["throughput_per_s"] = res["throughput_per_s"]
        checked, bad = oracle_mismatches(work)
        for name in bad:
            log(f"query {name} differs from its oracle")
        attempted = res["attempted"] + checked
        failed = len(bad)
    else:
        reps = {}
        for rep, ms, n in res["items"]:
            reps.setdefault(rep, []).append((ms, n))
        m["throughput_per_s"] = res["throughput_per_s"]
        attempted, failed = res["attempted"], res["failed"]
        failed += sum(n for r in reps.values() for lag, n in r if lag is None or lag > LAG_LIMIT_MS)
        if "tail.entries" in res:
            tail_failed = tail_metrics(res, commits, work)
            attempted += res["tail.entries"]
            failed += tail_failed
    # percentiles of each repetition (lifecycle or pass), then their median
    reps = [[(v, n) for v, n in r if v is not None] for r in reps.values()]
    for name, q in (("latency_p50_ms", 0.5), ("latency_p90_ms", 0.9)):
        m[name] = statistics.median(stats.percentile(r, q) for r in reps)
    n = min(sum(w for _, w in r) for r in reps)
    if not stats.backed(n, 0.9):
        log(f"latency_p90_ms rests on {n} samples a repetition, fewer than "
            f"{stats.MIN_BEYOND} beyond it")
    return m, attempted, failed


def tail_metrics(res, commits, work):
    """Lag per tail phase from the generator's due times and the observed
    offset commits, written into res; returns the failed entries."""
    with open(os.path.join(work, "due.json")) as f:
        files = json.load(f)
    failed = res["tail.failed"]
    for phase, _, _, _ in TAIL_PHASES:
        mine = [x for x in files if x["phase"] == phase]
        every = [(x["due_us"], x["last_ts"], x["n"]) for x in mine]
        groups = [g for g, x in zip(every, mine) if x["measured"]]
        lags = stats.lags_ms(groups, commits)
        failed += sum(n for lag, n in lags if lag is None or lag > LAG_LIMIT_MS)
        ok = [(lag, n) for lag, n in lags if lag is not None]
        res[f"tail.lag_{phase}_p50_ms"] = stats.percentile(ok, 0.5)
        res[f"tail.lag_{phase}_p90_ms"] = stats.percentile(ok, 0.9)
        # the backlog at each tick of the measured part; above the
        # sustainable rate its second half runs higher than its first
        backlog = [stats.backlog_at(every, commits, due) for due, _, _ in groups]
        half = len(backlog) // 2
        res[f"streaming.backlog_end_{phase}"] = backlog[-1]
        res[f"streaming.backlog_growth_{phase}"] = (
            statistics.mean(backlog[half:]) - statistics.mean(backlog[:half]))
    late = [((x["written_us"] - x["due_us"]) / 1000.0, 1) for x in files]
    res["gen.late_p99_ms"] = stats.percentile(late, 0.99)
    res["gen.events"] = sum(x["n"] for x in files)
    return failed


E2E_UNITS = {"setup_s": "s", "rss_peak_mb": "MB", "throughput_per_s": "1/s",
             "latency_p50_ms": "ms", "latency_p90_ms": "ms"}


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {x["name"]: x["unit"] for x in spec["per_layer"]}


def layer_metrics(res, m):
    """Every per-layer metric; a layer this workload does not use reads 0."""
    out = {}
    for name, unit in per_layer_names().items():
        if name.startswith("traced."):
            v = m[name[len("traced."):]]
        else:
            v = res.get(name, 0)
        out[name] = {"value": v if v is not None else 0, "unit": unit}
    return out


def report_overhead(workload, seed, trace, m, res, work):
    """Keeps each result; with a traced run, writes its spans, its layer
    metrics and the tracing overhead against the untraced run of the same
    workload and seed, when that run is on disk."""
    rdir = os.path.join(BUILD, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{workload}-{seed}-trace{trace}.json"), "w") as f:
        json.dump(m, f)
    if not trace:
        return
    tdir = os.path.join(BUILD, "traces")
    os.makedirs(tdir, exist_ok=True)
    untraced = os.path.join(rdir, f"{workload}-{seed}-trace0.json")
    overhead = None
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
        overhead = {k: m[k] - base[k] for k in m if k in base}
    summary = {"workload": workload, "seed": seed, "traced": m, "overhead": overhead,
               "layers": {k: v["value"] for k, v in layer_metrics(res, m).items()}}
    with open(os.path.join(tdir, f"{workload}-{seed}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(tdir, f"{workload}-{seed}.spans.jsonl"))
    log(f"spans and layer metrics in {os.path.relpath(tdir, ROOT)}; overhead {overhead}")


def main():
    # a terminated run still stops the processes it started (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        args = make_inputs(a.workload, a.seed, work)
        args.update(gen_s=time.perf_counter() - t0, trace=a.trace,
                    run_id=f"{a.workload}-{a.seed}-{os.getpid()}",
                    gen_timeout_s=sum(w + m for _, _, w, m in TAIL_PHASES) + 60)
        res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work, args)
        log("result " + json.dumps({k: v for k, v in res.items() if not isinstance(v, list) or k in ("phases_s", "calibration_s")}))
        m, attempted, failed = e2e(a.workload, res, work)
        report_overhead(a.workload, a.seed, a.trace, m, res, work)
        metrics = (layer_metrics(res, m) if a.trace else
                   {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in m.items()})
        print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
