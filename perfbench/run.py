#!/usr/bin/env python3
"""Benchmark of the graft engine, end to end and layer by layer.

    python3 perfbench/run.py --workload corpus|frontdoor \\
        --seed N --seconds S --trace 0|1 [--smoke]

Builds the engine and the harness from source (once per source state), runs
one workload for whole rounds until S seconds have passed, checks every
result against DuckDB, and prints one JSON object as the last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. See
perfbench/README.md for the workloads, metrics and inputs.
"""
import argparse
import hashlib
import json
import os
import pickle
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import check  # noqa: E402
import frontdoor  # noqa: E402

JVM_TIMEOUT_S = 165
# Untimed rounds before the timed ones, so that timed rounds run on compiled
# code: about 12 s of work on either workload, as a frontdoor round takes
# about twice as long as a corpus round. The first round's results are the
# ones checked.
WARMUP = {"corpus": 2, "frontdoor": 1}

# Metric names and units come from BENCHMARK.json at the checkout root. A
# per-layer metric of a layer the workload does not go through reads 0 (no
# front door in-process, no build step behind the front door).
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# ----------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt; returns the classpath.
    Skipped when the sources are unchanged since the last build."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src"))):
        die("the engine's sources (build.sbt, src/) are not next to perfbench/")
    stamp = source_stamp()
    bdir = os.path.join(OUT, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(bdir, exist_ok=True)
    log("building engine and harness with sbt")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HARNESS, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, *args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # The engine's own run settings (build.sbt javaOptions); every file the
    # JVM writes stays under out/.
    cmd += ["-Xmx16g", "-XX:MaxGCPauseMillis=300", "-XX:ReservedCodeCacheSize=1g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(OUT, 'work', 'spark-warehouse')}",
            "-cp", cp] + list(args)
    return cmd


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --------------------------------------------------------------- fixture

def fixture_root():
    root = os.environ.get("PERFBENCH_FIXTURES", os.path.expanduser("~/testdata"))
    if not os.path.isdir(root):
        die(f"fixture directory {root} not found (set PERFBENCH_FIXTURES)")
    return root


def work_dir():
    d = os.path.join(OUT, "work")
    os.makedirs(d, exist_ok=True)
    return d


# ----------------------------------------------------------------- stats

def pct(values, p):
    """Percentile with linear interpolation between closest ranks."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * p / 100.0
    lo, hi = int(k), min(int(k) + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def steal_now():
    """(steal, total) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_pct(since):
    steal, total = steal_now()
    return 100.0 * (steal - since[0]) / (total - since[1]) if total > since[1] else 0.0


class OracleCache:
    """DuckDB answers, computed once per (fixture, query text) and kept in
    out/oracle/: they depend only on the inputs, not on the engine."""

    def __init__(self, fixture):
        self.fixture, self.db = fixture, None
        self.dir = os.path.join(OUT, "oracle")
        os.makedirs(self.dir, exist_ok=True)
        h = hashlib.sha256(os.path.abspath(fixture).encode())
        for t in check.TABLES:
            p = os.path.join(fixture, f"{t}.parquet")
            for d, _, fs in os.walk(p) if os.path.isdir(p) else [("", [], [p])]:
                for f in sorted(fs):
                    st = os.stat(os.path.join(d, f))
                    h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
        self.key = h.hexdigest()

    def __call__(self, sql):
        path = os.path.join(self.dir, hashlib.sha256((self.key + sql).encode()).hexdigest())
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        if self.db is None:
            self.db = check.Oracle(self.fixture, os.path.join(OUT, "tmp", "duckdb"))
        res = self.db.query(sql)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(res, f)
        os.replace(path + ".tmp", path)
        return res


def metric(v, unit):
    return {"value": v, "unit": unit}


# ----------------------------------------------------------- in-process

def run_inproc(cp, fixture, queries, args):
    rdir = fresh_dir(os.path.join(OUT, "run"))
    qfile = os.path.join(rdir, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(queries) + "\n")
    cmd = java_cmd(cp, "perfbench.Main", "--mode", "inproc",
                   "--fixture", fixture, "--queries", qfile, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--warmup", str(WARMUP["corpus"]), "--out", rdir)
    with open(os.path.join(rdir, "jvm.log"), "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=work_dir(), stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"engine process exceeded {JVM_TIMEOUT_S} s; see perfbench/out/run/jvm.log")
    if p.returncode != 0:
        die(f"engine process failed ({p.returncode}); see perfbench/out/run/jvm.log")
    with open(os.path.join(rdir, "stats.json")) as f:
        st = json.load(f)
    execs = st["execs"]
    failed = [e for e in execs if e["error"]]
    for e in failed:
        log(f"FAILED {e['name']} (round {e['round']}): {e['error']}")

    # correctness: first-round rows of every query against DuckDB
    oracle = OracleCache(fixture)
    correct = not st["row_count_mismatch"]
    for n in st["row_count_mismatch"]:
        log(f"WRONG {n}: row count changed between rounds")
    with open(os.path.join(rdir, "results.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if r["bench_variant"]:
                correct = False
                log(f"UNCHECKED {r['name']}: its bench build differs from the oracle's query")
                continue
            ocols, orows = oracle(r["oracle"])
            ok, msg = check.compare(r["columns"], r["rows"], ocols, orows)
            if not ok:
                correct = False
                log(f"WRONG {r['name']}: {msg}")

    ok_execs = [e for e in execs if not e["error"] and not e["warmup"]]
    lat = [e["total_ms"] for e in ok_execs]
    rounds = st["rounds"]
    e2e = {
        "setup_s": st["setup"]["total_s"],
        "pass_s": min(st["round_wall_s"]),
        "query_p50_ms": pct(lat, 50),
        "cpu_s": min(st["round_cpu_s"]),
        "queries_per_s": len(ok_execs) / st["window_s"],
    }
    layers = inproc_layers(st, ok_execs, rounds) if args.trace else None
    return {"correct": correct, "attempted": len(execs), "failed": len(failed), "e2e": e2e,
            "layers": layers, "settings": st["settings"], "rounds": rounds,
            "steal_pct": st["steal_pct"]}


SUM_KEYS = ["build.s", "build.jobs", "catalyst.analysis_s", "catalyst.optimization_s",
            "catalyst.planning_s", "plans.kpp_s", "plans.kpp_effective", "exec.s", "exec.job_s",
            "exec.driver_s", "exec.jobs",
            "exec.stages", "exec.tasks", "exec.task_cpu_s", "exec.task_run_s",
            "exec.sched_wait_s", "exec.gc_s", "exec.input_rows", "exec.input_mb",
            "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
            "exec.task_failures", "drain.s", "drain.rows"]


def inproc_layers(st, execs, rounds):
    cores = st["settings"]["master_cores"]
    tot = {k: sum(e.get(k, 0) for e in execs) for k in SUM_KEYS}
    # Wall time outside every traced span: the build call, Catalyst phases
    # after it, the union of the query's job intervals and the drain after
    # its last job. Driver work between and around jobs (exec.driver_s)
    # lands here, as does anything the listener does not see.
    unaccounted = []
    for e in execs:
        wall = e["total_ms"] / 1e3
        acc = e["build.s"] + e["catalyst.after_build_s"] + e["exec.job_s"] + e["drain.s"]
        unaccounted.append(wall - acc)
        print("query " + e["name"] + " round " + str(e["round"]) + " " + json.dumps(
            {k: round(e[k], 6) if isinstance(e[k], float) else e[k]
             for k in ["total_ms"] + SUM_KEYS + ["catalyst.after_build_s"]}
            | {"unaccounted_s": round(wall - acc, 6)}))
    per_pass = {k: v / rounds for k, v in tot.items()}
    per_pass["exec.busy_ratio"] = (tot["exec.task_run_s"] / (cores * tot["exec.s"])
                                   if tot["exec.s"] > 0 else 0.0)
    per_pass["exec.peak_exec_mem_mb"] = max((e["exec.peak_exec_mem_mb"] for e in execs), default=0.0)
    wall = sum(e["total_ms"] for e in execs) / 1e3
    per_pass["trace.unaccounted_pct"] = 100.0 * sum(unaccounted) / wall if wall else 0.0
    per_pass["trace.listener_ms"] = (st["listener_ms"] or 0.0) / rounds
    per_pass.update(common_layers(st, st["setup"], rounds))
    return per_pass


def common_layers(st, setup, rounds):
    """Set-up split, JVM and host figures, for every workload."""
    return {
        "engine.session_s": setup["session_s"],
        "engine.register_s": setup["register_s"],
        "engine.partsupp_s": setup["partsupp_s"],
        "jvm.gc_s": st["gc_s"] / rounds, "jvm.jit_s": st["jit_s"] / rounds,
        "jvm.heap_peak_mb": st["heap_peak_mb"], "jvm.heap_live_mb": st["heap_live_mb"],
        "jvm.peak_rss_mb": st["peak_rss_mb"],
        "codegen.compiles": st["codegen_compiles"] / rounds, "host.steal_pct": st["steal_pct"]}


# ------------------------------------------------------------- frontdoor

def run_frontdoor(cp, fixture, args):
    rdir = fresh_dir(os.path.join(OUT, "run"))
    shutil.rmtree(os.path.join(work_dir(), "spark-warehouse"), ignore_errors=True)
    cmd = java_cmd(cp, "perfbench.Main", "--mode", "serve",
                   "--fixture", fixture, "--trace", str(args.trace), "--out", rdir,
                   "--resource-groups", os.path.join(HERE, "resource-groups.json"))
    lf = open(os.path.join(rdir, "jvm.log"), "w")
    server = subprocess.Popen(cmd, cwd=work_dir(), stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                              stderr=lf, text=True, bufsize=1)
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        line = server.stdout.readline()
        if not line.startswith("READY"):
            die("statement server did not start; see perfbench/out/run/jvm.log")
        port = int(line.split()[1])

        def control(msg):
            server.stdin.write(msg + "\n")
            server.stdin.flush()
            reply = server.stdout.readline().split()
            if not reply or reply[0] != "OK":
                die(f"statement server did not acknowledge '{msg}'")
            return reply[1:]

        with open(os.path.join(rdir, "statements.json")) as f:
            stmts = [s for s in json.load(f) if s["name"] in set(lines(os.path.join(HERE, "workloads", "frontdoor.txt")))]
        sql_of = {s["name"]: s["sql"] for s in stmts}
        sql_of[frontdoor.LARGE[0]] = frontdoor.LARGE[1]
        # A fixed deal of the reads to the three clients, so that every seed
        # has the same critical path; the seed orders each client's share.
        reads = sorted((s["name"], s["sql"], "read") for s in stmts) + [frontdoor.LARGE + ("read",)]
        shares = [reads[i::3] for i in range(3)]
        writes = frontdoor.write_statements()
        rng = random.Random(args.seed)

        def one_round(r):
            """Three read clients and the write client, each through its
            list once; returns (wall, server CPU) from the first POST until
            the last of them is done."""
            clients = [frontdoor.Client(port, rng.sample(s, len(s)), frontdoor.READ_SOURCE)
                       for s in shares]
            clients.append(frontdoor.Client(port, writes, frontdoor.WRITE_SOURCE))
            c0 = float(control("cpu")[0])
            r0 = time.perf_counter()
            for c in clients:
                c.start()
            for c in clients:
                c.join()
            wall = time.perf_counter() - r0
            cpu = float(control("cpu")[0]) - c0
            for c in clients:
                for o in c.outcomes:
                    o.round = r
                outcomes.extend(c.outcomes)
            return wall, cpu

        outcomes, round_wall, round_cpu = [], [], []
        warmup = WARMUP["frontdoor"]
        for w in range(warmup):
            one_round(w)
        control("mark")
        t_start = time.perf_counter()
        while not round_wall or time.perf_counter() - t_start < args.seconds:
            if time.time() > deadline - 30:
                die("frontdoor round exceeded the run's time limit")
            wall, cpu = one_round(warmup + len(round_wall))
            round_wall.append(wall)
            round_cpu.append(cpu)
        window = time.perf_counter() - t_start
        report = os.path.join(rdir, "server_report.json")
        control(f"report {report}")
        server.stdin.write("quit\n")
        server.stdin.flush()
        server.wait(timeout=60)
    finally:
        if server.poll() is None:
            server.kill()
            server.wait()
        lf.close()
    with open(report) as f:
        rep = json.load(f)
    with open(os.path.join(rdir, "server_setup.json")) as f:
        srv = json.load(f)

    with open(os.path.join(rdir, "outcomes.json"), "w") as f:
        json.dump([{"name": o.name, "round": o.round, "total_ms": o.total_s * 1e3,
                    "first_page_ms": o.first_page_s * 1e3, "pages": o.pages, "gets": o.gets,
                    "rows": len(o.rows), "error": o.error} for o in outcomes], f, indent=0)
    failed = [o for o in outcomes if o.error]
    for o in failed:
        log(f"FAILED {o.name} (round {o.round}): {o.error}")

    # correctness: first-round rows of every read against DuckDB, and the
    # final contents of the written tables against DuckDB's own SELECTs
    oracle = OracleCache(fixture)
    correct, seen = True, set()
    for o in outcomes:
        if o.kind != "read" or o.error or o.name in seen:
            continue
        seen.add(o.name)
        ok, msg = frontdoor.check_read(oracle, o, sql_of[o.name])
        if not ok:
            correct = False
            log(f"WRONG {o.name}: {msg}")
    if not failed:
        db = check.Oracle(fixture, os.path.join(OUT, "tmp", "duckdb"))
        for table, selects in frontdoor.WRITE_TABLES.items():
            tdir = os.path.join(work_dir(), "spark-warehouse", table)
            got = db.query(f"SELECT * FROM read_parquet('{tdir}/*.parquet')")
            want = db.query(" UNION ALL ".join(f"({s})" for s in selects))
            ok, msg = check.compare(got[0], got[1], want[0], want[1])
            if not ok:
                correct = False
                log(f"WRONG table {table}: {msg}")
        db.close()

    good = [o for o in outcomes if not o.error and o.round >= WARMUP["frontdoor"]]
    lat = [o.total_s * 1e3 for o in good]
    e2e = {
        "setup_s": srv["setup"]["total_s"],
        "pass_s": min(round_wall),
        "query_p50_ms": pct(lat, 50),
        "cpu_s": min(round_cpu),
        "queries_per_s": len(good) / window,
    }
    fd = fd_summary(good, window)
    layers = (frontdoor_layers(rep, srv["setup"], good, stmts, len(round_wall), fd)
              if args.trace else None)
    return {"correct": correct, "attempted": len(outcomes), "failed": len(failed), "e2e": e2e,
            "layers": layers, "settings": srv["settings"], "rounds": len(round_wall),
            "steal_pct": rep["steal_pct"], "fd": fd}


def fd_summary(good, window):
    """Front-door figures printed on every run (also untraced)."""
    ttfr = [o.first_page_s * 1e3 for o in good if o.pages]
    large = [o for o in good if o.name == frontdoor.LARGE[0] and o.last_page_s > o.first_page_s]
    drain = (sum(o.json_bytes for o in large) / 1048576.0 /
             sum(o.last_page_s - o.first_page_s for o in large)) if large else 0.0
    writes = [o.total_s * 1e3 for o in good if o.kind == "write"]
    return {"ttfr_p50_ms": pct(ttfr, 50), "drain_mb_per_s": drain,
            "write_p50_ms": pct(writes, 50)}


def frontdoor_layers(rep, setup, good, stmts, rounds, summary):
    groups = rep["groups"] or {}
    rewrite = {s["name"]: s["rewrite_ms"] for s in stmts}
    cores = rep["cores"]
    tot = {k: 0.0 for k in SUM_KEYS}
    sq = {k: 0.0 for k in ["sql.rewrite_ms", "sql.post_ms", "sql.pre_exec_ms", "sql.first_page_ms",
                           "sql.result_jobs", "sql.pages", "sql.json_mb", "sql.drain_ms", "sql.gets",
                           "write.rows", "write.mb"]}
    useful = 0
    for o in good:
        g = groups.get(o.query_id, {})
        tot["catalyst.analysis_s"] += g.get("analysis_s", 0.0)
        tot["catalyst.optimization_s"] += g.get("optimization_s", 0.0)
        tot["catalyst.planning_s"] += g.get("planning_s", 0.0)
        tot["plans.kpp_s"] += g.get("kpp_s", 0.0)
        tot["plans.kpp_effective"] += g.get("kpp_effective", 0)
        tot["exec.s"] += g.get("exec_s", 0.0)
        tot["exec.job_s"] += g.get("job_s", 0.0)
        tot["exec.driver_s"] += g.get("exec_s", 0.0) - g.get("job_s", 0.0)
        tot["exec.jobs"] += g.get("jobs", 0)
        for k in ["stages", "tasks", "task_cpu_s", "task_run_s", "sched_wait_s", "gc_s",
                  "input_rows", "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                  "task_failures"]:
            tot["exec." + k] += g.get(k, 0)
        sq["sql.rewrite_ms"] += rewrite.get(o.name) or 0.0
        sq["sql.post_ms"] += o.post_s * 1e3
        if g.get("first_job_ms"):
            sq["sql.pre_exec_ms"] += max(0.0, g["first_job_ms"] - o.post_at * 1e3)
        sq["sql.first_page_ms"] += o.first_page_s * 1e3
        if o.kind == "read":
            sq["sql.result_jobs"] += g.get("jobs", 0)
        sq["sql.pages"] += o.pages
        sq["sql.json_mb"] += o.json_bytes / 1048576.0
        sq["sql.drain_ms"] += (o.last_page_s - o.first_page_s) * 1e3
        sq["sql.gets"] += o.gets
        useful += o.useful_gets
        if o.kind == "write":
            sq["write.rows"] += g.get("output_rows", 0)
            sq["write.mb"] += g.get("output_mb", 0.0)
    per_pass = {k: v / rounds for k, v in list(tot.items()) + list(sq.items())}
    # the tables are rewritten every round: the files on disk are one pass's
    per_pass["write.files"] = sum(
        sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        for d in (os.path.join(work_dir(), "spark-warehouse", t) for t in frontdoor.WRITE_TABLES)
        if os.path.isdir(d))
    per_pass["sql.useful_get_ratio"] = useful / sq["sql.gets"] if sq["sql.gets"] else 0.0
    per_pass["exec.busy_ratio"] = (tot["exec.task_run_s"] / (cores * rep["window_s"])
                                   if rep["window_s"] else 0.0)
    per_pass["exec.peak_exec_mem_mb"] = max((g.get("peak_exec_mem_mb", 0.0) for g in groups.values()),
                                            default=0.0)
    per_pass["trace.listener_ms"] = (rep["listener_ms"] or 0.0) / rounds
    per_pass.update(common_layers(rep, setup, rounds))
    per_pass.update({"sql.ttfr_p50_ms": summary["ttfr_p50_ms"],
                     "sql.drain_mb_per_s": summary["drain_mb_per_s"],
                     "write.p50_ms": summary["write_p50_ms"]})
    return per_pass


# ------------------------------------------------------------------ main

def lines(path):
    with open(path) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


WORKLOADS = ["corpus", "frontdoor"]


def run_workload(name, args, cp):
    """Runs one workload; returns its result and prints the settings its
    numbers depend on."""
    steal0, t0 = steal_now(), time.time()
    fixture = os.path.join(fixture_root(), "sf0.001" if args.smoke else "sf0.1")
    if name == "frontdoor":
        res = run_frontdoor(cp, fixture, args)
    else:
        res = run_inproc(cp, fixture, lines(os.path.join(HERE, "workloads", "corpus.txt")), args)
    s = res["settings"]
    print(f"settings: nproc={os.cpu_count()} master={s['master']} master_cores={s['master_cores']} "
          f"xmx_mb={s['xmx_mb']} spark={s['spark_version']} jdk={s['jdk_version']} "
          f"shuffle_partitions={s['shuffle_partitions']} seed={args.seed} workload={name} "
          f"fixture={fixture} rounds={res['rounds']} attempted={res['attempted']} "
          f"failed={res['failed']} steal_pct_window={res['steal_pct']:.2f} "
          f"steal_pct_run={steal_pct(steal0):.2f} run_s={time.time() - t0:.1f}")
    if "fd" in res:
        print("frontdoor: " + " ".join(f"{k}={v:.4f}" for k, v in res["fd"].items()))
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs, one timed round, every workload unless --workload is given")
    args = ap.parse_args()
    if not args.workload and not args.smoke:
        ap.error("--workload is required (or --smoke for all workloads)")
    cp = build()
    if args.smoke:
        args.seconds = 0
        ok = True
        for name in [args.workload] if args.workload else WORKLOADS:
            res = run_workload(name, args, cp)
            ok = ok and res["correct"] and res["failed"] == 0
            print(f"smoke {name}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}")
        sys.exit(0 if ok else 1)
    res = run_workload(args.workload, args, cp)
    e2e = {k: metric(res["e2e"][k], u) for k, u in END_TO_END.items()}
    if args.trace:
        print("traced end-to-end: " + " ".join(f"{k}={v['value']:.4f}" for k, v in e2e.items()))
        metrics = {k: metric(res["layers"].get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = e2e
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
