#!/usr/bin/env python3
"""graft benchmark: end-to-end and per-layer figures over three workloads.

    python3 perfbench/run.py --workload export|subset|curate \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark driver from source (sbt, into perfbench/target) and caches the
build under .bench_build/, keyed by a hash of the sources. Every run then
generates its inputs from the seed, starts one JVM (graftbench.BenchMain)
that sets up a Spark session the way the `graft` CLI does, runs one cold
job and then warm jobs back to back for S seconds (one client, closed
loop), and checks the outputs against independent references: SQLite
restores of the dumps, DuckDB counts over the parquet fixture, and the
catalog's DuckDB oracle SQL.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
The line before it carries details: sample counts, the tail percentile,
output bytes and the failure ratio with its base.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import random
import re
import shutil
import sqlite3
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.01")
STATE = os.path.join(ROOT, ".bench_build")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["export", "subset", "curate"]

# The round-trip defect this benchmark keeps in its workloads: the
# `embeddings.embedding` array column is dumped as `ARRAY<REAL>` DDL with
# `'ArraySeq(...)'` literals, which neither SQLite nor the program's own
# SQL-dump reader accepts. It counts as one failed operation per job on
# export and subset; any other failure makes the run incorrect.
KNOWN_DEFECT_TABLE = "embeddings"
KNOWN_DEFECT_SIGNATURES = ('near "<": syntax error', "unmapped SQL type 'ARRAY<REAL>'")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_TIMEOUT_S = 170
# A run during which the hypervisor gave more than this share of the
# host's CPU time to other guests is measured once more: at a 5% share
# the warm jobs read 1.5x slower (the baseline share is under 1%).
STEAL_LIMIT = 0.03


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def spark_jars():
    """The Spark jar directory the program's own build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("cannot find the Spark jars: set SPARK_HOME")


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + driver once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not here; "
             "run from the root of a graft checkout")
    jars = spark_jars()
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(STATE, "build.stamp")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes + os.pathsep + os.path.join(jars, "*")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, GRAFTBENCH_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and benchmark driver (sbt compile)")
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        sys.stderr.write(open(os.path.join(STATE, "build.log")).read()[-4000:])
        fail(f"build failed (sbt exit {rc})")
    log(f"built in {time.time() - t0:.1f}s")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes + os.pathsep + os.path.join(jars, "*")


# --------------------------------------------------------------- inputs

def make_inputs(workload, seed, work):
    """Everything a run feeds the program, drawn from the seed alone."""
    rng = random.Random(f"graft-perfbench/{seed}")
    retain_orders = datetime.date(1995, 1, 1) + datetime.timedelta(days=rng.randrange(90))
    retain_events = datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=rng.randrange(1440))
    rules = {
        "c_name": "{{faker.%s}}" % rng.choice(["name", "firstName", "lastName"]),
        "c_mktsegment": "SEGMENT-%02d" % rng.randrange(100),
        "s_name": "{{faker.%s}}" % rng.choice(["company", "name"]),
    }
    batch = rng.choice([500, 1000, 2000])
    knn_ids = sorted(rng.sample(range(500), 10))
    config = f"""connection:
  type: sqlite
  file: bench.db
configuration:
  customer:
    columns:
      c_name: "{rules['c_name']}"
      c_mktsegment: "{rules['c_mktsegment']}"
  supplier:
    columns:
      s_name: "{rules['s_name']}"
  orders:
    retain:
      column_name: o_orderdate
      after_date: "{retain_orders.isoformat()}"
  events:
    retain:
      column_name: ts
      after_date: "{retain_events.strftime('%Y-%m-%d %H:%M:%S')}"
    columns:
      props: null
"""
    cfg_path = os.path.join(work, "config.yaml")
    with open(cfg_path, "w") as f:
        f.write(config)
    inputs = {
        "workload": workload, "data_dir": DATA, "work_dir": work,
        "config_path": cfg_path, "batch_size": batch,
        "anchor": "customer", "pct": 10, "knn_ids": knn_ids,
        # for the checker, not the program
        "retain": {"orders": ["o_orderdate", retain_orders.isoformat()],
                   "events": ["ts", retain_events.strftime("%Y-%m-%d %H:%M:%S")]},
        "rules": rules,
    }
    with open(os.path.join(work, "inputs.json"), "w") as f:
        json.dump(inputs, f)
    return inputs


# ------------------------------------------------------------------ JVM

def cpu_steal_s():
    """Seconds of CPU time the hypervisor gave to other guests, summed over
    this host's CPUs (None where /proc/stat is unavailable)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(classpath, inputs, work, seconds, trace, deadline):
    out = os.path.join(work, "result.json")
    verify = os.path.join(work, "verify")
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData and java.io.tmpdir keep the JVM's files inside the checkout
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.BenchMain",
            "--inputs", os.path.join(work, "inputs.json"), "--out", out,
            "--seconds", str(seconds), "--trace", str(trace)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local,
               SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    logf = os.path.join(work, "jvm.log")
    if os.path.exists(out):  # left by a measurement this run repeats
        os.remove(out)
    steal0 = cpu_steal_s()
    with open(logf, "w") as lf:
        launch_ns = time.time_ns()
        proc = subprocess.Popen(cmd + ["--launch-ns", str(launch_ns)], cwd=work, env=env,
                                stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(logf, errors="replace").read()[-6000:])
        fail(f"benchmark JVM failed ({rc})", 1)
    with open(out) as f:
        result = json.load(f)
    steal1 = cpu_steal_s()
    wall = (result["done_ns"] - launch_ns) / 1e9
    result["cpu_steal_share"] = (None if steal0 is None else
                                 (steal1 - steal0) / (wall * (os.cpu_count() or 1)))
    return result, verify


# -------------------------------------------------------------- checks

def duck():
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    return con


def bucket_sql(expr, modulus):
    """`graft.ops.Sampling.bucket`, written independently for DuckDB."""
    return (f"(CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"
            f" % {modulus})")


def expected_rows(con, inputs, subset):
    """Rows per table the dump must hold: DuckDB over the parquet fixture,
    with the config's retain cut-offs and, for subset, the FK closure of
    the anchor sample (customers whose bucket of 100 is below pct)."""
    ro, re_ = inputs["retain"]["orders"], inputs["retain"]["events"]
    keep_o = f"{ro[0]} > TIMESTAMP '{ro[1]}'"
    keep_e = f"{re_[0]} > TIMESTAMP '{re_[1]}'"
    if not subset:
        q = {t: f"SELECT count(*) FROM {t}" for t in TABLES}
        q["orders"] += f" WHERE {keep_o}"
        q["events"] += f" WHERE {keep_e}"
    else:
        with_ = f"""WITH kc AS (SELECT * FROM customer WHERE {bucket_sql('c_custkey', 100)} < {inputs['pct']}),
ko AS (SELECT * FROM orders o WHERE EXISTS (SELECT 1 FROM kc WHERE kc.c_custkey = o.o_custkey)),
kl AS (SELECT * FROM lineitem l WHERE EXISTS (SELECT 1 FROM ko WHERE ko.o_orderkey = l.l_orderkey)),
ke AS (SELECT * FROM events e WHERE EXISTS (SELECT 1 FROM kc WHERE kc.c_custkey = e.user_id)),
ks AS (SELECT * FROM supplier s WHERE EXISTS (SELECT 1 FROM kl WHERE kl.l_suppkey = s.s_suppkey)),
kp AS (SELECT * FROM part p WHERE EXISTS (SELECT 1 FROM kl WHERE kl.l_partkey = p.p_partkey)),
kn AS (SELECT * FROM nation n WHERE EXISTS (SELECT 1 FROM kc WHERE kc.c_nationkey = n.n_nationkey)
        OR EXISTS (SELECT 1 FROM ks WHERE ks.s_nationkey = n.n_nationkey)),
kr AS (SELECT * FROM region r WHERE EXISTS (SELECT 1 FROM kn WHERE kn.n_regionkey = r.r_regionkey))
"""
        src = {"region": "kr", "nation": "kn", "customer": "kc", "supplier": "ks",
               "part": "kp", "orders": "ko", "lineitem": "kl", "events": "ke",
               "documents": "documents", "embeddings": "embeddings"}
        q = {t: f"{with_} SELECT count(*) FROM {v}" for t, v in src.items()}
        q["orders"] += f" WHERE {keep_o}"
        q["events"] += f" WHERE {keep_e}"
    return {t: con.execute(s).fetchone()[0] for t, s in q.items()}


def split_dump(path):
    """Table name -> its section text (comment, DROP, CREATE, INSERTs)."""
    sections, name, buf = {}, None, []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("-- Table: "):
                if name:
                    sections[name] = "".join(buf)
                name, buf = line[len("-- Table: "):].strip(), []
            elif name:
                buf.append(line)
    if name:
        sections[name] = "".join(buf)
    return sections


def restore_dump(path, expected, inputs, con):
    """Restore a dump into SQLite one table section at a time and check
    each table: row count against DuckDB, and the anonymisation rules.
    Returns (table -> error or None, sqlite connection)."""
    db = sqlite3.connect(":memory:")
    errors = {}
    sections = split_dump(path)
    for t in TABLES:
        if t not in sections:
            errors[t] = "table section missing from the dump"
            continue
        try:
            db.executescript(sections[t].replace("PRAGMA foreign_keys = ON;", ""))
            n = db.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0]
            errors[t] = None if n == expected[t] else f"{n} rows restored, {expected[t]} expected"
        except sqlite3.Error as e:
            errors[t] = f"sqlite: {e}"
    rules = inputs["rules"]
    checks = []
    if errors.get("customer") is None:
        seg = db.execute("SELECT DISTINCT c_mktsegment FROM customer").fetchall()
        if seg != [(rules["c_mktsegment"],)]:
            checks.append(("customer", f"c_mktsegment not replaced: {seg[:3]}"))
        fake = {r[0] for r in db.execute("SELECT c_name FROM customer")}
        real = {r[0] for r in con.execute("SELECT c_name FROM customer").fetchall()}
        if fake & real or None in fake:
            checks.append(("customer", "c_name holds original or NULL values"))
    if errors.get("supplier") is None:
        fake = {r[0] for r in db.execute("SELECT s_name FROM supplier")}
        real = {r[0] for r in con.execute("SELECT s_name FROM supplier").fetchall()}
        if fake & real or None in fake:
            checks.append(("supplier", "s_name holds original or NULL values"))
    if errors.get("events") is None:
        n = db.execute("SELECT count(*) FROM events WHERE props IS NOT NULL").fetchone()[0]
        if n:
            checks.append(("events", f"{n} props values not nulled"))
    for t, msg in checks:
        errors[t] = msg
    return errors, db


def known_defect(table, error):
    return table == KNOWN_DEFECT_TABLE and any(s in (error or "") for s in KNOWN_DEFECT_SIGNATURES)


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in idx) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, str(type(v)), str(v)) for v in t))


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-12)
    return a == b


def check_curate(verify, con):
    """Each curate result against its DuckDB oracle: rows and values."""
    oracle = json.load(open(os.path.join(verify, "oracle_sql.json")))
    errors = {}
    for key, sql in oracle.items():
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{verify}/{key}/*.parquet')")
            gcols = [d[0] for d in got.description]
            grows = canon(got.fetchall(), gcols)
            want = con.execute(sql)
            wcols = [d[0] for d in want.description]
            wrows = canon(want.fetchall(), wcols)
            if sorted(gcols) != sorted(wcols):
                errors[key] = f"columns {sorted(gcols)} != oracle {sorted(wcols)}"
            elif len(grows) != len(wrows):
                errors[key] = f"{len(grows)} rows != oracle {len(wrows)}"
            elif not all(same(x, y) for g, w in zip(grows, wrows) for x, y in zip(g, w)):
                errors[key] = "values differ from the oracle"
            else:
                errors[key] = None
        except Exception as e:  # a missing result or failed query is a failed check
            errors[key] = f"{type(e).__name__}: {e}"
    return errors


def check_readback(verify, dump_errors, db):
    """Rows and key sums read back through SqlDumpSource vs the SQLite restore."""
    errors = {}
    for line in open(os.path.join(verify, "readback.jsonl")):
        r = json.loads(line)
        t = r["table"]
        if not r["ok"]:
            errors[t] = r["error"]
        elif dump_errors.get(t):
            errors[t] = f"dump check failed: {dump_errors[t]}"
        else:
            key = db.execute(f'SELECT * FROM "{t}" LIMIT 0').description[0][0]
            n, s = db.execute(f'SELECT count(*), sum("{key}") FROM "{t}"').fetchone()
            errors[t] = None if (n, s or 0) == (r["rows"], r["key_sum"]) else \
                f"read back {r['rows']} rows / key sum {r['key_sum']}, dump holds {n} / {s}"
    return errors


def account(result, workload, inputs, work, verify):
    """Per-op verdicts for every timed job. Returns (attempted, failed,
    correct, notes)."""
    con = duck()
    notes = []
    verdict = {}  # op name -> error from the once-per-run check
    if workload in ("export", "subset"):
        expected = expected_rows(con, inputs, subset=workload == "subset")
        verdict, db = restore_dump(os.path.join(work, f"{workload}-0.sql"), expected, inputs, con)
        if workload == "export":
            for t, e in check_readback(verify, verdict, db).items():
                if e and not known_defect(t, e):
                    notes.append(f"read-back {t}: {e}")
                    verdict[t] = verdict.get(t) or f"read-back: {e}"
    else:
        verdict = check_curate(verify, con)
    for msg in result["self_test"]:
        notes.append(f"self-test: {msg}")
    correct = not result["self_test"]
    for t, e in verdict.items():
        if e and not known_defect(t, e):
            correct = False
            notes.append(f"check {t}: {e}")
    attempted = failed = 0
    ref = result["jobs"][0]["digests"]
    for j in result["jobs"]:
        for op in j["ops"]:
            attempted += 1
            err = op["error"] if not op["ok"] else verdict.get(op["name"])
            if op["ok"] and ref and j["digests"][op["name"]]["sha256"] != ref[op["name"]]["sha256"]:
                err = "section differs from the verified dump"
            if err:
                failed += 1
                if not known_defect(op["name"], err):
                    correct = False
                    notes.append(f"job {j['i']} {op['name']}: {err}")
    return attempted, failed, correct, notes


# ------------------------------------------------------------- metrics

def tail(values):
    """Highest nearest-rank percentile with at least ten samples above it."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return None, None
    k = n - 10  # rank whose value has exactly ten samples beyond it
    return s[k - 1], round(100.0 * k / n, 1)


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


def e2e_metrics(result):
    jobs = result["jobs"]
    warm = [j for j in jobs if j["phase"] == "warm"]
    p50 = statistics.median(j["wall_s"] for j in warm)
    rows = warm[0]["rows"]
    v = {
        "setup_s": (result["ready_ns"] - result["launch_ns"]) / 1e9,
        "cold_job_s": jobs[0]["wall_s"],
        "job_s.p50": p50,
        "rows_per_s": rows / p50,
        "heap_peak_mb": statistics.median(j["heap_mb"] for j in warm),
    }
    return {name: {"value": v[name], "unit": unit} for name, unit in declared("end_to_end")}


def declared(kind):
    """(name, unit) of every metric BENCHMARK.json declares under `kind`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def layer_metrics(result, fail_ratio):
    declared_layers = declared("per_layer")
    v = {name: 0.0 for name, _ in declared_layers}
    v["setup.jvm_s"] = (result["main_ns"] - result["launch_ns"]) / 1e9
    v["setup.session_s"] = (result["ready_ns"] - result["main_ns"]) / 1e9
    v["config.load_s"] = result["config_load_s"]
    for name, values in result["layers"].items():
        if name in v:
            v[name] = statistics.median(values)
    # spans of the layer passes (jobs >= 1000), summed per pass
    per_pass = {}
    for s in result["spans"]:
        if s["job"] >= 1000 and s["name"] in ("sources.meta", "analyse.plan"):
            key = (s["name"], s["job"])
            per_pass[key] = per_pass.get(key, 0.0) + (s["end"] - s["start"]) / 1e9
    for span_name, metric in (("sources.meta", "sources.meta_s"), ("analyse.plan", "analyse.plan_s")):
        vals = [x for (n, _), x in per_pass.items() if n == span_name]
        if vals:
            v[metric] = statistics.median(vals)
    traced = [j for j in result["jobs"] if j["phase"] == "traced"]
    untraced = [j for j in result["jobs"] if j["phase"] == "warm"]
    for name in list(v):
        if name.startswith("spark.") and traced and name in traced[0]["spark"]:
            v[name] = statistics.median(j["spark"][name] for j in traced)
    v["spark.plan_s"] = (median_or_zero([j["spark"]["spark.plan_listener_s"] for j in traced])
                         + median_or_zero(result["layers"].get("spark.plan_explicit_s", [])))
    v["spark.codegen_s"] = result["cold_codegen_s"]
    v["trace_overhead"] = (statistics.median(j["wall_s"] for j in traced)
                           / statistics.median(j["wall_s"] for j in untraced))
    v["fail_ratio"] = fail_ratio
    return {name: {"value": v[name], "unit": unit} for name, unit in declared_layers}


def details(result, attempted, failed, notes, trace):
    warm = [j for j in result["jobs"] if j["phase"] == "warm"]
    t, pct = tail([j["wall_s"] for j in warm])
    d = {
        "workload": result["workload"], "cores": result["cores"],
        "warmup_job_s": [j["wall_s"] for j in result["jobs"] if j["phase"] == "warmup"],
        "warm_jobs": len(warm), "warm_job_s": [j["wall_s"] for j in warm],
        "job_s.tail": t, "job_s.tail_percentile": pct,
        "rows": result["jobs"][0]["rows"],
        "out_bytes": result["jobs"][0]["out_bytes"],
        "out_sha256": hashlib.sha256("".join(
            d["sha256"] for _, d in sorted(result["jobs"][0]["digests"].items())).encode()).hexdigest(),
        "fail_ratio": failed / attempted, "fail_base": attempted,
        "cpu_steal_share": result["cpu_steal_share"], "retried": result["retried"],
        "notes": notes,
    }
    if trace:
        traced = [j for j in result["jobs"] if j["phase"] == "traced"]
        # the traced jobs' wall time is split exactly into driver time and
        # the union of Spark job intervals; job time outside the window
        # would mean a job escaped the accounting
        d["spark.job_outside_s"] = max(j["spark"]["spark.job_outside_s"] for j in traced)
    return d


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S

    classpath = build()
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 20)
    if not os.path.isdir(DATA):
        fail(f"missing benchmark data directory {os.path.relpath(DATA, ROOT)}")
    work = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = make_inputs(args.workload, args.seed, work)
        t0 = time.time()
        result, verify = run_jvm(classpath, inputs, work, args.seconds, args.trace, deadline)
        steal = result["cpu_steal_share"]
        retried = (steal is not None and steal > STEAL_LIMIT
                   and time.time() + 1.5 * (time.time() - t0) < deadline)
        if retried:
            log(f"other guests took {steal:.0%} of the CPUs during the run; measuring again")
            result, verify = run_jvm(classpath, inputs, work, args.seconds, args.trace, deadline)
        result["retried"] = retried
        attempted, failed, correct, notes = account(result, args.workload, inputs, work, verify)
        if args.trace:
            metrics = layer_metrics(result, failed / attempted)
            traces = os.path.join(STATE, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(result["spans"], f)
        else:
            metrics = e2e_metrics(result)
        print(json.dumps(details(result, attempted, failed, notes, args.trace)))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
