#!/usr/bin/env python3
"""The repository benchmark: real replications into PostgreSQL and a query
mix, timed end to end and, with --trace 1, layer by layer.

    python3 perfbench/run.py --workload repl_incremental --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and generates the fixture under perfbench/.work;
later runs reuse both while the sources are unchanged. Every replication
run starts a private PostgreSQL 15 server in perfbench/.work and stops it
before exiting.
The last stdout line is one JSON object: correct, attempted, failed, metrics.
See perfbench/NOTES.md for what each workload and metric means.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import metrics  # noqa: E402
import pgserver  # noqa: E402

WORKLOADS = ("repl_incremental", "query_mix")
REPL_SF = 0.025
QUERY_SF = 0.01
# a run ends within this many seconds of its start, the build excluded: a
# harness too slow for it measures fewer iterations, and one that still
# overruns is killed and the run reported as failed
DEADLINE_S = 170
# of which kept back from the harness's own budget for JVM start and exit,
# the server's stop and the metrics
RESERVE_S = 25
PG_URL = "jdbc:postgresql://localhost/postgres"
EXPECTED = os.path.join(HERE, "expected.json")

# The query mix: SparkEntry query -> family (the operators/ module doing
# the work). NOTES.md says why these and not the full 22-query list.
FAMILIES = {
    "sql": ["q3_shipping_priority", "agg1_pricing_summary"],
    "dedup": ["pipe1_training_pipeline"],
    "similarity": ["mmr1_diversified_topk"],
    "graph": ["pr1_pagerank"],
    "quality": ["dq4_psi_drift"],
    "streaming": ["st3_stream_upsert"],
}
QUERY_FAMILY = {q: f for f, qs in FAMILIES.items() for q in qs}

PG_TYPES = {"int64": "bigint", "int32": "integer", "double": "double precision",
            "string": "text", "timestamp[us]": "timestamp"}

# Spark flags spark-submit would add on JDK 17 (same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build --------------------------------------------------------------

def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError("sbt build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


# ---- fixture ------------------------------------------------------------

def fixture_dir(sf):
    """Generated parquet tables for `sf`, made once per checkout."""
    d = os.path.join(WORK, f"data-sf{sf}")
    marker = os.path.join(d, ".complete")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, sf)
        open(marker, "w").close()
    return d


def parquet_columns(path):
    con = duckdb.connect()
    rows = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()
    kinds = {"BIGINT": "int64", "INTEGER": "int32", "DOUBLE": "double",
             "VARCHAR": "string", "TIMESTAMP": "timestamp[us]"}
    return [(name, kinds[t]) for name, t, *_ in rows]


def li_base_csv(data):
    """lineitem plus the surrogate key l_id (its row number), once per checkout.
    (l_orderkey, l_linenumber) is not unique, so the merge keys on l_id."""
    path = os.path.join(data, "li_base.csv")
    if not os.path.exists(path):
        duckdb.connect().execute(f"""COPY (
            SELECT file_row_number AS l_id, * EXCLUDE (file_row_number)
            FROM read_parquet('{data}/lineitem.parquet', file_row_number = true)
            ORDER BY l_id) TO '{path}.tmp' (FORMAT csv, HEADER)""")
        os.rename(path + ".tmp", path)
    return path


def li_src_sql(seed):
    """li_src: li_base with ~10% of rows changed and ~5% added under new
    keys, the rows picked by a seeded hash of l_id."""
    keys = "l_orderkey, l_partkey, l_suppkey, l_linenumber"
    same = "l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
    changed = ("l_quantity + 1, round((l_extendedprice * 1.01)::numeric, 2)::float8, l_discount, "
               "l_tax, 'U', l_linestatus, l_shipdate + interval '1 day'")
    return f"""WITH p AS (SELECT *, hashint8extended(l_id, {seed}) & 1023 AS u FROM li_base)
        INSERT INTO li_src
        SELECT l_id, {keys}, {same} FROM p WHERE u >= 102
        UNION ALL SELECT l_id, {keys}, {changed} FROM p WHERE u < 102
        UNION ALL SELECT l_id + (SELECT count(*) FROM li_base), {keys}, {changed}
                  FROM p WHERE u >= 102 AND u < 154"""


def pg_conn(server):
    """Where the harness reaches the server: its socket directory relative to
    the checkout root (the harness runs there), and the user."""
    return {"socket": os.path.relpath(server.socket_dir, ROOT), "user": server.user}


def workload_job(workload, seed, server, pin=False):
    """The harness job (operations, fixture/reset SQL) and the check values
    run.py expects back per operation. `server` is None for query_mix."""

    def pg(side):
        conn = pg_conn(server)
        return [f"--{side}-connect={PG_URL}", f"--{side}-user={conn['user']}",
                f"--{side}.connect.parameter.pgwire.socket={conn['socket']}"]

    if workload == "repl_incremental":
        data = fixture_dir(REPL_SF)
        cols = [("l_id", "int64")] + parquet_columns(f"{data}/lineitem.parquet")
        ddl = ", ".join(f"{c} {PG_TYPES[k]}" for c, k in cols)
        op = {"name": "li_src",
              "args": ["--mode=incremental", "--jobs=4", "--source-table=li_src", *pg("source"),
                       "--source.connect.parameter.partition.key=l_id",
                       "--sink-table=li_sink", *pg("sink")],
              "check_sql": ["SELECT count(*) FROM ((TABLE li_src EXCEPT ALL TABLE li_sink) "
                            "UNION ALL (TABLE li_sink EXCEPT ALL TABLE li_src)) d",
                            r"SELECT count(*) FROM pg_class WHERE relname LIKE '%\_repdb%'"],
              "rows_sql": "SELECT count(*) FROM li_sink"}
        return {"kind": "replication", "data_dir": data, "ops": [op], "pg": pg_conn(server),
                "fixture_sql": [
            f"CREATE UNLOGGED TABLE li_base ({ddl}, PRIMARY KEY (l_id))",
            f"COPY li_base FROM '{li_base_csv(data)}' WITH (FORMAT csv, HEADER true)",
            "CREATE UNLOGGED TABLE li_src (LIKE li_base INCLUDING ALL)",
            li_src_sql(seed),
            "CREATE UNLOGGED TABLE li_sink (LIKE li_base INCLUDING ALL)",
            "ANALYZE"],
            "reset_sql": ["TRUNCATE li_sink", "INSERT INTO li_sink SELECT * FROM li_base",
                          "VACUUM ANALYZE li_sink"]}, {"li_src": ["0", "0"]}
    expect = {}
    if pin:
        names = sorted(QUERY_FAMILY)
    else:
        with open(EXPECTED) as f:
            pinned = json.load(f)["queries"]
        names = sorted(pinned)
        expect = {q: [str(v[0]), v[1]] for q, v in pinned.items()}
    return {"kind": "query", "data_dir": fixture_dir(QUERY_SF),
            "ops": [{"name": q} for q in names]}, expect


# ---- metrics ------------------------------------------------------------

def judge(result, expect):
    """Count attempted and failed operations over every iteration."""
    attempted = failed = 0
    for it in result.get("iterations", []):
        for op in it["ops"]:
            attempted += 1
            if "error" in op:
                failed += 1
                log(f"{op['name']} failed: {op['error']}")
            elif op["check"] != expect.get(op["name"]):
                failed += 1
                log(f"{op['name']} wrong output: {op['check']} != {expect.get(op['name'])}")
    return attempted, failed


def end_to_end(result):
    plain = [it for it in result["iterations"] if it["kind"] == "plain"]
    wall = metrics.median([it["wall_s"] for it in plain])
    rows = metrics.median([sum(op["rows"] for op in it["ops"]) for it in plain])
    per_op = {}
    for it in plain:
        for op in it["ops"]:
            per_op.setdefault(op["name"], []).append(op["s"])
    op_medians = {k: metrics.median(v) for k, v in per_op.items()}
    print(f"detail samples {len(plain)}")
    print(f"detail setup.session_s {result['session_s']:.6f}")
    for k, v in sorted(op_medians.items()):
        print(f"detail op.{k}_s {v:.6f}")
    return {
        "wall_s": (wall, "s"),
        "rows_per_s": (rows / wall, "rows/s"),
        "op_geomean_s": (metrics.geomean(op_medians.values()), "s"),
        "setup_s": (result["setup_s"], "s"),
    }


PER_LAYER_UNITS = {"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
                   "spark.parallel_eff": "ratio", "spark.stage_skew": "ratio",
                   "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
                   "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
                   "plan.executions": "count", "streaming.batches": "count",
                   "rows.delivered": "count", "fail_ratio": "ratio"}


def per_layer(result, attempted, failed):
    traced = [it for it in result["iterations"] if it["kind"] == "traced"]
    plain = [it for it in result["iterations"] if it["kind"] == "plain"]
    cores = result["cores"]
    samples, details = {}, {}
    for it in traced:
        t = it["trace"]
        m, by_layer, acct = metrics.trace_layers(t, cores)
        m["rows.delivered"] = sum(op["rows"] for op in it["ops"])
        d = {f"{k}_s": v["span"] / 1e3 for k, v in by_layer.items()}
        d.update({f"account.{k}": v for k, v in acct.items()})
        d["account.timed_wall_s"] = it["wall_s"]
        if "scan_s" in t:
            d["sources.scan_s"] = t["scan_s"]
            write = by_layer.get("core.write", {"span": 0.0, "jobs": 0.0})
            d["sources.load_s"] = write["jobs"] / 1e3
            d["sources.driver_sql_s"] = (write["span"] - write["jobs"]) / 1e3
            d["sources.load_task_skew"] = m["spark.stage_skew"]
            d["sources.load_parallel_eff"] = metrics.parallel_eff(
                m["spark.task_s"], d["sources.load_s"], cores)
            d["sources.sink_rows"] = m["rows.delivered"]
        else:
            d["streaming.batch_s"] = t["streaming"]["batch_ms"] / 1e3
            fam = {}
            for s in t["spans"]:
                if s["layer"] == "op":
                    d[f"query.{s['op']}_s"] = (s["end"] - s["start"]) / 1e3
                    f = QUERY_FAMILY.get(s["op"], "other")
                    fam[f] = fam.get(f, 0.0) + (s["end"] - s["start"]) / 1e3
            d.update({f"family.{k}_s": v for k, v in fam.items()})
        for k, v in m.items():
            samples.setdefault(k, []).append(v)
        for k, v in d.items():
            details.setdefault(k, []).append(v)
    out = {k: (metrics.median(v), PER_LAYER_UNITS.get(k, "s")) for k, v in samples.items()}
    overhead = (metrics.median([it["wall_s"] for it in traced])
                - metrics.median([it["wall_s"] for it in plain]))
    out["trace.overhead_s"] = (overhead, "s")
    out["driver.peak_rss_mb"] = (result["peak_rss_mb"], "MiB")
    out["fail_ratio"] = (metrics.fail_ratio(failed, attempted), "ratio")
    print(f"detail samples {len(traced)} traced, {len(plain)} untraced")
    for k, v in sorted(details.items()):
        print(f"detail {k} {metrics.median(v):.6f}")
    return out


def pin(result):
    """Record each query's checksum, refusing any that differ between passes."""
    seen = {}
    for it in result["iterations"]:
        for op in it["ops"]:
            if "error" in op or seen.setdefault(op["name"], op["check"]) != op["check"]:
                log(f"cannot pin {op['name']}: {op.get('error') or 'checksum differs between passes'}")
                return 1
    queries = {k: [int(v[0]), v[1]] for k, v in sorted(seen.items())}
    with open(EXPECTED, "w") as f:
        json.dump({"sf": QUERY_SF, "queries": queries}, f, indent=1)
        f.write("\n")
    log(f"pinned {len(queries)} checksums in {EXPECTED}")
    return 0


# ---- run ----------------------------------------------------------------

def run_harness(classpath, job_path, log_path, timeout):
    """The harness's exit code, or None if it was killed at `timeout`."""
    cpus = str(os.cpu_count() or 4)
    tmp = os.path.join(os.path.dirname(job_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}", "-cp", classpath, "perfbench.Harness", job_path]
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="query_mix only: write expected.json from this run's checksums "
                         "(validate the queries against their oracles first, see NOTES.md)")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources under {ROOT}: run from a repository checkout")
        return 2

    # SIGTERM unwinds through the finally blocks that stop the server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    started = time.monotonic()

    def seconds_left():
        return DEADLINE_S - (time.monotonic() - started)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    server = None
    try:
        if args.workload != "query_mix":
            server = pgserver.start(WORK, run_dir)
        job, expect = workload_job(args.workload, args.seed, server, args.pin)
        job.update(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                   budget_s=seconds_left() - RESERVE_S, out=os.path.join(run_dir, "result.json"))
        job_path = os.path.join(run_dir, "job.json")
        with open(job_path, "w") as f:
            json.dump(job, f)
        log_path = os.path.join(WORK, f"harness-{args.workload}.log")
        code = run_harness(classpath, job_path, log_path, timeout=seconds_left() - 5)
        if code is None:
            log(f"harness killed: not done {DEADLINE_S} s after the run started; see {log_path}")
            if args.pin:
                return 1
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 0
        with open(job["out"]) as f:
            result = json.load(f)
        shutil.copy(job["out"], os.path.join(WORK, f"result-{args.workload}.json"))
        if code != 0 or "fatal" in result:
            log(f"harness failed ({code}): {result.get('fatal')}; see {log_path}")
            return 1
    finally:
        if server:
            server.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.pin:
        return pin(result)
    attempted, failed = judge(result, expect)
    if args.trace:
        values = per_layer(result, attempted, failed)
    else:
        values = end_to_end(result)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
