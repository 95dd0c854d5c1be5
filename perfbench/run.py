#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (sbt, first run only),
stages the workload's inputs (seeded generators, cached under `.perfbench/`),
runs the workload in one engine process for `--seconds` of closed-loop ops
with one client, checks every op's output against the DuckDB oracle, and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` runs with listeners
registered and reports the per-layer metrics, and writes the full trace
(spans and per-op counters) to `.perfbench/traces/`.

Every run works in its own scratch directory under `.perfbench/runs/`
(warehouse, Derby home, Spark local dirs, streaming checkpoints, temp
files) and deletes it when it ends. `WORKLOADS.md` describes the workloads
and metrics.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HEAP = "3g"
# The engine process gets the measured seconds twice over (the last pass
# may start just before they end; a traced run adds three overhead passes)
# plus this allowance for start-up, warm-up and checks.
RUN_ALLOWANCE_S = 150
BUILD_LIMIT_S = 600
RECORD = False

# Input sizes. The query workloads read a generated fixture (fixed
# generator seed) or a ScaleGen scale-up of one; etl_daily generates its
# feeds from the run seed.
FIXTURE_SEED = 42
WARM_SF = 0.001
QUERY_SF = {"sql_interactive": 0.01}
LLM_BASE_SF, LLM_REPLICAS = 0.01, 4
ETL_DAYS, ETL_PER_DAY = 5, 10
ETL_FIRST_DAY = dt.date(2024, 3, 1)
WORKLOADS = ("sql_interactive", "llm_curation", "etl_daily")

UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "heap_retained_mb": "MB"}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout, or
    when this process is stopped, kills the whole group and waits for it.
    Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---------------------------------------------------------------- build --

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt once per source state; returns
    the runtime classpath."""
    out = os.path.join(STATE, "build")
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(os.path.expanduser(os.path.join("~", ".sbt", "repositories"))):
            opts.append("-Dsbt.override.build.repos=true")
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark (sbt)")
    logf = os.path.join(out, "sbt.log")
    with open(logf, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
                       BUILD_LIMIT_S, cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT)
    with open(logf) as f:
        lines = f.read().strip().splitlines()
    if rc != 0 or not lines or "scala-2.13" not in lines[-1]:
        fail(f"build failed ({rc}):\n" + "\n".join(lines[-40:]))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# --------------------------------------------------------------- inputs --

def recorded_inputs():
    with open(os.path.join(HERE, "inputs.json")) as f:
        return json.load(f)


def table_facts(d):
    """{table: [rows, bytes]} of the Parquet tables in directory `d`."""
    import pyarrow.parquet as pq
    facts = {}
    for f in sorted(os.listdir(d)):
        p = os.path.join(d, f)
        if f.endswith(".parquet") and os.path.isfile(p):
            facts[f[:-len(".parquet")]] = [pq.ParquetFile(p).metadata.num_rows, os.path.getsize(p)]
    return facts


def preflight(d):
    """Refuse to time an input whose ids repeat or whose row/byte counts
    differ from those recorded for it (an interrupted or changed
    regeneration)."""
    import duckdb
    name = os.path.basename(d)
    facts = table_facts(d)
    recorded = recorded_inputs()
    want = recorded.get(name)
    if want is None and RECORD:
        recorded[name] = want = facts
        with open(os.path.join(HERE, "inputs.json"), "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
            f.write("\n")
    if want is None:
        fail(f"input {name} has no recorded counts in perfbench/inputs.json")
    if facts != want:
        fail(f"input {name} differs from its recorded counts:\n got  {facts}\n want {want}")
    con = duckdb.connect()
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id"),
                       ("orders", "o_orderkey"), ("events", "event_id")):
        p = os.path.join(d, f"{table}.parquet")
        if os.path.exists(p):
            n, k = con.execute(f"SELECT count(*), count(DISTINCT {key}) FROM read_parquet('{p}')").fetchone()
            if n != k:
                fail(f"input {name}: {table}.{key} has {n - k} duplicate ids")


def staged(name, make):
    """Cached input directory `name`, made by `make(tmp_dir)` on first use
    and moved into place only once complete."""
    d = os.path.join(STATE, "inputs", name)
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        os.rename(tmp, d)
    return d


def fixture_dir(sf):
    import gen
    return staged(f"fixture_sf{sf}_g{FIXTURE_SEED}", lambda t: gen.fixture(t, sf, FIXTURE_SEED))


def llm_dir(cp, cores):
    base = fixture_dir(LLM_BASE_SF)
    name = f"scalegen_sf{LLM_BASE_SF}_x{LLM_REPLICAS}_g{FIXTURE_SEED}"

    def make(tmp):
        with scratch(f"scalegen-{os.getpid()}") as work:
            java(cp, work, ["scalegen", base, tmp, str(LLM_REPLICAS), str(cores)], 600)
    return staged(name, make)


def prepare(cp, cores):
    """Stage and check every query workload's inputs and oracle digests, so
    that only the first run in a checkout pays for them. Returns
    {workload: input directory}."""
    inputs = {w: fixture_dir(sf) for w, sf in QUERY_SF.items()}
    inputs["llm_curation"] = llm_dir(cp, cores)
    for d in set(inputs.values()) | {fixture_dir(WARM_SF)}:
        preflight(d)
    oracle_file = os.path.join(STATE, "expected", f"oracle-{source_stamp()[:16]}.json")
    if not os.path.exists(oracle_file):
        os.makedirs(os.path.dirname(oracle_file), exist_ok=True)
        with scratch(f"oracle-{os.getpid()}") as work:
            java(cp, work, ["oracle", oracle_file + ".tmp"], 120)
        os.replace(oracle_file + ".tmp", oracle_file)
    with open(oracle_file) as f:
        oracle = json.load(f)
    for w, sql in oracle.items():
        expected_digests(inputs[w], sql)
    return inputs


def etl_feeds(seed):
    import gen

    def make(tmp):
        counts = gen.etl_feeds(tmp, seed, ETL_FIRST_DAY, ETL_DAYS, per_day=ETL_PER_DAY)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(counts, f, sort_keys=True)
    d = staged(f"etl_s{seed}_d{ETL_DAYS}_n{ETL_PER_DAY}", make)
    etl_preflight(d)
    return d


def etl_preflight(d):
    """Feeds are seed-specific: check them against the generator's own
    manifest (every file present with its row count, no repeated scene
    keys)."""
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(d, "manifest.json")) as f:
        want = json.load(f)
    got = {}
    for sub in sorted(os.listdir(d)):
        p = os.path.join(d, sub)
        if os.path.isdir(p):
            for f in os.listdir(p):
                got[f] = pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
    if got != want:
        fail(f"etl feeds in {d} differ from their manifest")
    n, k = duckdb.connect().execute(
        f"SELECT count(*), count(DISTINCT (Sessionuid, Sceneuid)) "
        f"FROM read_parquet('{d}/IRMQ_*/*.parquet', union_by_name=true)").fetchone()
    if n != k:
        fail(f"etl feeds in {d}: {n - k} repeated scene keys")


# ------------------------------------------------------------------ run --

class scratch:
    """A per-run working directory, removed on exit."""

    def __init__(self, name):
        self.path = os.path.join(STATE, "runs", name)

    def __enter__(self):
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "warehouse", "local", "derby"):
            os.makedirs(os.path.join(self.path, sub))
        return self.path

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)


def java(cp, work, args, timeout):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}/derby",
            "-cp", cp, "graftbench.Main"] + args
    logf = os.path.join(work, "engine.log")
    with open(logf, "w") as out:
        rc = run_group(cmd, max(timeout, 10), cwd=work, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(logf) as f:
            tail = f.read()[-4000:]
        fail(f"engine process failed ({rc}):\n{tail}")


def expected_digests(tables_dir, oracle):
    """DuckDB oracle digests per op, cached per input and SQL text. An
    oracle that fails is retried on the next run, not cached."""
    import duckdb
    import digest
    path = os.path.join(STATE, "expected", f"{os.path.basename(tables_dir)}.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    con = None
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()
        if cache.get(name, {}).get("sql") == key and "digest" in cache[name]:
            continue
        if con is None:
            con = duckdb.connect()
            for t in table_facts(tables_dir):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        try:
            cache[name] = {"sql": key, "digest": digest.of_sql(con, sql)}
        except Exception as e:  # fails the op's check: named, not skipped
            cache[name] = {"sql": key, "error": str(e)[:300]}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump({k: v for k, v in cache.items() if "digest" in v}, f)
    os.replace(path + ".tmp", path)
    return cache


def check(result, expected):
    """Marks each op failed when it raised, when its digest differs from the
    oracle's, or when there is no oracle digest to compare with (no oracle
    SQL, or oracle SQL that DuckDB could not run)."""
    import digest
    for op in result["ops"]:
        if not op["ok"]:
            continue
        e = expected.get(op["name"], {"error": "no oracle SQL"})
        if "digest" not in e:
            op["ok"] = False
            op["error"] = f"no oracle digest: {e['error']}"
        elif not digest.same(op["digest"], e["digest"]):
            op["ok"] = False
            op["error"] = f"wrong output: engine {op['digest']} oracle {e['digest']}"


def self_test(result, expected):
    """The checker must reject a tampered output: flip one bit of a checked
    op's digest and drop one of its rows, and expect both to fail."""
    import digest
    ops = [op for op in result["ops"] if op["ok"] and "digest" in expected.get(op["name"], {})]
    if not ops:
        return True
    e = expected[ops[0]["name"]]["digest"]
    good = dict(ops[0]["digest"])
    bad_bit = dict(good, h1=good["h1"] ^ 1)
    bad_row = dict(good, rows=good["rows"] - 1)
    return digest.same(good, e) and not digest.same(bad_bit, e) and not digest.same(bad_row, e)


# -------------------------------------------------------------- metrics --

def tail(lat):
    """Highest op-latency percentile with at least ten samples beyond it,
    and that count; (max, 100, 0) when there are too few samples."""
    xs = sorted(lat)
    n = len(xs)
    if n < 11:
        return xs[-1], 100, 0
    k = n - 11  # xs[k] has ten samples above it
    return xs[k], 100 * (k + 1) // n, n - k - 1


def end_to_end(result):
    passes = result["passes"]
    lat = [op["lat_s"] for op in result["ops"]]
    value, pct, beyond = tail(lat)
    log(f"{len(lat)} ops in {len(passes)} passes; tail p{pct} = {value:.3f} s "
        f"with {beyond} samples beyond it (logged, not a bounded metric)")
    return {
        "setup_s": result["setup_s"],
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "op_p50_s": statistics.median(lat),
        "heap_retained_mb": statistics.median(p["heap_mb"] for p in passes),
    }


PER_LAYER = [
    ("GraftSession.create_s", "s"), ("SparkEntry.build_s", "s"),
    ("SparkEntry.build_jobs", "count"), ("SparkEntry.checkpoints", "count"),
    ("plans.analysis_ms", "ms"), ("plans.optimizer_ms", "ms"), ("plans.planning_ms", "ms"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.delay_ms", "ms"), ("sched.driver_only_ms", "ms"), ("sched.cores_busy_share", "ratio"),
    ("exec.s", "s"), ("task.run_ms", "ms"), ("task.cpu_ms", "ms"), ("task.gc_ms", "ms"),
    ("task.shuffle_read_bytes", "B"), ("task.shuffle_write_bytes", "B"),
    ("task.spill_bytes", "B"), ("task.input_bytes", "B"), ("task.output_bytes", "B"),
    ("functions.codegen_compiles", "count"),
    ("sources.files_listed", "count"), ("sources.files_read", "count"),
    ("sources.list_s", "s"), ("sources.sink_write_s", "s"), ("sources.rows_appended", "count"),
    ("sources.dup_share", "ratio"), ("sources.sink_files", "count"), ("sources.jdbc_s", "s"),
    ("sources.jdbc_rows", "count"), ("store_bytes_per_input_byte", "ratio"),
    ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_ms", "ms"), ("streaming.planning_ms", "ms"),
    ("streaming.input_rows", "count"),
    ("trace.overhead_s", "s"),
]


def per_layer(result):
    """Layer counters summed over the ops of each pass, median over passes;
    shares are recomputed from the summed parts."""
    cores = result["cores"]
    per_pass = []
    for p in result["passes"]:
        ops = [op for op in result["ops"] if op["pass"] == p["pass"]]
        s = {}
        for op in ops:
            for k, v in op["layer"].items():
                s[k] = s.get(k, 0.0) + v
        wall_ms = 1000 * sum(op["lat_s"] for op in ops)
        s["sched.cores_busy_share"] = s.get("task.run_ms", 0.0) / (cores * wall_ms)
        batch = s.pop("sources.batch_rows", 0.0)
        s["sources.dup_share"] = 1 - s.get("sources.rows_appended", 0.0) / batch if batch else 0.0
        if "sources.list_s" in s:
            s["sources.jdbc_rows"] = float(sum(op["digest"].get("rows", 0) for op in ops))
        batches = [b for op in ops for b in op["batch_ms"]]
        s["streaming.batch_ms_p50"] = statistics.median(batches) if batches else 0.0
        s["store_bytes_per_input_byte"] = (p["store_bytes"] / p["input_bytes"]
                                           if p.get("input_bytes") else 0.0)
        per_pass.append(s)
    m = {}
    for k, _ in PER_LAYER:
        vals = [s.get(k, 0.0) for s in per_pass]
        m[k] = statistics.median(vals) if vals else 0.0
    m["GraftSession.create_s"] = result["create_s"]
    m["trace.overhead_s"] = result["trace_overhead_s"]
    return m


def breakdown(result, layer):
    """Where a traced pass's wall time went, as shares of the ops' wall
    time (task shares sum over cores, so they can pass 1)."""
    wall = statistics.median(sum(op["lat_s"] for op in result["ops"] if op["pass"] == p["pass"])
                             for p in result["passes"])
    shares = {
        "task_cpu": layer["task.cpu_ms"] / 1000 / wall,
        "task_run": layer["task.run_ms"] / 1000 / wall,
        "SparkEntry.build": layer["SparkEntry.build_s"] / wall,
        "exec": layer["exec.s"] / wall,
        "sched.driver_only": layer["sched.driver_only_ms"] / 1000 / wall,
        "sched.in_jobs": 1 - layer["sched.driver_only_ms"] / 1000 / wall,
        "sched.cores_busy": layer["sched.cores_busy_share"],
        "plans": (layer["plans.analysis_ms"] + layer["plans.optimizer_ms"]
                  + layer["plans.planning_ms"]) / 1000 / wall,
        "sources.list": layer["sources.list_s"] / wall,
        "sources.sink_write": layer["sources.sink_write_s"] / wall,
        "sources.jdbc": layer["sources.jdbc_s"] / wall,
        "streaming.add_batch": layer["streaming.add_batch_ms"] / 1000 / wall,
    }
    # executor CPU in tasks against wall time with no job running
    dominant = ("task execution" if shares["task_cpu"] > shares["sched.driver_only"]
                else "per-job and driver time")
    return {"ops_wall_s": wall, "dominated_by": dominant,
            "traced_pass_s": statistics.median(p["pass_s"] for p in result["passes"]),
            "trace_overhead_s": layer["trace.overhead_s"],
            "shares_of_op_wall": {k: round(v, 4) for k, v in shares.items()}}


def write_trace(result, layer, args):
    d = os.path.join(STATE, "traces")
    os.makedirs(d, exist_ok=True)
    summary = {"workload": args.workload, "seed": args.seed, "cores": result["cores"],
               "heap": HEAP, "passes": len(result["passes"]),
               "ops": sorted({op["name"] for op in result["ops"]}),
               "breakdown": breakdown(result, layer), "per_layer": layer}
    base = os.path.join(d, f"{args.workload}-seed{args.seed}")
    with open(base + ".summary.json", "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")
    with open(base + ".json", "w") as f:
        json.dump(dict(summary, per_op=result["ops"], pass_facts=result["passes"],
                       spans=result["spans"]), f)
    log(f"trace written to {os.path.relpath(base, ROOT)}.json (summary: .summary.json)")


# ----------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-inputs", action="store_true",
                    help="record the counts of an input that has none yet")
    args = ap.parse_args()
    # stopped from outside: unwind, so child processes and scratch go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    global RECORD
    RECORD = args.record_inputs
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {os.path.basename(HERE)}/: run from a graft checkout", 2)

    cores = len(os.sched_getaffinity(0))
    cp = build()
    inputs = prepare(cp, cores)
    kv = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
          "trace": args.trace, "cores": cores}
    if args.workload == "etl_daily":
        import gen
        kv.update(feeds=etl_feeds(args.seed), countries=",".join(gen.COUNTRIES),
                  first_day=ETL_FIRST_DAY.isoformat(), days=ETL_DAYS)
    else:
        kv["inputs"] = inputs[args.workload]
    kv["warm"] = fixture_dir(WARM_SF)

    with scratch(f"{args.workload}-s{args.seed}-{os.getpid()}") as work:
        kv["work"] = work
        if args.workload == "etl_daily":
            import etl_model
            expected = etl_model.expected(kv["feeds"], kv["countries"].split(","),
                                          ETL_FIRST_DAY, ETL_DAYS, os.path.join(work, "etl"))
        kv["out"] = os.path.join(work, "result.json")
        java(cp, work, ["run"] + [f"{k}={v}" for k, v in kv.items()],
             RUN_ALLOWANCE_S + (2 + 2 * args.trace) * args.seconds)
        with open(kv["out"]) as f:
            result = json.load(f)
        shutil.copy(kv["out"], os.path.join(STATE, f"last-{args.workload}.json"))

    if args.workload != "etl_daily":
        expected = expected_digests(kv["inputs"], result["oracle"])
    check(result, expected)
    tested = self_test(result, expected)
    failed = [op for op in result["ops"] if not op["ok"]]
    for op in failed[:20]:
        log(f"op {op['name']} (pass {op['pass']}) failed: {op['error']}")
    if not tested:
        log("checker self-test failed: a tampered digest was accepted")

    if args.trace:
        metrics = per_layer(result)
        units = dict(PER_LAYER)
        write_trace(result, metrics, args)
    else:
        metrics = end_to_end(result)
        units = UNITS
    print(json.dumps({
        "correct": not failed and tested,
        "attempted": len(result["ops"]),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
