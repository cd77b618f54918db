#!/usr/bin/env python3
"""Benchmark of the location-summary engine: one workload per run.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from the checkout's sources with sbt
(once per source digest), runs the workload in one JVM, checks every timed
op's output against the DuckDB oracle over the same fixture, and prints as
its last stdout line one JSON object with `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`). The line before it is the run record: metadata, every op's
time, every failed op with its exception class and message, and the
end-to-end metrics (in a traced run, measured with tracing on: the
difference from an untraced run is the tracing overhead).

The fixture directory is `SPARK_GRAFT_SF_DIR` (the engine's own setting),
by default `testdata/sf0.1` in the home directory. Everything the run
writes goes to a per-run directory under `.perfbench-run/` in the
checkout, deleted at exit.
"""
import argparse
import ctypes
import datetime
import decimal
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
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench-run")
BUILD_RECORD = os.path.join(HERE, "target", "perfbench-build.json")
ORACLE_CACHE = os.path.join(HERE, "target", "oracle-fingerprints.json")

WORKLOADS = ("flagship_nightly", "registry_heavy", "registry_light")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

END_TO_END = {
    "setup_s": "s",
    "total_s": "s",
    "op_p50_s": "s",
    "cold_s": "s",
    "retained_heap_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "sources.warm_s": "s",
    "artifacts.build_s": "s", "artifacts.bytes": "bytes",
    "registry.build_s": "s", "registry.eager_jobs": "count",
    "pipeline.build_s": "s", "pipeline.write_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.exchanges": "count",
    "catalyst.reused_exchanges": "count", "catalyst.scans": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.deser_s": "s", "exec.driver_s": "s", "exec.run_s": "s",
    "exec.cpu_s": "s", "exec.busy_frac": "ratio",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.gc_s": "s",
    "cache.persisted_rdds": "count", "cache.storage_bytes": "bytes",
    "sources.input_bytes": "bytes", "sources.input_rows": "count",
    "sources.output_bytes": "bytes", "sources.output_files": "count",
}
# Per-layer metrics of the set-up rather than of the timed ops.
SETUP_LAYERS = ("session.start_s", "sources.warm_s", "artifacts.build_s", "artifacts.bytes")

# JDK 17 module opens Spark needs outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def fixture_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    return os.path.abspath(d)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            for f in files if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles engine + harness with sbt unless this source digest is built.
    Returns (classpath, source digest)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"no engine sources next to the benchmark (expected build.sbt and "
             f"src/main under {ROOT})")
    digest = source_digest()
    if os.path.isfile(BUILD_RECORD):
        with open(BUILD_RECORD) as f:
            rec = json.load(f)
        if rec.get("digest") == digest:
            return rec["classpath"], digest
    log("building engine and harness with sbt")
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S, text=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"sbt build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"sbt build failed with exit code {p.returncode}")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD_RECORD), exist_ok=True)
    with open(BUILD_RECORD, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath, digest


def driver_heap_gb():
    """The tier-1 formula: half the machine's memory, clamped to 2..8 GB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(2, min(8, total // 2 ** 31))


def nproc():
    return len(os.sched_getaffinity(0))


def remove_stale_runs():
    if not os.path.isdir(RUNS):
        return
    for d in os.listdir(RUNS):
        pid = d.split("-")[0]
        try:
            os.kill(int(pid), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(RUNS, d), ignore_errors=True)
        except PermissionError:
            pass


def die_with_parent():
    """Linux: the JVM gets SIGKILL if this runner is killed outright."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except (OSError, AttributeError):
        pass


def run_jvm(classpath, workload, seed, seconds, trace, sf, work):
    """Runs the harness in one JVM; returns its result record."""
    for sub in ("tmp", "derby", "scratch", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{driver_heap_gb()}g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            "-cp", classpath, "graft.perfbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cpus", str(nproc()),
            "--sf", sf, "--work", work, "--out", out]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=lf,
                                start_new_session=True, preexec_fn=die_with_parent)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.isfile(out):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail("harness timed out" if rc is None else f"harness exited with code {rc}")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- checking

def canon(v):
    """A value in a form that compares equal across Spark's parquet output
    and DuckDB's oracle result (numeric type and timestamp zone differences
    are representation, not answer)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else canon(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 2 ** 63:
            return int(v)
        return repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    return str(v)


def fingerprint(rel):
    """Order-insensitive fingerprint of a DuckDB relation: sorted column
    names, row count, and the sum of per-row hashes mod 2^64."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    n, acc = 0, 0
    for row in rel.fetchall():
        key = repr(tuple(canon(row[i]) for i in order)).encode()
        acc = (acc + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")) % 2 ** 64
        n += 1
    return [sorted(cols), n, acc]


def connect(sf):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {nproc()}")
    con.execute("SET memory_limit = '2GB'")
    for t in TABLES:
        path = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def flagship_sql(template, region):
    anchor = "r_name = 'EUROPE'"
    if template.count(anchor) != 1:
        raise ValueError("flagship oracle no longer has exactly one region filter")
    return template.replace(anchor, "r_name = '%s'" % region.replace("'", "''"))


def fixture_digest(sf):
    h = hashlib.sha256(sf.encode())
    for t in TABLES:
        st = os.stat(os.path.join(sf, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def oracle_fingerprints(result, con, sf):
    """Fingerprints of every workload's oracle queries, keyed by SQL text.
    They depend only on the SQL and the fixture, so they are kept in the
    build directory and computed in the first run of a checkout (some
    oracles take minutes in DuckDB)."""
    sqls = [s for k, s in result["oracles"].items() if k != "flagship" and s]
    sqls += [flagship_sql(result["oracles"]["flagship"], r) for r in result["regions"]]
    fx = fixture_digest(sf)
    cache = {}
    if os.path.isfile(ORACLE_CACHE):
        with open(ORACLE_CACHE) as f:
            cache = json.load(f)
    key = lambda sql: fx + ":" + hashlib.sha256(sql.encode()).hexdigest()
    missing = [s for s in sqls if key(s) not in cache]
    if missing:
        log(f"computing {len(missing)} oracle fingerprints")
        for sql in missing:
            try:
                cache[key(sql)] = fingerprint(con.sql(sql))
            except Exception as e:  # reported per op by check()
                log(f"oracle failed: {type(e).__name__}: {e}")
        os.makedirs(os.path.dirname(ORACLE_CACHE), exist_ok=True)
        with open(ORACLE_CACHE + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(ORACLE_CACHE + ".tmp", ORACLE_CACHE)
    return {s: cache[key(s)] for s in sqls if key(s) in cache}


def check(result, con, expected):
    """Checks every op against the oracle. `expected` caches oracle
    fingerprints by SQL text. Returns the failed ops, each with its name,
    pass, exception class and message."""
    oracles = result["oracles"]
    failures = []
    for i, op in enumerate(result["ops"]):
        name = op["name"]
        def failed(cls, msg):
            failures.append({"op": i, "name": name, "pass": op["pass"],
                             "error_class": cls, "error": msg})
        if op["error_class"]:
            failed(op["error_class"], op["error"])
            continue
        if name.startswith("flagship:"):
            sql = flagship_sql(oracles["flagship"], name.split(":", 1)[1])
        else:
            sql = oracles.get(name, "")
        if not sql:
            failed("NoOracle", "no oracle SQL registered")
            continue
        try:
            if sql not in expected:
                expected[sql] = fingerprint(con.sql(sql))
            want = expected[sql]
            if op["rows"] >= 0 and op["rows"] != want[1]:
                failed("RowCountMismatch", f"count() gave {op['rows']}, oracle {want[1]}")
                continue
            if op["check_files"]:
                got = fingerprint(con.sql("SELECT * FROM read_parquet([%s])" % ",".join(
                    f"'{f}'" for f in op["check_files"])))
                if got != want:
                    failed("FingerprintMismatch",
                           f"output {got[1]} rows {got[0]} hash {got[2]}, "
                           f"oracle {want[1]} rows {want[0]} hash {want[2]}")
        except Exception as e:  # a broken oracle or output is a failed op
            failed(type(e).__name__, str(e))
    return failures


# ----------------------------------------------------------------- metrics

def end_to_end(result):
    """End-to-end metrics over the ops that ran to completion (an op whose
    output mismatched still counts as failed, but its time was measured)."""
    ops = [(i, o) for i, o in enumerate(result["ops"]) if not o["error_class"]]
    warm = [o["seconds"] for i, o in ops if i > 0]
    first_pass = [o["seconds"] for i, o in ops if o["pass"] == 0]
    return {
        "setup_s": result["setup"]["setup_s"],
        "total_s": sum(first_pass) if first_pass else None,
        "op_p50_s": statistics.median(warm) if warm else None,
        "cold_s": ops[0][1]["seconds"] if ops and ops[0][0] == 0 else None,
        "retained_heap_mb": result["retained_heap_mb"],
    }


def per_layer(result):
    return dict(result["layers"], **{k: result["setup"][k] for k in SETUP_LAYERS})


def git_state():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None, None
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=20)
        if sha.returncode != 0:
            return None, None
        st = subprocess.run(["git", "-C", ROOT, "status", "--porcelain"],
                            capture_output=True, text=True, timeout=20)
        return sha.stdout.strip(), bool(st.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        return None, None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    classpath, digest = build()
    sf = fixture_dir()
    if not all(os.path.isfile(os.path.join(sf, f"{t}.parquet")) for t in TABLES):
        fail(f"fixture tables missing under {sf}")

    remove_stale_runs()
    work = os.path.join(RUNS, f"{os.getpid()}-{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        result = run_jvm(classpath, args.workload, args.seed, args.seconds,
                         args.trace == 1, sf, work)
        t0 = time.time()
        con = connect(sf)
        failures = check(result, con, oracle_fingerprints(result, con, sf))
        check_s = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass

    failed_ops = {f["op"] for f in failures}
    attempted = len(result["ops"])
    e2e = end_to_end(result)
    sha, dirty = git_state()
    record = dict(result["meta"], git_sha=sha, git_dirty=dirty, source_digest=digest,
                  ops_wall_s=sum(o["seconds"] for o in result["ops"]), check_s=check_s,
                  failed_frac=len(failed_ops) / attempted, failures=failures,
                  ops=[[o["name"], round(o["seconds"], 4), round(o["build_s"], 4)]
                       for o in result["ops"]],
                  end_to_end=e2e)
    if args.trace == 1:
        metrics = {k: (per_layer(result)[k], u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    print(json.dumps({"perfbench_run": record}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
