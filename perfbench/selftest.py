#!/usr/bin/env python3
"""Fast self-test of the benchmark on the sf0.001 fixture.

Usage (from the repository root):
    python3 perfbench/selftest.py

Asserts that every workload prints every end-to-end and every per-layer
metric with its unit (ops that fail their check are listed, not hidden),
and that a deliberately wrong expected fingerprint is reported as a failed
op with its reason.
"""
import json
import os
import shutil
import subprocess
import sys

import run

SF = os.path.join(os.path.dirname(run.fixture_dir()), "sf0.001")


def bench(workload, trace):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF)
    p = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=run.ROOT, env=env, stdout=subprocess.PIPE, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["perfbench_run"], json.loads(lines[-1])


def test_metrics_printed():
    for workload in run.WORKLOADS:
        for trace, expected in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            record, out = bench(workload, trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
            assert out["attempted"] >= 1
            assert out["correct"] == (out["failed"] == 0 == len(record["failures"]))
            assert set(out["metrics"]) == set(expected), sorted(out["metrics"])
            for name, unit in expected.items():
                m = out["metrics"][name]
                assert m["unit"] == unit, (workload, name, m)
                assert isinstance(m["value"], (int, float)), (workload, name, m)
            for key in ("git_sha", "source_digest", "nproc", "driver_heap_mb", "sf_dir",
                        "seed", "list_digest", "spark_version", "jvm_version"):
                assert key in record, key
            print(f"ok  {workload} trace={trace}: {len(expected)} metrics, "
                  f"{out['attempted']} ops, {out['failed']} failed")
            for f in record["failures"]:
                print(f"    failed op {f['name']}: {f['error_class']}: {f['error'][:160]}")


def test_wrong_fingerprint_fails():
    classpath, _ = run.build()
    work = os.path.join(run.RUNS, f"{os.getpid()}-selftest")
    os.makedirs(work, exist_ok=True)
    try:
        result = run.run_jvm(classpath, "flagship_nightly", 7, 1, False, SF, work)
        con = run.connect(SF)
        before = {f["op"] for f in run.check(result, con, {})}
        i, op = next((i, o) for i, o in enumerate(result["ops"]) if i not in before)
        sql = run.flagship_sql(result["oracles"]["flagship"], op["name"].split(":", 1)[1])
        right = run.fingerprint(con.sql(sql))
        wrong = [right[0], right[1], (right[2] + 1) % 2 ** 64]
        failures = run.check(result, con, {sql: wrong})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    new = [f for f in failures if f["op"] not in before]
    assert any(f["op"] == i for f in new), failures
    assert all(f["error_class"] == "FingerprintMismatch" and f["name"] == op["name"]
               for f in new), new
    print(f"ok  wrong expected fingerprint reported for {op['name']}: {new[0]['error'][:120]}")


if __name__ == "__main__":
    test_wrong_fingerprint_fails()
    test_metrics_printed()
    print("selftest passed")
