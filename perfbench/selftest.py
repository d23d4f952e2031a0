#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 (about three minutes on 4 cores).

    python3 perfbench/selftest.py

1. Runs a few ops of each workload through the command line, with
   ``--trace 0`` and ``--trace 1``, and asserts that the last stdout line
   is the result object, correct, with every metric ``BENCHMARK.json``
   names and the unit it gives.
2. Feeds a deliberately wrong expected output to each workload and
   asserts that exactly the op it belongs to counts as failed.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import run

def cli(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--selftest"]
    proc = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(spec: dict) -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, mine in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        named = {m["name"]: m["unit"] for m in bench[key]}
        assert named == mine, f"{key}: BENCHMARK.json {named} != run.py {mine}"
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(spec)
    for workload in spec:
        for trace, want in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            res = cli(workload, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0, res
            assert res["attempted"] >= 1, res
            got = {k: m["unit"] for k, m in res["metrics"].items()}
            assert got == want, f"{workload} trace {trace}: {got} != {want}"
            assert all(isinstance(m["value"], float) for m in res["metrics"].values())
            print(f"ok  {workload} --trace {trace}: {len(got)} metrics, "
                  f"{res['attempted']} ops", flush=True)


class WrongOracle:
    """The real oracle, except that one query's expected rows lose a row."""

    def __init__(self, oracle, sql: str):
        self.oracle, self.sql = oracle, sql

    def query(self, sql: str, cache: bool = True):
        cols, rows = self.oracle.query(sql, cache=cache)
        return (cols, rows[1:]) if sql == self.sql else (cols, rows)


def check_wrong_output() -> None:
    import checks
    import datagen
    import workloads

    run.configure_env(run.nproc())
    sf_dir = datagen.ensure(run.DATA_DIR, run.SELFTEST_SF)
    oracle = checks.Oracle(sf_dir, os.path.join(run.DATA_DIR, "oracle"))

    from hobbes_spark.queries import QUERIES
    from hobbes_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # catalog_mix: the query's warm-pass check fails, so its timed op does
        cat = workloads.CatalogMix()
        cat.limit = 2
        target = sorted(n for n, s in QUERIES.items() if s.bench and s.oracle)[0]
        ctx = workloads.Context(spark, sf_dir, WrongOracle(oracle, QUERIES[target].oracle),
                                os.path.join(run.WORK_DIR, "selftest"), run.nproc())
        cat.prepare(ctx)
        rec = run.Recorder()
        cat.warm(ctx, rec, random.Random(1))
        cat.check_warm(ctx, rec)
        cat.run_pass(ctx, rec, random.Random(1))
        assert [n for n, _ in rec.failures] == [target], rec.failures
        assert rec.attempted == 2, rec.attempted
        print(f"ok  catalog_mix: wrong expected rows for {target} -> 1 failed op of 2")

        # sync_cycle: one calculator request is checked against a wrong oracle
        sync = workloads.SyncCycle()
        ctx.oracle = WrongOracle(oracle, QUERIES["hb_mttr"].oracle)
        sync.prepare(ctx)
        rec = run.Recorder()
        sync.run_pass(ctx, rec, random.Random(1))
        sync.close()
        assert [n for n, _ in rec.failures] == ["hb:mttr"], rec.failures
        assert not rec.step_failures, rec.step_failures
        print(f"ok  sync_cycle: wrong expected rows for hb:mttr -> 1 failed op "
              f"of {rec.attempted}")
    finally:
        oracle.close()
        run.stop(spark)


def main() -> int:
    sys.path.insert(0, run.ROOT)
    import workloads

    check_metrics(workloads.WORKLOADS)
    check_wrong_output()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
