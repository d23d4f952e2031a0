#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_mix|sync_cycle \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates its tables under
``perfbench/.data`` (once), starts ``local[nproc]`` Spark, runs one
untimed warm pass of every distinct op, then a timed window of whole
passes. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs
the same window three times, untraced, traced and untraced, and prints
the per-layer metrics. The last stdout line is one JSON object; a readable
summary goes to stderr and the full record to ``perfbench/.work/records``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, ".data")
WORK_DIR = os.path.join(HERE, ".work")

SELFTEST_SF, SELFTEST_OPS = 0.001, 3
END_TO_END = {
    "setup_s": "s",
    "throughput_ops_s": "1/s",
    "latency_p50_s": "s",
}
PER_LAYER = {
    "hb.parser.s": "s", "hb.compiler.s": "s", "hb.providers.s": "s",
    "pipeline.construct_s": "s", "pipeline.construct_jobs": "count",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "spark.analysis_s": "s", "spark.optimization_s": "s", "spark.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sched_overhead_s": "s", "spark.exec_wall_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_memory_bytes": "bytes",
    "spark.spill_disk_bytes": "bytes", "spark.python_data_sent_bytes": "bytes",
    "spark.python_data_received_bytes": "bytes", "spark.broadcast_collect_s": "s",
    "sources.sinks.s": "s", "sources.sinks.rows": "count",
    "sources.sinks.json_bytes": "bytes",
    "sources.odata_serve.s": "s", "sources.odata_serve.rows": "count",
    "sources.odata_serve.jobs": "count",
    "sync.cold_s": "s", "sync.warm_s": "s", "sync.cache_hit_ratio": "ratio",
    "sync.nodes_done": "count", "sync.nodes_failed": "count", "sync.retries": "count",
    "sync.node_overlap": "ratio", "sync.cache_bytes_written": "bytes",
    "sync.read_cached_s": "s",
    "ops_failed_ratio": "ratio", "driver_rss_peak_mb": "MB",
    "trace.overhead_ratio": "ratio", "trace.unaccounted_s": "s",
}


class Recorder:
    """Times requests and steps of one window; checks outputs after the
    clock stops; counts failed and wrong ops by name."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.latencies: list[float] = []
        self.log: list[tuple[str, float]] = []  # (name, seconds) of every timed call
        self.window_s = 0.0
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []  # ops: failed or wrong
        self.step_failures: list[tuple[str, str]] = []  # everything else
        self.steps: dict[str, list[float]] = {}
        self._next_op = 0

    def _timed(self, name: str, kind: str, fn):
        op = self._next_op
        self._next_op += 1
        if self.tracer is not None:
            self.tracer.begin_op(op, name, kind)
        err = out = None
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            err = f"{type(e).__name__}: {e}"[:300]
        dt = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.end_op(op, dt, err is None)
        self.window_s += dt
        self.log.append((name, dt))
        return out, err, dt

    def op(self, name: str, fn, check) -> None:
        """One request: timed, then its output checked."""
        out, err, dt = self._timed(name, "serve", fn)
        self.attempted += 1
        if err is None:
            try:
                err = check(out)
            except Exception as e:  # noqa: BLE001 - a crashing check is a failure
                err = f"check raised {type(e).__name__}: {e}"[:300]
        if err:
            self.failures.append((name, err))
        else:
            self.latencies.append(dt)

    def step(self, name: str, fn):
        """Timed work inside the window that is not a request (a sync)."""
        out, err, dt = self._timed(name, name, fn)
        self.steps.setdefault(name, []).append(dt)
        if err:
            self.note_failure(name, err)
        return out

    def note_failure(self, name: str, why: str) -> None:
        self.step_failures.append((name, why))

    def annotate(self, **attrs) -> None:
        """Counts for the last op of a traced window."""
        if self.tracer is not None:
            self.tracer.ops[self._next_op - 1].update(attrs)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(cpus: int) -> None:
    """Spark settings that must precede JVM start: parallelism, scratch
    dirs inside the checkout, and a status store large enough to keep
    every job of a traced window."""
    local = os.path.join(WORK_DIR, "spark-local")
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def rss_peak_mb(spark) -> float:
    """Peak resident set of this process plus the JVM it launched."""

    def hwm(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    jvm = spark.sparkContext._gateway.proc.pid
    return (hwm("self") + hwm(jvm)) / 1024.0


def settle_jit(spark, quiet_ms: float = 20.0, poll_s: float = 0.5,
               limit_s: float = 20.0) -> None:
    """Wait until the JVM's JIT compilers go quiet (less than ``quiet_ms``
    of compile time per ``poll_s``), so methods the warm pass queued for
    compilation are compiled before the window, not during it; then
    collect the heap."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    last = bean.getTotalCompilationTime()
    deadline = time.perf_counter() + limit_s
    while time.perf_counter() < deadline:
        time.sleep(poll_s)
        now = bean.getTotalCompilationTime()
        if now - last < quiet_ms:
            break
        last = now
    spark._jvm.java.lang.System.gc()  # every window starts from a collected heap


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit: the JVM leaves when its
    stdin, held by this process, closes."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def host_calibration(spark) -> dict:
    """The frozen host-speed probes of ``bench.py`` (same work, best of 3
    after one warm call). Context only: no metric or bound uses them."""

    def cpu_probe() -> int:
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        return acc

    def spark_probe() -> None:
        spark.range(0, 5_000_000, 1, 8).selectExpr(
            "sum(id % 1009) as s"
        ).write.format("noop").mode("overwrite").save()

    out = {}
    for key, fn in (("cpu_loop_sec", cpu_probe), ("spark_job_sec", spark_probe)):
        fn()
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
        out[key] = round(min(samples), 4)
    return out


def window(wl, ctx, passes: int, seed: int, tracer=None) -> Recorder:
    rec = Recorder(tracer)
    rng = random.Random(seed)
    for _ in range(passes):
        wl.run_pass(ctx, rec, rng)
    return rec


def hd_median(xs: list[float], per: int = 64) -> float:
    """Harrell-Davis estimate of the median: the order statistics weighted
    by a Beta((n+1)/2, (n+1)/2) density (integrated numerically, ``per``
    steps per sample). A pass is a fixed mix of different requests, so the
    middle sample alone jumps between neighbouring requests from run to
    run; on catalog_mix this estimate spreads 0.07 where it spreads 0.16
    (interquartile range over median, ten seeds)."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    a = (n + 1) / 2
    cum, acc = [0.0], 0.0
    for i in range(per * n):
        t = (i + 0.5) / (per * n)
        acc += (t * (1 - t)) ** (a - 1)
        cum.append(acc)
    return sum((cum[(i + 1) * per] - cum[i * per]) / acc * x for i, x in enumerate(xs))


def summary(rec: Recorder) -> dict:
    lat = sorted(rec.latencies)
    out = {"n": len(lat), "window_s": rec.window_s,
           "throughput_ops_s": len(lat) / rec.window_s if rec.window_s else 0.0,
           "latency_p50_s": hd_median(lat),
           "latency_sample_median_s": statistics.median(lat) if lat else 0.0}
    # a percentile is reported only with at least ten samples beyond it
    if len(lat) >= 100:
        out["latency_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help=f"sf{SELFTEST_SF}, one pass, catalog_mix on its first "
                         f"{SELFTEST_OPS} queries")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import hobbes_spark.queries  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2

    import checks
    import datagen
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    sf, passes = wl.sf, max(1, round(args.seconds / wl.pass_s))
    if args.selftest:
        sf, passes, wl.limit = SELFTEST_SF, 1, SELFTEST_OPS
    cpus = nproc()
    configure_env(cpus)
    sf_dir = datagen.ensure(DATA_DIR, sf)
    oracle = checks.Oracle(sf_dir, os.path.join(DATA_DIR, "oracle"))

    from hobbes_spark.session import get_spark

    phases = {"import_data": time.perf_counter() - T_START}
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = phases["spark_start"] = time.perf_counter() - t0
    try:
        ctx = workloads.Context(spark, sf_dir, oracle,
                                os.path.join(WORK_DIR, "sync"), cpus)
        wl.prepare(ctx)  # oracles and request set-up: not part of setup_s
        phases["prepare"] = time.perf_counter() - t0 - start_s
        t1 = time.perf_counter()
        warm = Recorder()
        wl.warm(ctx, warm, random.Random(args.seed))
        settle_jit(spark)
        phases["warm"] = time.perf_counter() - t1
        setup_s = start_s + phases["warm"]
        wl.check_warm(ctx, warm)

        t1 = time.perf_counter()
        rec = window(wl, ctx, passes, args.seed)
        phases["window"] = time.perf_counter() - t1
        record = {"workload": wl.name, "seed": args.seed, "sf": sf, "cpus": cpus,
                  "passes": passes, "spark_start_s": start_s, "setup_s": setup_s,
                  "untraced": summary(rec), "steps": rec.steps, "log": rec.log}
        failures = rec.failures
        step_failures = rec.step_failures
        attempted = rec.attempted
        if args.trace:
            t1 = time.perf_counter()
            tracer = spans.Tracer(spark)
            ctx.tracer = tracer
            with spans.Installed(tracer):
                traced = window(wl, ctx, passes, args.seed, tracer)
            ctx.tracer = None
            # untraced again, for the overhead ratio: the first window still
            # carries warm-up (sync_cycle's calculator requests run ~20%
            # slower in it than in any later one), so it is not the baseline
            after = window(wl, ctx, passes, args.seed)
            layer, drill = spans.per_layer(tracer, spans.fetch_status(spark), wl.name)
            phases["traced"] = time.perf_counter() - t1
            record["traced"] = summary(traced)
            record["untraced_after"] = summary(after)
            base = record["untraced_after"]["throughput_ops_s"]
            layer["trace.overhead_ratio"] = (
                record["traced"]["throughput_ops_s"] / base if base else 0.0)
            for r in (traced, after):
                failures = failures + r.failures
                step_failures = step_failures + r.step_failures
                attempted += r.attempted
            record["trace"] = drill
        rss = rss_peak_mb(spark)
        t1 = time.perf_counter()
        record["host_calibration"] = host_calibration(spark)
        phases["calibration"] = time.perf_counter() - t1
    finally:
        oracle.close()
        wl.close()
        t1 = time.perf_counter()
        stop(spark)
        phases["stop"] = time.perf_counter() - t1
    record["phases_s"] = phases

    ratio = len(failures) / attempted if attempted else 1.0
    record.update(attempted=attempted, failed=len(failures), failures=failures,
                  step_failures=step_failures, warm_failures=warm.failures
                  + warm.step_failures, driver_rss_peak_mb=rss,
                  ops_failed_ratio=ratio)
    if args.trace:
        layer["ops_failed_ratio"] = ratio
        layer["driver_rss_peak_mb"] = rss
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, **record["untraced"]}
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    record["metrics"] = metrics
    os.makedirs(os.path.join(WORK_DIR, "records"), exist_ok=True)
    path = os.path.join(WORK_DIR, "records",
                        f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    n = record["untraced"]["n"]
    print(f"perfbench {wl.name} seed={args.seed} sf={sf} passes={passes} "
          f"n={n} record={os.path.relpath(path, ROOT)}", file=sys.stderr)
    for k, m in metrics.items():
        print(f"  {k:34s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"  ops_failed_ratio                   {ratio:.6g} "
          f"({len(failures)}/{attempted})", file=sys.stderr)
    for name, why in failures + step_failures:
        print(f"  FAILED {name}: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures and not step_failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
