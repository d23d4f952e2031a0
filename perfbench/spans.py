"""Spans around the calls into each layer, and Spark's own accounting.

The traced run wraps the public functions of the layers the workloads
touch (``hb.parser``, ``hb.compiler``, ``hb.providers``, the compiled
pipeline closure, ``sources.sinks``, ``sources.odata_serve``, ``sync``)
with spans kept in memory. Each span also sets the Spark job group
``pb|<op>|<span>`` on its thread, so every job, stage and SQL execution
read back from the status REST API (``/jobs``, ``/stages``,
``/sql?details=true`` at ``uiWebUrl``) is attributed to one op and one
span. Nothing in the program is changed: the wrappers are installed on
the module attributes for the traced window and removed afterwards.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import re
import statistics
import threading
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

GROUP_PREFIX = "pb|"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. One op runs at a time (closed loop), but
    an op may fan out to threads (``sync``'s DAG pool), so the parent of
    a span opened on a worker thread is the op thread's innermost span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: dict[int, dict] = {}
        self.op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, sid) -> None:
        self.sc.setJobGroup(f"{GROUP_PREFIX}{self.op}|{sid}", "perfbench")

    def begin_op(self, op_id: int, name: str, kind: str) -> None:
        self.op = op_id
        self.ops[op_id] = {"name": name, "kind": kind, "start": time.perf_counter()}
        self._local.stack = self._op_stack = []
        self._set_group("-")

    def end_op(self, op_id: int, latency: float, ok: bool) -> None:
        self.ops[op_id].update(latency=latency, ok=ok)
        self.op = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` with a span around every call; ``on_result(span, result)``
        may record counts measured at the same boundary."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op is None:
                return fn(*args, **kwargs)
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if on_result is not None:  # outside the span's interval
                on_result(sp, out)
            return out

        return traced


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        t = self.t
        stack = t._stack()
        parent = stack[-1] if stack else (t._op_stack[-1] if t._op_stack else None)
        with t._lock:
            sp = Span(len(t.spans), self.name, time.perf_counter(),
                      parent=parent.sid if parent else None, op=t.op,
                      attrs=dict(self.attrs))
            t.spans.append(sp)
        stack.append(sp)
        t._set_group(sp.sid)
        self.sp = sp
        return sp

    def __exit__(self, *exc) -> None:
        t = self.t
        self.sp.end = time.perf_counter()
        stack = t._stack()
        stack.pop()
        if stack:
            t._set_group(stack[-1].sid)
        elif t.op is not None:
            t._set_group("-")


# --------------------------------------------------------------------- #
# wrappers on the program's public functions
# --------------------------------------------------------------------- #

def _patch_targets():
    import hobbes_spark.hb as hb
    import hobbes_spark.hb.compiler as compiler
    import hobbes_spark.hb.parser as parser
    import hobbes_spark.hb.providers as providers
    import hobbes_spark.sources.odata_serve as odata_serve
    import hobbes_spark.sources.sinks as sinks
    import hobbes_spark.sync as sync

    return {
        "hb.parser": (parser.parse_program, [(parser, "parse_program"),
                                            (compiler, "parse_program"),
                                            (hb, "parse_program")]),
        "hb.compiler": (compiler.compile_hb, [(compiler, "compile_hb"),
                                             (hb, "compile_hb")]),
        "hb.providers": (providers.run_hb_program, [(providers, "run_hb_program"),
                                                   (hb, "run_hb_program")]),
        "sources.sinks": (sinks.to_data_result_json, [(sinks, "to_data_result_json")]),
        "sources.odata_serve": (odata_serve.odata_response,
                                [(odata_serve, "odata_response")]),
        "sync.read_cached": (sync.read_cached, [(sync, "read_cached")]),
        "sync": (sync.sync_configurations, [(sync, "sync_configurations")]),
    }


def _sinks_counts(sp: Span, out: str) -> None:
    sp.attrs["json_bytes"] = len(out)
    sp.attrs["rows"] = int(out[out.rfind(":") + 1:-1])  # '..., "rowCount": N}'


def _odata_counts(sp: Span, out: dict) -> None:
    sp.attrs["rows"] = len(out.get("value", ()))


def _sync_counts(sp: Span, rep) -> None:
    statuses = list(rep.statuses.values())
    busy = sum(e - s for s, e in rep.timings.values())
    sp.attrs.update(
        nodes=len(statuses),
        done=statuses.count("done"),
        cached=statuses.count("cached"),
        failed=statuses.count("failed") + statuses.count("blocked"),
        retries=len(rep.failures),
        node_overlap=busy / rep.elapsed_sec if rep.elapsed_sec > 0 else 0.0,
    )


def _compiled(tracer: Tracer, fn):
    """``compile_hb`` returns ``(program, closure)``; the closure is the
    pipeline layer's entry point, so it gets its own span."""

    def compile_traced(*args, **kwargs):
        prog, run = fn(*args, **kwargs)
        return prog, tracer.wrap("pipeline.construct", run)

    return functools.wraps(fn)(compile_traced)


class Installed:
    """Context manager installing every wrapper for the traced window."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.saved: list[tuple] = []

    def __enter__(self):
        hooks = {"sources.sinks": _sinks_counts,
                 "sources.odata_serve": _odata_counts,
                 "sync": _sync_counts}
        for name, (fn, sites) in _patch_targets().items():
            base = _compiled(self.tracer, fn) if name == "hb.compiler" else fn
            traced = self.tracer.wrap(name, base, hooks.get(name))
            for mod, attr in sites:
                self.saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, traced)
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in reversed(self.saved):
            setattr(mod, attr, orig)
        self.saved.clear()


def plan_phases(df) -> dict:
    """Force Catalyst on ``df``'s own QueryExecution and read its
    planning tracker (analysis / optimization / planning, seconds)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


# --------------------------------------------------------------------- #
# Spark status REST API
# --------------------------------------------------------------------- #

def _ts(s: str | None) -> float | None:
    if not s:
        return None
    d = _dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=_dt.timezone.utc).timestamp()


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> tuple[float, str]:
    """A SQL metric's display string → (number, kind) where kind is
    ``time`` (seconds), ``bytes`` or ``count``. Aggregated metrics read
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    s = text.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([-0-9.,]+)\s*([A-Za-z]*)", s)
    if not m:
        return 0.0, "count"
    num = float(m.group(1).replace(",", "") or 0)
    unit = m.group(2)
    if unit in ("B", "KiB", "MiB", "GiB", "TiB"):
        return num * _UNITS[unit], "bytes"
    if unit in ("ns", "ms", "s", "m", "h"):
        return num * _UNITS[unit], "time"
    return num, "count"


def _union(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def fetch_status(spark) -> dict:
    """Read /jobs, /stages (with a max-task-duration summary) and /sql
    from the live UI after the listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    parts = urllib.parse.urlsplit(sc.uiWebUrl)
    base = (f"http://127.0.0.1:{parts.port}/api/v1/applications/"
            f"{sc.applicationId}")

    def get(path):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.load(r)

    return {
        "jobs": get("/jobs"),
        "stages": get("/stages?withSummaries=true&quantiles=1.0"),
        "sql": get("/sql?details=true&planDescription=false&offset=0&length=1000000"),
    }


def attribute(status: dict) -> dict:
    """Per op: its jobs, the stages those jobs ran, its SQL executions."""
    ops: dict[int, dict] = {}
    job_of: dict[int, tuple] = {}
    for j in status["jobs"]:
        grp = j.get("jobGroup") or ""
        if not grp.startswith(GROUP_PREFIX):
            continue
        _, op, sid = grp.split("|")
        rec = ops.setdefault(int(op), {"jobs": [], "stages": [], "sql": []})
        s, e = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
        job = {"id": j["jobId"], "span": None if sid == "-" else int(sid),
               "start": s, "end": e if e is not None else s, "stages": {}}
        rec["jobs"].append(job)
        job_of[j["jobId"]] = (int(op), job)
    # a stage belongs to the lowest job that lists it: later jobs list it
    # again as skipped
    owner: dict[int, int] = {}
    for j in status["jobs"]:
        if j["jobId"] in job_of:
            for sid in j["stageIds"]:
                owner[sid] = min(owner.get(sid, j["jobId"]), j["jobId"])
    for st in status["stages"]:
        if st["status"] != "COMPLETE" or st["stageId"] not in owner:
            continue
        op, job = job_of[owner[st["stageId"]]]
        dist = st.get("taskMetricsDistributions") or {}
        longest = (dist.get("duration") or [0.0])[0] / 1000.0
        job["stages"][st["stageId"]] = longest
        ops[op]["stages"].append({
            "tasks": st["numCompleteTasks"],
            "run_s": st["executorRunTime"] / 1000.0,
            "cpu_s": st["executorCpuTime"] / 1e9,
            "gc_s": st["jvmGcTime"] / 1000.0,
            "input_bytes": st["inputBytes"],
            "shuffle_read_bytes": st["shuffleReadBytes"],
            "shuffle_write_bytes": st["shuffleWriteBytes"],
            "spill_memory_bytes": st["memoryBytesSpilled"],
            "spill_disk_bytes": st["diskBytesSpilled"],
        })
    for ex in status["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get(
            "runningJobIds", [])
        ops_hit = {job_of[i][0] for i in ids if i in job_of}
        if len(ops_hit) == 1:
            ops[ops_hit.pop()]["sql"].append(ex)
    return ops


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = _union(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in kids.get(sp.sid, ()) if c.end > sp.start and c.start < sp.end
        )
        out[sp.sid] = sp.end - sp.start - covered
    return out


def per_layer(tracer: Tracer, status: dict, workload: str) -> tuple[dict, dict]:
    """Per-layer metrics (name → value) and the drill-down record: per-layer
    self times and the top SQL operators per op name."""
    spans = [s for s in tracer.spans if s.op is not None]
    self_t = _self_times(spans)
    by_op: dict[int, list[Span]] = {}
    for sp in spans:
        by_op.setdefault(sp.op, []).append(sp)
    acct = attribute(status)
    serve_ops = [o for o, rec in tracer.ops.items() if rec["kind"] == "serve"]

    def op_sum(op, name, fn=lambda sp: self_t[sp.sid]):
        return sum(fn(sp) for sp in by_op.get(op, ()) if sp.name == name)

    def per_op(name, fn=lambda sp: self_t[sp.sid], ops=None):
        """Median over the ops where the layer ran of its per-op sum."""
        ops = tracer.ops if ops is None else ops
        return _median(op_sum(o, name, fn) for o in ops
                       if any(sp.name == name for sp in by_op.get(o, ())))

    def span_jobs(op, sid):
        return [j for j in acct.get(op, {}).get("jobs", []) if j["span"] == sid]

    def job_wall(jobs):
        return _union((j["start"], j["end"]) for j in jobs)

    m: dict[str, float] = {}
    m["hb.parser.s"] = per_op("hb.parser", ops=serve_ops)
    m["hb.compiler.s"] = per_op("hb.compiler", ops=serve_ops)
    # per cold sync: every node's program, summed over the DAG's threads
    m["hb.providers.s"] = per_op("hb.providers", lambda sp: sp.end - sp.start)
    for layer in ("pipeline", "queries"):
        name = f"{layer}.construct"
        m[f"{name}_s"] = per_op(name, lambda sp: sp.end - sp.start, serve_ops)
        m[f"{name}_jobs"] = per_op(
            name, lambda sp: len(span_jobs(sp.op, sp.sid)), serve_ops)
    m["spark.analysis_s"] = per_op("spark.plan", lambda sp: sp.attrs.get("analysis", 0.0))
    m["spark.optimization_s"] = per_op(
        "spark.plan", lambda sp: sp.attrs.get("optimization", 0.0))
    m["spark.planning_s"] = per_op("spark.plan", lambda sp: sp.attrs.get("planning", 0.0))

    def op_acct(o):
        return acct.get(o, {"jobs": [], "stages": [], "sql": []})

    def sched_overhead(o):
        jobs = op_acct(o)["jobs"]
        return job_wall(jobs) - sum(sum(j["stages"].values()) for j in jobs)

    m["spark.jobs"] = _median(len(op_acct(o)["jobs"]) for o in serve_ops)
    m["spark.stages"] = _median(len(op_acct(o)["stages"]) for o in serve_ops)
    m["spark.tasks"] = _median(sum(s["tasks"] for s in op_acct(o)["stages"])
                               for o in serve_ops)
    m["spark.sched_overhead_s"] = _median(sched_overhead(o) for o in serve_ops)
    m["spark.exec_wall_s"] = _median(job_wall(op_acct(o)["jobs"]) for o in serve_ops)
    for key, field_ in (("executor_run_s", "run_s"), ("executor_cpu_s", "cpu_s"),
                        ("jvm_gc_s", "gc_s")):
        m[f"spark.{key}"] = _median(sum(s[field_] for s in op_acct(o)["stages"])
                                    for o in serve_ops)
    every_op = list(tracer.ops)
    for key in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_memory_bytes", "spill_disk_bytes"):
        m[f"spark.{key}"] = float(sum(s[key] for o in every_op
                                      for s in op_acct(o)["stages"]))
    sql_tot = {"sent": 0.0, "recv": 0.0, "bcast": 0.0}
    top: dict[str, dict] = {}
    for o in every_op:
        opname = tracer.ops[o]["name"]
        for ex in op_acct(o)["sql"]:
            for node in ex.get("nodes", []):
                for met in node.get("metrics", []):
                    val, kind = metric_value(met["value"])
                    if met["name"] == "data sent to Python workers":
                        sql_tot["sent"] += val
                    elif met["name"] == "data returned from Python workers":
                        sql_tot["recv"] += val
                    elif met["name"] == "time to collect":
                        sql_tot["bcast"] += val
                    if kind == "count" and met["name"] != "number of output rows":
                        continue
                    key = {"time": "time_s", "bytes": "bytes"}.get(kind, "rows")
                    slot = top.setdefault(opname, {}).setdefault(
                        node["nodeName"], {"time_s": 0.0, "rows": 0.0, "bytes": 0.0})
                    slot[key] += val
    m["spark.python_data_sent_bytes"] = sql_tot["sent"]
    m["spark.python_data_received_bytes"] = sql_tot["recv"]
    m["spark.broadcast_collect_s"] = sql_tot["bcast"]

    m["sources.sinks.s"] = per_op(
        "sources.sinks",
        lambda sp: self_t[sp.sid] - job_wall(span_jobs(sp.op, sp.sid)), serve_ops)
    m["sources.sinks.rows"] = per_op("sources.sinks", lambda sp: sp.attrs.get("rows", 0), serve_ops)
    m["sources.sinks.json_bytes"] = per_op(
        "sources.sinks", lambda sp: sp.attrs.get("json_bytes", 0), serve_ops)
    m["sources.odata_serve.s"] = per_op("sources.odata_serve", lambda sp: sp.end - sp.start, serve_ops)
    m["sources.odata_serve.rows"] = per_op(
        "sources.odata_serve", lambda sp: sp.attrs.get("rows", 0), serve_ops)
    m["sources.odata_serve.jobs"] = per_op(
        "sources.odata_serve", lambda sp: len(span_jobs(sp.op, sp.sid)), serve_ops)

    syncs = [sp for sp in spans if sp.name == "sync"]
    cold = [sp for sp in syncs if tracer.ops[sp.op]["kind"] == "sync_cold"]
    warm = [sp for sp in syncs if tracer.ops[sp.op]["kind"] == "sync_warm"]
    m["sync.cold_s"] = _median(sp.end - sp.start for sp in cold)
    m["sync.warm_s"] = _median(sp.end - sp.start for sp in warm)
    nodes = sum(sp.attrs.get("nodes", 0) for sp in warm)
    m["sync.cache_hit_ratio"] = (
        sum(sp.attrs.get("cached", 0) for sp in warm) / nodes if nodes else 0.0)
    m["sync.nodes_done"] = float(sum(sp.attrs.get("done", 0) for sp in cold))
    m["sync.nodes_failed"] = float(sum(sp.attrs.get("failed", 0) for sp in syncs))
    m["sync.retries"] = float(sum(sp.attrs.get("retries", 0) for sp in syncs))
    m["sync.node_overlap"] = _median(sp.attrs.get("node_overlap", 0.0) for sp in cold)
    m["sync.cache_bytes_written"] = _median(
        tracer.ops[sp.op].get("cache_bytes", 0) for sp in cold)
    m["sync.read_cached_s"] = per_op("sync.read_cached", lambda sp: sp.end - sp.start, serve_ops)

    def unaccounted(o):
        top_level = [sp for sp in by_op.get(o, ()) if sp.parent is None]
        return tracer.ops[o]["latency"] - _union((sp.start, sp.end) for sp in top_level)

    m["trace.unaccounted_s"] = _median(unaccounted(o) for o in serve_ops)

    layer_self: dict[str, float] = {}
    for sp in spans:
        layer_self[sp.name] = layer_self.get(sp.name, 0.0) + self_t[sp.sid]
    top_ops = {
        opname: {
            by: sorted(({"node": k, **v} for k, v in nodes_.items()),
                       key=lambda r, by=by: -r[by])[:5]
            for by in ("time_s", "rows", "bytes")
        }
        for opname, nodes_ in top.items()
    }
    record = {
        "workload": workload,
        "layer_self_s": {k: round(v, 6) for k, v in sorted(layer_self.items())},
        "top_sql_operators": top_ops,
        "spans": [
            {"id": sp.sid, "name": sp.name, "start": sp.start, "end": sp.end,
             "parent": sp.parent, "op": sp.op, "attrs": sp.attrs}
            for sp in spans
        ],
        "ops": tracer.ops,
    }
    return m, record
