"""The workloads. Each is a closed loop with one client: the next request
is sent only when the previous one has returned.

* ``catalog_mix`` — the 23 ``bench=True`` catalog queries (sf0.1), each
  materialised with the ``noop`` sink.
* ``sync_cycle``  — the calculator and gateway path (sf0.1): each ``.hb``
  program computed on request (parse → compile → construct → plan →
  execute → ``to_data_result_json``), a cold ``sync_configurations`` into
  a fresh cache dir, a warm one, then every node served from the cache as
  DataResult JSON and as one OData page.

A workload runs in passes. ``run_pass`` sends its requests through the
``Recorder``, which times them, checks each output outside the timed
region and counts failures.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil

import checks

# program name → (queries.py attribute, source table, catalog query with the
# DuckDB twin, that query's final projection of the program's output)
HB_PROGRAMS = {
    "mttr": ("_HB_MTTR", "orders", "hb_mttr", [
        ("mean_price_3", "Mean price 3", "round4"),
        ("mean_price_5", "Mean price 5", "round4"),
        ("mean_orders_3", "Mean orders 3", "round4")]),
    "cycle_time": ("_HB_CYCLE_TIME", "orders", "hb_cycle_time", [
        ("sprint_number", "SprintNumber", "int"),
        ("temp", "temp", "round4"),
        ("tick", "tick", "int")]),
    "velocity_pivot": ("_HB_VELOCITY_PIVOT", "orders", "hb_velocity_pivot", [
        ("yr", "yr", "int"), ("f_cnt", "F", "int"), ("o_cnt", "O", "int"),
        ("p_cnt", "P", "int"), ("fdone", "fdone", "round4")]),
    "order_frequency": ("_HB_ORDER_FREQUENCY", "orders", "hb_order_frequency", [
        ("date", "date", "str"), ("count", "count", "int"),
        ("freq", "Frequency", "round4")]),
    "commit_freq": ("_HB_COMMIT_FREQ", "events", "hb_commit_frequency", [
        ("frequency", "Frequency", "round4"),
        ("frequency_long", "Frequency long", "round4")]),
    "gandalf": ("_HB_GANDALF", "events", "hb_gandalf_state", [
        ("user_id", "user_id", "int"), ("event_id", "event_id", "int"),
        ("prop_number", "Prop Number", "int"), ("type", "Type", "raw")]),
    "logic": ("_HB_LOGIC", "customer", "hb_logic_state", [
        ("customer_name", "Customer Name", "raw"), ("c_custkey", "c_custkey", "int"),
        ("acctbal", "c_acctbal", "round4"),
        ("customer_number", "Customer Number", "int"),
        ("segment", "Segment", "raw")]),
    "bucket_trend": ("_HB_BUCKET_TREND", "orders", "hb_bucket_trend", [
        ("slope", "slope", "round4"), ("intercept", "intercept", "round4"),
        ("r2", "r2", "round6"), ("n", "n", "int")]),
}
MERGE_NODE = ("freq_merge", ("order_frequency", "commit_freq"))
JOIN_NODE = ("freq_join", ("order_frequency", "commit_freq", "Frequency"))


class Context:
    """What every workload shares: the session, the table dir, the oracle,
    the scratch dir and the tracer of the traced window (or None)."""

    def __init__(self, spark, sf_dir, oracle, work_dir, cpus):
        self.spark, self.sf_dir, self.oracle, self.work_dir = (
            spark, sf_dir, oracle, work_dir)
        self.cpus = cpus
        self.tracer = None


def program_text(name: str) -> str:
    import hobbes_spark.queries as Q

    return getattr(Q, HB_PROGRAMS[name][0])


def serve_program(ctx: Context, name: str) -> str:
    """One calculator request: ``.hb`` text → DataResult JSON."""
    import hobbes_spark.hb.compiler as compiler
    import hobbes_spark.sources.sinks as sinks
    from hobbes_spark.pipeline import Pipeline

    _, run = compiler.compile_hb(program_text(name))
    with span(ctx, "pipeline.source"):
        source = Pipeline.table(ctx.spark, ctx.sf_dir, HB_PROGRAMS[name][1])
    out = run(source)
    if ctx.tracer is not None:
        plan_span(ctx, out.df)
    return sinks.to_data_result_json(out.df)


def span(ctx: Context, name: str):
    """A span in traced runs, nothing otherwise."""
    return ctx.tracer.span(name) if ctx.tracer is not None else contextlib.nullcontext()


def plan_span(ctx: Context, df) -> None:
    """Traced runs only: run Catalyst on the op's DataFrame in its own span
    and keep the planning tracker's phase times on it. A ``noop`` write
    plans again under its own command, so a traced catalog op pays
    optimization and planning twice; ``trace.overhead_ratio`` includes it."""
    import spans

    with ctx.tracer.span("spark.plan") as sp:
        sp.attrs.update(spans.plan_phases(df))


def check_program(ctx: Context, name: str, served: str) -> str | None:
    """Served rows, projected like the catalog query, against its oracle."""
    import hobbes_spark.queries as Q

    _, _, query, spec = HB_PROGRAMS[name]
    res = json.loads(served)
    got = checks.snapshot(*checks.project(res["columnNames"], res["values"], spec))
    return checks.diff(got, ctx.oracle.query(Q.QUERIES[query].oracle))


class Workload:
    """``prepare`` once, ``warm`` untimed, ``check_warm`` after set-up is
    timed, then ``run_pass`` per pass of the window; ``close`` at the end."""

    name: str
    sf: float
    pass_s: float  # nominal pass time on a 4-core host; sets the pass count

    def prepare(self, ctx: Context) -> None:
        pass

    def warm(self, ctx: Context, rec, rng: random.Random) -> None:
        self.run_pass(ctx, rec, rng)

    def check_warm(self, ctx: Context, rec) -> None:
        pass

    def run_pass(self, ctx: Context, rec, rng: random.Random) -> None:
        raise NotImplementedError

    def close(self) -> None:
        pass


WARM_THREADS = 2


class CatalogMix(Workload):
    name = "catalog_mix"
    sf = 0.1
    limit = None  # only the first N queries (self-test)
    pass_s = 20.0

    def prepare(self, ctx: Context) -> None:
        """Oracles, and the catalog's oracle dump dir moved into the
        checkout. An oracle that replays a parquet dump the Spark query
        itself writes runs after that query, uncached."""
        import hobbes_spark.queries as Q

        default_dump = Q._ORACLE_DUMP
        Q._ORACLE_DUMP = os.path.join(ctx.work_dir, "oracle-dump")
        self.names = sorted(n for n, s in Q.QUERIES.items() if s.bench)[:self.limit]
        self.oracles = {
            n: Q.QUERIES[n].oracle.replace(default_dump, Q._ORACLE_DUMP)
            for n in self.names if Q.QUERIES[n].oracle is not None
        }
        self.replays = {n for n, sql in self.oracles.items() if Q._ORACLE_DUMP in sql}
        for n, sql in self.oracles.items():
            if n not in self.replays:
                ctx.oracle.query(sql)
        self.wrong: dict[str, str] = {}
        self.got: dict[str, tuple] = {}

    def construct(self, ctx: Context, name: str):
        from hobbes_spark.queries import QUERIES

        with span(ctx, "queries.construct"):
            return QUERIES[name].spark(ctx.spark, ctx.sf_dir)

    def warm(self, ctx: Context, rec, rng: random.Random) -> None:
        """The untimed pass: each query once, its rows kept for the check.
        Two queries run at a time, which roughly halves the pass's wall time
        (most of it is first-use JIT and Python-worker start-up)."""
        from concurrent.futures import ThreadPoolExecutor

        def one(name):
            try:
                df = self.construct(ctx, name)
                return name, checks.snapshot(df.columns, df.collect())
            except Exception as e:  # noqa: BLE001 - reported by check_warm
                return name, f"{type(e).__name__}: {e}"[:300]

        with ThreadPoolExecutor(WARM_THREADS) as pool:
            self.got = dict(pool.map(one, self.names))

    def check_warm(self, ctx: Context, rec) -> None:
        """Warm-pass rows against the oracles. Every timed op of a query
        that fails here counts as failed."""
        for name, got in self.got.items():
            sql = self.oracles.get(name)
            if isinstance(got, str):
                why = got
            elif sql is None:
                continue
            else:
                why = checks.diff(got, ctx.oracle.query(sql, cache=name not in self.replays))
            if why:
                self.wrong[name] = why
                rec.note_failure(name, f"warm-pass output check: {why}")

    def materialize(self, ctx: Context, name: str) -> None:
        df = self.construct(ctx, name)
        if ctx.tracer is not None:
            plan_span(ctx, df)
        with span(ctx, "spark.execute"):
            df.write.format("noop").mode("overwrite").save()

    def run_pass(self, ctx: Context, rec, rng: random.Random) -> None:
        names = list(self.names)
        rng.shuffle(names)
        for name in names:
            rec.op(name, lambda n=name: self.materialize(ctx, n),
                   lambda _, n=name: self.wrong.get(n))


def _node_rows(res: dict) -> tuple[list, list]:
    return res["columnNames"], res["values"]


def _merge_rows(a, b):
    cols = a[0] + [c for c in b[0] if c not in a[0]]
    rows = []
    for src_cols, src_rows in (a, b):
        pos = {c: i for i, c in enumerate(src_cols)}
        rows += [[r[pos[c]] if c in pos else None for c in cols] for r in src_rows]
    return cols, rows


def _outer_join_rows(a, b, key):
    ka, kb = a[0].index(key), b[0].index(key)
    a_rest = [i for i in range(len(a[0])) if i != ka]
    b_rest = [i for i in range(len(b[0])) if i != kb]
    cols = [key] + [a[0][i] for i in a_rest] + [b[0][i] for i in b_rest]
    right: dict = {}
    for r in b[1]:
        if r[kb] is not None:
            right.setdefault(r[kb], []).append(r)
    matched, rows = set(), []
    for r in a[1]:
        hits = right.get(r[ka], []) if r[ka] is not None else []
        for h in hits:
            rows.append([r[ka]] + [r[i] for i in a_rest] + [h[i] for i in b_rest])
            matched.add(id(h))
        if not hits:
            rows.append([r[ka]] + [r[i] for i in a_rest] + [None] * len(b_rest))
    for r in b[1]:
        if id(r) not in matched:
            rows.append([r[kb]] + [None] * len(a_rest) + [r[i] for i in b_rest])
    return cols, rows


_ODATA_WORDS = {"and", "or", "not", "in", "eq", "ne", "gt", "ge", "lt", "le",
                "add", "sub", "mul", "div", "divby", "mod", "null", "true", "false"}


def _ident(col: str) -> bool:
    """A column an OData path can name as-is."""
    return (col.replace("_", "a").isalnum() and not col[0].isdigit()
            and col not in _ODATA_WORDS)


def odata_options(rng: random.Random, cols: list, rows: list):
    """Seeded ``$filter/$orderby/$top/$skip/$count`` for one node, over
    columns OData can name. Returns (options, ordered): ``ordered`` when
    ``$orderby`` is a total order, so the page is a deterministic list."""
    opts = {"$count": "true"}
    idents = [i for i, c in enumerate(cols) if _ident(c)]
    numeric = [i for i in idents
               if all(isinstance(r[i], (int, float)) and not isinstance(r[i], bool)
                      for r in rows if r[i] is not None)
               and any(r[i] is not None for r in rows)]
    if numeric:
        i = rng.choice(numeric)
        vals = sorted({float(r[i]) for r in rows if r[i] is not None})
        gaps = [(a + b) / 2 for a, b in zip(vals, vals[1:]) if b - a > 1e-3]
        if gaps:
            cut = gaps[int(rng.uniform(0.1, 0.9) * len(gaps))]
            opts["$filter"] = f"{cols[i]} {rng.choice(['gt', 'le'])} {cut:.6f}"
    keys = list(idents)
    rng.shuffle(keys)
    for n in range(1, len(keys) + 1):
        if len({tuple(r[i] for i in keys[:n]) for r in rows}) == len(rows):
            opts["$orderby"] = ",".join(
                f"{cols[i]} {rng.choice(['asc', 'desc'])}" for i in keys[:n])
            opts["$top"] = str(rng.randint(5, 50))
            opts["$skip"] = str(rng.randint(0, 20))
            return opts, True
    return opts, False


def odata_expected(con, path: str, opts: dict) -> tuple[int, list, list]:
    """The same page computed by DuckDB over the node's cache parquet."""
    sql = f"FROM read_parquet('{path}/*.parquet')"
    if "$filter" in opts:
        col, op, cut = opts["$filter"].split()
        sql += f' WHERE "{col}" {">" if op == "gt" else "<="} CAST({cut} AS DOUBLE)'
    count = con.execute(f"SELECT count(*) {sql}").fetchone()[0]
    if "$orderby" in opts:
        terms = []
        for t in opts["$orderby"].split(","):
            col, d = t.split()
            terms.append(f'"{col}" {d.upper()} NULLS {"FIRST" if d == "asc" else "LAST"}')
        sql += " ORDER BY " + ", ".join(terms)
        sql += f" LIMIT {opts['$top']} OFFSET {opts['$skip']}"
    cur = con.execute(f"SELECT * {sql}")
    return count, [d[0] for d in cur.description], cur.fetchall()


class SyncCycle(Workload):
    name = "sync_cycle"
    sf = 0.1
    pass_s = 15.0

    def prepare(self, ctx: Context) -> None:
        import duckdb

        import hobbes_spark.queries as Q
        from hobbes_spark.pipeline import Pipeline
        from hobbes_spark.sync import Configuration

        for _, _, query, _ in HB_PROGRAMS.values():
            ctx.oracle.query(Q.QUERIES[query].oracle)
        tables = {t: Pipeline.table(ctx.spark, ctx.sf_dir, t).df
                  for t in {p[1] for p in HB_PROGRAMS.values()}}
        self.configs = []
        for name, (_, table, _, _) in HB_PROGRAMS.items():
            body = program_text(name)
            if body.startswith("provider:"):
                body = body.split("\n", 1)[1]
            text = f"provider: localdata\nname: {table}\n\n{body.lstrip()}"
            self.configs.append(Configuration(
                name, program=text, tables={table: tables[table]}, format_json=True))
        mname, (ma, mb) = MERGE_NODE
        jname, (ja, jb, key) = JOIN_NODE
        self.configs.append(Configuration(mname, merge=[ma, mb], format_json=True))
        self.configs.append(Configuration(jname, join=(ja, jb, key), format_json=True))
        self.nodes = [c.name for c in self.configs]
        self.con = duckdb.connect()
        self.options = None
        self.cycle = 0

    def _expected(self, served: dict) -> dict:
        """Per node, the rows its cache entry must serve: the calculator's
        own result for a program, merged or joined here for the other two."""
        exp = {n: _node_rows(json.loads(js)) for n, js in served.items()}
        mname, (ma, mb) = MERGE_NODE
        if ma in exp and mb in exp:
            exp[mname] = _merge_rows(exp[ma], exp[mb])
        jname, (ja, jb, key) = JOIN_NODE
        if ja in exp and jb in exp:
            exp[jname] = _outer_join_rows(exp[ja], exp[jb], key)
        return exp

    def run_pass(self, ctx: Context, rec, rng: random.Random) -> None:
        """One cycle: the calculator requests, a cold and a warm sync, then
        every node served from the cache both ways."""
        import hobbes_spark.sources.odata_serve as odata_serve
        import hobbes_spark.sources.sinks as sinks
        import hobbes_spark.sync as sync

        self.cycle += 1
        cache = os.path.join(ctx.work_dir, f"cache-{os.getpid()}-{self.cycle}")
        shutil.rmtree(cache, ignore_errors=True)
        served: dict[str, str] = {}

        def keep(name, out):
            served[name] = out
            return check_program(ctx, name, out)

        names = list(HB_PROGRAMS)
        rng.shuffle(names)
        for name in names:
            rec.op(f"hb:{name}", lambda n=name: serve_program(ctx, n),
                   lambda out, n=name: keep(n, out))
        expected = self._expected(served)
        if self.options is None:  # requests are fixed from the first cycle on
            self.options = {n: odata_options(rng, *expected[n]) for n in sorted(expected)}

        rep = rec.step("sync_cold", lambda: sync.sync_configurations(
            ctx.spark, self.configs, cache, max_parallelism=ctx.cpus))
        if rep is None:
            shutil.rmtree(cache, ignore_errors=True)
            return
        if not rep.converged:
            rec.note_failure("sync_cold", f"statuses {rep.statuses}")
        rec.annotate(cache_bytes=_du(cache))
        warm = rec.step("sync_warm", lambda: sync.sync_configurations(
            ctx.spark, self.configs, cache, max_parallelism=ctx.cpus))
        if warm is not None and set(warm.statuses.values()) != {"cached"}:
            rec.note_failure("sync_warm", f"not every node cached: {warm.statuses}")

        serves = [(n, k) for n in self.nodes for k in ("json", "odata")]
        rng.shuffle(serves)
        for node, kind in serves:
            key = rep.cache_keys.get(node)
            if kind == "json":
                rec.op(f"{node}:json",
                       lambda k=key: sinks.to_data_result_json(
                           sync.read_cached(ctx.spark, cache, k)),
                       lambda out, n=node: self._check_json(expected.get(n), out))
            else:
                opts, ordered = self.options.get(node, ({}, False))
                rec.op(f"{node}:odata",
                       lambda k=key, o=opts: json.dumps(odata_serve.odata_response(
                           sync.read_cached(ctx.spark, cache, k), o)),
                       lambda out, k=key, o=opts, s=ordered: self._check_odata(
                           os.path.join(cache, k), o, s, out))
        shutil.rmtree(cache, ignore_errors=True)

    @staticmethod
    def _check_json(want, served: str) -> str | None:
        if want is None:
            return "no calculator result to compare with"
        res = json.loads(served)
        if res["columnNames"] != want[0]:
            return f"columns {res['columnNames']} != {want[0]}"
        return checks.diff(checks.snapshot(*_node_rows(res)), checks.snapshot(*want))

    def _check_odata(self, path: str, opts: dict, ordered: bool, served: str):
        res = json.loads(served)
        count, cols, rows = odata_expected(self.con, path, opts)
        if res.get("@odata.count") != count:
            return f"@odata.count {res.get('@odata.count')} != {count}"
        got = [[r.get(c) for c in cols] for r in res["value"]]
        if ordered:
            g = [tuple(checks.norm(v) for v in r) for r in got]
            w = [tuple(checks.norm(v) for v in r) for r in rows]
            return None if g == w else f"page {g[:2]}... != {w[:2]}..."
        return checks.diff(checks.snapshot(cols, got), checks.snapshot(cols, rows))

    def close(self) -> None:
        self.con.close()


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (CatalogMix, SyncCycle)}
