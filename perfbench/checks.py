"""Output checks: value normalisation, row-multiset comparison and the
DuckDB oracle, computed once per (query text, data) and cached on disk."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os

import datagen


def norm(v):
    """One comparable Python value per cell, identical for Spark rows,
    DuckDB rows and DataResult JSON: numbers as float, temporals as ISO
    text, NaN as NULL, nested values as tuples."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(norm(x) for x in v.values())
    if hasattr(v, "asDict"):  # pyspark Row
        return tuple(norm(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def snapshot(cols, rows) -> tuple[list, list]:
    """(sorted column names, rows in that column order, sorted): a
    representation equal for equal row multisets."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=repr)


def diff(got, want) -> str | None:
    """None when two snapshots are equal, else a one-line reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b:
            return f"row {a!r} != {b!r}"[:300]
    return None


def _tuples(v):
    return tuple(_tuples(x) for x in v) if isinstance(v, list) else v


class Oracle:
    """DuckDB over the generated tables of one scale factor. Results are
    cached under ``cache_dir`` keyed by the SQL text and data version, so
    the oracle runs once per checkout, outside every timed region."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir, self.cache_dir = sf_dir, cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in datagen.TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
        return self._con

    def query(self, sql: str, cache: bool = True) -> tuple[list, list]:
        """The oracle's rows as a snapshot. ``cache=False`` for SQL that
        reads files the program writes while it runs."""
        key = hashlib.sha1(
            f"{datagen.VERSION}\x1f{self.sf_dir}\x1f{sql}".encode()
        ).hexdigest()[:20]
        path = os.path.join(self.cache_dir, f"oracle-{key}.json")
        if not cache:
            cur = self._connect().execute(sql)
            return snapshot([d[0] for d in cur.description], cur.fetchall())
        if os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, [_tuples(r) for r in rows]
        cur = self._connect().execute(sql)
        cols = [d[0] for d in cur.description]
        snap = snapshot(cols, cur.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + f".{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, path)
        return snap

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def half_up(x: float, n: int) -> float:
    """The catalog's deterministic rounding ``floor(x*10^n + 0.5)/10^n``,
    in the same IEEE double steps Spark takes."""
    f = 10 ** n
    return math.floor(x * f + 0.5) / float(f)


def project(columns: list, values: list, spec) -> tuple[list, list]:
    """Apply a catalog query's final projection to served DataResult rows.
    ``spec`` is ``[(out_name, source_column, kind)]`` with kind ``int``,
    ``str``, ``raw`` or ``roundN`` (half-up rounding to N places)."""
    idx = {c: i for i, c in enumerate(columns)}
    rows = []
    for row in values:
        out = []
        for _, src, kind in spec:
            v = row[idx[src]]
            if v is not None:
                if kind == "int":
                    v = int(v)
                elif kind == "str":
                    v = str(v)
                elif kind.startswith("round"):
                    v = half_up(float(v), int(kind[len("round"):]))
            out.append(v)
        rows.append(out)
    return [s[0] for s in spec], rows
