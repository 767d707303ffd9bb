"""Output checks, run after the measured window so they cost it nothing.

Every statement's reply is checked by its ``Stmt.check``:

* ``duckdb``: the same SQL text and parameters run in DuckDB over the
  same parquet files; rows compared as multisets, floats to 1e-9.
* ``bulk``: count and column sums of the received rows against DuckDB
  over the same key range.
* ``copy_in`` / ``checksum``: the COPY tag and the read-back checksum
  against what the client sent.
* ``spot`` / ``show``: pinned rows; ``known_failure``: the recorded
  SQLSTATE (or success, once fixed); ``error``: exactly this SQLSTATE;
  ``ok``: no error.

A mismatch counts as a failed operation.
"""

from __future__ import annotations

import datetime as dt
import math
import struct

import duckdb

from pgclient import decode_row

_INT = {20, 21, 23, 26}
_FLOAT = {700, 701, 1700}
_PG_EPOCH = dt.datetime(2000, 1, 1)


def _text_value(v: bytes | None, oid: int):
    if v is None:
        return None
    s = v.decode()
    if oid in _INT:
        return int(s)
    if oid in _FLOAT:
        return float(s)
    if oid == 16:
        return s == "t"
    if oid in (1114, 1184):
        return dt.datetime.fromisoformat(s.replace(" ", "T")[:26])
    return s


def _binary_value(v: bytes | None, oid: int):
    if v is None:
        return None
    if oid == 20:
        return struct.unpack("!q", v)[0]
    if oid == 23:
        return struct.unpack("!i", v)[0]
    if oid == 21:
        return struct.unpack("!h", v)[0]
    if oid == 701:
        return struct.unpack("!d", v)[0]
    if oid == 700:
        return struct.unpack("!f", v)[0]
    if oid == 16:
        return v == b"\x01"
    if oid == 1082:
        return str(_PG_EPOCH.date() + dt.timedelta(
            days=struct.unpack("!i", v)[0]))
    if oid in (1114, 1184):
        return _PG_EPOCH + dt.timedelta(microseconds=struct.unpack("!q", v)[0])
    return v.decode()


def reply_rows(reply, binary: bool = False) -> list[list]:
    """Typed values of every DataRow. The RowDescription a Describe
    returns precedes Bind's format codes, so the caller says whether it
    asked for binary columns."""
    decode = _binary_value if binary else _text_value
    return [[decode(v, oid) for v, (_, oid, _) in zip(decode_row(p),
                                                      reply.cols)]
            for p in reply.rows]


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if hasattr(v, "as_tuple"):           # Decimal
        return float(v)
    if isinstance(v, dt.datetime):
        return v
    if isinstance(v, dt.date):
        return str(v)
    return v


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-9,
                                abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    return a == b


def _sort_key(row):
    return [(v is None, str(v)) for v in row]


def same_rows(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    got = sorted(got, key=_sort_key)
    want = sorted(want, key=_sort_key)
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


class Oracle:
    """DuckDB over the run's parquet files, memoized per SQL text."""

    def __init__(self, data_dir: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        for t in ("nation", "customer", "orders", "lineitem", "documents"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")
        self._memo: dict = {}

    def rows(self, sql: str, params=None) -> list:
        key = (sql, tuple(params or ()))
        if key not in self._memo:
            res = self.con.execute(sql, params or None).fetchall()
            self._memo[key] = [[_norm(v) for v in r] for r in res]
        return self._memo[key]

    def bulk(self, table: str, lo: int, hi: int) -> tuple:
        if table == "orders":
            sql = ("SELECT count(*), sum(o_orderkey), sum(o_custkey), "
                   "sum(o_totalprice) FROM orders "
                   "WHERE o_orderkey >= ? AND o_orderkey < ?")
        else:
            sql = ("SELECT count(*), sum(l_orderkey), sum(l_partkey), "
                   "sum(l_extendedprice) FROM lineitem "
                   "WHERE l_orderkey >= ? AND l_orderkey < ?")
        return tuple(self.rows(sql, [lo, hi])[0])


def _bulk_sums(stmt, reply) -> tuple:
    """(count, sum key, sum second key, sum price) of the received rows;
    ``stmt.check[4]`` names the three columns."""
    cols = stmt.check[4]
    if reply.copy_data:
        rows = [line.rstrip(b"\n").split(b"\t") for line in reply.copy_data]
        vals = [(int(r[cols[0]]), int(r[cols[1]]), float(r[cols[2]]))
                for r in rows]
    else:
        vals = [tuple(r[i] for i in cols)
                for r in reply_rows(reply, stmt.binary)]
    return (len(vals), sum(v[0] for v in vals), sum(v[1] for v in vals),
            sum(v[2] for v in vals))


def check(stmt, reply, oracle: Oracle) -> str | None:
    """None when the reply is right, else a one-line reason."""
    kind = stmt.check[0]
    if kind == "known_failure":
        # the recorded defect, or success once it is fixed (then a
        # repeat in the same session finds the object already there)
        if reply.sqlstate in (None, stmt.check[1], "42P07"):
            return None
        return f"expected {stmt.check[1]}, got {reply.sqlstate}"
    if kind == "error":
        return None if reply.sqlstate == stmt.check[1] else \
            f"expected {stmt.check[1]}, got {reply.sqlstate}"
    if reply.error:
        return f"error {reply.sqlstate}: {reply.error.get('M', '')[:120]}"
    if kind == "ok":
        return None
    if kind == "show":
        got = reply_rows(reply)
        return None if got and got[0][0] == stmt.check[1] else f"got {got}"
    if kind == "spot":
        got = [[str(v) for v in r[:len(stmt.check[1][0])]]
               for r in reply_rows(reply)]
        return None if got == stmt.check[1] else f"spot rows {got[:3]}"
    if kind == "copy_in":
        want = f"COPY {stmt.check[1]}"
        return None if reply.tags == [want] else f"tags {reply.tags}"
    if kind == "checksum":
        got = reply_rows(reply)
        return None if same_rows(got, [list(stmt.check[1])]) else \
            f"checksum {got} != {stmt.check[1]}"
    if kind == "bulk":
        got = _bulk_sums(stmt, reply)
        want = oracle.bulk(*stmt.check[1:4])
        return None if same_rows([list(got)], [list(want)]) else \
            f"bulk sums {got} != {want}"
    if kind != "duckdb":
        return f"unknown check {kind}"
    want = oracle.rows(stmt.sql, stmt.params)
    got = reply_rows(reply)
    return None if same_rows(got, want) else \
        f"rows differ: got {got[:2]} want {want[:2]} ({len(got)} vs {len(want)})"
