"""Traced launcher: the pg-wire server with every layer's entry points
wrapped in spans.

    python perfbench/traced_server.py --spans OUT.json -- --directory DIR -p PORT

Everything after ``--`` goes to the server's own ``__main__.main()``,
unchanged. Before calling it, this launcher replaces the public functions
and methods listed in ``LAYERS`` (and every module-level alias of them)
with wrappers that record a span per call: name, start, end, parent span
and statement id, kept in memory. Per-row functions (encoders, the row
iterator) are folded into one aggregate span per statement and parent,
so tracing a 10^5-row result costs no more than 10^5 counter updates.

On SIGUSR1 the launcher writes the spans and a per-stage summary of Spark's status store (``statusStore()``,
readable with the UI disabled) to the ``--spans`` file, atomically.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import signal
import sys
import threading
import time

# (module, attribute path, span name, mode): mode "span" records one span
# per call, "agg" folds per-row calls into one span per statement and
# parent, "hit" is a span plus a mark of whether the call returned a
# result
LAYERS = [
    ("datafusion_postgres_spark.functions.registry", "register_all",
     "functions.register_all", "span"),
    ("datafusion_postgres_spark.functions.registry", "register_functions",
     "functions.register_functions", "span"),
    ("datafusion_postgres_spark.catalog.pg_catalog", "bootstrap",
     "catalog.bootstrap", "span"),
    ("datafusion_postgres_spark.catalog.pg_catalog", "refresh",
     "catalog.refresh", "span"),
    ("datafusion_postgres_spark.session", "SparkPgEngine.__post_init__",
     "session.engine_init", "span"),
    ("datafusion_postgres_spark.session", "SparkPgEngine.execute",
     "session.execute", "span"),
    ("datafusion_postgres_spark.session", "SparkPgEngine.copy_into",
     "session.copy_into", "span"),
    ("datafusion_postgres_spark.sources.registry", "register_directory",
     "sources.register", "span"),
    ("datafusion_postgres_spark.sources.registry", "read_file",
     "sources.read_file", "span"),
    ("datafusion_postgres_spark.dialect.transpiler",
     "PostgresTranspiler.transpile", "dialect.transpile", "span"),
    ("datafusion_postgres_spark.dialect.transpiler",
     "PostgresTranspiler.statement_kind", "dialect.statement_kind", "span"),
    ("datafusion_postgres_spark.dialect.transpiler",
     "PostgresTranspiler.table_names", "dialect.table_names", "span"),
    ("datafusion_postgres_spark.server.hooks", "HookChain.try_handle",
     "server.hooks.try_handle", "hit"),
    ("datafusion_postgres_spark.server.prepared",
     "PreparedStatementManager.parse", "server.prepared.parse", "span"),
    ("datafusion_postgres_spark.server.prepared",
     "PreparedStatementManager.execute", "server.prepared.execute", "span"),
    ("datafusion_postgres_spark.server.copy_data", "parse_copy_payload",
     "server.copy_data.parse", "span"),
    ("datafusion_postgres_spark.server.copy_data", "parse_copy_binary",
     "server.copy_data.parse", "span"),
    ("datafusion_postgres_spark.server.encoder", "encode_row",
     "server.encoder.encode", "agg"),
    ("datafusion_postgres_spark.server.encoder", "encode_value",
     "server.encoder.encode", "agg"),
    ("datafusion_postgres_spark.server.encoder", "encode_value_binary",
     "server.encoder.encode", "agg"),
]

# protocol message handlers: each call is a root span; Query and Parse
# messages open a new statement id (an extended-protocol statement is
# Parse..Sync)
ROOTS = [("_on_query", True), ("_on_parse", True), ("_on_bind", False),
         ("_on_describe", False), ("_on_execute", False),
         ("_on_sync", False)]


class Tracer:
    def __init__(self):
        self.spans: list = []          # (id, name, t0, t1, parent, stmt, n)
        self.marks: list = []          # (name, value, stmt, t)
        self._ids = itertools.count(1)
        self._stmts = itertools.count(1)
        self._local = threading.local()
        self._aggs: list[dict] = []    # one dict per thread
        self._lock = threading.Lock()

    def _ctx(self):
        loc = self._local
        if not hasattr(loc, "stack"):
            loc.stack, loc.stmt, loc.in_agg, loc.agg = [], None, False, {}
            with self._lock:
                self._aggs.append(loc.agg)
        return loc

    def call(self, name, fn, args, kwargs, new_stmt=False, hit=False):
        loc = self._ctx()
        if new_stmt:
            loc.stmt = next(self._stmts)
        sid = next(self._ids)
        parent = loc.stack[-1] if loc.stack else None
        loc.stack.append(sid)
        t0 = time.perf_counter()
        result = None
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            t1 = time.perf_counter()
            loc.stack.pop()
            self.spans.append((sid, name, t0, t1, parent, loc.stmt, 1))
            if hit:
                self.marks.append((name + ".hit", int(result is not None),
                                   loc.stmt, t0))

    def call_agg(self, name, fn, args, kwargs):
        loc = self._ctx()
        if loc.in_agg:       # nested per-row call: part of the outer one
            return fn(*args, **kwargs)
        loc.in_agg = True
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            loc.in_agg = False
            self._add_agg(loc, name, t0, t1)

    def _add_agg(self, loc, name, t0, t1):
        key = (name, loc.stack[-1] if loc.stack else None, loc.stmt)
        rec = loc.agg.get(key)
        if rec is None:
            loc.agg[key] = [t0, t1, t1 - t0, 1]
        else:
            rec[1] = t1
            rec[2] += t1 - t0
            rec[3] += 1

    def timed_rows(self, make):
        """Fetch time per statement of a result-row iterator, including
        the call that creates it (``toLocalIterator`` starts the job), and
        the first-row latency as a mark."""
        loc = self._ctx()
        start = time.perf_counter()
        it = make()
        self._add_agg(loc, "session.fetch", start, time.perf_counter())
        first = True
        while True:
            t0 = time.perf_counter()
            try:
                row = next(it)
            except StopIteration:
                self._add_agg(loc, "session.fetch", t0, time.perf_counter())
                return
            t1 = time.perf_counter()
            self._add_agg(loc, "session.fetch", t0, t1)
            if first:
                self.marks.append(("session.fetch_first_row", t1 - start,
                                   loc.stmt, start))
                first = False
            yield row

    def all_spans(self):
        out = list(self.spans)
        with self._lock:
            aggs = [dict(a) for a in self._aggs]
        for agg in aggs:
            for (name, parent, stmt), (t0, t1, dur, n) in agg.items():
                # aggregate span: interleaved calls, so the duration is
                # the summed call time, not t1 - t0
                out.append((next(self._ids), name, t0, t0 + dur, parent,
                            stmt, n))
        return out


TRACER = Tracer()


def _resolve(modname: str, path: str):
    mod = sys.modules[modname]
    owner = mod
    parts = path.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


def _wrap(fn, name, mode="span", new_stmt=False):
    if mode == "agg":
        @functools.wraps(fn)
        def wrapper(*a, **k):
            return TRACER.call_agg(name, fn, a, k)
    else:
        hit = mode == "hit"

        @functools.wraps(fn)
        def wrapper(*a, **k):
            return TRACER.call(name, fn, a, k, new_stmt, hit)
    return wrapper


def install() -> list[str]:
    """Wrap every entry point in LAYERS; returns the ones not found."""
    import importlib
    for modname, *_ in LAYERS:
        importlib.import_module(modname)
    from datafusion_postgres_spark.server import pgwire
    from datafusion_postgres_spark.session import ExecutionResult

    missing = []
    ours = [m for n, m in list(sys.modules.items())
            if n.startswith("datafusion_postgres_spark") and m is not None]
    for modname, path, name, mode in LAYERS:
        try:
            owner, attr = _resolve(modname, path)
            orig = getattr(owner, attr)
        except AttributeError:
            missing.append(f"{modname}.{path}")
            continue
        wrapped = _wrap(orig, name, mode)
        setattr(owner, attr, wrapped)
        if owner is sys.modules[modname]:
            # re-point module-level aliases made by `from x import f`
            for m in ours:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)
    for attr, new_stmt in ROOTS:
        orig = getattr(pgwire._Conn, attr, None)
        if orig is None:
            missing.append(f"server.pgwire._Conn.{attr}")
            continue
        setattr(pgwire._Conn, attr,
                _wrap(orig, f"server.pgwire.{attr[4:]}", new_stmt=new_stmt))
    rows_orig = ExecutionResult.rows
    collect_orig = ExecutionResult.collect

    def rows(self):
        return TRACER.timed_rows(lambda: iter(rows_orig(self)))

    def collect(self, *a, **k):
        return list(TRACER.timed_rows(
            lambda: iter(collect_orig(self, *a, **k))))

    ExecutionResult.rows = rows
    ExecutionResult.collect = collect
    return missing


def spark_summary() -> dict:
    """Per-stage and per-job records from the status store."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is None:
        return {"stages": [], "jobs": []}
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(getattr(
        jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
        "MODULE$"))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        jvm.java.util.ArrayList(), True, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    out = []
    for s in stages:
        runs = [t["taskMetrics"]["executorRunTime"]
                for t in (s.get("tasks") or {}).values()
                if t.get("taskMetrics")]
        out.append({
            "stage": s["stageId"], "attempt": s["attemptId"],
            "status": s["status"], "submitted_ms": s.get("submissionTime"),
            "tasks": s["numTasks"], "run_ms": s["executorRunTime"],
            "cpu_ns": s["executorCpuTime"], "input_rows": s["inputRecords"],
            "shuffle_write_bytes": s["shuffleWriteBytes"],
            "max_task_ms": max(runs) if runs else 0})
    return {"stages": out,
            "jobs": [{"job": j["jobId"], "submitted_ms": j.get("submissionTime"),
                      "status": j["status"]} for j in jobs]}


def dump(path: str, missing: list[str]) -> None:
    payload = {
        "clock": "perf_counter",
        "epoch_minus_clock": time.time() - time.perf_counter(),
        "missing": missing,
        "spans": TRACER.all_spans(),
        "marks": list(TRACER.marks),
        "spark": spark_summary(),
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def main() -> None:
    argv = sys.argv[1:]
    if len(argv) < 3 or argv[0] != "--spans" or argv[2] != "--":
        sys.exit("usage: traced_server.py --spans OUT.json -- SERVER-ARGS")
    spans_path = argv[1]
    missing = install()
    signal.signal(signal.SIGUSR1, lambda *_: dump(spans_path, missing))
    from datafusion_postgres_spark import __main__ as server_main
    sys.argv = ["datafusion_postgres_spark"] + argv[3:]
    server_main.main()


if __name__ == "__main__":
    main()
