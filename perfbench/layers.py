"""Per-layer metrics of a traced run.

Inputs: the spans the traced launcher dumped (``traced_server.py``), the
client's statement records, and the Spark stage/job summary. A span's
self time is its duration minus the durations of its child spans. Spans
under a protocol-message root (``server.pgwire.*``) belong to statements;
spans outside any root are server start-up or connection set-up.

``server.pgwire.self_ms`` is the client-observed latency that no measured
layer below the message handler accounts for — framing, socket, and the
handler itself — after the client's own decode time is taken out.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

# name -> unit; the order is the report's
METRICS = {
    "functions.register_all_s": "s",
    "functions.register_all.calls": "count",
    "catalog.bootstrap_s": "s",
    "functions.register_functions_s": "s",
    "session.engine_init_s": "s",
    "sources.register_s": "s",
    "session.execute_self_ms": "ms",
    "dialect.transpile_us": "us",
    "dialect.calls_per_stmt": "count",
    "server.hooks.handle_ms": "ms",
    "server.hooks.hit_share": "ratio",
    "catalog.refresh_s": "s",
    "catalog.refresh.calls": "count",
    "session.fetch_first_row_ms": "ms",
    "session.fetch_s": "s",
    "server.encoder.encode_s": "s",
    "server.encoder.rows": "count",
    "server.encoder.bytes": "B",
    "server.copy_data.parse_s": "s",
    "server.copy_data.rows": "count",
    "server.pgwire.self_ms": "ms",
    "server.pgwire.bytes_per_row": "B/row",
    "spark.jobs_per_stmt": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.critical_task_s": "s",
    "spark.single_task_stage_share": "ratio",
    "spark.input_rows": "count",
    "spark.shuffle_write_bytes": "B",
    "client.decode_s": "s",
    "server.peak_rss_mb": "MB",
    "client.connect_p50_ms": "ms",
    "trace.span_coverage_share": "ratio",
}

ROOT_PREFIX = "server.pgwire."


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def analyze(dump: dict, stmts: list, win: tuple, win_epoch: tuple,
            copy_rows: int, peak_kb: int,
            connects: list) -> tuple[dict, list[str]]:
    """Returns ({metric: value}, report lines).

    stmts: replies of the statements in the measured window; win: the
    window in the shared monotonic clock; win_epoch: the same in epoch
    seconds (for Spark's timestamps); copy_rows: rows sent by COPY IN;
    peak_kb: the peak summed RSS of the server's process tree; connects:
    the client's startup-to-ReadyForQuery times in seconds."""
    spans = [tuple(s) for s in dump["spans"]]
    by_id = {s[0]: s for s in spans}
    child = defaultdict(float)
    for s in spans:
        if s[4] is not None:
            child[s[4]] += s[3] - s[2]

    def root_of(s):
        while s[4] is not None and s[4] in by_id:
            s = by_id[s[4]]
        return s

    def self_time(s):
        return (s[3] - s[2]) - child[s[0]]

    lo, hi = win
    in_win = [s for s in spans if lo <= s[2] <= hi]
    stmt_spans = [s for s in in_win if root_of(s)[1].startswith(ROOT_PREFIX)]
    named = defaultdict(list)
    for s in spans:
        named[s[1]].append(s)
    wnamed = defaultdict(list)
    for s in stmt_spans:
        wnamed[s[1]].append(s)

    def durs(name, where=named):
        return [s[3] - s[2] for s in where[name]]

    n = max(len(stmts), 1)
    client_s = sum(r.total_s for r in stmts)
    decode_s = sum(r.decode_s for r in stmts)
    rows = sum(r.n_rows for r in stmts)
    row_bytes = sum(r.row_bytes for r in stmts)
    bytes_in = sum(r.bytes_in for r in stmts)
    roots = [s for s in stmt_spans if s[4] is None]
    root_s = sum(s[3] - s[2] for s in roots)
    below_root_s = sum(s[3] - s[2] for s in stmt_spans
                       if s[4] is not None and by_id.get(s[4]) in roots)
    marks = [m for m in dump["marks"] if lo <= m[3] <= hi]
    hits = [m[1] for m in marks if m[0] == "server.hooks.try_handle.hit"]
    first_rows = [m[1] for m in marks if m[0] == "session.fetch_first_row"]
    dialect_calls = sum(len(wnamed[k]) for k in (
        "dialect.transpile", "dialect.statement_kind", "dialect.table_names"))
    engine_self = [self_time(s) for s in named["session.engine_init"]]

    e0, e1 = (x * 1000 for x in win_epoch)
    stages = [s for s in dump["spark"]["stages"]
              if s["submitted_ms"] and e0 <= s["submitted_ms"] <= e1]
    jobs = [j for j in dump["spark"]["jobs"]
            if j["submitted_ms"] and e0 <= j["submitted_ms"] <= e1]

    m = {
        "functions.register_all_s": _mean(durs("functions.register_all")),
        "functions.register_all.calls": len(named["functions.register_all"]),
        "catalog.bootstrap_s": _mean(durs("catalog.bootstrap")),
        "functions.register_functions_s":
            _mean(durs("functions.register_functions")),
        "session.engine_init_s": _mean(engine_self),
        "sources.register_s": sum(durs("sources.register")),
        "session.execute_self_ms": 1000 * sum(
            self_time(s) for s in wnamed["session.execute"]
            + wnamed["server.prepared.execute"]) / n,
        "dialect.transpile_us":
            1e6 * _mean(durs("dialect.transpile", wnamed)),
        "dialect.calls_per_stmt": dialect_calls / n,
        "server.hooks.handle_ms":
            1000 * _mean(durs("server.hooks.try_handle", wnamed)),
        "server.hooks.hit_share": sum(hits) / len(hits) if hits else 0.0,
        # the whole run: bootstrap refreshes at set-up, statements after
        # a catalog change refresh again
        "catalog.refresh_s": sum(durs("catalog.refresh")),
        "catalog.refresh.calls": len(named["catalog.refresh"]),
        "session.fetch_first_row_ms":
            1000 * statistics.median(first_rows) if first_rows else 0.0,
        "session.fetch_s": sum(durs("session.fetch", wnamed)),
        "server.encoder.encode_s": sum(durs("server.encoder.encode", wnamed)),
        "server.encoder.rows": rows,
        "server.encoder.bytes": row_bytes,
        "server.copy_data.parse_s":
            sum(durs("server.copy_data.parse", wnamed)),
        "server.copy_data.rows": copy_rows,
        "server.pgwire.self_ms":
            1000 * (client_s - decode_s - below_root_s) / n,
        "server.pgwire.bytes_per_row": bytes_in / rows if rows else 0.0,
        "spark.jobs_per_stmt": len(jobs) / n,
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.task_run_s": sum(s["run_ms"] for s in stages) / 1000,
        "spark.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.critical_task_s": sum(s["max_task_ms"] for s in stages) / 1000,
        "spark.single_task_stage_share":
            sum(s["tasks"] == 1 for s in stages) / len(stages)
            if stages else 0.0,
        "spark.input_rows": sum(s["input_rows"] for s in stages),
        "spark.shuffle_write_bytes":
            sum(s["shuffle_write_bytes"] for s in stages),
        "client.decode_s": decode_s,
        "server.peak_rss_mb": peak_kb / 1024,
        "client.connect_p50_ms": 1000 * statistics.median(connects),
        "trace.span_coverage_share":
            (root_s + decode_s) / client_s if client_s else 0.0,
    }

    lines = ["layer self time over the window's statements "
             f"(client-observed total {client_s:.3f} s, {len(stmts)} "
             "statements):"]
    selfs = defaultdict(lambda: [0.0, 0])
    for s in stmt_spans:
        selfs[s[1]][0] += self_time(s)
        selfs[s[1]][1] += s[6]
    accounted = decode_s
    for name, (t, c) in sorted(selfs.items(), key=lambda kv: -kv[1][0]):
        accounted += t
        lines.append(f"  {name:34s} self {t:9.4f} s  calls {c:8d}  "
                     f"share {t / client_s if client_s else 0:6.1%}")
    wire = client_s - accounted
    lines.append(f"  {'client.decode':34s} self {decode_s:9.4f} s")
    lines.append(f"  {'socket/wire (unspanned)':34s} self {wire:9.4f} s  "
                 f"share {wire / client_s if client_s else 0:6.1%}")
    lines.append(
        f"  ratios: dialect.calls_per_stmt = {dialect_calls} calls / {n} "
        f"statements; server.hooks.hit_share = {sum(hits)} / {len(hits)} "
        f"try_handle calls; spark.jobs_per_stmt = {len(jobs)} jobs / {n} "
        f"statements; spark.single_task_stage_share = "
        f"{sum(s['tasks'] == 1 for s in stages)} / {len(stages)} stages; "
        f"server.pgwire.bytes_per_row = {bytes_in} B / {rows} rows")
    lines.append("  tracing overhead: selfcheck.py --trace-gap compares a "
                 "traced run's end-to-end figures with untraced runs")
    if dump.get("missing"):
        lines.append(f"  entry points not found: {dump['missing']}")
    return m, lines
