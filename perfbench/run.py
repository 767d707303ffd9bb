"""Client-visible pg-wire benchmark.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 1 --trace 0

Generates the seed's tables under ``.perfbench/`` in the checkout, starts
the real server entry point (``python -m datafusion_postgres_spark
--directory ...``; with ``--trace 1`` the same ``main()`` behind
``traced_server.py``), drives one workload over protocol v3 from this
process, stops the server and its whole process tree, checks every reply,
and prints a report ending in one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of ``layers.py``. Exit status is 1 when an output is wrong, 2
when the program under test is missing, does not start or drops a
client, and 3 when a run exceeds 175 s (every process it started is
killed first).

Set-up runs from spawning the server until the first connection is ready
(``interactive`` opens both of its connections at once); the measured
window starts when every connection is. Workloads are closed loops (each
client sends its next statement only after the reply to the previous
one). Work is done in whole units: every client runs ``MIN_UNITS`` units
of its workload, and more only while the deadline ``--seconds`` after the
window starts has not passed.

* ``interactive``: both connections run BI-tool sessions (10 statements
  each, ``workloads.interactive_session``): a statement of the replayed
  introspection corpus with its spot check, SET/SHOW/BEGIN/COMMIT, a
  point lookup and a small aggregate over both protocols, the known
  failures and a client mistake. The two clients start each session
  together.
* ``batch``: one connection running bulk rounds (10 statements each,
  ``workloads.bulk_round``): 10^4-row reads as text, binary and COPY
  OUT, a 5*10^3-row COPY IN round trip and the known failures.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import socket
import statistics
import struct
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

USER_METRICS = {          # end-to-end metric -> unit
    "setup_s": "s",
    "stmt_p50_ms": "ms",
    "stmt_tail_ms": "ms",
    "failed_share": "ratio",
    "stmts_per_s": "1/s",
    "rows_per_s": "rows/s",
    "first_row_p50_ms": "ms",
}

# units of work every client runs, however short --seconds is
MIN_UNITS = {"interactive": 1, "batch": 1}

# statement kinds rows_per_s and first_row_p50_ms are taken over
RESULT_KINDS = {"interactive": ("replay", "session", "point", "agg"),
                "batch": ("bulk_read", "copy_out")}


class Fatal(Exception):
    """The program under test is missing or did not start."""


# -- server process ------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Server:
    def __init__(self, run_dir: str, data_dir: str, trace: bool):
        self.port = _free_port()
        self.spans_path = os.path.join(run_dir, "spans.json")
        work, tmp = (os.path.join(run_dir, d) for d in ("work", "tmp"))
        os.makedirs(work)
        os.makedirs(tmp)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
            "PYTHONUNBUFFERED": "1",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        args = ["--directory", data_dir, "--port", str(self.port)]
        if trace:
            cmd = [sys.executable, os.path.join(HERE, "traced_server.py"),
                   "--spans", self.spans_path, "--"] + args
        else:
            cmd = [sys.executable, "-m", "datafusion_postgres_spark"] + args
        self.log_path = os.path.join(run_dir, "server.log")
        self.log = open(self.log_path, "wb")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=work, env=env,
                                     stdout=self.log, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL)
        self.peak_kb = 0
        self._stop_sampling = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self):
        while not self._stop_sampling.is_set():
            kb = sum(_rss_kb(p) for p in process_tree(self.proc.pid))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop_sampling.wait(0.2)

    def wait_listening(self, timeout: float = 150.0) -> float:
        marker = f"postgresql://127.0.0.1:{self.port}".encode()
        while time.perf_counter() - self.t_spawn < timeout:
            if self.proc.poll() is not None:
                raise Fatal(f"server exited with {self.proc.returncode}; "
                            f"see {self.log_path}")
            with open(self.log_path, "rb") as f:
                if marker in f.read():
                    return time.perf_counter() - self.t_spawn
            time.sleep(0.02)
        raise Fatal("server did not start listening")

    def dump_trace(self, timeout: float = 60.0) -> dict:
        os.kill(self.proc.pid, signal.SIGUSR1)
        t0 = time.perf_counter()
        while not os.path.exists(self.spans_path):
            if time.perf_counter() - t0 > timeout:
                raise Fatal("traced server wrote no spans")
            time.sleep(0.05)
        with open(self.spans_path) as f:
            return json.load(f)

    def stop(self) -> None:
        """Stop the server and every process it started; wait for all."""
        tree = process_tree(self.proc.pid)
        self._stop_sampling.set()
        self._sampler.join(5)
        for sig, grace in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 10.0)):
            for p in tree:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.perf_counter() + grace
            while time.perf_counter() < deadline:
                self.proc.poll()
                tree = [p for p in tree if os.path.exists(f"/proc/{p}")
                        and not _is_zombie(p)]
                if not tree:
                    break
                time.sleep(0.05)
            if not tree:
                break
        self.proc.wait()
        self.log.close()


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


# -- load generation -----------------------------------------------------

class Recorder:
    """Statement and connect samples of the run, from all client threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.stmts: list = []         # (client, unit, Stmt, Reply, t_start)
        self.connects: list = []      # seconds

    def run(self, conn, client: int, unit: int, stmts: list) -> None:
        """Send the statements in order."""
        for st in stmts:
            ts = time.perf_counter()
            if st.copy_in is not None:
                reply = conn.simple(st.sql, copy_in=st.copy_in)
            elif st.params is not None:
                reply = conn.extended(st.sql, st.params, st.binary)
            else:
                reply = conn.simple(st.sql)
            with self.lock:
                self.stmts.append((client, unit, st, reply, ts))

    def connect(self, port: int):
        from pgclient import PgConnection
        conn = PgConnection("127.0.0.1", port)
        with self.lock:
            self.connects.append(conn.connect_s)
        return conn


class Connector(threading.Thread):
    """One connect, started in the background so two run at once."""

    def __init__(self, rec: Recorder, port: int):
        super().__init__()
        self.rec, self.port = rec, port
        self.conn = self.error = self.t_ready = None
        self.start()

    def run(self):
        try:
            self.conn = self.rec.connect(self.port)
            self.t_ready = time.perf_counter()
        except Exception as exc:        # re-raised by connect()
            self.error = exc


def connect(rec: Recorder, port: int, n: int) -> tuple[list, float]:
    """n concurrent connects: (connections, time the first was ready)."""
    cs = [Connector(rec, port) for _ in range(n)]
    for c in cs:
        c.join()
    for c in cs:
        if c.error is not None:
            for other in cs:
                if other.conn is not None:
                    other.conn.close()
            raise Fatal(f"connect failed: {c.error!r}")
    return [c.conn for c in cs], min(c.t_ready for c in cs)


def run_interactive(rec: Recorder, conns: list, seed: int,
                    seconds: float) -> None:
    """Every client runs its sessions in step with the others: a session
    starts when all clients are ready for it, so each run has the same
    composition and the same overlap between clients."""
    import workloads
    deadline = time.perf_counter() + seconds
    errors: list = []
    state = {"n": 0, "go": True}

    def next_session():         # run once per barrier crossing
        state["go"] = (state["n"] < MIN_UNITS["interactive"]
                       or time.perf_counter() < deadline)
        state["n"] += 1

    barrier = threading.Barrier(len(conns), action=next_session,
                                timeout=170)

    def client(cid: int, conn):
        rng = random.Random(f"{seed}-interactive-{cid}")
        try:
            while True:
                barrier.wait()
                if not state["go"]:
                    break
                n = state["n"] - 1
                rec.run(conn, cid, n,
                        workloads.interactive_session(rng, cid, n))
        except Exception as exc:        # reported, and the run fails
            errors.append(exc)
            barrier.abort()
        finally:
            conn.close()

    threads = [threading.Thread(target=client, args=(i + 1, c))
               for i, c in enumerate(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise Fatal(f"client failed: {errors[0]!r}")


def run_batch(rec: Recorder, conns: list, seed: int, seconds: float) -> None:
    import workloads
    conn, = conns
    rng = random.Random(f"{seed}-batch")
    deadline = time.perf_counter() + seconds
    n = 0
    while n < MIN_UNITS["batch"] or time.perf_counter() < deadline:
        rec.run(conn, 1, n, workloads.bulk_round(rng, n))
        n += 1
    conn.close()


# -- metrics -------------------------------------------------------------

def tail(values: list) -> tuple[float, float]:
    """The highest percentile with ten samples beyond it — the 11th
    largest value — when that lies above the median (21 samples or more);
    with fewer samples, the largest value: (its percentile rank, value)."""
    xs = sorted(values)
    if len(xs) < 21:
        return 100.0, xs[-1]
    return 100 * (len(xs) - 11) / (len(xs) - 1), xs[-11]


def user_metrics(rec: Recorder, workload: str, setup_s: float,
                 window_s: float) -> tuple[dict, list[str]]:
    replies = [r for _, _, _, r, _ in rec.stmts]
    lat = [r.total_s for r in replies]
    with_rows = [r for _, _, st, r, _ in rec.stmts
                 if r.n_rows and st.kind in RESULT_KINDS[workload]]
    errors = sum(1 for r in replies if r.error)
    p, tail_s = tail(lat)
    m = {
        "setup_s": setup_s,
        "stmt_p50_ms": 1000 * statistics.median(lat),
        "stmt_tail_ms": 1000 * tail_s,
        "failed_share": errors / len(replies),
        "stmts_per_s": len(replies) / window_s,
        "rows_per_s": sum(r.n_rows for r in with_rows)
        / sum(r.total_s for r in with_rows),
        "first_row_p50_ms":
            1000 * statistics.median(r.first_row_s for r in with_rows),
    }
    notes = [
        f"statements: {len(replies)} in {window_s:.2f} s; stmt_tail_ms is "
        f"p{p:.1f} of {len(lat)} samples",
        f"failed_share: {errors} error replies / {len(replies)} attempted "
        "(known failures included)",
        f"rows_per_s and first_row_p50_ms over {len(with_rows)} "
        "row-returning statements of kinds "
        f"{', '.join(RESULT_KINDS[workload])}",
    ]
    for title, key, top in (("statement kinds", "kind", None),
                            ("slowest statement labels", "label", 8)):
        groups: dict = {}
        for _, _, st, r, _ in rec.stmts:
            groups.setdefault(getattr(st, key), []).append(r.total_s)
        notes.append(f"{title} (total s, count, median ms):")
        for name, xs in sorted(groups.items(),
                               key=lambda kv: -sum(kv[1]))[:top]:
            notes.append(f"  {name:28s} {sum(xs):8.3f} {len(xs):4d} "
                         f"{1000 * statistics.median(xs):9.1f}")
    return m, notes


# -- main ----------------------------------------------------------------

def preflight() -> None:
    if not os.path.isfile(os.path.join(ROOT, "datafusion_postgres_spark",
                                       "__main__.py")):
        raise Fatal(f"no datafusion_postgres_spark package under {ROOT}")
    import importlib.util
    for mod in ("duckdb", "numpy", "pyarrow", "pyspark"):
        if importlib.util.find_spec(mod) is None:
            raise Fatal(f"missing dependency: {mod}")


def run(args) -> int:
    preflight()
    sys.path.insert(0, ROOT)
    import datagen
    import verify

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    t0 = time.perf_counter()
    datagen.generate(data_dir, args.seed)
    phases = {"datagen": time.perf_counter() - t0}

    rec = Recorder()
    server = Server(run_dir, data_dir, bool(args.trace))
    dump = None
    try:
        listen_s = server.wait_listening()
        conns, t_ready = connect(
            rec, server.port, 2 if args.workload == "interactive" else 1)
        setup_s = t_ready - server.t_spawn
        t_win, e_win = time.perf_counter(), time.time()
        if args.workload == "interactive":
            run_interactive(rec, conns, args.seed, args.seconds)
        else:
            run_batch(rec, conns, args.seed, args.seconds)
        t_end, e_end = time.perf_counter(), time.time()
        if args.trace:
            dump = server.dump_trace()
    finally:
        t0 = time.perf_counter()
        server.stop()
    phases.update(setup=setup_s, window=t_end - t_win,
                  stop=time.perf_counter() - t0)

    t0 = time.perf_counter()
    oracle = verify.Oracle(data_dir, len(os.sched_getaffinity(0)))
    wrong = []
    for client, unit, st, reply, _ in rec.stmts:
        try:
            why = verify.check(st, reply, oracle)
        except (ArithmeticError, LookupError, TypeError, ValueError,
                UnicodeDecodeError, struct.error) as exc:
            why = f"malformed reply: {exc!r}"
        if why:
            wrong.append(f"client {client} unit {unit} {st.label}: {why}")
    phases["verify"] = time.perf_counter() - t0

    m, notes = user_metrics(rec, args.workload, setup_s, t_end - t_win)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"server listening after {listen_s:.2f} s; phases "
          + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    for line in notes:
        print("  " + line)
    for name, unit in USER_METRICS.items():
        print(f"  {name:24s} {m[name]:14.4f} {unit}")
    for w in wrong[:20]:
        print("  WRONG " + w)
    if args.trace:
        import layers
        copy_rows = sum(st.check[1] for _, _, st, r, _ in rec.stmts
                        if st.copy_in is not None and not r.error)
        lm, lines = layers.analyze(dump, [r for *_, r, _ in rec.stmts],
                                   (t_win, t_end), (e_win, e_end), copy_rows,
                                   server.peak_kb, rec.connects)
        for line in lines:
            print(line)
        # the traced run's end-to-end figures, for selfcheck.py --trace-gap
        print("end-to-end " + json.dumps(m))
        for name, unit in layers.METRICS.items():
            print(f"  {name:34s} {lm[name]:16.4f} {unit}")
        metrics = {k: {"value": v, "unit": layers.METRICS[k]}
                   for k, v in lm.items()}
        os.replace(server.spans_path,
                   os.path.join(base, f"spans-{args.workload}.json"))
    else:
        metrics = {k: {"value": v, "unit": USER_METRICS[k]}
                   for k, v in m.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not wrong, "attempted": len(rec.stmts),
                      "failed": len(wrong), "metrics": metrics}))
    return 1 if wrong else 0


def _watchdog(seconds: float) -> None:
    """Exit nonzero, taking every server process down, if a run hangs."""
    def fire():
        print(f"perfbench: run exceeded {seconds:.0f} s, aborting",
              file=sys.stderr)
        for pid in process_tree(os.getpid())[1:]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        os._exit(3)
    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    _watchdog(175.0)
    try:
        sys.exit(run(args))
    except Fatal as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(2)
    except (OSError, RuntimeError, ValueError) as exc:
        print(f"perfbench: run failed: {exc!r}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
