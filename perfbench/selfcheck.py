"""Self-check: do two sets of runs of the same commit agree?

    python3 perfbench/selfcheck.py [--runs 10] [--trace-gap]

Runs ``BENCHMARK.json``'s command ``--runs`` times per workload in each of
two sets, a different seed every run (set 1: seeds 1.., set 2: 101..),
alternating workloads so machine drift spreads over both. Nothing is kept
between invocations. For every workload and end-to-end metric it prints
each set's median, its spread (quartile distance over the median,
``statistics.quantiles(n=4)``), and whether

* each set's spread is within the metric's bound, and
* set 2's median is not worse than set 1's by more than the bound.

It also prints each run's wall time and what ``4 + 22 * workloads`` runs
at the mean wall time would take, against the 3420 s the whole series of
benchmark runs may take.

With ``--trace-gap`` it also makes one traced run per workload and prints
the traced run's end-to-end figures against set 1's medians: the tracing
overhead as the client sees it.

Exit status 1 when any check fails or any run is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple:
    """(result JSON, the run's end-to-end figures when traced, wall s)."""
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=900)
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.exit(f"{workload} seed {seed}: no result (exit {out.returncode})"
                 f"\n{out.stderr[-2000:]}")
    if not res["correct"] or out.returncode:
        print(out.stdout, file=sys.stderr)
    e2e = [json.loads(line[len("end-to-end "):]) for line in lines
           if line.startswith("end-to-end ")]
    return res, e2e[0] if e2e else None, wall


def spread(values: list) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def worse_by(base: float, new: float, better: str) -> float:
    """Relative change of new against base, positive when worse."""
    if not base:
        return 0.0
    change = (new - base) / base
    return change if better == "lower" else -change


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace-gap", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]

    sets = (1, 2)
    values = {(s, w): {m["name"]: [] for m in metrics}
              for s in sets for w in workloads}
    ok = True
    walls = []
    for s in sets:
        for i in range(args.runs):
            for w in workloads:
                seed = (s - 1) * 100 + i + 1
                res, _, wall = run_once(bench, w, seed, 0)
                walls.append(wall)
                ok &= res["correct"]
                for m in metrics:
                    values[(s, w)][m["name"]].append(
                        res["metrics"][m["name"]]["value"])
                print(f"set {s} {w} seed {seed}: {wall:.1f} s "
                      f"correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']} "
                      + json.dumps({k: round(v["value"], 4)
                                    for k, v in res["metrics"].items()}),
                      flush=True)

    total = (4 + 22 * len(workloads)) * statistics.fmean(walls)
    print(f"\nrun wall time: median {statistics.median(walls):.1f} s, max "
          f"{max(walls):.1f} s; {4 + 22 * len(workloads)} runs would take "
          f"{total:.0f} s of 3420 s")
    for w in workloads:
        print(f"\n{w}: metric, per set (median, spread), set 2 worse by, "
              "bound, verdict")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cols, good = [], True
            for s in sets:
                xs = values[(s, w)][name]
                cols.append(f"{statistics.median(xs):12.4f} "
                            f"{spread(xs):6.1%}")
                good &= spread(xs) <= bound
            worse = worse_by(statistics.median(values[(1, w)][name]),
                             statistics.median(values[(2, w)][name]),
                             m["better"])
            good &= worse <= bound
            ok &= good
            print(f"  {name:20s} {' '.join(cols)} {worse:+7.1%} "
                  f"{bound:5.2f} {'ok' if good else 'FAIL'} {m['unit']}")

    if args.trace_gap:
        print("\ntracing overhead (traced run vs set-1 median):")
        for w in workloads:
            res, traced, _ = run_once(bench, w, 1, 1)
            ok &= res["correct"] and traced is not None
            for m in metrics if traced else ():
                base = statistics.median(values[(1, w)][m["name"]])
                print(f"  {w:12s} {m['name']:20s} traced "
                      f"{traced[m['name']]:12.4f} untraced {base:12.4f} "
                      f"worse by {worse_by(base, traced[m['name']], m['better']):+7.1%}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
