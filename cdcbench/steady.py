#!/usr/bin/env python3
"""Steadiness check: run workloads K times each, every run in a fresh
process with its own seed, and print per end-to-end metric the median,
quartiles (``statistics.quantiles(n=4)``), min/max and the quartile
spread as a share of the median, against the bound declared in
``BENCHMARK.json``.

    python3 cdcbench/steady.py --workload replay_cow,trickle_mor --runs 10 --seed0 1

With several workloads the runs alternate between them, so a slow phase
of the host falls on all of them alike. ``--traced`` adds one traced run
per workload and prints its end-to-end numbers minus the untraced
medians: the tracing overhead. ``--scaling`` adds one untraced run of
each workload at ``local[1]`` and prints
``streaming.pipeline.scaling_eff_1toN`` = median events/s at
``local[N]`` ÷ (N × events/s at ``local[1]``), N being run.py's default
core count. Each run's window batch times and lookup quartiles are
echoed under its line. Run nothing else on the host meanwhile. Exit
code 0 only when every spread is within its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

from run import DEFAULT_CORES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int,
            cores: int | None = None):
    """(result JSON or None, summary lines, wall seconds) of one run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    t0 = time.time()
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                       timeout=600)
    wall = time.time() - t0
    lines = r.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]), lines[:-1], wall
    except (IndexError, ValueError):
        sys.stderr.write(r.stderr[-2000:])
        print(f"{workload} seed {seed}: no result (exit {r.returncode})")
        return None, lines, wall


def report(workload: str, values: dict[str, list[float]],
           bounds: dict[str, float]) -> float:
    """Print the spread table; return the worst spread ÷ bound."""
    print(f"\n{workload}: {len(values['setup_s'])} runs")
    print(f"{'metric':<18} {'median':>10} {'q1':>10} {'q3':>10} {'min':>10}"
          f" {'max':>10} {'spread':>7} {'bound':>6}  verdict")
    worst = 0.0
    for k, xs in values.items():
        if len(xs) < 2:
            print(f"{k:<18} fewer than two samples")
            worst = float("inf")
            continue
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        verdict = ("ok (< bound/3)" if spread < bounds[k] / 3
                   else "within bound" if spread <= bounds[k] else "TOO NOISY")
        worst = max(worst, spread / bounds[k])
        print(f"{k:<18} {med:10.4g} {q1:10.4g} {q3:10.4g} {min(xs):10.4g} "
              f"{max(xs):10.4g} {spread:7.3f} {bounds[k]:6.2f}  {verdict}")
    return worst


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="one workload, or several separated by commas")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    workloads = args.workload.split(",")
    values = {w: {k: [] for k in bounds} for w in workloads}
    walls: list[float] = []
    for i in range(args.runs):
        seed = args.seed0 + i
        for w in workloads:
            res, lines, wall = one_run(w, seed, seconds, 0)
            walls.append(wall)
            if res is None:
                continue
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {seed}: correct={res['correct']} "
                      f"failed={res['failed']}")
            got = {k: res["metrics"][k]["value"] for k in bounds
                   if k in res["metrics"]}
            for k, v in got.items():
                values[w][k].append(v)
            print(f"{w} seed {seed} ({wall:.1f}s): " + " ".join(
                f"{k}={v:.4g}" for k, v in got.items()))
            # the run's own batch times and lookup quartiles show whether
            # an outlier is a slow host phase or a change in the work
            print("\n".join(x for x in lines if x.lstrip().startswith(
                ("window batch_ms", "lookup_ms"))), flush=True)
    worst = max(report(w, values[w], bounds) for w in workloads)
    print(f"\nrun wall: median {statistics.median(walls):.1f}s, max "
          f"{max(walls):.1f}s, total {sum(walls):.0f}s")
    for w in workloads:
        if args.traced:
            _, lines, _ = one_run(w, args.seed0, seconds, 1)
            print(f"\n{w} tracing overhead (traced run minus untraced "
                  f"median):")
            for line in lines:
                m = re.match(r"\s+e2e (\S+)=(\S+)", line)
                if m and values[w].get(m.group(1)):
                    k, v = m.group(1), float(m.group(2))
                    med = statistics.median(values[w][k])
                    print(f"  {k:<18} traced={v:10.4g} untraced={med:10.4g}"
                          f" diff={v - med:+10.4g} ({(v - med) / med:+.1%})")
        if args.scaling:
            res, _, _ = one_run(w, args.seed0, seconds, 0, cores=1)
            one = (res or {}).get("metrics", {}).get(
                "events_per_s", {}).get("value")
            n = DEFAULT_CORES
            if one and values[w]["events_per_s"]:
                med = statistics.median(values[w]["events_per_s"])
                print(f"\n{w} streaming.pipeline.scaling_eff_1to{n} = "
                      f"{med:.1f}/({n} x {one:.1f}) = {med / (n * one):.3f}"
                      f"  (local[1] baseline {one:.1f} events/s, seed "
                      f"{args.seed0})")
            else:
                print(f"\n{w} scaling: the local[1] run gave no events_per_s")
    return 0 if worst <= 1.0 else 1


if __name__ == "__main__":
    sys.exit(main())
