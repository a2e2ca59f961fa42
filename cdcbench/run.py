#!/usr/bin/env python3
"""cdcbench: one workload of the CDC engine, in one fresh process.

    python3 cdcbench/run.py --workload replay_cow --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds ``tinyetl_spark/``. The run
generates its inputs from ``--seed``, starts ``local[cores]`` (half the
CPUs by default), warms up, measures for about ``--seconds`` (the window
ends on a commit boundary), checks the final table against an
independent LWW oracle, and prints a human-readable summary followed by
one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics of
a traced run (see README.md). All files live under ``.cdcbench_work/``
in the checkout and are removed at exit; a traced run keeps its spans in
``.cdcbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark task slots: half the CPUs, so the driver, the JVM's GC and JIT
# threads and the Python workers each task feeds run beside the tasks
# instead of queueing behind them on a shared host.
DEFAULT_CORES = max(1, (os.cpu_count() or 2) // 2)

E2E_UNITS = {
    "setup_s": "s", "events_per_s": "1/s", "batch_p50_ms": "ms",
    "freshness_p50_ms": "ms", "freshness_p90_ms": "ms",
    "lookup_p50_ms": "ms",
}


def pct(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (``numpy.percentile`` default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Clock:
    """Marks the measured window; in a traced run also snapshots CPU and
    GC counters at both ends."""

    def __init__(self, t_start: float, spark_ref: list, trace: bool):
        self.t_start, self.spark_ref, self.trace = t_start, spark_ref, trace
        self.t0 = self.t1 = None
        self.rss = {"total": 0.0}
        self.cpu0 = self.cpu1 = self.gc0 = self.gc1 = None

    def _counters(self):
        import tracing as tr
        return tr.cpu_seconds(), tr.jvm_gc_seconds(self.spark_ref[0])

    def start(self) -> float:
        if self.trace:
            self.cpu0, self.gc0 = self._counters()
        self.t0 = time.time()
        return self.t0

    def end(self) -> float:
        import tracing as tr
        self.t1 = time.time()
        self.rss = tr.peak_rss_mb()
        if self.trace:
            self.cpu1, self.gc1 = self._counters()
        return self.t1


def build_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        elog = os.path.join(work, "eventlog")
        os.makedirs(elog)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + elog,
                     "spark.eventLog.compress": "false"})
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def e2e_metrics(out, setup_s: float) -> dict[str, tuple]:
    """name -> (value, n samples); a metric without samples is missing."""
    vals = {"setup_s": (setup_s, 1)}
    if out.events_per_s > 0:
        vals["events_per_s"] = (out.events_per_s, len(out.commits))
    trig = [b["trigger_ms"] for b in out.batches]
    for name, xs, q in (("batch_p50_ms", trig, 0.5),
                        ("freshness_p50_ms", out.freshness_ms, 0.5),
                        ("freshness_p90_ms", out.freshness_ms, 0.9),
                        ("lookup_p50_ms", out.lookup_ms, 0.5)):
        if xs:
            vals[name] = (pct(xs, q), len(xs))
    return vals


def window_files(b, out) -> dict[str, float]:
    """Delta-file peak, write amplification and metadata size over the
    window's commits, read from the table's snapshots."""
    if not out.commits:
        return {"delta_files_max": 0, "write_amp": 0.0, "meta_bytes": 0.0}
    v0 = min(c["version"] for c in out.commits)
    v1 = b.table.current_version()
    prev = {f["path"] for f in b.table.snapshot(v0 - 1).files}
    deltas, written, meta = 0, 0, []
    for v in range(v0, v1 + 1):
        snap = b.table.snapshot(v)
        deltas = max(deltas, sum(1 for f in snap.files if f.get("delta")))
        for f in snap.files:
            if f["path"] not in prev and os.path.exists(f["path"]):
                written += os.path.getsize(f["path"])
        prev = {f["path"] for f in snap.files}
        meta.append(os.path.getsize(
            os.path.join(b.table.meta_dir, f"v{v}.json")))
    inp = sum(os.path.getsize(os.path.join(b.log, n)) for n in out.segments)
    return {"delta_files_max": deltas,
            "write_amp": written / inp if inp else 0.0,
            "meta_bytes": statistics.fmean(meta)}


def extract_rate(b) -> float:
    """``extract_series`` docs/s on one core over a fixed sample of the
    run's own generated html."""
    import pandas as pd
    import pyarrow.parquet as pq
    from tinyetl_spark.extract import extract_series
    html = []
    for p in b.applied:
        html += [h for h in pq.read_table(p, columns=["html"])
                 .column("html").to_pylist() if h is not None]
        if len(html) >= 2000:
            break
    s = pd.Series(html[:2000], dtype=object)
    t0 = time.perf_counter()
    extract_series(s)
    return len(s) / (time.perf_counter() - t0)


def main(argv=None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["replay_cow", "trickle_mor"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="full",
                    help="full (default); tiny and overload are smoke-test "
                         "shapes (see workloads.SHAPES)")
    ap.add_argument("--cores", type=int, default=DEFAULT_CORES,
                    help=f"local[cores]; default: half the CPUs "
                         f"({DEFAULT_CORES})")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tinyetl_spark", "__init__.py")):
        print(f"cdcbench: no tinyetl_spark package under {ROOT}; run from "
              "a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import oracle
    import tracing as tr
    import workloads as wl

    if args.size not in wl.SHAPES[args.workload]:
        ap.error(f"--size {args.size}: {args.workload} has sizes "
                 f"{', '.join(wl.SHAPES[args.workload])}")
    shape = wl.SHAPES[args.workload][args.size]
    work = os.path.join(ROOT, ".cdcbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every engine env var stays unset: engine defaults are what is measured
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the spark-submit launcher JVM, too, keeps its files in the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"

    tracer = tr.Tracer() if args.trace else None
    spark_ref: list = []
    clock = Clock(t_start, spark_ref, bool(args.trace))
    out = None
    errors: list[str] = []
    spark = None
    extra: dict = {}
    try:
        if tracer:
            tracer.install()
        # inputs are built while the JVM starts
        n_seg = wl.segments_needed(args.workload, shape, args.seconds)
        built: dict = {}

        def build():
            built["names"] = wl.Bench.build(work, args.seed, shape, n_seg)

        g = threading.Thread(target=build, name="cdcbench-build")
        g.start()
        import tinyetl_spark.session as session
        spark = session.get_spark(
            app_name=f"cdcbench-{args.workload}", cores=args.cores,
            extra_conf=build_conf(work, bool(args.trace)))
        spark.sparkContext.setLogLevel("ERROR")
        spark_ref.append(spark)
        extra["session_ready_s"] = time.time() - t_start
        g.join()
        if "names" not in built:
            raise RuntimeError("input generation failed")
        b = wl.Bench(spark, work, args.seed, shape)
        out = wl.WORKLOADS[args.workload](b, built["names"], args.seconds,
                                          clock)
        errors += out.errors
        # ---- after the window: correctness, then traced-only probes
        out.attempted += 1
        t0 = time.time()
        extra["post_window_s"] = t0 - clock.t1
        try:
            bad = oracle.check(b.table, b.applied, args.seed)
        except Exception as e:
            bad = [f"oracle check raised {e!r}"]
        extra["oracle_s"] = time.time() - t0
        if bad:
            out.failed += 1
            errors += bad
        if tracer:
            import tinyetl_spark.lineage as lineage
            t0 = time.perf_counter()
            n_versions = lineage.merge_metrics(b.table).count()
            extra["merge_metrics_ms"] = (time.perf_counter() - t0) * 1e3
            extra["merge_metrics_versions"] = n_versions
            extra.update(window_files(b, out))
            extra["extract_docs_per_s"] = extract_rate(b)
            extra["gc_s"] = clock.gc1 - clock.gc0
            extra["rss_mb"] = clock.rss["total"]
            extra["cpu"] = {k: clock.cpu1[k] - clock.cpu0[k]
                            for k in clock.cpu0}
    except Exception as e:
        import traceback
        traceback.print_exc()
        errors.append(f"run failed: {e!r}")
    finally:
        if tracer:
            tracer.uninstall()
        if spark is not None:
            stop_spark(spark)

    result_metrics: dict = {}
    lines: list[str] = []
    correct = out is not None and not errors
    if out is not None:
        setup_s = clock.t0 - t_start
        vals = e2e_metrics(out, setup_s)
        if out.notes.get("fell_behind"):
            for k in ("freshness_p50_ms", "freshness_p90_ms"):
                vals.pop(k, None)
        missing = [k for k in E2E_UNITS if k not in vals]
        if missing:
            errors.append(f"no samples for {', '.join(missing)}")
            correct = False
        w = out.window[1] - out.window[0]
        warm = " ".join(f"{x:.2f}" for x in out.notes.get("warm_s", []))
        lines.append(f"cdcbench {args.workload} seed={args.seed} "
                     f"cores={args.cores} trace={args.trace} window={w:.2f}s "
                     f"batches={len(out.batches)} session_ready="
                     f"{extra.get('session_ready_s', 0):.2f}s "
                     f"preload={out.notes.get('preload_s', 0):.2f}s "
                     f"warm-up=[{warm}]s after-window="
                     f"{extra.get('post_window_s', 0):.2f}s oracle="
                     f"{extra.get('oracle_s', 0):.2f}s")
        for k, (v, n) in vals.items():
            lines.append(f"  {k:<18} {v:12.3f} {E2E_UNITS[k]:<4} n={n}")
        lines.append("  window batch_ms=[" + " ".join(
            f"{b['trigger_ms']:.0f}" for b in out.batches) + "] rows=["
            + " ".join(str(b["rows"]) for b in out.batches) + "]")
        xs = out.lookup_ms
        if len(xs) >= 2:
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            lines.append(f"  lookup_ms min/q1/q2/q3/max = {min(xs):.0f}/"
                         f"{q1:.0f}/{q2:.0f}/{q3:.0f}/{max(xs):.0f}")
        strategies = sorted({c["strategy"] for c in out.commits})
        lines.append(f"  peak_rss_mb={clock.rss['total']:.0f} by role: "
                     + " ".join(f"{k}={v:.0f}" for k, v in clock.rss.items()
                                if k != "total"))
        lines.append(f"  strategies={','.join(strategies)} "
                     f"backlog_max={max(out.backlog, default=0)}"
                     + (f" gen_late_max_ms={max(out.gen_late_ms):.1f}"
                        if out.gen_late_ms else "")
                     + (f" offered_per_s={out.notes['offered_per_s']:.1f}"
                        f" batch_rate_per_s="
                        f"{out.notes['batch_rate_per_s']:.1f}"
                        if "offered_per_s" in out.notes else "")
                     + (f" read_changes_p50_ms="
                        f"{statistics.median(out.changes_ms):.1f}"
                        f" n={len(out.changes_ms)}" if out.changes_ms else ""))
        if not args.trace:
            result_metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                              for k, (v, _n) in vals.items()}
        elif tracer is not None and "cpu" in extra:
            result_metrics, report = traced_report(
                tracer, work, out, extra, args, vals)
            lines += report
    for e in errors:
        print(f"cdcbench ERROR: {e}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass
    lines.append(f"  elapsed={time.time() - t_start:.1f}s")
    print("\n".join(lines))
    attempted = out.attempted if out is not None else 1
    failed = out.failed if out is not None else 1
    if out is not None and errors and failed == 0:
        failed = 1
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": result_metrics}))
    return 0 if correct else 1


def traced_report(tracer, work, out, extra, args, vals):
    import tracing as tr
    w0, w1 = out.window
    elog = tr.read_event_log(os.path.join(work, "eventlog"))
    sess = [s for s in tracer.spans if s["name"] == "session.get_spark"]
    extra["session_start_s"] = (sess[0]["end"] - sess[0]["start"]) if sess \
        else 0.0
    extra["backlog_max"] = max(out.backlog, default=0)
    extra["files_per_lookup"] = (statistics.fmean(out.files_per_lookup)
                                 if out.files_per_lookup else 0.0)
    extra["read_phase"] = out.read_phase
    metrics = tr.layer_metrics(tracer.spans, elog, out.window, out.batches,
                               out.commits, extra)
    units = {k: tr.unit_of(k) for k in metrics}
    lines = ["  -- per-layer (window only) --"]
    lines += [f"  {k:<44} {v:14.3f} {units[k]}" for k, v in metrics.items()]
    wall = w1 - w0
    cpu = extra["cpu"]
    lines.append(f"  ratios: python_worker_cpu/wall = "
                 f"{cpu['py_workers']:.2f}s/{wall:.2f}s = "
                 f"{cpu['py_workers'] / wall:.3f}; jvm_cpu/wall = "
                 f"{cpu['jvm']:.2f}s/{wall:.2f}s = {cpu['jvm'] / wall:.3f}; "
                 f"lineage.merge_metrics over {extra['merge_metrics_versions']}"
                 f" versions")
    bp = metrics["lake.merge.driver_ms"] + metrics["lake.table.commit_ms"]
    p50 = vals.get("batch_p50_ms", (0, 0))[0]
    if p50:
        lines.append(f"  (merge driver + commit)/batch p50 = {bp:.1f}ms/"
                     f"{p50:.1f}ms = {bp / p50:.3f}")
    in_window = [s for s in tracer.spans if s["start"] >= w0
                 and s["end"] <= w1]
    jobs = {k: v for k, v in elog["jobs"].items()
            if v.get("start") and v.get("end") and w0 <= v["start"] <= w1}
    lines.append("  -- self time per layer (window) --")
    for layer, row in sorted(tr.self_times(in_window, jobs).items()):
        lines.append(f"  {layer:<22} calls={row['calls']:<6} "
                     f"total_ms={row['total_ms']:10.1f} "
                     f"self_ms={row['self_ms']:10.1f}")
    lines.append("  -- traced end-to-end (compare with untraced runs for "
                 "the tracing overhead) --")
    lines += [f"  e2e {k}={v:.3f}" for k, (v, _n) in vals.items()]
    outdir = os.path.join(ROOT, ".cdcbench_out")
    os.makedirs(outdir, exist_ok=True)
    path = os.path.join(outdir, f"{args.workload}-seed{args.seed}-spans.json")
    tracer.dump(path)
    lines.append(f"  spans: {os.path.relpath(path, ROOT)}")
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}, \
        lines


if __name__ == "__main__":
    sys.exit(main())
