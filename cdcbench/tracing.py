"""Traced run: spans around calls into the engine's public functions, a
Spark event log, and process counters, turned into per-layer metrics.

Spans are recorded from the benchmark's side by swapping module and class
attributes for the duration of the run; nothing inside the engine
changes. ``run_pipeline`` calls ``merge_apply`` through the name it
imported, so the wrapper goes on ``tinyetl_spark.streaming.pipeline``
(patching ``lake.merge.merge_apply`` would see nothing). ``foreachBatch``
runs on a Py4J callback thread, so the span stack is per thread. Spans
stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, batch_arg: int | None = None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kw):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            batch = (args[batch_arg] if batch_arg is not None
                     and len(args) > batch_arg else kw.get("batch_id"))
            if batch is None and parent is not None:
                batch = parent["batch"]
            span = {"id": next(tracer._ids), "name": name,
                    "parent": parent["id"] if parent else None,
                    "batch": batch, "thread": threading.current_thread().name,
                    "start": time.time(), "end": None}
            stack.append(span)
            try:
                return orig(*args, **kw)
            finally:
                span["end"] = time.time()
                stack.pop()
                tracer.spans.append(span)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self):
        import tinyetl_spark.lineage as lineage
        import tinyetl_spark.session as session
        import tinyetl_spark.streaming.pipeline as pipeline
        from tinyetl_spark.lake.table import LakeTable
        self.wrap(session, "get_spark", "session.get_spark")
        self.wrap(pipeline, "stream_event_log",
                  "sources.eventlog.stream_event_log")
        self.wrap(pipeline, "merge_apply", "lake.merge.merge_apply",
                  batch_arg=2)
        for m in ("commit", "snapshot", "read", "lookup", "read_changes",
                  "compact_deltas", "history"):
            self.wrap(LakeTable, m, f"lake.table.{m}")
        self.wrap(lineage, "merge_metrics", "lineage.merge_metrics")

    def uninstall(self):
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str):
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


# ------------------------------------------------------------ process tree
def _proc_table() -> dict[int, dict]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2:].split()
        out[int(d)] = {"name": name, "ppid": int(rest[1]),
                       "utime": int(rest[11]), "stime": int(rest[12]),
                       "cutime": int(rest[13]), "cstime": int(rest[14])}
    return out


def process_tree(root: int | None = None) -> dict[int, dict]:
    """This process and all its descendants (JVM, Python daemon/workers)."""
    root = root or os.getpid()
    procs = _proc_table()
    keep, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, info in procs.items():
            if info["ppid"] == p and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return {p: procs[p] for p in keep if p in procs}


def peak_rss_mb() -> dict[str, float]:
    """VmHWM over the process tree in MB, by role and in total."""
    me = os.getpid()
    out = {"driver_py": 0.0, "jvm": 0.0, "py_workers": 0.0}
    for pid, p in process_tree(me).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb = next((int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        role = ("driver_py" if pid == me else "jvm" if p["name"] == "java"
                else "py_workers")
        out[role] += kb / 1024.0
    out["total"] = sum(out.values())
    return out


def cpu_seconds() -> dict[str, float]:
    """CPU seconds by role: driver Python, JVM, Python workers (with the
    reaped children of the worker daemon)."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    out = {"driver_py": 0.0, "jvm": 0.0, "py_workers": 0.0}
    for pid, p in process_tree(me).items():
        own = (p["utime"] + p["stime"]) / tick
        if pid == me:
            out["driver_py"] += own
        elif p["name"] == "java":
            out["jvm"] += own
        elif p["name"].startswith("python"):
            out["py_workers"] += own + (p["cutime"] + p["cstime"]) / tick
    return out


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


# --------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the Spark event log (JSON lines)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    files = sorted(os.path.join(d, fn) for d, _, fns in os.walk(log_dir)
                   for fn in fns if not fn.startswith(("appstatus", ".")))
    for path in files:      # rolled logs: events_<n>_<app> in order
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = {"start": e["Submission Time"] / 1e3,
                                 "end": None}
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif ev == "SparkListenerJobEnd":
                    jobs.setdefault(e["Job ID"], {"start": None})["end"] = \
                        e["Completion Time"] / 1e3
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], _new_stage())
                    st["start"] = si.get("Submission Time", 0) / 1e3
                    st["end"] = si.get("Completion Time", 0) / 1e3
                elif ev == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], _new_stage())
                    tm = e.get("Task Metrics") or {}
                    st["task_ms"].append(tm.get("Executor Run Time", 0))
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill"] += tm.get("Disk Bytes Spilled", 0)
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"start": 0.0, "end": 0.0, "task_ms": [], "shuffle_write": 0,
            "spill": 0, "job": None}


# ----------------------------------------------------------------- metrics
def unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_per_s", "1/s"), ("_s", "s"),
                         ("_mb", "MB"), ("_per_commit", "bytes"),
                         ("_per_input_byte", "ratio"), ("_over_p50", "ratio"),
                         ("_ratio_max", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def self_times(spans: list[dict], jobs: dict) -> dict[str, dict]:
    """Per layer: calls, total and self time (ms). Spark jobs that run
    inside a span are its children, under the pseudo-layer ``spark.jobs``."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    job_iv = [(j["start"], j["end"]) for j in jobs.values()
              if j.get("start") and j.get("end")]
    out: dict[str, dict] = {}
    for s in spans:
        kids = list(children.get(s["id"], []))
        kids += [(max(a, s["start"]), min(b, s["end"])) for a, b in job_iv
                 if a < s["end"] and b > s["start"]]
        dur = s["end"] - s["start"]
        layer = s["name"].rsplit(".", 1)[0]
        row = out.setdefault(layer, {"calls": 0, "total_ms": 0.0,
                                     "self_ms": 0.0})
        row["calls"] += 1
        row["total_ms"] += dur * 1e3
        row["self_ms"] += max(0.0, dur - _union(kids)) * 1e3
    top = [s for s in spans if s["parent"] not in by_id]
    jrow = out.setdefault("spark.jobs", {"calls": 0, "total_ms": 0.0,
                                         "self_ms": 0.0})
    for a, b in job_iv:
        if any(a < s["end"] and b > s["start"] for s in top):
            jrow["calls"] += 1
            jrow["total_ms"] += (b - a) * 1e3
            jrow["self_ms"] += (b - a) * 1e3
    return out


def layer_metrics(spans: list[dict], elog: dict, window: tuple[float, float],
                  batches: list[dict], commits: list[dict],
                  extra: dict) -> dict[str, float]:
    """The per-layer metrics of one traced run (see README.md)."""
    w0, w1 = window
    ws = [s for s in spans if s["start"] >= w0 and s["end"] <= w1]
    jobs, stages = elog["jobs"], elog["stages"]
    applies = [s for s in ws if s["name"] == "lake.merge.merge_apply"]
    in_batch = [s for s in ws if not s["thread"].startswith("MainThread")]
    n_batches = max(len(batches), 1)

    driver_ms, n_jobs, map_s, red_s, shuf, ratios = [], [], [], [], [], []
    spill = 0
    for a in applies:
        mine = [j for j, v in jobs.items() if v.get("start") and v.get("end")
                and a["start"] <= v["start"] <= a["end"]]
        iv = [(jobs[j]["start"], min(jobs[j]["end"], a["end"])) for j in mine]
        driver_ms.append((a["end"] - a["start"] - _union(iv)) * 1e3)
        n_jobs.append(len(mine))
        m = r = sw = 0.0
        for st in stages.values():
            if st["job"] not in mine:
                continue
            dur = max(0.0, st["end"] - st["start"])
            spill += st["spill"]
            if st["shuffle_write"] > 0:
                m += dur
                sw += st["shuffle_write"]
            else:
                r += dur
                if len(st["task_ms"]) > 1 and _med(st["task_ms"]) > 0:
                    ratios.append(max(st["task_ms"]) / _med(st["task_ms"]))
        map_s.append(m)
        red_s.append(r)
        shuf.append(sw / 2**20)

    def spans_named(n, pool=ws):
        return [s for s in pool if s["name"] == n]

    def dur_ms(ss):
        return [(s["end"] - s["start"]) * 1e3 for s in ss]

    compacts = spans_named("lake.table.compact_deltas")
    r0, r1 = extra["read_phase"]
    main_reads = [s for s in spans if s["name"] == "lake.table.read"
                  and r0 <= s["start"] and s["end"] <= r1]
    out = {
        "session.start_s": extra["session_start_s"],
        "sources.eventlog.latest_offset_ms": _med(
            b["latest_offset_ms"] for b in batches),
        "sources.eventlog.get_batch_ms": _med(
            b["get_batch_ms"] for b in batches),
        "sources.eventlog.backlog_files_max": float(extra["backlog_max"]),
        "streaming.pipeline.query_planning_ms": _med(
            b["planning_ms"] for b in batches),
        "streaming.pipeline.bookkeeping_ms": _med(
            b["trigger_ms"] - b["add_batch_ms"] for b in batches),
        "streaming.pipeline.batches": float(len(batches)),
        "lake.merge.apply_ms": _med(dur_ms(applies)),
        "lake.merge.driver_ms": _med(driver_ms),
        "lake.merge.jobs_per_batch": _mean(n_jobs),
        "lake.merge.map_stage_s": _mean(map_s),
        "lake.merge.reduce_stage_s": _mean(red_s),
        "lake.merge.shuffle_write_mb": _mean(shuf),
        "lake.merge.spill_mb": spill / 2**20,
        "lake.merge.events_in": float(sum(c["events_in"] for c in commits)),
        "lake.merge.dedup_drops": float(sum(c["dedup_drops"] for c in commits)),
        "lake.merge.upserts": float(sum(c["upserts"] for c in commits)),
        "lake.merge.deletes": float(sum(c["deletes"] for c in commits)),
        "lake.merge.touched_buckets_mean": _mean(
            c["touched_buckets"] for c in commits),
        "lake.merge.cow_batches": float(sum(
            c["strategy"] == "cow" for c in commits)),
        "lake.merge.mor_batches": float(sum(
            c["strategy"] == "mor" for c in commits)),
        "partitioning.reduce_task_max_over_p50": _med(ratios),
        "partitioning.skew_ratio_max": max(
            (c["skew_ratio"] for c in commits), default=0.0),
        "extract.docs_per_s": extra["extract_docs_per_s"],
        "extract.python_worker_cpu_s": extra["cpu"]["py_workers"],
        "lake.table.commit_ms": _med(dur_ms(spans_named("lake.table.commit"))),
        "lake.table.snapshot_calls_per_batch": len(
            spans_named("lake.table.snapshot", in_batch)) / n_batches,
        "lake.table.snapshot_ms": _mean(dur_ms(
            spans_named("lake.table.snapshot"))),
        "lake.table.compactions": float(len(compacts)),
        "lake.table.compact_deltas_ms": _mean(dur_ms(compacts)),
        "lake.table.delta_files_max": float(extra["delta_files_max"]),
        "lake.table.read_ms": _med(dur_ms(main_reads)),
        "lake.table.files_scanned_per_lookup": extra["files_per_lookup"],
        "lake.table.bytes_written_per_input_byte": extra["write_amp"],
        "lake.table.metadata_bytes_per_commit": extra["meta_bytes"],
        "lineage.merge_metrics_ms": extra["merge_metrics_ms"],
        "proc.jvm_cpu_s": extra["cpu"]["jvm"],
        "proc.driver_py_cpu_s": extra["cpu"]["driver_py"],
        "proc.jvm_gc_s": extra["gc_s"],
        "proc.peak_rss_mb": extra["rss_mb"],
    }
    return out
