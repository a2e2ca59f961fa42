"""The workloads. Each drives the engine only through its public API.

Every workload streams pre-built parquet segments into the event-log
directory of one ``run_pipeline`` query (default trigger): a segment
becomes visible by an atomic ``os.rename`` from a staging directory, so
all inputs exist before the measured window starts and the window always
ends on a commit boundary (``processAllAvailable`` returns when the last
landed segment is committed).

- ``replay_cow`` (closed loop): one segment per micro-batch, the next
  landed when the previous commits. The live key count is about one
  batch, so ``merge_apply`` picks copy-on-write and rewrites every bucket
  on each batch: per-event data-path work (scan, shuffle, sort + LWW
  window, Arrow/pandas pass, parquet write).
- ``trickle_mor`` (open loop): small segments land on a fixed schedule
  well below capacity into a table preloaded with a large key space, so
  ``auto`` picks merge-on-read and inline delta compaction fires: per-batch
  fixed costs (listing, planning, jobs, commit, compaction spikes).
  After the window it compacts, lands a fixed number of segments (one
  delta each) and runs the read set on base plus deltas: point lookups of
  keys changed and unchanged by the last segment, and one
  ``read_changes``.

``replay_cow`` also runs the read set after its window, on the
copy-on-write table it leaves (no deltas).
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

import gen

# Shapes per workload; "tiny" and "overload" are smoke-test sizes.
# ``pool`` is the number of pre-built stream segments: enough for the
# warm-up cap plus a window about twice as fast as the engine measured
# when the sizes were set. A window that exhausts its pool ends early
# (reported as ``window_s``).
SHAPES = {
    "replay_cow": {
        "full": dict(buckets=4, keys=4000, events=4000, pool=24,
                     warm_min=4, warm_max=5, lookups=21),
        "tiny": dict(buckets=2, keys=300, events=300, pool=6,
                     warm_min=1, warm_max=2, lookups=3),
    },
    "trickle_mor": {
        "full": dict(buckets=8, keys=5000, events=20, interval_s=0.1,
                     preload=True, warm_group=8, warm_min=3, warm_max=3,
                     compact_debt=4, read_deltas=1, lookups=21),
        # one segment per batch (a tiny batch takes 1-1.7 s) and no inline
        # compaction in an 8 s window, so a healthy engine commits at the
        # offered rate
        "tiny": dict(buckets=2, keys=1000, events=20, interval_s=2.0,
                     preload=True, warm_group=2, warm_min=1, warm_max=2,
                     compact_debt=8, read_deltas=1, lookups=3),
        # smoke test of the keep-up check: offers far more than the
        # engine commits, so the run must fail and report no freshness
        "overload": dict(buckets=2, keys=1000, events=200, interval_s=0.005,
                         preload=True, warm_group=2, warm_min=1, warm_max=2,
                         compact_debt=3, read_deltas=1, lookups=3),
    },
}

# ``trickle_mor`` fails when its batches commit events slower than this
# share of the generator's offered rate (see ``_batch_rate``).
KEEP_UP = 0.8
# untimed lookups before the timed read set
WARM_LOOKUPS = 5


def leveled(times: list[float], k: int = 3, tol: float = 0.05) -> bool:
    """True when the median of the last ``k`` batch times is no longer
    more than ``tol`` below the median of the ``k`` before them."""
    if len(times) < 2 * k:
        return False
    prev = statistics.median(times[-2 * k:-k])
    return statistics.median(times[-k:]) >= (1 - tol) * prev


@dataclass
class Outcome:
    """Raw samples of one run; ``run.py`` turns them into metrics."""
    window: tuple[float, float] = (0.0, 0.0)
    batches: list[dict] = field(default_factory=list)   # window progress
    commits: list[dict] = field(default_factory=list)   # window merges
    freshness_ms: list[float] = field(default_factory=list)
    lookup_ms: list[float] = field(default_factory=list)
    changes_ms: list[float] = field(default_factory=list)
    files_per_lookup: list[int] = field(default_factory=list)
    segments: list[str] = field(default_factory=list)   # window inputs
    read_phase: tuple[float, float] = (0.0, 0.0)
    events_per_s: float = 0.0
    backlog: list[int] = field(default_factory=list)
    gen_late_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    notes: dict = field(default_factory=dict)


class Bench:
    """One run's directories, staged segments and streaming query."""

    def __init__(self, spark, work: str, seed: int, shape: dict):
        self.spark, self.work, self.seed, self.shape = spark, work, seed, shape
        self.stage = os.path.join(work, "stage")
        self.log = os.path.join(work, "log")
        self.table_path = os.path.join(work, "table")
        self.ck = os.path.join(work, "checkpoint")
        os.makedirs(self.log)
        self.applied: list[str] = []      # event files the table has seen
        self.landed: dict[str, float] = {}
        self.run = None
        self.table = None

    # ------------------------------------------------------------ inputs
    @staticmethod
    def build(work: str, seed: int, shape: dict, n_segments: int) -> list[str]:
        """Pre-build ``n_segments`` staged stream segments (event_seq
        after the preload's) and, for the MOR workloads, the preload
        segment. Pure NumPy/pyarrow, so it runs while the session starts."""
        names = []
        stage = os.path.join(work, "stage")
        os.makedirs(stage, exist_ok=True)
        for i in range(n_segments):
            name = f"seg-{i:05d}.parquet"
            t = gen.segment(seed, 1, i, shape["events"], shape["keys"],
                            shape["keys"])
            gen.write_segment(t, os.path.join(stage, name))
            names.append(name)
        if shape.get("preload"):
            gen.write_segment(gen.preload(seed, shape["keys"]),
                              os.path.join(stage, "preload.parquet"))
        return names

    def land(self, name: str, due: float | None = None) -> float:
        os.rename(os.path.join(self.stage, name), os.path.join(self.log, name))
        now = time.time()
        self.landed[name] = now if due is None else due
        self.applied.append(os.path.join(self.log, name))
        return now

    def segment_keys(self, name: str) -> list[str]:
        import pyarrow.parquet as pq
        return pq.read_table(os.path.join(self.log, name),
                             columns=["url"]).column("url").to_pylist()

    # ------------------------------------------------------------ engine
    def create_table(self):
        from tinyetl_spark.lake import LakeTable
        from tinyetl_spark.schema import PAGES_SCHEMA
        self.table = LakeTable.create(self.spark, self.table_path,
                                      PAGES_SCHEMA, key_col="url",
                                      num_buckets=self.shape["buckets"])

    def preload(self):
        """Land the one-insert-per-key preload segment as the stream's
        first batch. It is the first merge of the process, so it also
        takes the cold start."""
        t0 = time.perf_counter()
        self.land("preload.parquet")
        self.drain()
        return time.perf_counter() - t0

    def start(self, **kw):
        from tinyetl_spark.streaming.pipeline import run_pipeline
        self.run = run_pipeline(self.spark, self.log, self.table_path,
                                self.ck, trigger_available_now=False,
                                query_name="cdcbench", **kw)

    def drain(self):
        self.run.query.processAllAvailable()

    def progress(self) -> dict[int, dict]:
        """batchId -> durations of every micro-batch that read rows."""
        out = {}
        for p in self.run.query.recentProgress:
            d = p.durationMs or {}
            if p.numInputRows and "addBatch" in d:
                out[p.batchId] = {
                    "batch_id": p.batchId, "rows": p.numInputRows,
                    "trigger_ms": d.get("triggerExecution", 0),
                    "add_batch_ms": d.get("addBatch", 0),
                    "planning_ms": d.get("queryPlanning", 0),
                    "latest_offset_ms": d.get("latestOffset", 0),
                    "get_batch_ms": d.get("getBatch", 0)}
        return out

    def file_batches(self) -> dict[str, int]:
        """Segment file name -> batchId that read it, from the query's
        file-source log in the checkpoint (plain JSON lines)."""
        import json
        src = os.path.join(self.ck, "sources", "0")
        out = {}
        for fn in os.listdir(src):
            if fn.startswith("."):
                continue
            with open(os.path.join(src, fn)) as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def commits(self) -> dict[int, dict]:
        """batchId -> this stream's merge commit (version, ts, summary)."""
        out = {}
        for h in self.table.history():
            s = h["summary"]
            if (s.get("operation") == "merge"
                    and s.get("stream_id") == self.run.stream_id):
                out[int(s["batch_id"])] = {
                    "version": h["version"], "ts_ms": h["timestamp_ms"],
                    "strategy": s.get("strategy", ""),
                    "skew_ratio": float(s.get("skew_ratio", 0.0)),
                    **{k: int(s.get(k, 0)) for k in (
                        "events_in", "dedup_drops", "upserts", "deletes",
                        "touched_buckets")}}
        return out

    # ------------------------------------------------------------- reads
    def read_set(self, out: Outcome, changed: str, rng: random.Random):
        """``lookups`` point lookups (half of them keys the segment
        ``changed`` touched), each timed from the call to having its
        result. Untimed lookups go first: lookup times fall over the first
        several calls as the read path warms."""
        from tinyetl_spark.partitioning import bucket_of
        n_warm = WARM_LOOKUPS
        urls = self.lookup_urls(changed, n_warm + self.shape["lookups"], rng)
        rng.shuffle(urls)
        for u in urls[:n_warm]:
            self.table.lookup(u).collect()
        snap = self.table.snapshot()
        phase0 = time.time()
        for u in urls[n_warm:]:
            bkt = bucket_of(u, snap.num_buckets)
            out.files_per_lookup.append(
                sum(1 for f in snap.files if bkt in f["buckets"]))
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                self.table.lookup(u).collect()
            except Exception as e:     # a failed read is counted, not hidden
                out.failed += 1
                out.errors.append(f"lookup {u}: {e!r}"[:300])
                continue
            out.lookup_ms.append((time.perf_counter() - t0) * 1e3)
        out.read_phase = (phase0, time.time())

    def lookup_urls(self, changed: str, n: int, rng: random.Random):
        """Half keys the segment ``changed`` touched, half it did not."""
        touched = sorted(set(self.segment_keys(changed)))
        n_keys = self.shape["keys"]
        picked = rng.sample(touched, min(n - n // 2, len(touched)))
        tset = set(touched)
        while len(picked) < n:
            u = gen.url_of(rng.randrange(n_keys), n_keys)
            if u not in tset:
                picked.append(u)
        return picked


# ---------------------------------------------------------------- helpers
def _closed_warmup(b: Bench, names: list[str], group: int = 1) -> list[float]:
    """Land ``group`` segments per micro-batch and drain, until batch time
    levels off (at least ``warm_min``, at most ``warm_max`` batches)."""
    times: list[float] = []
    used = 0
    while used + group <= len(names) and (
            len(times) < b.shape["warm_min"]
            or (len(times) < b.shape["warm_max"] and not leveled(times))):
        t0 = time.perf_counter()
        for n in names[used:used + group]:
            b.land(n)
        b.drain()
        times.append(time.perf_counter() - t0)
        used += group
    return times


def _freshness(b: Bench, out: Outcome, names: list[str]):
    """Per segment: its batch's commit time minus the segment's due time;
    the backlog (segments due and not yet committed) at each due time; and
    the window's batches and commits."""
    out.segments = names
    fb = b.file_batches()
    commits = b.commits()
    prog = b.progress()
    ids = sorted({fb[n] for n in names if n in fb})
    out.batches = [prog[i] for i in ids if i in prog]
    out.commits = [commits[i] for i in ids if i in commits]
    for n in names:
        c = commits.get(fb.get(n))
        if c is None:
            out.failed += 1
            out.errors.append(f"segment {n} has no merge commit")
            continue
        out.freshness_ms.append(c["ts_ms"] - b.landed[n] * 1e3)
    done = {n: commits[fb[n]]["ts_ms"] / 1e3 for n in names
            if fb.get(n) in commits}
    for n in names:
        t = b.landed[n]
        out.backlog.append(sum(1 for m in names if b.landed[m] <= t
                               and done.get(m, float("inf")) > t))


def _batch_rate(commits: list[dict]) -> float:
    """Median over the window's batches of the batch's events ÷ the time
    since the previous commit. A batch takes every segment that landed
    while the previous one ran, so an engine that keeps up reads about the
    offered rate here, and one whose per-event cost outruns the generator
    reads its own lower rate on every batch. Unlike events committed ÷
    span, one slow last batch (a compaction in the final drain) moves it
    little."""
    cs = sorted(commits, key=lambda c: c["version"])
    rates = [c["events_in"] * 1e3 / (c["ts_ms"] - p["ts_ms"])
             for p, c in zip(cs, cs[1:]) if c["ts_ms"] > p["ts_ms"]]
    return statistics.median(rates) if rates else 0.0


def _commit_rate(commits: list[dict]) -> float:
    """Events committed after the first window commit ÷ time from the
    first to the last window commit."""
    if len(commits) < 2:
        return 0.0
    cs = sorted(commits, key=lambda c: c["version"])
    span_s = (cs[-1]["ts_ms"] - cs[0]["ts_ms"]) / 1e3
    return sum(c["events_in"] for c in cs[1:]) / span_s if span_s > 0 else 0.0


# -------------------------------------------------------------- workloads
def replay_cow(b: Bench, names: list[str], seconds: float,
               clock) -> Outcome:
    out = Outcome()
    b.create_table()
    b.start()
    warm = _closed_warmup(b, names)
    out.notes["warm_s"] = warm
    used = len(warm)
    t0 = clock.start()
    window = []
    for n in names[used:]:
        if window and time.time() - t0 >= seconds:
            break
        b.land(n)
        b.drain()
        window.append(n)
    out.window = (t0, clock.end())
    _freshness(b, out, window)
    out.attempted += len(out.batches)
    out.events_per_s = _commit_rate(out.commits)
    b.read_set(out, window[-1], random.Random(b.seed))
    return out


def trickle_mor(b: Bench, names: list[str], seconds: float,
                clock) -> Outcome:
    out = Outcome()
    s = b.shape
    b.create_table()
    b.start(auto_compact_debt=s["compact_debt"])
    out.notes["preload_s"] = b.preload()
    warm = _closed_warmup(b, names, s["warm_group"])
    out.notes["warm_s"] = warm
    used = len(warm) * s["warm_group"]
    # every window starts with no delta debt, so each run sees the same
    # number of inline compactions
    b.table.compact_deltas()
    window = names[used:used + max(1, round(seconds / s["interval_s"]))]
    t0 = clock.start() + 0.05
    due = {n: t0 + i * s["interval_s"] for i, n in enumerate(window)}

    def generator():      # open loop: land on schedule, however slow
        for n in window:
            wait = due[n] - time.time()
            if wait > 0:
                time.sleep(wait)
            landed = b.land(n, due=due[n])
            out.gen_late_ms.append((landed - due[n]) * 1e3)

    g = threading.Thread(target=generator, name="cdcbench-generator")
    g.start()
    g.join()
    b.drain()
    out.window = (t0, clock.end())
    _freshness(b, out, window)
    out.attempted += len(out.batches)
    out.events_per_s = _commit_rate(out.commits)
    # An engine that cannot keep up commits slower than the generator
    # offers; its freshness would measure queueing over the window, not
    # the engine, so the run fails and reports none.
    offered = s["events"] / s["interval_s"]
    rate = _batch_rate(out.commits)
    out.notes["offered_per_s"] = offered
    out.notes["batch_rate_per_s"] = rate
    if rate < KEEP_UP * offered:
        out.failed += 1
        out.errors.append(
            f"engine fell behind the generator: batches commit {rate:.1f} "
            f"events/s (median) < {KEEP_UP} x {offered:.1f} offered")
        out.notes["fell_behind"] = True
    # Merge-on-read reads, after the window: compact, then land exactly
    # ``read_deltas`` segments one batch each, so every run reads a base
    # plus the same number of deltas (how many deltas the window happened
    # to leave would otherwise set the read cost).
    b.table.compact_deltas()
    since = b.table.current_version()
    extra = names[used + len(window):used + len(window) + s["read_deltas"]]
    for n in extra:
        b.land(n)
        b.drain()
    b.read_set(out, extra[-1], random.Random(b.seed))
    out.attempted += 1
    t0 = time.perf_counter()
    try:
        b.table.read_changes(since).count()
        out.changes_ms.append((time.perf_counter() - t0) * 1e3)
    except Exception as e:
        out.failed += 1
        out.errors.append(f"read_changes: {e!r}"[:300])
    return out


WORKLOADS = {"replay_cow": replay_cow, "trickle_mor": trickle_mor}


def segments_needed(workload: str, shape: dict, seconds: float) -> int:
    if workload == "trickle_mor":
        return (shape["warm_max"] * shape["warm_group"]
                + max(1, round(seconds / shape["interval_s"]))
                + shape["read_deltas"])
    return shape["pool"]
