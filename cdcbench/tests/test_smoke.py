"""Smoke self-test of the benchmark: generator determinism, the oracle's
LWW rules, every workload at tiny size (traced and untraced) passing its
checks and printing exactly the metrics ``BENCHMARK.json`` declares, a
failed ``trickle_mor`` run without freshness when the engine cannot keep
up with the generator, and a loud failure when the engine is absent.

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import oracle  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _segment_bytes(tmp_path, seed: int) -> str:
    h = hashlib.sha256()
    for i in range(2):
        p = tmp_path / f"s{seed}-{i}.parquet"
        gen.write_segment(gen.segment(seed, 1, i, 50, 40, 40), str(p))
        h.update(p.read_bytes())
    p = tmp_path / f"p{seed}.parquet"
    gen.write_segment(gen.preload(seed, 40), str(p))
    h.update(p.read_bytes())
    return h.hexdigest()


def test_generator_same_seed_same_bytes(tmp_path):
    for d in ("a", "b", "c"):
        (tmp_path / d).mkdir()
    a = _segment_bytes(tmp_path / "a", 7)
    assert _segment_bytes(tmp_path / "b", 7) == a
    assert _segment_bytes(tmp_path / "c", 8) != a


def test_generator_shape():
    t = gen.segment(3, 1, 0, 4000, 2000, 2000)
    ops = t.column("op").to_pylist()
    html = t.column("html").to_pylist()
    assert t.schema == gen.SCHEMA
    assert 0.03 < ops.count("delete") / len(ops) < 0.07
    assert all((h is None) == (o == "delete") for h, o in zip(html, ops))
    sizes = [len(h) for h in html if h is not None]
    assert 800 < sum(sizes) / len(sizes) < 1300
    assert b"<script" in html[0 if html[0] else 1]
    hot = sum(u.startswith("https://" + gen.HOT_DOMAIN)
              for u in t.column("url").to_pylist())
    assert 0.03 < hot / len(ops) < 0.07
    seq = t.column("event_seq").to_pylist()
    assert seq == list(range(2000, 6000))


def test_oracle_last_writer_wins(tmp_path):
    import pyarrow as pa
    rows = {"event_seq": [1, 2, 3, 4, 5],
            "url": ["a", "a", "b", "b", "c"],
            "warc_ts": [10, 9, 5, 6, 7],          # seq 2 is late for "a"
            "op": ["update", "update", "update", "delete", "insert"],
            "html": [b"<p>a1</p>", b"<p>a2</p>", b"<p>b</p>", None,
                     b"<p>c</p>"],
            "lang": ["en"] * 5}
    t = pa.table(rows).cast(gen.SCHEMA)
    p = str(tmp_path / "seg.parquet")
    gen.write_segment(t, p)
    want = oracle.expected_state([p])
    assert want["a"][:3] == (10, 1, False) and want["a"][3] == b"<p>a1</p>"
    assert want["b"][:3] == (6, 4, True)          # tombstone kept
    assert want["c"][:3] == (7, 5, False)
    assert oracle.digest([("a", 10, 1, False)]) != oracle.digest(
        [("a", 10, 1, True)])


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, "cdcbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_tiny(workload, trace):
    r = _run(["--workload", workload, "--seed", "5", "--seconds", "8",
              "--trace", str(trace), "--size", "tiny"])
    assert r.returncode == 0, r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]


def test_trickle_fails_when_engine_falls_behind():
    r = _run(["--workload", "trickle_mor", "--seed", "5", "--seconds", "2",
              "--trace", "0", "--size", "overload"])
    assert r.returncode == 1, r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert res["correct"] is False and res["failed"] >= 1
    assert "freshness_p50_ms" not in res["metrics"]
    assert "freshness_p90_ms" not in res["metrics"]
    assert "fell behind the generator" in r.stderr


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(["--workload", "replay_cow", "--seed", "1", "--seconds", "1"],
             cwd=str(tmp_path), timeout=60)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
