"""Independent last-writer-wins oracle for the final table state.

The expected state is computed from the generated parquet segments with
pyarrow and plain Python, sharing no code with the engine's merge: per
url the winning event is the one with the largest ``(warc_ts,
event_seq)``; a winning delete stays as a tombstone row. The engine's
``LakeTable.read(include_tombstones=True)`` must hold exactly that set of
``(url, warc_ts, event_seq, _deleted)`` rows, compared through an
order-independent digest (row count + sum of row hashes mod 2^64). A
fixed sample of live urls must also carry ``text`` byte-identical to
``extract.reference_extract_text`` of the winning html.
"""

from __future__ import annotations

import hashlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

_MASK = (1 << 64) - 1


def _row_hash(url: str, ts_us: int, seq: int, deleted: bool) -> int:
    h = hashlib.blake2b(f"{url}\x1f{ts_us}\x1f{seq}\x1f{int(deleted)}"
                        .encode("utf-8"), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def digest(rows) -> tuple[int, int]:
    """(row count, sum of row hashes) over ``(url, ts_us, seq, deleted)``."""
    n, s = 0, 0
    for url, ts_us, seq, deleted in rows:
        n += 1
        s = (s + _row_hash(url, ts_us, seq, deleted)) & _MASK
    return n, s


def expected_state(paths: list[str]) -> dict[str, tuple[int, int, bool, bytes | None]]:
    """url -> (ts_us, seq, deleted, html) of the LWW winner over the events
    in ``paths``."""
    best: dict[str, tuple[int, int, bool, bytes | None]] = {}
    for p in paths:
        t = pq.read_table(p)
        urls = t.column("url").to_pylist()
        ts = t.column("warc_ts").cast(pa.int64()).to_pylist()
        seqs = t.column("event_seq").to_pylist()
        ops = t.column("op").to_pylist()
        html = t.column("html").to_pylist()
        for u, tsv, sq, op, h in zip(urls, ts, seqs, ops, html):
            cur = best.get(u)
            if cur is None or (tsv, sq) > (cur[0], cur[1]):
                best[u] = (tsv, sq, op == "delete", h)
    return best


def check(table, paths: list[str], seed: int, text_sample: int = 64) -> list[str]:
    """Compare ``table`` against the oracle state of ``paths``; returns
    the list of mismatches (empty when correct)."""
    from tinyetl_spark.extract import reference_extract_text
    import pyspark.sql.functions as F

    want = expected_state(paths)
    exp = digest((u, v[0], v[1], v[2]) for u, v in want.items())
    got_tbl = (table.read(include_tombstones=True)
               .select("url", F.unix_micros("warc_ts").alias("ts"),
                       "event_seq", "_deleted")
               .toArrow())
    got = digest(zip(got_tbl.column("url").to_pylist(),
                     got_tbl.column("ts").to_pylist(),
                     got_tbl.column("event_seq").to_pylist(),
                     got_tbl.column("_deleted").to_pylist()))
    errors = []
    if got != exp:
        errors.append(f"state digest mismatch: engine rows={got[0]} "
                      f"hash={got[1]:016x}, oracle rows={exp[0]} "
                      f"hash={exp[1]:016x}")
    live = sorted(u for u, v in want.items() if not v[2])
    sample = random.Random(seed).sample(live, min(text_sample, len(live)))
    if sample:
        rows = (table.read().filter(F.col("url").isin(sample))
                .select("url", "text").collect())
        texts = {r["url"]: r["text"] for r in rows}
        for u in sample:
            ref = reference_extract_text(want[u][3])
            if texts.get(u) != ref:
                errors.append(f"text mismatch for {u}")
    return errors
