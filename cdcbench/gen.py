"""Seeded change-event generator, independent of ``tinyetl_spark.datagen``.

Inputs are built with NumPy and pyarrow only, so no engine change can
change what the benchmark feeds the engine. Segment ``i`` of a stream is
a pure function of ``(seed, stream, i)``: the same seed gives the same
bytes on disk, whatever order or number of segments a run builds.

Shape follows the engine's change-event schema (``EVENTS_SCHEMA``):
``event_seq`` (global WAL position), ``url``, ``warc_ts`` (UTC µs),
``op`` (insert | update | delete), ``html`` (binary, null on delete),
``lang``. Per event: 5% hit a small hot-domain key set, 5% are deletes,
10% carry a late ``warc_ts`` (up to an hour old), and non-delete html is
about 1 KB with script/style blocks and entities for the extractor.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH_US = 1_735_689_600 * 1_000_000          # 2025-01-01T00:00:00Z
DOMAINS = ("alpha.example.org", "beta.example.net", "gamma.example.io",
           "delta.example.dev", "epsilon.example.co")
HOT_DOMAIN = "hot.example.com"
LANGS = ("en", "de", "fr", "es", "pt", "it", "nl", "pl")
WORDS = ("lorem", "ipsum", "dolor", "sit", "amet", "consectetur", "elit",
         "sed", "tempor", "magna", "aliqua", "veniam", "nostrud", "ullamco")
# paragraph pool: per event, six draws from it make a ~1 KB body
_PARA_RNG = np.random.default_rng(20250101)
PARAS = tuple(
    "<p>" + " ".join(WORDS[j] for j in _PARA_RNG.integers(0, len(WORDS), 12))
    + f" &amp; more &lt;b&gt; &quot;q{i}&quot; it&#39;s</p>\n"
    for i in range(256))
N_PARAS = 6

HOT_SHARE = 0.05
DELETE_SHARE = 0.05
LATE_SHARE = 0.10
INSERT_SHARE = 0.40          # of the non-delete events
HOT_KEY_SHARE = 0.01         # of the key space, on the hot domain

SCHEMA = pa.schema([
    pa.field("event_seq", pa.int64(), nullable=False),
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("op", pa.string(), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("lang", pa.string()),
])


def url_of(key: int, n_keys: int) -> str:
    hot_keys = max(1, int(n_keys * HOT_KEY_SHARE))
    dom = HOT_DOMAIN if key < hot_keys else DOMAINS[key % len(DOMAINS)]
    return f"https://{dom}/page/{key}"


def _html(url: str, rev: int, paras: list[int]) -> bytes:
    body = "".join(PARAS[p] for p in paras)
    return (f"<html><head><title>Page {url}</title>"
            f"<style>body{{color:#{rev % 4096:03x}}}</style>"
            f"<script>var rev={rev}; if (a<b) {{ x(); }}</script></head>"
            f"<body>\n<h1>Revision {rev} of {url}</h1>\n{body}"
            f"<script type='text/javascript'>track('{rev}')</script>"
            f"</body></html>").encode("utf-8")


def segment(seed: int, stream: int, index: int, n_events: int,
            n_keys: int, seq_base: int) -> pa.Table:
    """Events ``seq_base + index*n_events ...`` of one stream.

    ``stream`` separates independent inputs of one run (warm-up, preload,
    measured log) so they never share random draws."""
    rng = np.random.default_rng([seed, stream, index])
    first = seq_base + index * n_events
    seq = np.arange(first, first + n_events, dtype=np.int64)
    hot_keys = max(1, int(n_keys * HOT_KEY_SHARE))
    hot = rng.random(n_events) < HOT_SHARE
    keys = np.where(hot, rng.integers(0, hot_keys, n_events),
                    rng.integers(hot_keys, max(n_keys, hot_keys + 1),
                                 n_events))
    late = rng.random(n_events) < LATE_SHARE
    lag_us = rng.integers(0, 3_600_000_000, n_events)
    ts = BASE_EPOCH_US + seq * 1_000_000 - np.where(late, lag_us, 0)
    u = rng.random(n_events)
    op = np.where(u < DELETE_SHARE, "delete",
                  np.where(u < DELETE_SHARE + (1 - DELETE_SHARE)
                           * INSERT_SHARE, "insert", "update"))
    revs = rng.integers(0, 1_000_000, n_events)
    para_ix = rng.integers(0, len(PARAS), (n_events, N_PARAS)).tolist()
    langs = rng.integers(0, len(LANGS), n_events)
    return _table(seq, keys, ts, op.tolist(), revs, para_ix, langs, n_keys)


def preload(seed: int, n_keys: int) -> pa.Table:
    """One insert per key, ``event_seq`` 0..n_keys-1 (stream segments
    start after it): the large key space of the merge-on-read workloads."""
    rng = np.random.default_rng([seed, 0])
    seq = np.arange(n_keys, dtype=np.int64)
    ts = BASE_EPOCH_US + seq * 1_000_000
    revs = rng.integers(0, 1_000_000, n_keys)
    para_ix = rng.integers(0, len(PARAS), (n_keys, N_PARAS)).tolist()
    langs = rng.integers(0, len(LANGS), n_keys)
    return _table(seq, seq, ts, ["insert"] * n_keys, revs, para_ix, langs,
                  n_keys)


def _table(seq, keys, ts, ops, revs, para_ix, langs, n_keys) -> pa.Table:
    urls = [url_of(k, n_keys) for k in keys.tolist()]
    html = [None if o == "delete" else _html(url, r, p)
            for url, o, r, p in zip(urls, ops, revs.tolist(), para_ix)]
    return pa.table({
        "event_seq": pa.array(seq, pa.int64()),
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "op": pa.array(ops, pa.string()),
        "html": pa.array(html, pa.binary()),
        "lang": pa.array([LANGS[i] for i in langs.tolist()], pa.string()),
    }, schema=SCHEMA)


def write_segment(table: pa.Table, path: str) -> None:
    """Write one parquet segment; the file appears under ``path`` only
    when complete (write to a dot-file, then rename — the file source
    skips names starting with ``.`` or ``_``)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, path)
