"""Seeded change-log generator, independent of the engine.

Writes Common-Crawl-style change events as parquet files, one file per
batch, in the engine's change-event schema (event_seq, op, url, warc_ts,
html). The key mix matches the engine's own test generator: Zipf-skewed
domains (p(d) ~ 1/d), uniform pages within a domain, 10% deletes, 35%
updates, and warc_ts jittered by up to an hour around event_seq so arrival
order and timestamp order disagree locally. Bodies repeat one paragraph
``body_repeat`` times (~70 B each). The same seed gives byte-identical
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark shuffle parquet window merge upsert snapshot lineage schema "
    "bucket salt skew broadcast catalyst tungsten arrow pandas stream "
    "checkpoint manifest tombstone replay crawl page domain anchor body "
    "title header footer column partition cluster executor driver task"
).split()

N_DOMAINS = 200
PAGES_PER_DOMAIN = 256
LATENESS_S = 3600
BASE_TS = 1_700_000_000

SCHEMA = pa.schema([
    pa.field("event_seq", pa.int64(), nullable=False),
    pa.field("op", pa.string(), nullable=False),
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary()),
])


def batch_table(seed: int, lo: int, hi: int, body_repeat: int) -> pa.Table:
    """Events ``lo <= event_seq < hi``; a pure function of (seed, lo, hi)."""
    rng = np.random.default_rng([seed, lo])
    n = hi - lo
    seq = np.arange(lo, hi, dtype=np.int64)
    domain = (np.floor(N_DOMAINS ** rng.random(n)) - 1).astype(np.int64)
    page = rng.integers(0, PAGES_PER_DOMAIN, n)
    roll = rng.integers(0, 100, n)
    jitter = rng.integers(-LATENESS_S, LATENESS_S, n)
    n_body = rng.integers(4, 16, n)
    words = rng.integers(0, len(WORDS), (n, 17))
    ops, urls, htmls = [], [], []
    for i in range(n):
        d, p, r = domain[i], page[i], roll[i]
        op = "delete" if r < 10 else "update" if r < 45 else "insert"
        ops.append(op)
        urls.append(f"https://d{d}.example.org/p/{p}.html")
        if op == "delete":
            htmls.append(None)
            continue
        w = words[i]
        title = f"{WORDS[w[0]]} {WORDS[w[1]]}"
        body = " ".join(WORDS[k] for k in w[2:2 + n_body[i]])
        htmls.append((
            f'<html><head><title>{title}</title></head><body><h1 class="hd">'
            f"{title}</h1>{f'<p>{body}</p>' * body_repeat}"
            f"<p>page {p} of d{d}</p></body></html>").encode())
    ts = (BASE_TS + seq + jitter) * 1_000_000
    return pa.table([seq, ops, urls, ts.astype("datetime64[us]"), htmls], schema=SCHEMA)


def write_log(path: str, seed: int, n_files: int, per_file: int,
              body_repeat: int) -> list[str]:
    """``n_files`` parquet files of ``per_file`` consecutive events each;
    returns their paths in event_seq order."""
    os.makedirs(path, exist_ok=True)
    files = []
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(batch_table(seed, i * per_file, (i + 1) * per_file, body_repeat),
                       f, compression="zstd")
        files.append(f)
    return files
