"""Correctness gate, independent of the engine.

The expected final state is computed from the raw parquet change log with
DuckDB: per url, the event with the largest ``(warc_ts, event_seq)``;
urls whose winner is a delete are absent. Its ``text`` comes from the
pure ``functions.extract.extract_text`` (the function the test oracle
uses too). The engine's ``LakeTable.read()`` must match it row for row on
``(url, warc_ts, sha256(html), sha256(text))``.
"""

from __future__ import annotations

import hashlib
import multiprocessing
from concurrent.futures import ProcessPoolExecutor

import duckdb

from common import WORK, nproc

_EXPECTED_SQL = """
WITH winners AS (
    SELECT event_seq
    FROM read_parquet(?)
    WHERE event_seq < ?
    QUALIFY row_number() OVER (
        PARTITION BY url ORDER BY warc_ts DESC, event_seq DESC) = 1
        AND op <> 'delete'
)
SELECT l.url, epoch_us(l.warc_ts), l.html
FROM read_parquet(?) l SEMI JOIN winners w ON l.event_seq = w.event_seq
"""


def _row_states(rows: list[tuple]) -> list[tuple]:
    from epigraphdb_graph_spark.functions.extract import extract_text

    return [(url, (ts, hashlib.sha256(html).hexdigest(),
                   hashlib.sha256(extract_text(html).encode()).hexdigest()))
            for url, ts, html in rows]


_LATEST_SQL = """
SELECT op FROM read_parquet(?) WHERE url = ? AND event_seq < ?
ORDER BY warc_ts DESC, event_seq DESC LIMIT 1
"""


def _connect():
    return duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                  "temp_directory": f"{WORK}/tmp/duckdb"})


def expected_present(log_glob: str, lookups: list[tuple[str, int]]) -> list[bool]:
    """For each (url, seq_hi): whether the url is live once the log's
    events with ``event_seq < seq_hi`` are applied."""
    con = _connect()
    try:
        rows = [con.execute(_LATEST_SQL, [log_glob, url, seq_hi]).fetchone()
                for url, seq_hi in lookups]
        return [r is not None and r[0] != "delete" for r in rows]
    finally:
        con.close()


def expected_state(log_glob: str, seq_hi: int) -> dict[str, tuple]:
    """url -> (warc_ts micros, sha256(html), sha256(text)) from the log's
    events with ``event_seq < seq_hi``. The text extraction runs in a few
    forked worker processes, all of them joined before this returns."""
    con = _connect()
    ctx = multiprocessing.get_context("fork")
    try:
        with ProcessPoolExecutor(min(3, nproc()), mp_context=ctx) as pool:
            cur = con.execute(_EXPECTED_SQL, [log_glob, seq_hi, log_glob])
            parts = []
            while rows := cur.fetchmany(2048):
                parts.append(pool.submit(_row_states, rows))
            return dict(kv for part in parts for kv in part.result())
    finally:
        con.close()


def engine_state(table) -> dict[str, tuple]:
    from pyspark.sql import functions as F

    rows = table.read().select(
        "url", F.unix_micros("warc_ts"), F.sha2("html", 256),
        F.sha2("text", 256)).toLocalIterator()
    return {r[0]: (r[1], r[2], r[3]) for r in rows}


def digest(state: dict[str, tuple]) -> str:
    h = hashlib.sha256()
    for url in sorted(state):
        h.update(repr((url, *state[url])).encode())
    return h.hexdigest()


def compare(expected: dict, got: dict) -> list[str]:
    """Empty when equal; otherwise human-readable mismatch lines."""
    if len(expected) == len(got) and digest(expected) == digest(got):
        return []
    diff = [f"rows: expected {len(expected)}, engine {len(got)}"]
    bad = sorted(k for k in expected.keys() | got.keys()
                 if expected.get(k) != got.get(k))
    for k in bad[:5]:
        diff.append(f"{k}: expected {expected.get(k)}, engine {got.get(k)}")
    return diff
