"""Property-based replay equality (SURVEY §5, strengthened): for ANY
event log — including re-delivered duplicate events, (ts) ties broken by
seq, delete/reinsert chains, null-payload deletes — and ANY batching ×
merge-mode combination, the final table state equals the pandas oracle.

hypothesis generates the logs; the engine invariant under test is the one
replay.py documents: final state is a pure function of the event SET,
never of batch boundaries, mode, or delivery count.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from epigraphdb_graph_spark.plans.lake import LakeTable
from epigraphdb_graph_spark.replay import replay
from epigraphdb_graph_spark.schema import PAGES_SCHEMA

from .oracle import replay_oracle

KEYS = [f"https://d{i}.example/p" for i in range(6)]
TS = [pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h) for h in range(5)]


@st.composite
def event_logs(draw):
    n = draw(st.integers(min_value=3, max_value=28))
    rows = []
    for seq in range(n):
        op = draw(st.sampled_from(["insert", "update", "update", "delete"]))
        url = draw(st.sampled_from(KEYS))
        ts = draw(st.sampled_from(TS))
        html = None if op == "delete" else f"<p>v{seq} of {url}</p>".encode()
        rows.append((seq, op, url, ts, html))
    # re-deliver a random subset verbatim (at-least-once source)
    for i in sorted(draw(st.sets(st.integers(0, n - 1), max_size=4))):
        rows.append(rows[i])
    return pd.DataFrame(
        rows, columns=["event_seq", "op", "url", "warc_ts", "html"])


@pytest.fixture(scope="module")
def pages_schema():
    from pyspark.sql import types as T

    return T.StructType([f for f in PAGES_SCHEMA.fields if f.name != "lang"])


@given(
    log=event_logs(),
    n_batches=st.integers(min_value=1, max_value=3),
    mode=st.sampled_from(["cow", "mor"]),
    compact=st.booleans(),
)
@settings(max_examples=7, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_replay_state_is_batching_and_mode_invariant(
        spark, tmp_path_factory, pages_schema, log, n_batches, mode,
        compact):
    path = str(tmp_path_factory.mktemp("fuzz") / "t")
    events = spark.createDataFrame(
        log, "event_seq long, op string, url string, warc_ts timestamp, html binary")
    replay(spark, path, events, n_batches=n_batches, n_buckets=4,
           mode=mode, schema=pages_schema)
    table = LakeTable(spark, path)
    if compact:
        table.compact()
    got = (table.read().select("url", "warc_ts", "text").toPandas()
           .sort_values("url").reset_index(drop=True))
    want = replay_oracle(log.drop_duplicates())[["url", "warc_ts", "text"]]
    assert list(got["url"]) == list(want["url"])
    assert list(got["warc_ts"]) == list(want["warc_ts"])
    assert list(got["text"]) == list(want["text"])

    # change-feed reconstruction invariant: state(v1) patched with
    # changes(v1, head) must equal state(head), for any v1 in history
    # (checked on the multi-batch examples — mid-history versions there
    # are genuine partial states)
    if n_batches == 1 and not compact:
        return
    v_head = table.current_version()
    v_mid = max(1, v_head // 2)
    s_mid = table.read(version=v_mid).select("url", "text").toPandas()
    feed = table.changes(v_mid, v_head).select(
        "_change_type", "url", "text").toPandas()
    patched = {r["url"]: r["text"] for _, r in s_mid.iterrows()}
    for _, r in feed.iterrows():
        if r["_change_type"] == "delete":
            patched.pop(r["url"], None)
        else:
            patched[r["url"]] = r["text"]
    head = {r["url"]: r["text"]
            for _, r in table.read().select("url", "text").toPandas().iterrows()}
    assert patched == head
