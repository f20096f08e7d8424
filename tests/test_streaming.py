"""Streaming parity tests: the Structured Streaming topology must produce the
same final results as the batch core, and the stateful aggregation must
reproduce the reference's watermark emit semantics (FIXTURES.md G4)."""

from __future__ import annotations

import os
import time
import uuid

import pytest

from simpy__kafka__flink__kafka_spark.schemas import MSG_SCHEMA, golden_messages
from simpy__kafka__flink__kafka_spark.streaming.pipeline import (
    aggregate_bridge, file_spans_source, link_traces_two_phase, parse_spans,
    streaming_link_edges, with_event_time)

G1 = [
    ("id1", "10.0.0.1", "10.0.0.2", 1000, 500.0, 1500),
    ("id2", "10.0.0.2", "10.0.0.3", 1100, 200.0, 1300),
    ("id3", "10.0.0.3", "10.0.0.4", 1120, 100.0, 1220),
]
# progress record far in the future: advances the watermark past all G1 ends
FLUSH = [("flush", "10.9.9.9", "10.9.9.8", 100_000, 10.0, 100_010)]


def _write_batches(spark, base, batches):
    """One parquet file per micro-batch, strictly increasing mtimes."""
    for i, rows in enumerate(batches):
        df = golden_messages(spark, rows).coalesce(1)
        df.write.mode("append").parquet(base)
        time.sleep(0.05)


@pytest.fixture()
def tmpdirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "bridge", "ck1", "ck2")}
    os.makedirs(d["in"], exist_ok=True)
    return d


def test_streaming_edges_match_batch(spark, tmpdirs):
    _write_batches(spark, tmpdirs["in"], [G1])
    spans = file_spans_source(spark, tmpdirs["in"])
    q = (
        streaming_link_edges(spans)
        .writeStream.format("memory")
        .queryName(f"edges_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT parent_id, child_id FROM {q.name}").collect()
    finally:
        q.stop()
    got = {(r.parent_id, r.child_id) for r in rows}
    assert got == {("id1", "id2"), ("id2", "id3")}


def test_stateful_agg_emits_on_watermark(spark, tmpdirs):
    """G4a shape: nothing emits until a later record advances the watermark
    past end_at_ms; the advancing record itself stays buffered."""
    _write_batches(spark, tmpdirs["in"], [G1, FLUSH])
    spans = file_spans_source(spark, tmpdirs["in"], watermark="0 seconds")
    p1 = link_traces_two_phase(
        spans, tmpdirs["bridge"], tmpdirs["ck1"], watermark="0 seconds"
    )
    try:
        p1.processAllAvailable()
    finally:
        p1.stop()

    out = aggregate_bridge(spark, tmpdirs["bridge"], watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName(f"linked_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {q.name}").collect()
    finally:
        q.stop()

    got = {r.id: (list(r.parents), list(r.children)) for r in rows}
    # G1 records emitted (watermark 100_000 >= their end times), correctly
    # linked despite arriving in one batch; 'flush' itself is still buffered
    assert got == {
        "id1": ([], ["id2"]),
        "id2": (["id1"], ["id3"]),
        "id3": (["id2"], []),
    }


def test_parse_spans_lenient_defaults(spark):
    raw = spark.createDataFrame(
        [
            ('{"id":"a","src_ip":"1.1.1.1","dst_ip":"2.2.2.2",'
             '"start_at_ms":10,"latency_msec":5.0,"end_at_ms":15}',),
            ('{"id":"b"}',),          # missing fields -> defaults
            ("not json at all",),      # garbage -> all defaults
        ],
        "value string",
    )
    rows = {r.id: r for r in parse_spans(raw).collect()}
    assert rows["a"].start_at_ms == 10
    assert rows["b"].start_at_ms == 0 and rows["b"].latency_msec == 0.0
    assert rows[""].src_ip == ""  # garbage line


def test_out_of_order_arrival_links_correctly(spark, tmpdirs):
    """G4b shape: child arrives before parent (within watermark slack);
    the join still links them."""
    child_first = [("id2", "10.0.0.2", "10.0.0.3", 1100, 400.0, 1500)]
    parent_late = [("id1", "10.0.0.1", "10.0.0.2", 900, 1100.0, 2000)]
    _write_batches(spark, tmpdirs["in"], [child_first, parent_late, FLUSH])
    spans = file_spans_source(spark, tmpdirs["in"], watermark="30 seconds")
    q = (
        streaming_link_edges(spans)
        .writeStream.format("memory")
        .queryName(f"ooo_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT parent_id, child_id FROM {q.name}").collect()
    finally:
        q.stop()
    assert {(r.parent_id, r.child_id) for r in rows} == {("id1", "id2")}


def test_deduped_join_chain_single_query(spark, tmpdirs):
    """Multi-stateful-operator chaining: dropDuplicatesWithinWatermark feeds
    the stream-stream interval join in one query; a span re-delivered in a
    later micro-batch yields no duplicate edges."""
    from simpy__kafka__flink__kafka_spark.streaming.pipeline import (
        deduped_link_edges)

    dup_batch = [
        ("id1", "10.0.0.1", "10.0.0.2", 1000, 500.0, 1500),  # redelivered
        ("id3", "10.0.0.3", "10.0.0.4", 1120, 100.0, 1220),
    ]
    _write_batches(spark, tmpdirs["in"], [G1[:2], dup_batch, FLUSH])
    spans = file_spans_source(spark, tmpdirs["in"], watermark="30 seconds")
    q = (
        deduped_link_edges(spans)
        .writeStream.format("memory")
        .queryName(f"ddj_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT parent_id, child_id FROM {q.name}").collect()
    finally:
        q.stop()
    pairs = [(r.parent_id, r.child_id) for r in rows]
    assert sorted(pairs) == [("id1", "id2"), ("id2", "id3")]  # no duplicates


def test_late_rows_dropped_before_state(spark, tmpdirs):
    """W5: a span arriving past the watermark is filtered before the stateful
    windowed aggregation — it creates NO state row and its window is never
    emitted.  (The reference silently un-links late records; Spark's
    pre-state watermark filter is the same observable effect.  Note the
    filter runs BEFORE the state store, so numRowsDroppedByWatermark stays 0
    — the state-row count is the reliable signal.)"""
    from simpy__kafka__flink__kafka_spark.streaming.windows import (
        tumbling_span_stats)

    # Spark keeps TWO watermark values: late-event filtering uses the
    # PREVIOUS batch's watermark (SPARK-24634), so the late span must land
    # two batches after the watermark-advancing one to be filtered.
    flush2 = [("flush2", "10.9.9.9", "10.9.9.8", 101_000, 10.0, 101_010)]
    very_late = [("late1", "10.0.0.1", "10.0.0.2", 1000, 500.0, 1500)]
    _write_batches(spark, tmpdirs["in"], [FLUSH, flush2, very_late])
    spans = file_spans_source(spark, tmpdirs["in"], watermark="1 seconds")
    q = (
        tumbling_span_stats(spans)
        .writeStream.format("memory")
        .queryName(f"late_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        state_rows = [
            op["numRowsTotal"]
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        ]
        rows = spark.sql(f"SELECT * FROM {q.name}").collect()
    finally:
        q.stop()
    # only the watermark-advancing span's window is ever buffered; the late
    # span added no state in its batch
    assert state_rows and all(n == 1 for n in state_rows), state_rows
    # and the late span's minute-zero window never reaches the output
    # (naive datetimes from Spark are session-TZ UTC wall times — compare
    # against a naive datetime, not epoch seconds)
    import datetime as _dt

    assert all(r.win_start >= _dt.datetime(1970, 1, 1, 0, 1, 0) for r in rows)


def test_available_now_backfill_drains_and_stops(spark, tmpdirs):
    """Trigger.AvailableNow: the streaming query drains everything already
    on disk in rate-limited micro-batches, then terminates itself — the
    batch-backfill / catch-up mode of the same streaming topology."""
    _write_batches(spark, tmpdirs["in"], [G1, FLUSH])
    spans = file_spans_source(spark, tmpdirs["in"], watermark=None)
    q = (
        spans.writeStream.format("memory")
        .queryName(f"avnow_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)  # self-terminates after draining
    assert not q.isActive
    n = spark.sql(f"SELECT count(*) AS n FROM {q.name}").collect()[0].n
    assert n == len(G1) + len(FLUSH)
