"""Regression tests for two streaming-robustness fixes:

1. Orphan update-only state (edge updates whose 'message' event never
   arrives) must be evicted by the fallback event-time timer instead of
   leaking forever.
2. The rate source's synthesized latency must respect its declared
   max_latency_ms bound (a span exceeding it would silently miss matches in
   the watermarked stream-stream join).
"""

from __future__ import annotations

import datetime
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from simpy__kafka__flink__kafka_spark.sources.generator import rate_latency_expr
from simpy__kafka__flink__kafka_spark.streaming.pipeline import aggregate_bridge
from simpy__kafka__flink__kafka_spark.streaming.stateful import UPDATE_SCHEMA


def _ts(ms: int):
    return datetime.datetime.fromtimestamp(ms / 1000.0, tz=datetime.timezone.utc)


def _write_update_batches(spark, base, batches):
    for rows in batches:
        df = spark.createDataFrame(rows, UPDATE_SCHEMA).coalesce(1)
        df.write.mode("append").parquet(base)
        time.sleep(0.05)


def test_orphan_update_only_state_is_evicted(spark, tmp_path):
    bridge = str(tmp_path / "bridge")
    os.makedirs(bridge)
    # batch 1: updates for a key whose 'message' event never arrives
    orphan_updates = [
        ("k_orphan", "add_parent", "p1", None, _ts(1_000)),
        ("k_orphan", "add_child", "c1", None, _ts(1_100)),
    ]
    # batch 2: a far-future message advances the watermark far past the
    # orphan's fallback eviction horizon (watermark_at_registration + 60s)
    far_future = [
        ("k_live", "message",
         None,
         '{"id":"k_live","src_ip":"9.9.9.9","dst_ip":"9.9.9.8",'
         '"start_at_ms":500000000,"latency_msec":1.0,"end_at_ms":500000001}',
         _ts(500_000_000)),
    ]
    _write_update_batches(spark, bridge, [orphan_updates, far_future])

    out = aggregate_bridge(spark, bridge, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName(f"orphan_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT id FROM {q.name}").collect()
        # orphan state must be evicted silently: no emission for it...
        assert all(r.id != "k_orphan" for r in rows)
        # ...and its state row gone — only k_live (whose timer is still
        # pending at its own end_at_ms) remains buffered
        progress = q.lastProgress
        n_state = progress["stateOperators"][0]["numRowsTotal"]
        assert n_state == 1, f"orphan state leaked: {n_state} rows buffered"
    finally:
        q.stop()


@pytest.mark.parametrize("max_lat", [20, 25, 100, 1920, 20_000])
def test_rate_latency_respects_bound(spark, max_lat):
    df = spark.range(0, 5000).select(
        rate_latency_expr(F.col("id"), max_lat).alias("lat")
    )
    row = df.agg(F.max("lat").alias("mx"), F.min("lat").alias("mn")).first()
    assert row.mx <= max_lat
    assert row.mn >= 20
