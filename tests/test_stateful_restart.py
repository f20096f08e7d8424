"""Checkpoint restart of the two-phase streaming pipeline on the
``applyInPandasWithState`` fold (``aggregate_bridge``), under RocksDB state:
phase-1 stream-stream interval join -> parquet bridge -> phase-2 stateful
adjacency aggregation, with BOTH phases stopped mid-stream and restarted
from their checkpoints — the production recovery story of the reference's
own two-phase design (reference ``flink-jobs/simpy_kafka_reader.py:320-405``,
``README.md:30``; W6).

One feed and one stop/restart run serve both tests.  The feed is the
testdata span view in start order, cut just before the child of an edge
whose parent arrives earlier, so that edge has to be joined across the
restart.
"""

from __future__ import annotations

import glob
import os
import time

import pytest

from simpy__kafka__flink__kafka_spark.operators.linking import link_traces
from simpy__kafka__flink__kafka_spark.schemas import messages_from_events
from simpy__kafka__flink__kafka_spark.session import enable_rocksdb_state
from simpy__kafka__flink__kafka_spark.streaming.pipeline import (
    aggregate_bridge, file_spans_source, link_traces_two_phase)
from simpy__kafka__flink__kafka_spark.streaming.stateful import UPDATE_SCHEMA

COLS = ("id string, src_ip string, dst_ip string, start_at_ms long, "
        "latency_msec double, end_at_ms long")
STATE_CONFS = (
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
)


def _adjacency(r) -> tuple[list[str], list[str]]:
    return sorted(r.parents), sorted(r.children)


@pytest.fixture(scope="module")
def restart_run(spark, sf_dir, tmp_path_factory):
    saved = {k: spark.conf.get(k, None) for k in STATE_CONFS}
    enable_rocksdb_state(spark)

    msgs = messages_from_events(spark, sf_dir)
    batch = {r.id: _adjacency(r) for r in link_traces(msgs).collect()}
    ordered = [tuple(r) for r in msgs.orderBy("start_at_ms", "id").collect()]
    pos = {row[0]: i for i, row in enumerate(ordered)}
    cut = next(i for i in range(len(ordered) // 2, len(ordered))
               if any(pos[p] < i for p in batch[ordered[i][0]][0]))
    first, rest = ordered[:cut], ordered[cut:]
    flush_at = ordered[-1][3] + 10 ** 9

    d = tmp_path_factory.mktemp("restart")
    ind, bridge, ck1, ck2, out_dir = (
        str(d / k) for k in ("in", "bridge", "ck1", "ck2", "out"))
    os.makedirs(ind)

    def feed(rows):
        spark.createDataFrame(rows, COLS).coalesce(1).write.mode(
            "append").parquet(ind)
        time.sleep(0.05)

    def run_both_phases():
        src = file_spans_source(spark, ind, watermark="30 seconds")
        q = link_traces_two_phase(src, bridge, ck1, watermark="30 seconds")
        q.processAllAvailable()
        q.stop()
        q = (
            aggregate_bridge(spark, bridge)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck2)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def bridge_files():
        return set(glob.glob(os.path.join(bridge, "part-*")))

    try:
        feed(first)
        run_both_phases()
        emitted_before = {r.id for r in spark.read.parquet(out_dir).collect()}
        files_before = bridge_files()

        # restart both phases from their checkpoints on the rest of the feed
        # and a far-future span that advances the watermark past every end
        feed(rest)
        feed([("__flush__", "x", "y", flush_at, 1.0, flush_at + 1)])
        run_both_phases()
        new_files = sorted(bridge_files() - files_before)
        touched_after = {
            r.key_id for r in spark.read.schema(UPDATE_SCHEMA)
            .parquet(*new_files).select("key_id").collect()}
        rows = [r for r in spark.read.parquet(out_dir).collect()
                if r.id != "__flush__"]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return {
        "batch": batch,
        "first_ids": {row[0] for row in first},
        "emitted_before": emitted_before,
        "touched_after": touched_after,
        "rows": rows,
    }


def test_pipeline_restart_matches_batch(restart_run):
    # at-least-once across the restart boundary: a record may be emitted
    # twice, but every emission must carry the same final adjacency
    seen: dict = {}
    for r in restart_run["rows"]:
        v = _adjacency(r)
        assert seen.setdefault(r.id, v) == v, f"conflicting emits for {r.id}"
    assert seen == restart_run["batch"]


def test_fold_state_survives_checkpoint_restart(restart_run):
    """Keys whose 'message' event the fold consumed before the stop but had
    not emitted yet live only in the checkpointed state: the message is
    never re-sent.  Each must be emitted after the restart with its full
    adjacency, and a key that sees no event after the restart can only be
    emitted by the event-time timer registered before the stop."""
    batch = restart_run["batch"]
    got = {r.id: _adjacency(r) for r in restart_run["rows"]}
    held = restart_run["first_ids"] - restart_run["emitted_before"]
    quiet = held - restart_run["touched_after"]
    assert held and quiet, (held, quiet)
    assert {k: got.get(k) for k in held} == {k: batch[k] for k in held}
