"""The one custom stateful operator: id-keyed adjacency aggregation with
exact reference emit semantics (``MessageAggregationProcess``,
``/root/reference/flink-jobs/simpy_kafka_reader.py:196-310``):

* state per message id: the span (first-write-wins), insertion-ordered
  de-duplicated parents/children lists, the span's ``end_at_ms``;
* a record is emitted when the key's timer fires, after which state is
  evicted;
* arrays are emitted sorted (SURVEY.md §7.3 canonicalization).

Everything else in the pipeline is declarative; this operator exists for
emit-time parity only — final-result parity is already covered by the
batch path.  One fold (:func:`_fold`) serves every emit policy; the policy
is the timer it arms after each invocation.  The reference's 60 s
processing-time idle flush (``:303-310``) runs CONCURRENTLY with the
event-time timer; Spark allows one timeout kind per operator, so the
policy is chosen per query: event-time emit at ``end_at_ms``
(:func:`aggregate_updates_stream`, W2), processing-time idle flush
(:func:`aggregate_updates_stream_idle`, W3), or both deadlines folded onto
the event-time clock (:func:`aggregate_updates_stream_dual`) — full parity
except under a globally stalled watermark (see :func:`_dual_timer`).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.linking import edge_updates

# input: union of 'message' events (full span) and add_parent/add_child
# update events, keyed by key_id, with the event-time column 'event_ts'
UPDATE_SCHEMA = T.StructType(
    [
        T.StructField("key_id", T.StringType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("other_id", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),  # span JSON for 'message'
        T.StructField("event_ts", T.TimestampType(), True),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("src_ip", T.StringType(), True),
        T.StructField("dst_ip", T.StringType(), True),
        T.StructField("start_at_ms", T.LongType(), True),
        T.StructField("latency_msec", T.DoubleType(), True),
        T.StructField("end_at_ms", T.LongType(), True),
        T.StructField("parents", T.ArrayType(T.StringType()), True),
        T.StructField("children", T.ArrayType(T.StringType()), True),
    ]
)

# state mirrors the reference's ValueState quintet (simpy_kafka_reader.py:199-224)
# with lists JSON-encoded exactly as the reference stores them (:208-215)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("msg_json", T.StringType(), True),
        T.StructField("parents_json", T.StringType(), True),
        T.StructField("children_json", T.StringType(), True),
        T.StructField("end_ms", T.LongType(), True),
    ]
)


def _append_unique(lst: list[str], item: str) -> None:
    # dedup-on-append (reference _append_id, simpy_kafka_reader.py:294-301)
    if item and item not in lst:
        lst.append(item)


def _emit_row(msg: dict[str, Any], parents: list[str],
              children: list[str]) -> pd.DataFrame:
    return pd.DataFrame(
        [
            {
                "id": msg.get("id", ""),
                "src_ip": msg.get("src_ip", ""),
                "dst_ip": msg.get("dst_ip", ""),
                "start_at_ms": int(msg.get("start_at_ms", 0)),
                "latency_msec": float(msg.get("latency_msec", 0.0)),
                "end_at_ms": int(msg.get("end_at_ms", 0)),
                "parents": sorted(parents),
                "children": sorted(children),
            }
        ]
    )


IDLE_FLUSH_MS = 60_000  # SIMPY_IDLE_FLUSH_MS default (simpy_kafka_reader.py:29)
ORPHAN_EVICT_HORIZON_MS = 60_000  # orphan-state TTL past the watermark


def _fold(arm_timer: Callable[[GroupState, int | None], None]):
    """The adjacency fold for ``applyInPandasWithState``.

    A timed-out key emits its record (if its 'message' event arrived) and
    is evicted (reference ``:247-264``).  Otherwise the batch's events fold
    into state and ``arm_timer(state, end_ms)`` sets the key's next
    deadline.  Returned as a closure so the timer policy serializes with
    the function.
    """

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            msg_json, parents_json, children_json, end_ms = state.get
        else:
            msg_json, parents_json, children_json, end_ms = None, "[]", "[]", None
        msg = json.loads(msg_json) if msg_json else None
        parents: list[str] = json.loads(parents_json)
        children: list[str] = json.loads(children_json)

        if state.hasTimedOut:
            state.remove()
            if msg is not None:
                yield _emit_row(msg, parents, children)
            return

        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                if row.event_type == "message":
                    if msg is None and row.payload:  # first-write-wins (:230-236)
                        msg = json.loads(row.payload)
                        end_ms = int(msg.get("end_at_ms", 0))
                elif row.event_type == "add_parent":
                    _append_unique(parents, row.other_id)
                elif row.event_type == "add_child":
                    _append_unique(children, row.other_id)

        state.update((
            json.dumps(msg) if msg is not None else None,
            json.dumps(parents),
            json.dumps(children),
            end_ms,
        ))
        arm_timer(state, end_ms)

    return fn


def _event_time_timer(state: GroupState, end_ms: int | None) -> None:
    """W2: event-time timer at ``end_at_ms`` (reference :159, :236)."""
    if end_ms is not None:
        state.setTimeoutTimestamp(int(end_ms))
    else:
        # Orphan update-only state (edge updates arrived but the 'message'
        # event was dropped as late / lands in a later batch): without a
        # timer this key would leak forever.  The reference cleans such keys
        # via its concurrent 60 s processing-time idle flush, which Spark's
        # one-timeout-kind constraint drops here — so register a fallback
        # event-time eviction at watermark + the OOO horizon instead.  If the
        # message event does arrive before that, the timer is re-registered
        # to end_at_ms above; the timed-out branch emits nothing for
        # msg-less state, so eviction is silent, matching the reference's
        # idle flush of a bare-updates key (simpy_kafka_reader.py:303-310).
        state.setTimeoutTimestamp(
            state.getCurrentWatermarkMs() + ORPHAN_EVICT_HORIZON_MS
        )


def _idle_timer(idle_ms: int):
    """W3: processing-time idle flush (reference ``simpy_kafka_reader.py:29,
    248-254, 303-310`` — SIMPY_IDLE_FLUSH_MS).

    On ``idle_ms`` of key inactivity the buffered record is emitted then
    state cleared, so sparse keys produce output even if the watermark
    stalls.  This policy trades the event-time emit for the idle flush —
    the reference runs both timers at once, which is the documented
    divergence (SURVEY.md §7.1).
    """

    def arm(state: GroupState, end_ms: int | None) -> None:
        # reset-on-activity idle timer (reference :186-193)
        state.setTimeoutDuration(idle_ms)

    return arm


def _dual_timer(idle_horizon_ms: int):
    """Dual-timer emit parity (reference ``simpy_kafka_reader.py:186-193,
    247-264, 303-310``): the reference runs an event-time timer at
    ``end_at_ms`` AND a 60 s processing-time idle flush concurrently per key.
    Spark allows one timeout kind per operator, so this emulates both on the
    event-time clock: every invocation (re)registers the timeout at

        max(min(end_at_ms, current_watermark + idle_horizon), watermark + 1)

    so whichever deadline comes first fires — the watermark passing
    ``end_at_ms`` (the W2 emit) or the key sitting idle while the rest of
    the stream advances the watermark by ``idle_horizon`` (the W3 flush;
    activity on the key re-registers against the newer watermark, resetting
    the idle clock exactly like the reference's timer delete/re-create).

    Residual divergence (documented): a GLOBALLY stalled watermark (no
    traffic on any key) fires neither path here, where the reference's
    wall-clock idle timer still would — event-time is the only clock this
    operator gets.  msg-less (orphan) state is silently evicted at the idle
    deadline, matching the reference's idle flush of a bare-updates key.
    """

    def arm(state: GroupState, end_ms: int | None) -> None:
        wm = state.getCurrentWatermarkMs()
        idle_deadline = wm + idle_horizon_ms
        deadline = idle_deadline if end_ms is None else min(
            int(end_ms), idle_deadline
        )
        # a timer at or before the watermark is invalid; clamp to wm+1 so a
        # span whose end already passed emits at the next watermark tick
        state.setTimeoutTimestamp(max(deadline, wm + 1))

    return arm


def _aggregate(updates: DataFrame, watermark: str, arm_timer,
               timeout: str) -> DataFrame:
    return (
        updates.withWatermark("event_ts", watermark)
        .groupBy("key_id")
        .applyInPandasWithState(
            _fold(arm_timer),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def aggregate_updates_stream(updates: DataFrame,
                             watermark: str = "30 seconds") -> DataFrame:
    """Apply the stateful adjacency aggregation to an update-event stream.

    ``updates`` must have UPDATE_SCHEMA columns; output rows appear when the
    watermark passes each message's ``end_at_ms``.
    """
    return _aggregate(updates, watermark, _event_time_timer,
                      GroupStateTimeout.EventTimeTimeout)


def aggregate_updates_stream_idle(updates: DataFrame,
                                  watermark: str = "30 seconds",
                                  idle_ms: int = IDLE_FLUSH_MS) -> DataFrame:
    """W3 mode: same aggregation, processing-time idle-flush emission."""
    return _aggregate(updates, watermark, _idle_timer(idle_ms),
                      GroupStateTimeout.ProcessingTimeTimeout)


def aggregate_updates_stream_dual(updates: DataFrame,
                                  watermark: str = "30 seconds",
                                  idle_horizon_ms: int = IDLE_FLUSH_MS
                                  ) -> DataFrame:
    """Dual-timer mode: event-time emit at ``end_at_ms`` AND idle flush when
    the watermark advances ``idle_horizon_ms`` past a key's last activity —
    both paths in ONE operator (see :func:`_dual_timer`)."""
    return _aggregate(updates, watermark, _dual_timer(idle_horizon_ms),
                      GroupStateTimeout.EventTimeTimeout)


def span_message_events(spans: DataFrame) -> DataFrame:
    """Wrap parsed spans as 'message' events for the aggregation stream
    (the reference's EVENT_MESSAGE pass-through, simpy_kafka_reader.py:151)."""
    return spans.select(
        F.col("id").alias("key_id"),
        F.lit("message").alias("event_type"),
        F.lit(None).cast("string").alias("other_id"),
        F.to_json(
            F.struct("id", "src_ip", "dst_ip", "start_at_ms",
                     "latency_msec", "end_at_ms")
        ).alias("payload"),
        F.col("start_ts").alias("event_ts"),
    )


def edge_update_events(edges: DataFrame) -> DataFrame:
    """Edge stream -> add_child/add_parent update events (R4), carrying the
    edge's ``event_ts``, in UPDATE_SCHEMA column order."""
    return edge_updates(edges).select(
        "key_id", "event_type", "other_id",
        F.lit(None).cast("string").alias("payload"), "event_ts",
    )
