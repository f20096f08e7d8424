"""Structured Streaming topology mirroring the reference job
(``/root/reference/flink-jobs/simpy_kafka_reader.py:320-405``):

Kafka source -> lenient JSON parse -> 30 s bounded-out-of-orderness
watermark -> IP-keyed interval-containment stream-stream self-join ->
id-keyed adjacency aggregation -> Kafka sink (at-least-once).

Spark-first mapping decisions (SURVEY.md §7 Phase 3):

* The role-expansion flat-map (reference ``expand_roles``,
  ``simpy_kafka_reader.py:94-102``) dissolves: a stream-stream self-join on
  ``p.dst_ip == c.src_ip`` IS the per-IP pairing, with join-state eviction
  driven by the watermark instead of per-record timers.
* The join predicate is the batch containment predicate
  (``operators/linking._containment_cond``) plus an explicit time-range
  bound (``c.start BETWEEN p.start AND p.start + MAX_LATENCY``) so Spark can
  derive state watermarks for BOTH sides — without it the join state grows
  forever.  The bound is sound because
  ``end = start + latency <= start + MAX_LATENCY`` (reference spec bound:
  20 s, ``requirements-v2.md:17``).
* Spark restricts chaining two stateful operators in one query, so the full
  pipeline is two queries bridged by a parquet sink (mirroring the
  reference's own two-phase design, ``README.md:30``):
  :func:`link_traces_two_phase` writes edge updates and message events to
  the bridge, :func:`aggregate_bridge` folds them with the custom stateful
  aggregation in ``streaming/stateful.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.linking import _containment_cond
from ..schemas import MAX_LATENCY_MS, MSG_SCHEMA

WATERMARK = "30 seconds"  # SIMPY_MAX_OUT_OF_ORDER_MS=30000 (simpy_kafka_reader.py:28)


def parse_spans(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Lenient JSON parse (reference ``parse_message``,
    ``simpy_kafka_reader.py:67-77``): missing/garbage fields default to
    ""/0/0.0 instead of null."""
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), MSG_SCHEMA).alias("m")
    )
    return parsed.select(
        F.coalesce("m.id", F.lit("")).alias("id"),
        F.coalesce("m.src_ip", F.lit("")).alias("src_ip"),
        F.coalesce("m.dst_ip", F.lit("")).alias("dst_ip"),
        F.coalesce("m.start_at_ms", F.lit(0)).alias("start_at_ms"),
        F.coalesce("m.latency_msec", F.lit(0.0)).alias("latency_msec"),
        F.coalesce("m.end_at_ms", F.lit(0)).alias("end_at_ms"),
    )


def with_event_time(spans: DataFrame, watermark: str | None = WATERMARK) -> DataFrame:
    """Event time = start_at_ms (reference ``StartAtAssigner``,
    ``simpy_kafka_reader.py:313-317``); bounded out-of-orderness watermark.

    Pass ``watermark=None`` when a downstream stateful operator defines its
    own watermark (Spark allows one definition per query).
    """
    out = spans.withColumn(
        "start_ts", F.timestamp_millis(F.col("start_at_ms"))
    ).withColumn("end_ts", F.timestamp_millis(F.col("end_at_ms")))
    return out.withWatermark("start_ts", watermark) if watermark else out


def streaming_link_edges(spans: DataFrame,
                         max_latency_ms: int = MAX_LATENCY_MS) -> DataFrame:
    """Stream-stream interval-containment self-join (J1).

    Both sides carry the same watermark; the range conjunct bounds each
    side's state to ``watermark + max_latency`` — this is the declarative
    equivalent of the reference's per-record event-time eviction timers
    (``simpy_kafka_reader.py:159-184``).
    """
    p = spans.alias("p")
    c = spans.alias("c")
    cond = (
        _containment_cond()
        & (F.col("c.start_ts") >= F.col("p.start_ts"))
        & (
            F.col("c.start_ts")
            <= F.col("p.start_ts") + F.expr(f"INTERVAL {max_latency_ms} MILLISECONDS")
        )
    )
    return p.join(c, cond, "inner").select(
        F.col("p.id").alias("parent_id"),
        F.col("c.id").alias("child_id"),
        F.col("c.start_ts").alias("event_ts"),
    )


def serialize_linked(linked: DataFrame) -> DataFrame:
    """R2: linked record -> single JSON string column for the Kafka sink
    (reference ``simpy_kafka_reader.py:80-91``)."""
    return linked.select(
        F.to_json(
            F.struct(
                "id", "src_ip", "dst_ip", "start_at_ms", "latency_msec",
                "end_at_ms", "parents", "children",
            )
        ).alias("value")
    )


def kafka_spans_source(spark: SparkSession, bootstrap: str, topic: str,
                       starting_offsets: str = "earliest") -> DataFrame:
    """S1: Kafka source (reference ``FlinkKafkaConsumer``,
    ``simpy_kafka_reader.py:345-356``).  Requires a live broker — construct
    only; callers gate execution on broker availability."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return with_event_time(parse_spans(raw))


def kafka_sink(df: DataFrame, bootstrap: str, topic: str, checkpoint: str):
    """S2: at-least-once Kafka sink (reference ``FlinkKafkaProducer``
    AT_LEAST_ONCE, ``simpy_kafka_reader.py:394-402``; Spark's Kafka sink has
    the same delivery posture)."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def console_sink(df: DataFrame, mode: str = "append"):
    """S3: debug/print sink (reference ``.print()``,
    ``simpy_kafka_reader.py:392``)."""
    return df.writeStream.format("console").outputMode(mode).start()


def file_spans_source(spark: SparkSession, path: str,
                      watermark: str | None = WATERMARK,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """Spans from a parquet directory, one file per micro-batch — the
    deterministic test stand-in for the Kafka source (same downstream
    topology)."""
    raw = (
        spark.readStream.schema(MSG_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("latestFirst", "false")
        .parquet(path)
    )
    return with_event_time(raw, watermark)


def deduped_link_edges(spans: DataFrame,
                       max_latency_ms: int = MAX_LATENCY_MS) -> DataFrame:
    """Source dedup chained with the interval join in ONE streaming query:
    ``dropDuplicatesWithinWatermark`` -> stream-stream self-join (Spark's
    multi-stateful-operator support).  At-least-once sources (Kafka
    redelivery, file-source replays) produce no duplicate edges, and dedup
    state stays watermark-bounded like the join state."""
    from .windows import dedup_spans

    return streaming_link_edges(dedup_spans(spans), max_latency_ms)


def link_traces_two_phase(spans: DataFrame, bridge_dir: str, checkpoint1: str,
                          watermark: str = WATERMARK,
                          max_latency_ms: int = MAX_LATENCY_MS):
    """Phase 1 of the full streaming pipeline: span stream -> interval join ->
    (edge updates ∪ message events) -> parquet bridge.

    Spark disallows chaining a stream-stream join with a second arbitrary
    stateful operator in one query, so — exactly like the reference's
    two-phase job split by a Kafka topic (``README.md:30``) — phase 2
    (``streaming/stateful.aggregate_updates_stream``) consumes the bridge as
    its own stream.  Returns the started phase-1 query.
    """
    from .stateful import edge_update_events, span_message_events

    edges = streaming_link_edges(spans, max_latency_ms)
    updates = edge_update_events(edges).unionByName(span_message_events(spans))
    return (
        updates.writeStream.format("parquet")
        .option("path", bridge_dir)
        .option("checkpointLocation", checkpoint1)
        .outputMode("append")
        .start()
    )


def aggregate_bridge(spark: SparkSession, bridge_dir: str,
                     watermark: str = WATERMARK) -> DataFrame:
    """Phase 2 source+operator: read the bridge stream and apply the
    stateful adjacency aggregation."""
    from .stateful import UPDATE_SCHEMA, aggregate_updates_stream

    updates = (
        spark.readStream.schema(UPDATE_SCHEMA)
        .option("latestFirst", "false")
        .parquet(bridge_dir)
    )
    return aggregate_updates_stream(updates, watermark)
