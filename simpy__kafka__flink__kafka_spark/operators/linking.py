"""Trace-linking operators — the core capability of the reference system.

Semantics (reference: ``/root/reference/flink-jobs/linking_utils.py:17-23``,
``flink-jobs/simpy_kafka_reader.py:118-310``, ``README.md:62-68``):

    edge p -> c  iff  p.dst_ip == c.src_ip
                  AND p.start_at_ms <= c.start_at_ms
                  AND p.end_at_ms   >= c.end_at_ms

i.e. the parent's time interval fully contains the child's and the parent's
callee IP is the child's caller IP.  Every message is then emitted with
``parents`` / ``children`` adjacency arrays (empty when unmatched — the
reference's left-outer behavior via its EVENT_MESSAGE path,
``simpy_kafka_reader.py:151``).  We additionally exclude ``p.id == c.id``
self-pairing (possible when ``src_ip == dst_ip``; see SURVEY.md §7.4).

Scale notes (100 TB design):

* The reference executes this as a per-IP-key stateful symmetric nested loop,
  O(P*C) per key (its own README.md:21).  The naive Spark plan is an equi-join
  on the IP key with the range predicates as post-join filters — same O(P*C)
  per key, but JVM-codegen'd and shuffled once.  Fine when per-key groups are
  small; catastrophic on hot keys.
* ``link_edges_banded`` is the scale path: because spans are bounded
  (``latency <= max_latency_ms``), a parent interval overlaps at most
  ``ceil(max_latency/band)+1`` time bands.  Exploding parents into their
  covered bands and equi-joining on (ip, band) turns the join key from
  ``dst_ip`` (low cardinality, skew-prone) into ``(ip, band)`` (cardinality
  scales with the time axis), so per-task work stays constant as data grows —
  the classic bounded-range band join.  Semantics-preserving: each matching
  pair is produced exactly once because the child's single band lies inside
  the parent's distinct band list.
* Adjacency aggregation is a map-side-combinable ``collect_set`` per id; the
  final assembly joins aggregates back to the span set on the high-cardinality
  unique ``id`` — shuffle-heavy but skew-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import MAX_LATENCY_MS

MSG_COLS = ["id", "src_ip", "dst_ip", "start_at_ms", "latency_msec", "end_at_ms"]


def _containment_cond():
    return (
        (F.col("p.dst_ip") == F.col("c.src_ip"))
        & (F.col("p.start_at_ms") <= F.col("c.start_at_ms"))
        & (F.col("p.end_at_ms") >= F.col("c.end_at_ms"))
        & (F.col("p.id") != F.col("c.id"))
    )


def link_edges(msgs: DataFrame) -> DataFrame:
    """Parent/child edge discovery: naive equi-join on the IP key.

    Returns ``(parent_id, child_id)``.  Catalyst plans a shuffled hash /
    sort-merge join on ``dst_ip = src_ip`` with the interval predicates as
    join-time filters.
    """
    p = msgs.alias("p")
    c = msgs.alias("c")
    return p.join(c, _containment_cond(), "inner").select(
        F.col("p.id").alias("parent_id"), F.col("c.id").alias("child_id")
    )


def link_edges_banded(msgs: DataFrame, band_ms: int = MAX_LATENCY_MS) -> DataFrame:
    """Edge discovery via bounded-range band join (the scale path).

    Parents explode into every time band their interval touches (at most 2
    when ``band_ms >= max span length``); children join on their start band.
    Join key ``(ip, band)`` breaks per-IP skew and bounds per-task pair counts
    regardless of total data volume.
    """
    band = F.lit(int(band_ms))
    p = (
        msgs.withColumn(
            "band",
            F.explode(
                F.sequence(
                    (F.col("start_at_ms") / band).cast("long"),
                    (F.col("end_at_ms") / band).cast("long"),
                )
            ),
        )
    )
    c = msgs.withColumn("band", (F.col("start_at_ms") / band).cast("long"))
    cond = (F.col("p.band") == F.col("c.band")) & _containment_cond()
    return p.alias("p").join(c.alias("c"), cond, "inner").select(
        F.col("p.id").alias("parent_id"), F.col("c.id").alias("child_id")
    )


def edge_updates(edges: DataFrame) -> DataFrame:
    """Edge -> ``add_child``@parent + ``add_parent``@child update rows
    (reference ``expand_updates``, ``simpy_kafka_reader.py:105-115``).

    The one explode behind the batch fold (:func:`aggregate_adjacency`) and
    the streaming bridge (``streaming/stateful.edge_update_events``).
    Output columns: ``key_id, event_type, other_id``, then every edge
    column other than ``parent_id``/``child_id`` (the streaming join's
    ``event_ts``) unchanged.
    """
    carry = [c for c in edges.columns if c not in ("parent_id", "child_id")]

    def update(key: str, kind: str, other: str):
        return F.struct(
            F.col(key).alias("key_id"),
            F.lit(kind).alias("event_type"),
            F.col(other).alias("other_id"),
            *(F.col(c) for c in carry),
        )

    return edges.select(
        F.explode(
            F.array(
                update("parent_id", "add_child", "child_id"),
                update("child_id", "add_parent", "parent_id"),
            )
        ).alias("u")
    ).select("u.*")


def aggregate_adjacency(msgs: DataFrame, edges: DataFrame) -> DataFrame:
    """Fold edges into per-message ``parents``/``children`` arrays.

    Mirrors the reference's id-keyed aggregation
    (``simpy_kafka_reader.py:196-310``) with two differences documented in
    SURVEY.md §7.3: arrays are de-duplicated AND sorted (the reference keeps
    arrival order, which is nondeterministic under parallelism; its own
    multi-parent test compares as a set, ``test_chain_linking.py:124``).
    """
    # One pass over the edge stream: each edge explodes into an
    # add_parent@child and an add_child@parent update row, so the join
    # subtree executes ONCE and a single groupBy folds both arrays.  The
    # naive two-aggregation formulation re-executes the join per side —
    # visible as two BroadcastHashJoins in the physical plan and 2x the
    # dominant cost at scale.
    def fold(kind: str):
        return F.array_sort(
            F.collect_set(F.when(F.col("event_type") == kind, F.col("other_id")))
        )

    adj = edge_updates(edges).groupBy(F.col("key_id").alias("id")).agg(
        fold("add_parent").alias("parents"),
        fold("add_child").alias("children"),
    )
    empty = F.array().cast("array<string>")
    return msgs.join(adj, "id", "left").select(
        *MSG_COLS,
        F.coalesce("parents", empty).alias("parents"),
        F.coalesce("children", empty).alias("children"),
    )


def link_traces(msgs: DataFrame, band_ms: int = MAX_LATENCY_MS) -> DataFrame:
    """The flagship query: full link-and-aggregate pipeline.

    Input: span DataFrame with ``MSG_SCHEMA`` columns.
    Output: same columns + sorted ``parents``/``children`` string arrays.
    """
    return aggregate_adjacency(msgs, link_edges_banded(msgs, band_ms))
