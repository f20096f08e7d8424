"""Trace-pipeline queries (SURVEY.md §2.2-2.5) with DuckDB oracles.

Every query here runs over the span view synthesized from ``events``
(``schemas.MESSAGES_SQL_DUCKDB`` on the oracle side,
``schemas.messages_from_events`` on the Spark side — kept expression-for-
expression identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.linking import (
    aggregate_adjacency, edge_updates, link_edges, link_edges_banded)
from ..schemas import MESSAGES_SQL_DUCKDB, messages_from_events
from . import Query

_MSGS = f"messages AS ({MESSAGES_SQL_DUCKDB})"

_EDGES_SQL = """
edges AS (
  SELECT p.id AS parent_id, c.id AS child_id
  FROM messages p
  JOIN messages c
    ON p.dst_ip = c.src_ip
   AND p.start_at_ms <= c.start_at_ms
   AND p.end_at_ms >= c.end_at_ms
   AND p.id <> c.id
)
"""


# --- flagship: link_traces (J1 + A1 + left-outer assembly) -------------------

def _linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed linked output (the library API shape)."""
    msgs = messages_from_events(spark, sf_dir)
    return aggregate_adjacency(msgs, link_edges_banded(msgs))


def _q_link_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gate-facing projection: the adjacency arrays are already
    # deterministically sorted (array_sort in aggregate_adjacency), so a
    # comma join is a stable, hashable serialization.  The array-typed form
    # stays available via operators.linking.link_traces for library users.
    return _linked(spark, sf_dir).select(
        "id", "src_ip", "dst_ip", "start_at_ms", "latency_msec", "end_at_ms",
        F.concat_ws(",", "parents").alias("parents"),
        F.concat_ws(",", "children").alias("children"),
    )


_LINKED_SQL = f"""
WITH {_MSGS}, {_EDGES_SQL},
par AS (SELECT child_id AS id, list_sort(list(DISTINCT parent_id)) AS parents
        FROM edges GROUP BY 1),
chi AS (SELECT parent_id AS id, list_sort(list(DISTINCT child_id)) AS children
        FROM edges GROUP BY 1)
SELECT m.id, m.src_ip, m.dst_ip, m.start_at_ms, m.latency_msec, m.end_at_ms,
       COALESCE(par.parents, CAST([] AS VARCHAR[]))  AS parents,
       COALESCE(chi.children, CAST([] AS VARCHAR[])) AS children
FROM messages m
LEFT JOIN par USING (id)
LEFT JOIN chi USING (id)
"""

_LINK_TRACES_SQL = f"""
WITH linked AS ({_LINKED_SQL})
SELECT id, src_ip, dst_ip, start_at_ms, latency_msec, end_at_ms,
       COALESCE(array_to_string(parents, ','), '')  AS parents,
       COALESCE(array_to_string(children, ','), '') AS children
FROM linked
"""


# --- link_edges (J1 alone; banded scale-path plan + naive variant) -----------
# At sf0.1 the naive equi-join on the 10-value IP key evaluates ~1e9 pairs
# (90 s local); the band join does the same work in <1 s.  Both are declared
# and verified against the same oracle.

def _q_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_edges_banded(messages_from_events(spark, sf_dir))


def _q_link_edges_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_edges(messages_from_events(spark, sf_dir))


_LINK_EDGES_SQL = f"WITH {_MSGS}, {_EDGES_SQL} SELECT parent_id, child_id FROM edges"


# --- adversarial J1 row: self-IP + zero-width containment (SURVEY §7.4) ------
# The golden fixtures are containment-wellformed and never exercise
# src_ip == dst_ip, so the documented divergence from the reference (it
# would self-link a span with itself; we exclude p.id == c.id) was pinned
# only by prose.  This row rewrites the span view adversarially — every
# span's dst_ip is forced to its src_ip, and a deterministic md5-keyed
# subset is collapsed to zero width (end = start, latency 0) — then runs
# the BANDED scale-path join.  Every span now trivially contains itself
# (start <= start, end >= end), so without the id guard the edge set
# would gain one self-edge per span and the hash would diverge;
# zero-width twins with equal (ip, start) mutually contain each other and
# must appear in BOTH directions.  The DuckDB twin applies the identical
# rewrite + guard.

def _adv_msgs(msgs: DataFrame) -> DataFrame:
    zero = F.substring(F.md5("id"), 1, 1).isin("0", "1", "2")
    return msgs.select(
        "id",
        "src_ip",
        F.col("src_ip").alias("dst_ip"),
        "start_at_ms",
        F.when(zero, F.lit(0)).otherwise(F.col("latency_msec"))
        .alias("latency_msec"),
        F.when(zero, F.col("start_at_ms")).otherwise(F.col("end_at_ms"))
        .alias("end_at_ms"),
    )


def _q_link_edges_selfip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_edges_banded(_adv_msgs(messages_from_events(spark, sf_dir)))


_ADV_SQL = """
adv AS (
  SELECT id, src_ip, src_ip AS dst_ip, start_at_ms,
         CASE WHEN substr(md5(id), 1, 1) IN ('0', '1', '2')
              THEN 0 ELSE latency_msec END AS latency_msec,
         CASE WHEN substr(md5(id), 1, 1) IN ('0', '1', '2')
              THEN start_at_ms ELSE end_at_ms END AS end_at_ms
  FROM messages
)
"""

_LINK_EDGES_SELFIP_SQL = f"""
WITH {_MSGS}, {_ADV_SQL},
edges AS (
  SELECT p.id AS parent_id, c.id AS child_id
  FROM adv p
  JOIN adv c
    ON p.dst_ip = c.src_ip
   AND p.start_at_ms <= c.start_at_ms
   AND p.end_at_ms >= c.end_at_ms
   AND p.id <> c.id
)
SELECT parent_id, child_id FROM edges
"""


# --- R3: role expansion flat-map ---------------------------------------------

def _q_role_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = messages_from_events(spark, sf_dir)
    return msgs.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("parent").alias("role"),
                    F.col("dst_ip").alias("ip_key"),
                    F.col("id").alias("id"),
                ),
                F.struct(
                    F.lit("child").alias("role"),
                    F.col("src_ip").alias("ip_key"),
                    F.col("id").alias("id"),
                ),
            )
        ).alias("r")
    ).select("r.role", "r.ip_key", "r.id")


_ROLE_EXPLODE_SQL = f"""
WITH {_MSGS}
SELECT 'parent' AS role, dst_ip AS ip_key, id FROM messages
UNION ALL
SELECT 'child'  AS role, src_ip AS ip_key, id FROM messages
"""


# --- R4: link-event expansion flat-map ---------------------------------------

def _q_update_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = link_edges_banded(messages_from_events(spark, sf_dir))
    return edge_updates(edges).select("event_type", "key_id", "other_id")


_UPDATE_EXPLODE_SQL = f"""
WITH {_MSGS}, {_EDGES_SQL}
SELECT 'add_child' AS event_type, parent_id AS key_id, child_id AS other_id FROM edges
UNION ALL
SELECT 'add_parent' AS event_type, child_id AS key_id, parent_id AS other_id FROM edges
"""


# --- A2: running-max watermark (batch analog of the watermark tracker) -------
# DECLARED AT FIXED ORACLE SCALE: the unpartitioned window is a one-task
# sort.  Scale-safe twin: ``watermark_sharded`` (plans/scalar.py, same
# oracle) via operators/sequences.ranged_prefix_max.

def _q_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = messages_from_events(spark, sf_dir)
    w = W.orderBy("start_at_ms", "id").rowsBetween(W.unboundedPreceding, W.currentRow)
    return msgs.select(
        "id",
        "start_at_ms",
        (F.max("start_at_ms").over(w) - F.lit(30_000)).alias("watermark_ms"),
    )


_WATERMARK_SQL = f"""
WITH {_MSGS}
SELECT id, start_at_ms,
       max(start_at_ms) OVER (ORDER BY start_at_ms, id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       - 30000 AS watermark_ms
FROM messages
"""


# --- W2 batch analog: emit set once the final watermark has passed end_at_ms -

def _q_emit_at_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = messages_from_events(spark, sf_dir)
    wm = msgs.agg((F.max("start_at_ms") - F.lit(30_000)).alias("wm"))
    return (
        msgs.crossJoin(F.broadcast(wm))
        .where(F.col("end_at_ms") <= F.col("wm"))
        .select("id", "start_at_ms", "end_at_ms")
    )


_EMIT_AT_WATERMARK_SQL = f"""
WITH {_MSGS}
SELECT id, start_at_ms, end_at_ms
FROM messages
WHERE end_at_ms <= (SELECT max(start_at_ms) - 30000 FROM messages)
"""


# --- R1: lenient JSON parse with defaults (props column) ---------------------

def _q_parse_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import read_events

    ev = read_events(spark, sf_dir)
    return ev.select(
        "event_id",
        coerce_int_lenient(F.get_json_object("props", "$.k")).alias("k"),
        F.coalesce(F.col("event_type"), F.lit("")).alias("event_type"),
    )


def coerce_int_lenient(col: F.Column) -> F.Column:
    """``int(float(x))``-with-0-default coercion, matching the reference's
    ``_to_int`` (``flink-jobs/simpy_kafka_reader.py:42-53``): ``"3.7"`` -> 3,
    ``"-3.7"`` -> -3, garbage/absent -> 0.  Spark's double->long cast
    truncates toward zero, same as Python ``int()``.  Non-finite doubles
    ("inf"/"nan") also yield 0 — in the reference ``int(float("inf"))``
    raises and is caught to the default, whereas Spark's Infinity->long cast
    would saturate to Long.MaxValue without the guard."""
    d = col.try_cast("double")
    finite = F.coalesce(
        F.when(F.isnan(d) | (F.abs(d) == F.lit(float("inf"))), F.lit(0.0))
        .otherwise(d),
        F.lit(0.0),
    )
    return finite.cast("long")


# DuckDB double->BIGINT cast ROUNDS; trunc() first to match Python int().
# isfinite guard: CAST('inf' DOUBLE AS BIGINT) is a hard error in DuckDB,
# and the reference coerces non-finite to the 0 default anyway.
_PARSE_PROPS_SQL = """
WITH d AS (
  SELECT event_id, event_type,
         COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE),
                  0.0) AS kd
  FROM events
)
SELECT event_id,
       CAST(trunc(CASE WHEN isfinite(kd) THEN kd ELSE 0.0 END) AS BIGINT) AS k,
       COALESCE(event_type, '') AS event_type
FROM d
"""


# --- DAG follow-up analytics over the linked output --------------------------

def _q_trace_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    linked = _linked(spark, sf_dir)
    return (
        linked.where((F.size("parents") == 0) & (F.size("children") > 0))
        .select("id", F.size("children").cast("long").alias("n_children"))
    )


_TRACE_ROOTS_SQL = f"""
WITH linked AS ({_LINKED_SQL})
SELECT id, CAST(len(children) AS BIGINT) AS n_children
FROM linked
WHERE len(parents) = 0 AND len(children) > 0
"""


def _q_fanout_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    linked = _linked(spark, sf_dir)
    return (
        linked.groupBy(F.size("children").cast("long").alias("fanout"))
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )


_FANOUT_HISTOGRAM_SQL = f"""
WITH linked AS ({_LINKED_SQL})
SELECT CAST(len(children) AS BIGINT) AS fanout, count(*) AS n_spans
FROM linked
GROUP BY 1
"""


# --- latency percentiles (the spec's 90%<300ms workload metric,
#     requirements-v2.md:16-17) ------------------------------------------------

def _q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = messages_from_events(spark, sf_dir)
    pct = F.percentile("latency_msec", F.lit([0.5, 0.9, 0.99]))
    return msgs.groupBy("dst_ip").agg(
        F.round(pct[0], 6).alias("p50"),
        F.round(pct[1], 6).alias("p90"),
        F.round(pct[2], 6).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


_LATENCY_PERCENTILES_SQL = f"""
WITH {_MSGS}
SELECT dst_ip,
       round(quantile_cont(latency_msec, 0.5), 6) AS p50,
       round(quantile_cont(latency_msec, 0.9), 6) AS p90,
       round(quantile_cont(latency_msec, 0.99), 6) AS p99,
       count(*) AS n
FROM messages
GROUP BY dst_ip
"""


# --- chain statistics (requirements-v2.md:177) -------------------------------

def _q_chain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chains import chain_stats

    msgs = messages_from_events(spark, sf_dir)
    # The banded-join edge subtree is referenced by the root derivation AND
    # every unrolled BFS level; cache it so the join executes once instead of
    # once per reference.  (At cluster scale this is where you'd checkpoint
    # the edge set before iterating.)
    from ..cachepin import pin

    edges = pin(link_edges_banded(msgs))
    return chain_stats(msgs, edges)


_CHAIN_STATS_SQL = f"""
WITH {_MSGS}, {_EDGES_SQL},
linked AS (
  SELECT m.id,
         m.latency_msec,
         COALESCE(p.n_par, 0) AS n_par,
         COALESCE(c.n_chi, 0) AS n_chi
  FROM messages m
  LEFT JOIN (SELECT child_id AS id, count(DISTINCT parent_id) AS n_par
             FROM edges GROUP BY 1) p USING (id)
  LEFT JOIN (SELECT parent_id AS id, count(DISTINCT child_id) AS n_chi
             FROM edges GROUP BY 1) c USING (id)
),
reach AS (
  WITH RECURSIVE r(root_id, node, depth) AS (
    SELECT id, id, 0 FROM linked WHERE n_par = 0 AND n_chi > 0
    UNION
    SELECT r.root_id, e.child_id, r.depth + 1
    FROM r JOIN edges e ON e.parent_id = r.node
    WHERE r.depth < 8
  )
  SELECT * FROM r
)
SELECT root_id,
       count(DISTINCT node) AS n_spans,
       max(depth) AS max_depth,
       l.latency_msec AS total_ms
FROM reach
JOIN linked l ON l.id = root_id
GROUP BY root_id, l.latency_msec
"""


def _q_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chain critical path (operators/chains.py:critical_path): the
    longest latency-weighted root->node walk of each linked trace —
    max-plus BFS with per-(root, node, depth) contraction, integer-exact
    and tie-broken to the deepest path, so the recursive-CTE oracle
    (which ENUMERATES paths where Spark contracts them) agrees bit for
    bit on the aggregate."""
    from ..cachepin import pin
    from ..operators.chains import critical_path, weighted_edges

    msgs = messages_from_events(spark, sf_dir)
    edges = pin(link_edges_banded(msgs))          # roots derivation
    ew = pin(weighted_edges(msgs, edges))         # every BFS level
    return critical_path(msgs, edges, edges_weighted=ew)


_CRITICAL_PATH_SQL = f"""
WITH {_MSGS}, {_EDGES_SQL},
lat AS (SELECT id, CAST(latency_msec AS BIGINT) AS l FROM messages),
deg AS (
  SELECT m.id, COALESCE(p.n_par, 0) AS n_par, COALESCE(c.n_chi, 0) AS n_chi
  FROM messages m
  LEFT JOIN (SELECT child_id AS id, count(DISTINCT parent_id) AS n_par
             FROM edges GROUP BY 1) p USING (id)
  LEFT JOIN (SELECT parent_id AS id, count(DISTINCT child_id) AS n_chi
             FROM edges GROUP BY 1) c USING (id)
),
walk AS (
  WITH RECURSIVE r(root_id, node, depth, path_ms) AS (
    SELECT d.id, d.id, 0, lat.l
    FROM deg d JOIN lat ON lat.id = d.id
    WHERE d.n_par = 0 AND d.n_chi > 0
    UNION
    SELECT r.root_id, e.child_id, r.depth + 1, r.path_ms + lat.l
    FROM r
    JOIN edges e ON e.parent_id = r.node
    JOIN lat ON lat.id = e.child_id
    WHERE r.depth < 8
  )
  SELECT * FROM r
)
SELECT root_id,
       max(path_ms * 16 + depth) // 16 AS critical_ms,
       CAST(max(path_ms * 16 + depth) % 16 AS INTEGER) AS critical_depth
FROM walk
GROUP BY root_id
"""


def _q_hop_latencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chains import hop_latencies

    msgs = messages_from_events(spark, sf_dir)
    edges = link_edges_banded(msgs)  # single use: no cache needed
    return hop_latencies(msgs, edges)


_HOP_LATENCIES_SQL = f"""
WITH {_MSGS}, {_EDGES_SQL}
SELECT e.parent_id, e.child_id,
       c.latency_msec AS hop_ms,
       c.start_at_ms - p.start_at_ms AS start_offset_ms
FROM edges e
JOIN messages p ON p.id = e.parent_id
JOIN messages c ON c.id = e.child_id
"""


QUERIES: dict[str, Query] = {
    "chain_stats": Query(_q_chain_stats, _CHAIN_STATS_SQL,
                         "per-chain span count/depth/total duration (BFS)"),
    "hop_latencies": Query(_q_hop_latencies, _HOP_LATENCIES_SQL,
                           "per-hop latency and start offset"),
    "critical_path": Query(_q_critical_path, _CRITICAL_PATH_SQL,
                           "longest latency-weighted root->leaf path "
                           "per chain (max-plus BFS)"),
    "latency_percentiles": Query(_q_latency_percentiles, _LATENCY_PERCENTILES_SQL,
                                 "exact p50/p90/p99 span latency per callee IP"),
    "trace_roots": Query(_q_trace_roots, _TRACE_ROOTS_SQL,
                         "root spans (no parents, >=1 child) of the linked DAG"),
    "fanout_histogram": Query(_q_fanout_histogram, _FANOUT_HISTOGRAM_SQL,
                              "children-count distribution over linked spans"),
    "link_traces": Query(_q_link_traces, _LINK_TRACES_SQL,
                         "flagship: interval-containment self-join + adjacency agg (J1+A1)"),
    "link_edges": Query(_q_link_edges, _LINK_EDGES_SQL,
                        "J1 edge discovery (banded bounded-range join)"),
    "link_edges_naive": Query(_q_link_edges_naive, _LINK_EDGES_SQL,
                              "J1 edge discovery (naive IP-keyed equi-join)"),
    "link_edges_selfip_zero": Query(
        _q_link_edges_selfip, _LINK_EDGES_SELFIP_SQL,
        "adversarial J1: self-IP spans + zero-width containment (§7.4 "
        "p.id != c.id divergence pinned against the oracle)"),
    "role_explode": Query(_q_role_explode, _ROLE_EXPLODE_SQL, "R3 1->2 role flat-map"),
    "update_explode": Query(_q_update_explode, _UPDATE_EXPLODE_SQL, "R4 link-event flat-map"),
    "watermark_running_max": Query(_q_watermark, _WATERMARK_SQL, "A2 bounded-OOO watermark"),
    "emit_at_watermark": Query(_q_emit_at_watermark, _EMIT_AT_WATERMARK_SQL,
                               "W2 emit-when-watermark>=end batch analog"),
    "parse_props_lenient": Query(_q_parse_props, _PARSE_PROPS_SQL,
                                 "R1 lenient JSON parse with 0-defaults"),
}
