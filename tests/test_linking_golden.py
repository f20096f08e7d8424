"""Golden-fixture tests for the trace-linking core — the three worked
scenarios from the reference's own unit tests
(``/root/reference/test_chain_linking.py``; FIXTURES.md G1-G3), run through
both the naive and the banded join paths."""

from __future__ import annotations

import pytest

from simpy__kafka__flink__kafka_spark.operators.linking import (
    aggregate_adjacency, link_edges, link_traces)
from simpy__kafka__flink__kafka_spark.schemas import golden_messages

G1 = [  # linear chain (test_chain_linking.py:20-24)
    ("id1", "10.0.0.1", "10.0.0.2", 1000, 500.0, 1500),
    ("id2", "10.0.0.2", "10.0.0.3", 1100, 200.0, 1300),
    ("id3", "10.0.0.3", "10.0.0.4", 1120, 100.0, 1220),
]
G1_EXPECT = {
    "id1": ([], ["id2"]),
    "id2": (["id1"], ["id3"]),
    "id3": (["id2"], []),
}

G2 = [  # concurrent branches (test_chain_linking.py:60-64)
    ("id1", "10.0.0.1", "10.0.0.2", 1000, 500.0, 1500),
    ("id2", "10.0.0.2", "10.0.0.3", 1100, 200.0, 1300),
    ("id3", "10.0.0.2", "10.0.0.4", 1200, 200.0, 1400),
]
G2_EXPECT = {
    "id1": ([], ["id2", "id3"]),
    "id2": (["id1"], []),
    "id3": (["id1"], []),
}

G3 = [  # multiple parents (test_chain_linking.py:97-101)
    ("id1", "10.0.0.1", "10.0.0.3", 1000, 400.0, 1400),
    ("id2", "10.0.0.2", "10.0.0.3", 1050, 350.0, 1400),
    ("id3", "10.0.0.3", "10.0.0.4", 1200, 100.0, 1300),
]
G3_EXPECT = {
    "id1": ([], ["id3"]),
    "id2": ([], ["id3"]),
    "id3": (["id1", "id2"], []),
}


def _check(spark, rows, expect, banded):
    msgs = golden_messages(spark, rows)
    if banded:
        out = link_traces(msgs).collect()
    else:
        out = aggregate_adjacency(msgs, link_edges(msgs)).collect()
    got = {r["id"]: (sorted(r["parents"]), sorted(r["children"])) for r in out}
    assert got == expect


@pytest.mark.parametrize("banded", [False, True])
@pytest.mark.parametrize(
    "rows,expect", [(G1, G1_EXPECT), (G2, G2_EXPECT), (G3, G3_EXPECT)],
    ids=["linear_chain", "concurrent_branches", "multi_parent"],
)
def test_golden(spark, rows, expect, banded):
    _check(spark, rows, expect, banded)


def test_self_match_excluded(spark):
    # src_ip == dst_ip with identical interval must NOT self-link (SURVEY §7.4)
    rows = [("idx", "10.0.0.1", "10.0.0.1", 1000, 100.0, 1100)]
    out = link_traces(golden_messages(spark, rows)).collect()
    assert out[0]["parents"] == [] and out[0]["children"] == []


def test_zero_width_nesting(spark):
    # equal boundaries count as containment (<=/>=, linking_utils.py:17-23)
    rows = [
        ("p", "10.0.0.1", "10.0.0.2", 1000, 300.0, 1300),
        ("c", "10.0.0.2", "10.0.0.3", 1000, 300.0, 1300),
    ]
    out = {r["id"]: r for r in link_traces(golden_messages(spark, rows)).collect()}
    assert out["p"]["children"] == ["c"]
    assert out["c"]["parents"] == ["p"]


def test_selfip_zero_width_excludes_self_edges(spark):
    # SURVEY §7.4: with src_ip == dst_ip every span trivially contains
    # itself — the reference would self-link; our contract excludes
    # p.id == c.id.  Zero-width twins at the same (ip, start) mutually
    # contain each other and must appear in BOTH directions.
    from pyspark.sql import functions as F

    from simpy__kafka__flink__kafka_spark.operators.linking import (
        link_edges, link_edges_banded)

    rows = [
        # id, src, dst, start, latency, end
        ("a", "10.0.0.1", "10.0.0.1", 1000, 0, 1000),   # zero-width
        ("b", "10.0.0.1", "10.0.0.1", 1000, 0, 1000),   # zero-width twin
        ("c", "10.0.0.1", "10.0.0.1", 900, 300, 1200),  # contains a, b
        ("d", "10.0.0.2", "10.0.0.2", 1000, 0, 1000),   # other ip, alone
    ]
    msgs = spark.createDataFrame(
        rows, "id string, src_ip string, dst_ip string, "
              "start_at_ms long, latency_msec long, end_at_ms long")
    for fn in (link_edges, link_edges_banded):
        got = {(r.parent_id, r.child_id) for r in fn(msgs).collect()}
        assert got == {("a", "b"), ("b", "a"),
                       ("c", "a"), ("c", "b")}, fn.__name__
        # no self-edges despite every span containing itself
        assert not any(p == c for p, c in got), fn.__name__


def test_critical_path_picks_heavier_branch(spark):
    """Hand-built chain: root A contains B and C (A->B, A->C), B contains
    D (B->D).  Weights: A=100, B=10, C=50, D=30.  Paths from A:
    A=100, A->B=110, A->C=150, A->B->D=140 — critical is A->C at 150,
    depth 1 (NOT the deeper 140 walk: weight beats depth)."""
    from simpy__kafka__flink__kafka_spark.operators.chains import (
        critical_path)
    from simpy__kafka__flink__kafka_spark.operators.linking import (
        link_edges_banded)

    # (id, src, dst, start, latency, end); containment drives the edges:
    # ip chain s->a->b/c->d with B strictly inside A, D inside B, C inside A
    rows = [
        ("A", "ip_s", "ip_a", 0, 100.0, 100),
        ("B", "ip_a", "ip_b", 10, 10.0, 20),
        ("C", "ip_a", "ip_c", 30, 50.0, 80),
        ("D", "ip_b", "ip_d", 12, 30.0, 42),
    ]
    # D must end within B for containment: B spans [10,20], D [12,42] does
    # NOT fit — widen B to cover D but stay inside A
    rows[1] = ("B", "ip_a", "ip_b", 10, 40.0, 50)
    msgs = golden_messages(spark, rows)
    edges = link_edges_banded(msgs)
    got = {r.root_id: (r.critical_ms, r.critical_depth)
           for r in critical_path(msgs, edges).collect()}
    # with B widened to 40: A->B = 140, A->B->D = 170, A->C = 150
    assert got == {"A": (170, 2)}


def test_critical_path_tie_resolves_to_deepest(spark):
    """Two walks with EQUAL total weight — the packed max resolves the
    tie to the greater depth on both engines."""
    from simpy__kafka__flink__kafka_spark.operators.chains import (
        critical_path)
    from simpy__kafka__flink__kafka_spark.operators.linking import (
        link_edges_banded)

    # A contains B (lat 60) and C (lat 40); C contains E (lat 20).
    # A->B = 160, A->C->E = 160 — tie; deeper (depth 2) must win.
    rows = [
        ("A", "ip_s", "ip_a", 0, 100.0, 100),
        ("B", "ip_a", "ip_b", 5, 60.0, 65),
        ("C", "ip_a", "ip_c", 70, 40.0, 110),
    ]
    # keep C inside A: [70, 110] exceeds A's end=100 — shift C
    rows[2] = ("C", "ip_a", "ip_c", 55, 40.0, 95)
    rows.append(("E", "ip_c", "ip_e", 60, 20.0, 80))
    msgs = golden_messages(spark, rows)
    got = {r.root_id: (r.critical_ms, r.critical_depth)
           for r in critical_path(msgs, link_edges_banded(msgs)).collect()}
    assert got == {"A": (160, 2)}
