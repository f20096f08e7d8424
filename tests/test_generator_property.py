"""Property-style test: generator-shaped traces through the Spark linker must
match the O(n²) closed-world reference linker (the reference's own oracle
pattern, ``test_chain_linking.py:32-42``), for both join strategies."""

from __future__ import annotations

import pytest

from simpy__kafka__flink__kafka_spark.operators.linking import (
    aggregate_adjacency, link_edges, link_traces)
from simpy__kafka__flink__kafka_spark.schemas import golden_messages
from simpy__kafka__flink__kafka_spark.sources.generator import (
    closed_world_links, generate_trace_spans, inject_send_delays)


@pytest.mark.parametrize("seed", [42, 7])
@pytest.mark.parametrize("banded", [True, False])
def test_generated_traces_match_closed_world(spark, seed, banded):
    spans = generate_trace_spans(n_traces=120, seed=seed, ip_pool_size=5)
    expect = closed_world_links(spans)
    msgs = golden_messages(spark, spans)
    linked = (link_traces(msgs) if banded
              else aggregate_adjacency(msgs, link_edges(msgs)))
    out = linked.collect()
    got = {r["id"]: (list(r["parents"]), list(r["children"])) for r in out}
    assert got == expect


def test_delay_injector_preserves_content():
    spans = generate_trace_spans(n_traces=50, seed=42)
    arrived = inject_send_delays(spans, seed=42)
    assert sorted(arrived) == sorted(spans)       # same records
    assert [s[0] for s in arrived] != [s[0] for s in spans]  # reordered


def test_generator_deterministic():
    assert generate_trace_spans(30, seed=9) == generate_trace_spans(30, seed=9)
    assert generate_trace_spans(30, seed=9) != generate_trace_spans(30, seed=10)
