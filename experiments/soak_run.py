"""Streaming soak driver (PLANS.md 'Streaming soak' sections).

Runs the rate-source feed through the CHAINED topology (watermark-bounded
dedup -> stream-stream interval join) for a wall-clock duration and reports
sustained throughput + state size from query progress.  Run:

    python experiments/soak_run.py [--rate 10000] [--seconds 90] \
        [--hosts 1000] [--max-latency-ms 400] [--no-dedup]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from simpy__kafka__flink__kafka_spark.session import (  # noqa: E402
    enable_rocksdb_state, get_spark)
from simpy__kafka__flink__kafka_spark.sources.generator import (  # noqa: E402
    rate_spans_source)
from simpy__kafka__flink__kafka_spark.streaming.pipeline import (  # noqa: E402
    aggregate_bridge, deduped_link_edges, link_traces_two_phase,
    streaming_link_edges)


def _digest(progress: list) -> dict:
    """Steady-state stats from a query's recentProgress list."""
    rates = [p["processedRowsPerSecond"] for p in progress
             if p.get("processedRowsPerSecond")]
    state = [
        sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
        for p in progress
    ]
    durs = [p["durationMs"]["triggerExecution"] for p in progress
            if p.get("durationMs", {}).get("triggerExecution")]
    half = len(rates) // 2
    return {
        "batches": len(progress),
        "sustained_rows_per_sec":
            int(statistics.median(rates[half:])) if rates[half:] else None,
        "peak_state_rows": max(state) if state else None,
        "final_state_rows": state[-1] if state else None,
        "median_batch_ms":
            int(statistics.median(durs[len(durs) // 2:])) if durs else None,
        "p95_batch_ms":
            int(sorted(durs)[int(len(durs) * 0.95)]) if durs else None,
    }


def two_stage(spark, args) -> None:
    """The FULL pipeline under soak: rate source -> interval join ->
    (edge updates ∪ message events) -> parquet bridge -> stateful
    adjacency aggregation (applyInPandasWithState on RocksDB) -> noop.
    Both phases run concurrently in one session, like the reference's two
    jobs bridged by a Kafka topic."""
    enable_rocksdb_state(spark)
    spans = rate_spans_source(
        spark, rows_per_second=args.rate, ip_pool_size=args.hosts,
        max_latency_ms=args.max_latency_ms,
    )
    bridge = tempfile.mkdtemp(prefix="soak_bridge_")
    q1 = link_traces_two_phase(
        spans, bridge, tempfile.mkdtemp(prefix="soak_ck1_"))
    # give phase 1 a head start so the bridge dir exists with data
    time.sleep(10)
    q2 = (
        aggregate_bridge(spark, bridge)
        .writeStream.format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="soak_ck2_"))
        .outputMode("append")
        .start()
    )
    t_end = time.time() + args.seconds
    try:
        while time.time() < t_end:
            time.sleep(5)
    finally:
        p1, p2 = list(q1.recentProgress), list(q2.recentProgress)
        q1.stop()
        q2.stop()
    print(json.dumps({
        "experiment": "streaming_soak",
        "topology": "two_stage_full",
        "rate": args.rate, "seconds": args.seconds, "hosts": args.hosts,
        "max_latency_ms": args.max_latency_ms,
        "phase1_link": _digest(p1),
        "phase2_aggregate": _digest(p2),
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rate", type=int, default=10_000)
    ap.add_argument("--seconds", type=int, default=90)
    ap.add_argument("--hosts", type=int, default=1000)
    ap.add_argument("--max-latency-ms", type=int, default=400)
    ap.add_argument("--no-dedup", action="store_true",
                    help="plain join topology (round-1 shape) for comparison")
    ap.add_argument("--two-stage", action="store_true",
                    help="full pipeline: join -> bridge -> stateful "
                         "aggregation (RocksDB), both phases concurrent")
    args = ap.parse_args()

    if args.two_stage:
        two_stage(get_spark("soak"), args)
        return

    spark = get_spark("soak")
    spans = rate_spans_source(
        spark, rows_per_second=args.rate, ip_pool_size=args.hosts,
        max_latency_ms=args.max_latency_ms,
    )
    topo = streaming_link_edges if args.no_dedup else deduped_link_edges
    edges = topo(spans, args.max_latency_ms)

    ck = tempfile.mkdtemp(prefix="soak_ck_")
    q = (
        edges.writeStream.format("noop")
        .option("checkpointLocation", ck)
        .start()
    )
    t_end = time.time() + args.seconds
    try:
        while time.time() < t_end:
            time.sleep(5)
    finally:
        progress = list(q.recentProgress)
        q.stop()

    rates = [p["processedRowsPerSecond"] for p in progress
             if p.get("processedRowsPerSecond")]
    state = [
        sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
        for p in progress
    ]
    # steady state = second half of the run
    half = len(rates) // 2
    print(json.dumps({
        "experiment": "streaming_soak",
        "topology": "join_only" if args.no_dedup else "dedup_chained_join",
        "rate": args.rate, "seconds": args.seconds, "hosts": args.hosts,
        "max_latency_ms": args.max_latency_ms,
        "batches": len(progress),
        "sustained_rows_per_sec": int(statistics.median(rates[half:])) if rates[half:] else None,
        "peak_state_rows": max(state) if state else None,
        "final_state_rows": state[-1] if state else None,
    }))


if __name__ == "__main__":
    main()
