"""Interleaved best-of-N for the two headline queries whose in-bench times
drifted against their isolated bests in round 2 (link_traces,
minhash_lsh_pairs) — one session, alternating variants each rep, so the
within-run ratios are immune to the host's ~50% cross-run noise.

For link_traces the banded (shipping) and naive (small-scale twin) edge
joins run side by side; for minhash_lsh_pairs the shipping single-pyramid
form runs alone (the round-1 recompute variant no longer exists to compare
against).

    python experiments/headline_ab.py [--reps 3] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from simpy__kafka__flink__kafka_spark.functions.dedup import (  # noqa: E402
    minhash_lsh_pairs)
from simpy__kafka__flink__kafka_spark.operators.linking import (  # noqa: E402
    aggregate_adjacency, link_edges, link_traces)
from simpy__kafka__flink__kafka_spark.schemas import (  # noqa: E402
    messages_from_events)
from simpy__kafka__flink__kafka_spark.session import get_spark  # noqa: E402


def materialize(spark, df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()
    return dt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark("headline-ab")
    msgs = messages_from_events(spark, args.sf)
    docs = spark.read.parquet(f"{args.sf}/documents.parquet").select(
        "doc_id", "text"
    )

    best: dict[str, float] = {}
    for _ in range(args.reps):
        for name, build in [
            ("link_traces_banded", lambda: link_traces(msgs)),
            ("link_traces_naive",
             lambda: aggregate_adjacency(msgs, link_edges(msgs))),
            ("minhash_lsh_pairs", lambda: minhash_lsh_pairs(docs)),
        ]:
            dt = materialize(spark, build())
            best[name] = min(best.get(name, float("inf")), dt)

    print(json.dumps({
        "experiment": "headline_interleaved_best_of_n",
        "reps": args.reps,
        "sf": args.sf,
        **{k: round(v, 2) for k, v in best.items()},
        "banded_vs_naive_ratio": round(
            best["link_traces_naive"] / best["link_traces_banded"], 2
        ),
    }))


if __name__ == "__main__":
    main()
