"""Batch workload ``hotkey_burst``.

The job runs over generated JSON lines written in send-delay order (the
Kafka value shape):

    spark.read.text -> parse_spans -> link_traces -> serialize_linked -> text

The generator runs with one IP per tier and 20 ms between traces, so every
trace lands in the same (ip, 60 s band) cells: in-cell pair enumeration of
the band join and fat adjacency arrays take about half the job, and changes
to band width, salting, the interval-join strategy or skew handling show
here.  Parse, adjacency and serialization are timed on the same run.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from simpy__kafka__flink__kafka_spark.operators.linking import (
    aggregate_adjacency, link_edges_banded, link_traces)
from simpy__kafka__flink__kafka_spark.schemas import MAX_LATENCY_MS
from simpy__kafka__flink__kafka_spark.streaming.pipeline import (
    parse_spans, serialize_linked)

from common import (Oracle, PeakRss, StageCounters, Tracer, batch_spans,
                    median, write_json_lines)

# n_traces (about 4.8 spans each), ip_pool_size, mean_interarrival_ms
SIZE = {"full": (6_000, 1, 20.0), "smoke": (300, 1, 20.0)}
# The JIT keeps speeding the job up for a dozen reps; warming up through
# the steep part of that curve leaves less of it in the timed reps.
WARMUP_REPS = 4
MIN_REPS = 3


def run_job(spark, in_dir: str, out_dir: str) -> None:
    """The system under test, end to end, through its public functions."""
    linked = link_traces(parse_spans(spark.read.text(in_dir)))
    serialize_linked(linked).write.mode("overwrite").text(out_dir)


def write_input(spans: list[tuple], in_dir: str, parts: int) -> None:
    """Contiguous chunks, one file per core, keeping the arrival order."""
    shutil.rmtree(in_dir, ignore_errors=True)
    os.makedirs(in_dir)
    step = -(-len(spans) // parts)
    for i in range(parts):
        write_json_lines(os.path.join(in_dir, f"part-{i:03d}.json"),
                         spans[i * step:(i + 1) * step])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cell_pairs(parsed):
    """Sum and max over (ip, band) cells of n_parents x n_children, with the
    same cell probe as ``link_edges_banded_adaptive``."""
    band = F.lit(int(MAX_LATENCY_MS))
    p_cells = (
        parsed.withColumn("band", F.explode(F.sequence(
            (F.col("start_at_ms") / band).cast("long"),
            (F.col("end_at_ms") / band).cast("long"))))
        .groupBy("dst_ip", "band").agg(F.count(F.lit(1)).alias("n_p"))
    )
    c_cells = (
        parsed.withColumn("band", (F.col("start_at_ms") / band).cast("long"))
        .groupBy("src_ip", "band").agg(F.count(F.lit(1)).alias("n_c"))
    )
    row = (
        p_cells.join(c_cells, (p_cells.dst_ip == c_cells.src_ip)
                     & (p_cells.band == c_cells.band))
        .agg(F.sum(F.col("n_p") * F.col("n_c")).alias("s"),
             F.max(F.col("n_p") * F.col("n_c")).alias("m"))
        .collect()[0]
    )
    return int(row["s"] or 0), int(row["m"] or 0)


def _parent_band_rows(parsed) -> int:
    band = F.lit(int(MAX_LATENCY_MS))
    return parsed.select(F.explode(F.sequence(
        (F.col("start_at_ms") / band).cast("long"),
        (F.col("end_at_ms") / band).cast("long")))).count()


def traced_job(spark, in_dir: str, out_dir: str, tracer: Tracer) -> dict:
    """The job with each layer boundary materialised once (cache, then
    noop), spans around every call and stage counters per layer."""
    sc = StageCounters(spark)
    stages = {}
    before = sc.stages()
    t0 = time.perf_counter()
    with tracer.span("job"):
        mark = sc.stages()
        with tracer.span("parse"):
            parsed = parse_spans(spark.read.text(in_dir)).cache()
            _noop(parsed)
        now = sc.stages()
        stages["parse"], mark = sc.delta(mark, now), now
        with tracer.span("band_join"):
            edges = link_edges_banded(parsed).cache()
            _noop(edges)
        now = sc.stages()
        stages["band_join"], mark = sc.delta(mark, now), now
        with tracer.span("adjacency"):
            adj = aggregate_adjacency(parsed, edges).cache()
            _noop(adj)
        now = sc.stages()
        stages["adjacency"], mark = sc.delta(mark, now), now
        with tracer.span("serialize"):
            serialize_linked(adj).write.mode("overwrite").text(out_dir)
        now = sc.stages()
        stages["serialize"] = sc.delta(mark, now)
    wall = time.perf_counter() - t0
    job = sc.totals(sc.delta(before, sc.stages()))

    # counts, outside every span
    n_in = spark.read.text(in_dir).count()
    n_parsed = parsed.count()
    defaulted = parsed.filter(
        (F.col("id") == "") | (F.col("src_ip") == "") | (F.col("dst_ip") == "")
        | (F.col("start_at_ms") == 0) | (F.col("end_at_ms") == 0)).count()
    n_edges = edges.count()
    cell_pairs, max_cell = _cell_pairs(parsed)
    join_stage = max(stages["band_join"].items(),
                     key=lambda kv: kv[1]["task_ms"], default=None)
    skew = 0.0
    if join_stage is not None:
        durs = sc.task_durations_ms(join_stage[0])
        skew = max(durs) / max(1.0, median(durs)) if durs else 0.0
    n_out = spark.read.text(out_dir).count()
    bytes_out = sum(os.path.getsize(os.path.join(out_dir, f))
                    for f in os.listdir(out_dir) if f.startswith("part-"))
    adj_rows = adj.count()
    for df in (parsed, edges, adj):
        df.unpersist()

    def layer(name):
        return sc.totals(stages[name])

    return {
        "wall_s": wall,
        "parse.rows_in": n_in,
        "parse.rows_out": n_parsed,
        "parse.defaulted_rows": defaulted,
        "parse.self_s": tracer.self_s("parse"),
        "band_join.parent_band_rows": _parent_band_rows(parsed),
        "band_join.cell_pairs": cell_pairs,
        "band_join.max_cell_pairs": max_cell,
        "band_join.edges": n_edges,
        "band_join.useful_ratio": n_edges / cell_pairs if cell_pairs else 0.0,
        "band_join.self_s": tracer.self_s("band_join"),
        "band_join.shuffle_bytes": layer("band_join")["shuffle_bytes"],
        "band_join.task_skew": skew,
        "adjacency.update_rows": 2 * n_edges,
        "adjacency.rows_out": adj_rows,
        "adjacency.self_s": tracer.self_s("adjacency"),
        "adjacency.shuffle_bytes": layer("adjacency")["shuffle_bytes"],
        "serialize.rows": n_out,
        "serialize.bytes_out": bytes_out,
        "serialize.self_s": tracer.self_s("serialize"),
        "spark.task_s": job["task_s"],
        "spark.busy_cores": job["task_s"] / wall,
        "spark.gc_s": job["gc_s"],
        "spark.stages": job["stages"],
        "spark.shuffle_bytes": job["shuffle_bytes"],
    }


def run(ctx, workload: str, seed: int, seconds: float, trace: bool,
        smoke: bool) -> dict:
    n_traces, pool, gap = SIZE["smoke" if smoke else "full"]
    work = ctx.work_dir(workload)
    in_dir, out_dir = f"{work}/in", f"{work}/out"

    t0 = time.perf_counter()
    spark = ctx.start_session()
    spans = batch_spans(n_traces, seed, pool, gap)
    write_input(spans, in_dir, ctx.cpus)
    for _ in range(WARMUP_REPS):  # on the real input
        run_job(spark, in_dir, out_dir)
    setup_s = time.perf_counter() - t0

    oracle = Oracle(spans)
    n = oracle.n
    walls, peaks, failed, attempted = [], [], 0, 0
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_REPS or time.perf_counter() < deadline:
        shutil.rmtree(out_dir, ignore_errors=True)
        with PeakRss() as rss:
            t0 = time.perf_counter()
            run_job(spark, in_dir, out_dir)
            walls.append(time.perf_counter() - t0)
        peaks.append(rss.peak_mb)
        failed += oracle.failed_in_json_dir(out_dir)
        attempted += n

    result = {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "spans_per_s": n / median(walls),
        "peak_rss_mb": median(peaks),
        "spans": n,
        "edges": oracle.edges,
        "walls": walls,
    }
    if trace:
        tracer = Tracer(True)
        shutil.rmtree(out_dir, ignore_errors=True)
        layers = traced_job(spark, in_dir, out_dir, tracer)
        failed_t = oracle.failed_in_json_dir(out_dir)
        result["failed"] += failed_t
        result["attempted"] += n
        layers["trace.overhead_s"] = layers.pop("wall_s") - median(walls)
        result["layers"] = layers
        result["spans_trace"] = tracer.spans
    oracle.close()
    return result
