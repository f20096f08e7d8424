"""Streaming workload ``live_replay``: the reference's deployment shape.

Spans from the generator are grouped into one JSON-lines file per 500 ms
tick, which stands in for the Kafka topic.  Spans carry event time equal to
their due time and arrive late by a chi-square(2) send delay, so they are out
of order.  The stream runs

    parse_spans -> with_event_time -> link_traces_two_phase -> parquet bridge
    -> aggregate_bridge (applyInPandasWithState, RocksDB state)
    -> this benchmark's foreachBatch sink, which collects every record.

A record is emitted once the watermark (max event time - 30 s) passes its
``end_at_ms``.  After the last tick a flush record far ahead in event time
drains the state.

The feed is written up front and drained closed-loop, both phases running
together, ``DRAIN_FILES_PER_TRIGGER`` files per phase-1 micro-batch; the
workload reports the throughput of the drain.  An open loop releasing the
files on the wall clock was tried: on a 4-core box both phases then run
back-to-back micro-batches that saturate the CPU, and the emit lag moved by
a third between identical runs, too much for a regression bound."""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from simpy__kafka__flink__kafka_spark.session import enable_rocksdb_state
from simpy__kafka__flink__kafka_spark.sources.generator import (
    generate_trace_spans)
from simpy__kafka__flink__kafka_spark.streaming.pipeline import (
    aggregate_bridge, link_traces_two_phase, parse_spans, with_event_time)

from common import (WATERMARK_MS, Oracle, PeakRss, StageCounters, Tracer,
                    median, percentile, send_delays, write_json_lines)

RATE = 100  # spans per second of event time (the reference's rate)
SPANS_PER_TRACE = 4.8  # generator mean: 3 + 0.4 * 2 + 1
TICK_MS = 500  # one file per tick
FEED_S = {"full": 20, "smoke": 12}  # event-time length of a feed
DRAIN_FILES_PER_TRIGGER = 20  # 10 s of feed per phase-1 micro-batch
DRAIN_BASE_MS = 1_000_000_000_000  # event-time origin of the drained feed
DRAIN_TIMEOUT_S = 90
MIN_PASSES = 2
FLUSH_ID = "__flush__"


def schedule(seed: int, feed_s: float, rate: float) -> list[tuple]:
    """(arrival_ms, span) with times relative to the feed start, sorted by
    arrival like ``inject_send_delays``.  Only spans that arrive before the
    feed ends are offered; the rest are still in flight at the flush."""
    n_traces = int(feed_s * rate / SPANS_PER_TRACE) + 1
    spans = generate_trace_spans(
        n_traces, seed=seed, ip_pool_size=10,
        mean_interarrival_ms=1e3 * SPANS_PER_TRACE / rate, start_ms=0)
    delays = send_delays(len(spans), seed)
    return sorted(((sp[3] + d, sp) for sp, d in zip(spans, delays)
                   if sp[3] + d <= feed_s * 1e3),
                  key=lambda x: (x[0], x[1][0]))


def shift(sp: tuple, base_ms: int) -> tuple:
    return (sp[0], sp[1], sp[2], sp[3] + base_ms, sp[4], sp[5] + base_ms)


def tick_files(sched: list[tuple], base_ms: int,
               feed_s: float) -> list[list[tuple]]:
    """The spans of each tick (tick k holds the arrivals in ((k-1)T, kT]),
    then a last file with the flush record, far enough ahead in event time
    that the watermark passes every span's end."""
    n = int(-(-feed_s * 1e3 // TICK_MS))
    files: list[list[tuple]] = [[] for _ in range(n)]
    for arrival, sp in sched:
        files[max(1, int(-(-arrival // TICK_MS))) - 1].append(
            shift(sp, base_ms))
    far = base_ms + n * TICK_MS + 10 * WATERMARK_MS
    files.append([(FLUSH_ID, "10.9.9.9", "10.9.9.8", far, 1.0, far + 1)])
    return files


def write_feed(feed_dir: str, seed: int, feed_s: float) -> list[tuple]:
    """Write the tick files of a feed to ``feed_dir/in``; returns the spans
    offered, shifted to ``DRAIN_BASE_MS`` as written."""
    in_dir = os.path.join(feed_dir, "in")
    os.makedirs(in_dir)
    sched = schedule(seed, feed_s, RATE)
    files = tick_files(sched, DRAIN_BASE_MS, feed_s)
    now = time.time()
    for k, spans in enumerate(files):
        path = os.path.join(in_dir, f"tick-{k:05d}.json")
        write_json_lines(path, spans)
        # The file source reads in mtime order and breaks ties arbitrarily;
        # a span read after the flush is late, and its message event then
        # fails phase 2's timeout registration.
        t = now - (len(files) - k) * 0.01
        os.utime(path, (t, t))
    return [shift(sp, DRAIN_BASE_MS) for _, sp in sched]


class Sink:
    """foreachBatch sink: collects every emitted row and the time the last
    non-empty batch was collected."""

    def __init__(self, tracer: Tracer, parent: int | None):
        self.rows: list[tuple] = []  # (id, parents, children)
        self.last_emit = 0.0  # perf_counter
        self.tracer, self.parent = tracer, parent
        self.lock = threading.Lock()

    def __call__(self, df, batch_id: int) -> None:
        # runs on a callback thread, so the span gets an explicit parent
        t0 = time.perf_counter()
        got = df.select("id", "parents", "children").collect()
        now = time.perf_counter()
        self.tracer.add("sink.batch", t0, now, self.parent)
        with self.lock:
            self.rows.extend((r.id, list(r.parents), list(r.children))
                             for r in got)
            if got:
                self.last_emit = now

    def count(self) -> int:
        with self.lock:
            return len(self.rows)


class Progress(StreamingQueryListener):
    """Keeps every StreamingQueryProgress of the run."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def of(self, query_id: str) -> list[dict]:
        return [e for e in self.events if e["id"] == query_id]


def _wait_for(cond, timeout_s: float, what: str) -> None:
    deadline = time.time() + timeout_s
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.05)


def run_pass(spark, feed_dir: str, n_spans: int, tracer: Tracer):
    """Drain ``feed_dir/in`` through both phases until the sink has every
    span.  Returns (sink, wall s from start to the last emit, phase-1 query
    id, phase-2 query id)."""
    bridge, ck1, ck2 = (f"{feed_dir}/bridge", f"{feed_dir}/ck1",
                        f"{feed_dir}/ck2")
    for d in (bridge, ck1, ck2):
        shutil.rmtree(d, ignore_errors=True)
    start = time.perf_counter()
    with tracer.span("pass") as pass_span:
        sink = Sink(tracer, pass_span.idx)
        spans = with_event_time(parse_spans(
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", DRAIN_FILES_PER_TRIGGER)
            .load(f"{feed_dir}/in")))
        q1 = link_traces_two_phase(spans, bridge, ck1)
        q2 = None
        try:
            with tracer.span("prime"):
                # phase 2 reads the bridge through the sink's metadata log,
                # so it starts once phase 1 has committed a first batch
                _wait_for(lambda: os.path.exists(
                    os.path.join(bridge, "_spark_metadata", "0")),
                    DRAIN_TIMEOUT_S, "the first bridge commit")
                q2 = (aggregate_bridge(spark, bridge).writeStream
                      .foreachBatch(sink)
                      .option("checkpointLocation", ck2).start())
            with tracer.span("drain"):
                _wait_for(lambda: sink.count() >= n_spans or q2.exception(),
                          DRAIN_TIMEOUT_S, "the flush to drain the state")
                if q2.exception():
                    raise RuntimeError(f"phase 2 failed: {q2.exception()}")
        finally:
            if q2 is not None:
                q2.stop()
            q1.stop()
    return sink, sink.last_emit - start, str(q1.id), str(q2.id)


def _state_totals(progress: dict, key: str) -> float:
    return sum(op.get(key, 0) or 0 for op in progress.get("stateOperators", []))


def _phase_metrics(prefix: str, events: list[dict]) -> dict:
    ms = [e["durationMs"].get("triggerExecution", 0) for e in events]
    rows = [_state_totals(e, "numRowsTotal") for e in events]
    mem = [_state_totals(e, "memoryUsedBytes") for e in events]
    return {
        f"{prefix}.batches": len(events),
        f"{prefix}.batch_ms_p50": median(ms),
        f"{prefix}.batch_ms_p95": percentile(ms, 95) if ms else 0,
        f"{prefix}.state_rows_peak": max(rows, default=0),
        f"{prefix}.state_mb_peak": max(mem, default=0) / 2**20,
        f"{prefix}.rows_dropped_by_watermark": sum(
            _state_totals(e, "numRowsDroppedByWatermark") for e in events),
    }


def _bridge_wait_ms(ck2: str, events: list[dict]) -> list[float]:
    """Bridge-file mtime -> start of the phase-2 batch that reads it, from
    the file-source log in the phase-2 checkpoint."""
    starts = {}
    for e in events:
        end = e["sources"][0].get("endOffset") if e.get("sources") else None
        if not e.get("numInputRows") or not end:
            continue
        off = json.loads(end) if isinstance(end, str) else end
        t = datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00"))
        starts[int(off["logOffset"])] = t.timestamp() * 1e3
    waits = []
    for path in glob.glob(os.path.join(ck2, "sources", "0", "*")):
        name = os.path.basename(path).split(".")[0]
        if not name.isdigit() or int(name) not in starts:
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                if line.startswith("{"):
                    waits.append(starts[int(name)] - json.loads(line)["timestamp"])
    return waits


def run(ctx, workload: str, seed: int, seconds: float, trace: bool,
        smoke: bool) -> dict:
    work = ctx.work_dir(workload)
    feed, warm = f"{work}/feed", f"{work}/warm"

    t0 = time.perf_counter()
    spark = ctx.start_session()
    enable_rocksdb_state(spark)
    offered = write_feed(feed, seed, FEED_S["smoke" if smoke else "full"])
    # warm-up: a short drain of another feed through the same queries
    warm_spans = write_feed(warm, seed + 1, FEED_S["smoke"])
    run_pass(spark, warm, len(warm_spans), Tracer(False))
    setup_s = time.perf_counter() - t0

    n = len(offered)
    oracle = Oracle(offered)
    walls, peaks, failed = [], [], 0
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_PASSES or time.perf_counter() < deadline:
        with PeakRss() as rss:
            sink, wall, _, _ = run_pass(spark, feed, n, Tracer(False))
        walls.append(wall)
        peaks.append(rss.peak_mb)
        failed += oracle.failed_in_rows(sink.rows)
    result = {
        "attempted": n * len(walls),
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
        listener = Progress()
        spark.streams.addListener(listener)
        counters = StageCounters(spark)
        stages_before = counters.stages()
        sink, wall, q1_id, q2_id = run_pass(spark, feed, n, tracer)
        job = counters.totals(counters.delta(stages_before, counters.stages()))
        spark.streams.removeListener(listener)
        result["failed"] += oracle.failed_in_rows(sink.rows)
        result["attempted"] += n
        p1, p2 = listener.of(q1_id), listener.of(q2_id)
        result["layers"] = {
            "gen.spans": n,
            "gen.files": len(os.listdir(f"{feed}/in")),
            **_phase_metrics("phase1", p1),
            "phase1.input_rows": sum(e.get("numInputRows", 0) for e in p1),
            # the parquet sink reports numOutputRows = -1: read the bridge
            "phase1.bridge_rows": spark.read.parquet(f"{feed}/bridge").count(),
            "phase1.state_rows_end": (_state_totals(p1[-1], "numRowsTotal")
                                      if p1 else 0),
            **_phase_metrics("phase2", p2),
            "phase2.add_batch_ms_p50": median(
                [e["durationMs"].get("addBatch", 0) for e in p2]),
            "phase2.state_commit_ms_p50": median(
                [_state_totals(e, "commitTimeMs") for e in p2]),
            "phase2.rows_out": len(sink.rows),
            "bridge.wait_ms_p50": median(_bridge_wait_ms(f"{feed}/ck2", p2)),
            "spark.task_s": job["task_s"],
            "spark.busy_cores": job["task_s"] / wall,
            "spark.gc_s": job["gc_s"],
            "spark.stages": job["stages"],
            "spark.shuffle_bytes": job["shuffle_bytes"],
            "trace.overhead_s": wall - median(walls),
        }
        result["spans_trace"] = tracer.spans
        result["progress"] = listener.events
    oracle.close()
    return result
