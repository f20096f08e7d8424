#!/usr/bin/env python3
"""Trace-link benchmark.

    python3 perfbench/run.py --workload {hotkey_burst,live_replay}
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the repository root.  Drives the trace-link dataflow of
``simpy__kafka__flink__kafka_spark`` from outside through its public
functions, checks every output against a DuckDB oracle, prints each metric
as ``name value unit`` and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; ``--trace 1`` adds a traced pass and
reports the per-layer ones, writing the spans and counters they come from
to ``.perfbench/trace-<workload>-<seed>.json``.  ``--smoke`` shrinks every
workload to a size the tests in this directory use.

``spans_per_s`` uses the median wall of the timed reps.  ``setup_s`` is one
cold start per run (a fresh process, so a fresh Spark JVM), plus writing
the input and the warm-up.

Scratch files (inputs, outputs, checkpoints, Spark local dirs, temporary
files) live under ``.perfbench/`` in the working directory."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "spans_per_s": "spans/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "parse.rows_in": "rows", "parse.rows_out": "rows",
    "parse.defaulted_rows": "rows", "parse.self_s": "s",
    "band_join.parent_band_rows": "rows", "band_join.cell_pairs": "pairs",
    "band_join.max_cell_pairs": "pairs", "band_join.edges": "edges",
    "band_join.useful_ratio": "ratio", "band_join.self_s": "s",
    "band_join.shuffle_bytes": "bytes", "band_join.task_skew": "ratio",
    "adjacency.update_rows": "rows", "adjacency.rows_out": "rows",
    "adjacency.self_s": "s", "adjacency.shuffle_bytes": "bytes",
    "serialize.rows": "rows", "serialize.bytes_out": "bytes",
    "serialize.self_s": "s",
    "spark.task_s": "s", "spark.busy_cores": "cores", "spark.gc_s": "s",
    "spark.stages": "count", "spark.shuffle_bytes": "bytes",
    "gen.spans": "spans", "gen.files": "files",
    "phase1.batches": "count", "phase1.batch_ms_p50": "ms",
    "phase1.batch_ms_p95": "ms", "phase1.input_rows": "rows",
    "phase1.bridge_rows": "rows", "phase1.state_rows_peak": "rows",
    "phase1.state_rows_end": "rows", "phase1.state_mb_peak": "MB",
    "phase1.rows_dropped_by_watermark": "rows",
    "phase2.batches": "count", "phase2.batch_ms_p50": "ms",
    "phase2.batch_ms_p95": "ms", "phase2.add_batch_ms_p50": "ms",
    "phase2.state_commit_ms_p50": "ms", "phase2.state_rows_peak": "rows",
    "phase2.state_mb_peak": "MB", "phase2.rows_out": "rows",
    "phase2.rows_dropped_by_watermark": "rows",
    "bridge.wait_ms_p50": "ms",
    "trace.overhead_s": "s",
}


def pin_environment() -> dict:
    """Settings the run depends on, fixed before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    # a quarter of the box, at most 2 GiB: the package default (16g) does
    # not fit a 15 GB machine shared with Python workers and DuckDB
    driver_mb = max(1024, min(2048, total_mb // 4))
    pp = os.environ.get("PYTHONPATH", "")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # Spark's Python workers import the package (applyInPandasWithState)
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        # keep temporary files (RocksDB's native library, py4j's connection
        # info) inside the working directory
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            # a fixed heap size: peak_rss_mb would otherwise move with the
            # heap-sizing choices the JVM makes differently run to run
            f"--driver-java-options '-Xms{driver_mb}m "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    os.environ.update(env)
    return env


class Context:
    """One driver process, and so one cold Spark JVM, per run."""

    def __init__(self, env: dict):
        self.env = env
        self.cpus = int(env["SPARK_GRAFT_CPUS"])
        self.spark = None

    def start_session(self):
        from simpy__kafka__flink__kafka_spark.session import get_spark

        self.spark = get_spark("perfbench")
        return self.spark

    def work_dir(self, workload: str) -> str:
        d = os.path.join(WORK, workload)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def close(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        from pyspark import SparkContext

        from common import _descendants

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 15
        while _descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["hotkey_burst", "live_replay"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "simpy__kafka__flink__kafka_spark")):
        print("perfbench: the simpy__kafka__flink__kafka_spark package is not "
              f"next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    env = pin_environment()
    sys.path[:0] = [ROOT, HERE]
    import batch
    import live

    ctx = Context(env)
    try:
        mod = live if args.workload == "live_replay" else batch
        res = mod.run(ctx, args.workload, args.seed, args.seconds,
                      bool(args.trace), args.smoke)
        master = ctx.spark.sparkContext.master
    finally:
        ctx.close()

    print("env " + json.dumps({"master": master, **{
        k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
                            "SPARK_LOCAL_DIRS", "PYTHONPATH")}}))
    failed_frac = res["failed"] / res["attempted"]
    print(f"workload {args.workload} seed {args.seed} spans {res['spans']} "
          f"edges {res['edges']}")
    print("rep_walls_s " + " ".join(f"{w:.3f}" for w in res["walls"]))
    for name, unit in END_TO_END.items():
        print(f"{name} {fmt(res[name])} {unit}")
    print(f"failed_frac {fmt(failed_frac)} ratio "
          f"({res['failed']} of {res['attempted']} spans)")
    if args.trace:
        layers = {k: res["layers"].get(k, 0) for k in PER_LAYER}
        for name, unit in PER_LAYER.items():
            print(f"{name} {fmt(layers[name])} {unit}")
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"layers": layers, "spans": res["spans_trace"],
                       "progress": res.get("progress", [])}, f, indent=1)
        print(f"trace written to {path}")
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
