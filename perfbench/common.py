"""Benchmark-side helpers shared by the workloads: input generation, the
DuckDB oracle, the span recorder, Spark status-store counters and the
process-tree memory sampler.

Nothing here reaches inside the package under test: the workloads call its
public functions and every measurement is taken around those calls.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time

from simpy__kafka__flink__kafka_spark.sources.generator import (
    generate_trace_spans, inject_send_delays)

SPAN_KEYS = ("id", "src_ip", "dst_ip", "start_at_ms", "latency_msec",
             "end_at_ms")
WATERMARK_MS = 30_000  # streaming.pipeline.WATERMARK


# --- inputs -----------------------------------------------------------------

def batch_spans(n_traces: int, seed: int, ip_pool_size: int,
                mean_interarrival_ms: float) -> list[tuple]:
    """Generated spans in send-delay (arrival) order, the Kafka value order."""
    spans = generate_trace_spans(n_traces, seed=seed, ip_pool_size=ip_pool_size,
                                 mean_interarrival_ms=mean_interarrival_ms)
    return inject_send_delays(spans, seed=seed)


def send_delays(n: int, seed: int) -> list[float]:
    """Per-span send delays (ms) drawn exactly as ``inject_send_delays`` draws
    them: chi-square(2) scaled to a 1 s mean, capped at 30 s.  The live feed
    needs the delays themselves to schedule releases, which that function
    consumes internally."""
    rng = random.Random(seed)
    return [min(30_000.0, rng.gammavariate(1.0, 2.0) * 1000.0 / 2.0)
            for _ in range(n)]


def span_json(sp: tuple) -> str:
    return json.dumps(dict(zip(SPAN_KEYS, sp)))


def write_json_lines(path: str, spans: list[tuple]) -> None:
    """Write spans as JSON lines under a hidden temporary name, then rename,
    so a file-source reader never lists a partial file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    with open(tmp, "w") as f:
        f.write("".join(span_json(sp) + "\n" for sp in spans))
    os.rename(tmp, path)


# --- oracle -----------------------------------------------------------------

# Same predicate as plans/trace.py _EDGES_SQL, including p.id <> c.id.
_ORACLE_SQL = """
CREATE OR REPLACE TABLE oracle AS
WITH edges AS (
  SELECT p.id AS parent_id, c.id AS child_id
  FROM spans p JOIN spans c
    ON p.dst_ip = c.src_ip
   AND p.start_at_ms <= c.start_at_ms
   AND p.end_at_ms >= c.end_at_ms
   AND p.id <> c.id
),
par AS (SELECT child_id AS id, list_sort(list(DISTINCT parent_id)) AS l
        FROM edges GROUP BY 1),
chi AS (SELECT parent_id AS id, list_sort(list(DISTINCT child_id)) AS l
        FROM edges GROUP BY 1)
SELECT s.id,
       COALESCE(array_to_string(par.l, ','), '') AS parents,
       COALESCE(array_to_string(chi.l, ','), '') AS children
FROM spans s LEFT JOIN par USING (id) LEFT JOIN chi USING (id)
"""

# A span fails when its output row is missing, duplicated, or its parents or
# children differ from the oracle's.
_FAILED_SQL = """
WITH got AS (
  SELECT id, count(*) AS n,
         any_value(coalesce(array_to_string(list_sort(parents), ','), ''))
           AS parents,
         any_value(coalesce(array_to_string(list_sort(children), ','), ''))
           AS children
  FROM {src} GROUP BY id
)
SELECT count(*) FROM oracle o LEFT JOIN got g USING (id)
WHERE g.id IS NULL OR g.n <> 1
   OR g.parents IS DISTINCT FROM o.parents
   OR g.children IS DISTINCT FROM o.children
"""


class Oracle:
    """DuckDB range-join oracle over the generated spans.  Holds a per-span
    digest (id, sorted parents, sorted children) and counts the spans an
    output gets wrong.  Runs outside every timed region."""

    def __init__(self, spans: list[tuple]):
        import duckdb
        import pandas as pd

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        frame = pd.DataFrame(spans, columns=list(SPAN_KEYS))
        self.con.register("spans_df", frame)
        self.con.execute("CREATE TABLE spans AS SELECT * FROM spans_df")
        self.con.unregister("spans_df")
        self.con.execute(_ORACLE_SQL)
        self.n = self.con.execute("SELECT count(*) FROM oracle").fetchone()[0]
        self.edges = self.con.execute(
            "SELECT coalesce(sum(len(string_split(children, ','))), 0) "
            "FROM oracle WHERE children <> ''").fetchone()[0]

    def failed_in_json_dir(self, out_dir: str) -> int:
        """Failed spans in a directory of linked JSON lines
        (``serialize_linked`` output written as text)."""
        src = (f"read_json('{out_dir}/part-*', format='newline_delimited', "
               "columns={id: 'VARCHAR', parents: 'VARCHAR[]', "
               "children: 'VARCHAR[]'})")
        return self.con.execute(_FAILED_SQL.format(src=src)).fetchone()[0]

    def failed_in_rows(self, rows: list[tuple]) -> int:
        """Failed spans among emitted (id, parents, children) rows."""
        import pandas as pd

        frame = pd.DataFrame(rows, columns=["id", "parents", "children"])
        self.con.register("emitted", frame)
        try:
            return self.con.execute(
                _FAILED_SQL.format(src="emitted")).fetchone()[0]
        finally:
            self.con.unregister("emitted")

    def close(self) -> None:
        self.con.close()


# --- statistics ---------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --- tracing ----------------------------------------------------------------

class Tracer:
    """Spans {name, start, end, parent} kept in memory and written out when
    the run ends.  Disabled tracers record nothing and cost one branch.

    ``span`` nests through a stack and is for the main thread only; a span
    finished on another thread (a foreachBatch callback) is recorded with
    ``add`` and an explicit parent."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def span(self, name: str):
        return _Span(self, name)

    def _append(self, span: dict) -> int:
        with self._lock:
            self.spans.append(span)
            return len(self.spans) - 1

    def add(self, name: str, start: float, end: float,
            parent: int | None) -> None:
        if self.enabled:
            self._append({"name": name, "start": start, "end": end,
                          "parent": parent})

    def self_s(self, name: str) -> float:
        """Sum over spans called ``name`` of duration minus the time covered
        by their direct children."""
        total = 0.0
        for i, sp in enumerate(self.spans):
            if sp["name"] != name:
                continue
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == i)
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in kids:
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            total += (sp["end"] - sp["start"]) - covered
        return total


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name, self.idx = tracer, name, None

    def __enter__(self):
        t = self.t
        if t.enabled:
            self.idx = t._append({
                "name": self.name, "start": time.perf_counter(), "end": None,
                "parent": t._stack[-1] if t._stack else None})
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.t.spans[self.idx]["end"] = time.perf_counter()
            self.t._stack.pop()
        return False


# --- Spark status store -------------------------------------------------------

class StageCounters:
    """Per-stage executor counters read from Spark's AppStatusStore, the
    same route bench.py uses for task time."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._gw = sc._gateway

    def _store(self):
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return self._sc._jsc.sc().statusStore()

    def stages(self) -> dict[tuple[int, int], dict]:
        gw = self._gw
        seq = self._store().stageList(
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
        out = {}
        for i in range(seq.size()):
            st = seq.apply(i)
            if str(st.status()) != "COMPLETE":
                continue
            out[(st.stageId(), st.attemptId())] = {
                "task_ms": st.executorRunTime(),
                "gc_ms": st.jvmGcTime(),
                "shuffle_write": st.shuffleWriteBytes(),
            }
        return out

    def task_durations_ms(self, key: tuple[int, int]) -> list[int]:
        tl = self._store().taskList(key[0], key[1], 100_000)
        out = []
        for j in range(tl.size()):
            d = tl.apply(j).duration()
            if d.isDefined():
                out.append(int(d.get()))
        return out

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        return {k: v for k, v in after.items() if k not in before}

    @staticmethod
    def totals(stages: dict) -> dict:
        return {
            "task_s": sum(s["task_ms"] for s in stages.values()) / 1e3,
            "gc_s": sum(s["gc_ms"] for s in stages.values()) / 1e3,
            "stages": len(stages),
            "shuffle_bytes": sum(s["shuffle_write"] for s in stages.values()),
        }


# --- memory -------------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """Resident memory of every process this benchmark started: the Spark
    driver JVM and the Python workers it forks.  Proportional set size, so
    pages the forked workers share with their daemon count once."""
    return sum(_pss_kb(p) for p in _descendants(os.getpid())) / 1024.0


class PeakRss:
    """Samples ``tree_rss_mb`` on a background thread while active."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return False
