"""Measurement helpers: everything here observes the engine from outside.

* :func:`materialize` is the one action every timed query goes through,
  and :func:`executed_with` checks that it ran the full plan.
* :func:`query_layers` reads Spark's own per-action reports after a
  query ran: the ``QueryPlanningTracker`` phases, the SQLMetrics of the
  final adaptive plan and the job/task counts of the action's job group.
* :class:`ProgressLog` collects ``StreamingQueryProgress`` events.
* :class:`RssSampler` tracks the resident memory of the driver JVM and
  its Python workers.
* :func:`digest` is the order-independent result hash the output checks
  compare.
"""

from __future__ import annotations

import json
import os
import re
import threading

import duckdb
import pyarrow as pa
from pyspark.sql.streaming import StreamingQueryListener

# SQLMetric name -> (layer metric, how partial values combine)
_PLAN_METRICS = {
    "sortTime": ("operators.sort_ms", "sum"),
    "shuffleBytesWritten": ("operators.shuffle_bytes", "sum"),
    "shuffleRecordsWritten": ("operators.shuffle_records", "sum"),
    "spillSize": ("operators.spill_bytes", "sum"),
    "peakMemory": ("operators.peak_memory_bytes", "max"),
    "scanTime": ("sources.scan_ms", "sum"),
    "filesSize": ("sources.bytes_read", "sum"),
    "numFiles": ("sources.files_read", "sum"),
    "pythonTotalTime": ("udfs.python_eval_ms", "sum"),
    "pythonDataSent": ("udfs.arrow_bytes", "sum"),
    "pythonDataReceived": ("udfs.arrow_bytes", "sum"),
    "numOutputRows": ("operators.output_rows", "sum"),
}
PLAN_LAYER_METRICS = sorted({m for m, _ in _PLAN_METRICS.values()})
_PHASES = {
    "analysis": "operators.analysis_ms",
    "optimization": "operators.optimization_ms",
    "planning": "operators.planning_ms",
}
_NODE_RE = re.compile(r"^[\s:|+-]*([A-Z][A-Za-z]+)", re.M)


def materialize(df):
    """Run ``df`` to completion, computing every output column of every row.

    The rows are counted on the JVM side of the DataFrame's own
    ``QueryExecution``: its optimized plan is fixed before the count, so
    no column can be pruned (unlike ``DataFrame.count()``, which
    re-optimizes to a row count), nothing crosses to Python, and the
    tracker and final plan of exactly this execution stay readable.
    Returns the ``QueryExecution``."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe


def executed_with(qe, node: str) -> bool:
    """True when ``qe`` has run (its physical plan recorded output rows)
    and its optimized plan holds the logical operator ``node``. A
    pruning action, such as ``DataFrame.count()``, runs a different plan
    and leaves this one unexecuted."""
    nodes = set(_NODE_RE.findall(qe.optimizedPlan().toString()))
    return node in nodes and plan_metrics(qe.executedPlan())["operators.output_rows"] > 0


def plan_metrics(plan) -> dict[str, float]:
    """Layer metrics summed over one physical plan, descending through
    adaptive wrappers, query stages and subqueries. Reused exchanges are
    not descended, so their work counts once."""
    out = {m: 0.0 for m in PLAN_LAYER_METRICS}
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            target = _PLAN_METRICS.get(kv._1())
            if target is None:
                continue
            metric = kv._2()
            value = float(metric.value())
            if metric.metricType() == "nsTiming":
                value /= 1e6
            name, how = target
            out[name] = max(out[name], value) if how == "max" else out[name] + value
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls != "ReusedExchangeExec":
            for seq in (node.children(), node.subqueries()):
                kids = seq.iterator()
                while kids.hasNext():
                    stack.append(kids.next())
    return out


def query_layers(spark, qe, group: str) -> dict[str, float]:
    """Per-layer numbers of one finished query execution."""
    out = {v: 0.0 for v in _PHASES.values()}
    phases = qe.tracker().phases().iterator()
    while phases.hasNext():
        kv = phases.next()
        if kv._1() in _PHASES:
            out[_PHASES[kv._1()]] = float(kv._2().durationMs())
    out.update(plan_metrics(qe.executedPlan()))
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    out["operators.jobs"] = float(len(jobs))
    out["operators.tasks"] = float(sum(
        tracker.getStageInfo(s).numTasks
        for j in jobs
        for s in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else [])
        if tracker.getStageInfo(s)
    ))
    return out


class ProgressLog(StreamingQueryListener):
    """Every ``StreamingQueryProgress`` of every query, as parsed JSON,
    including queries the engine starts internally."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        # delivered before ``start()`` returns
        with self._cv:
            self.started += 1

    def onQueryProgress(self, event):
        with self._cv:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_idle(self, timeout: float = 60.0) -> None:
        """Block until every started query has reported termination. The
        listener bus delivers a query's progress events before its
        termination, so afterwards all of their progress is here."""
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= self.started, timeout):
                raise TimeoutError(f"{self.terminated}/{self.started} streaming queries reported termination")


def streaming_layers(progress: list[dict]) -> list[dict[str, float]]:
    """Per-micro-batch layer numbers from progress reports; the state
    numbers only for micro-batches of stateful queries."""
    rows = []
    for p in progress:
        d = p.get("durationMs", {})
        row = {
            "streaming.trigger_ms": float(d.get("triggerExecution", 0)),
            "streaming.add_batch_ms": float(d.get("addBatch", 0)),
            "streaming.offset_commit_ms": float(d.get("commitOffsets", 0)),
        }
        ops = p.get("stateOperators", [])
        if ops:
            row["streaming.state_rows"] = float(sum(o.get("numRowsTotal", 0) for o in ops))
            row["streaming.state_bytes"] = float(sum(o.get("memoryUsedBytes", 0) for o in ops))
            row["streaming.state_commit_ms"] = float(sum(o.get("commitTimeMs", 0) for o in ops))
        rows.append(row)
    return rows


def dir_stats(root: str) -> tuple[int, int]:
    """(number of ``v=*`` version directories, total bytes) of a store."""
    versions = sum(1 for d in os.listdir(root) if d.startswith("v="))
    size = sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(root) for f in fs
    )
    return versions, size


class RssSampler:
    """Peak summed resident memory of this process's descendants (the
    driver JVM and the Python workers it forks), sampled every 0.5 s
    between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.5):
        self.peak_bytes = 0
        self._interval = interval
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join()

    def sample(self) -> int:
        parent = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        mine, frontier = set(), {os.getpid()}
        while frontier:
            frontier = {p for p, pp in parent.items() if pp in frontier} - mine
            mine |= frontier
        total = 0
        for pid in mine:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self._interval)


def _naive(table: pa.Table) -> pa.Table:
    """Time-zone-aware timestamps become naive UTC, as the oracle's are."""
    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            table = table.set_column(
                i, field.name, table.column(i).cast(pa.timestamp(field.type.unit))
            )
    return table


def digest(con: duckdb.DuckDBPyConnection, relation: str) -> tuple[int, list[str], int]:
    """(rows, sorted column names, order-independent hash) of a DuckDB
    relation: every row is rendered as text with its columns in name
    order (NULL as a marker no value renders to), hashed, and the hashes
    are summed, so equal multisets of rows give equal digests."""
    cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall())
    cells = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(0) || 'NULL')" for c in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash(concat_ws(chr(31), {cells}))::HUGEINT), 0) "
        f"FROM {relation}"
    ).fetchone()
    return n, cols, int(h)


def same_result(con: duckdb.DuckDBPyConnection, got: pa.Table, want: str | pa.Table) -> bool:
    """True when the Arrow result ``got`` equals ``want`` (SQL over the
    connection's views, or another Arrow table) as a multiset of rows
    with the same column names."""
    con.register("_got", _naive(got))
    if isinstance(want, pa.Table):
        con.register("_want", _naive(want))
        want_rel = "_want"
    else:
        want_rel = f"({want})"
    try:
        return digest(con, "_got") == digest(con, want_rel)
    finally:
        con.unregister("_got")
        if isinstance(want, pa.Table):
            con.unregister("_want")


class Spans:
    """In-memory spans (name, op id, parent, start, end in ms since the
    benchmark started), written out once at the end."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.rows: list[dict] = []

    def add(self, name: str, op: str, parent: str | None, start: float, end: float) -> None:
        self.rows.append({
            "name": name, "op": op, "parent": parent,
            "start_ms": round((start - self.t0) * 1e3, 3),
            "end_ms": round((end - self.t0) * 1e3, 3),
        })

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")
