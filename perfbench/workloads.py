"""The benchmark's workloads.

Each workload stages its inputs from the seed (untimed set-up), runs an
untimed warm-up, then timed passes, then an untimed output check.
A pass returns its operations; an operation is one fully materialized
query or one streaming micro-batch, and may carry per-layer numbers when
the pass is traced.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entry
import datagen
import probes
from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.operators import (
    rows_between_breaches,
    running_max,
)
from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.streaming import (
    rows_between_breaches_stream,
    running_max_stream,
    streaming_incremental_rollup,
)


@dataclass
class Op:
    name: str
    ms: float
    ok: bool = True
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Pass:
    seconds: float
    rows: int
    ops: list[Op]
    reads_ms: list[float] = field(default_factory=list)
    read_errors: int = 0
    layers: dict[str, float] = field(default_factory=dict)


class W1W4Batch:
    """The reference's four keyed-state jobs as batch window queries over
    ``lineitem``, each fully materialized.

    Every query's optimized plan must keep its ``Window`` node: a plan
    without it would mean the timed work was pruned away, and the run
    fails."""

    sf = 0.1
    QUERIES = (
        "w1_running_max_price",
        "w2_count_window_avg",
        "w3_rows_between_breaches",
        "w4_running_max_month",
    )

    def __init__(self, work: str, seed: int, spans: probes.Spans | None):
        self.data = os.path.join(work, "data")
        self.seed = seed
        self.spans = spans
        self.verify_s = 0.0
        self.checks = 2 * len(self.QUERIES)  # oracle and plan shape per query
        self.fns = {name: entry.queries()[name] for name in self.QUERIES}
        self.oracles = {name: entry.oracle_sql()[name] for name in self.QUERIES}

    def stage(self) -> None:
        rows = datagen.lineitem(self.data, self.seed, self.sf)
        # input rows per pass: every query reads all of lineitem
        self.rows_per_pass = rows * len(self.QUERIES)

    def _run(self, spark, name: str, traced: bool, op_id: str) -> Op:
        t0 = time.perf_counter()
        try:
            return self._timed(spark, name, traced, op_id)
        except Exception:
            traceback.print_exc()
            return Op(name, (time.perf_counter() - t0) * 1e3, ok=False)

    def _timed(self, spark, name: str, traced: bool, op_id: str) -> Op:
        fn = self.fns[name]
        if not traced:
            t0 = time.perf_counter()
            probes.materialize(fn(spark, self.data))
            return Op(name, (time.perf_counter() - t0) * 1e3)
        sc = spark.sparkContext
        sc.setJobGroup(op_id, name)
        t0 = time.perf_counter()
        df = fn(spark, self.data)
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.perf_counter()
        qe.toRdd().count()
        t3 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        for span, a, b in (("entry.build", t0, t1), ("operators.plan", t1, t2), ("operators.exec", t2, t3)):
            self.spans.add(span, op_id, "op", a, b)
        self.spans.add("op", op_id, None, t0, t3)
        layers = probes.query_layers(spark, qe, op_id)
        layers["entry.build_ms"] = (t1 - t0) * 1e3
        layers["operators.exec_ms"] = (t3 - t2) * 1e3
        return Op(name, (t3 - t0) * 1e3, layers=layers)

    def warmup(self, spark) -> list[str]:
        """Two untimed passes in registry order; returns the failures.

        The first fetches each result whole and compares it with its
        DuckDB oracle: this is the batch output check. In the second, each
        query's timed action must have executed a plan that still holds
        its ``Window`` node."""
        con = duckdb.connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{self.data}/lineitem.parquet')")
        bad = []
        for name in self.QUERIES:
            got = self.fns[name](spark, self.data).toArrow()
            t0 = time.perf_counter()
            if not probes.same_result(con, got, self.oracles[name]):
                bad.append(f"{name}: result differs from its oracle")
            self.verify_s += time.perf_counter() - t0
        con.close()
        for name in self.QUERIES:
            if not probes.executed_with(probes.materialize(self.fns[name](spark, self.data)), "Window"):
                bad.append(f"{name}: the timed action did not run a plan with its Window node")
        return bad

    def run_pass(self, spark, index: int, traced: bool) -> Pass:
        spark.sparkContext._jvm.System.gc()
        names = list(self.QUERIES)
        np.random.default_rng([self.seed, index]).shuffle(names)
        t0 = time.perf_counter()
        ops = [self._run(spark, n, traced, f"p{index}.{i}.{n}") for i, n in enumerate(names)]
        return Pass(time.perf_counter() - t0, self.rows_per_pass, ops)

    def check(self, spark) -> list[str]:
        return []


_LI_ORDER = ["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"]
_BREACH = 95000.0
_DEC = "decimal(18,2)"


def _q1_partials() -> dict:
    """The additive core of q1, as the engine's maintained q1 store keeps it."""
    price = F.col("l_extendedprice").cast(_DEC)
    disc_f = (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    tax_f = (F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")
    return {
        "sum_qty_dec": F.sum(F.col("l_quantity").cast(_DEC)),
        "sum_base_dec": F.sum(price),
        "sum_disc_dec": F.sum(price * disc_f),
        "sum_charge_dec": F.sum(price * disc_f * tax_f),
        "count_order": F.count(F.lit(1)),
    }


class StreamIngest:
    """Ordered tick ingest through the W1 and W3 streaming ports and the
    maintained q1 store, with served q1 reads after each drain.

    Set-up generates ``WINDOWS`` × ``WINDOW_ROWS`` rows of ``lineitem``,
    sorts them by the W1–W4 ordering and cuts them into ``WINDOWS``
    windows of contiguous rows; each window is cut again at seeded
    boundaries into ``STEPS`` parquet chunks. A pass takes the next window
    and drains it through each leg with ``maxFilesPerTrigger=1``, so every
    chunk is one micro-batch."""

    WINDOWS = 6
    # the row count barely moves a micro-batch's cost (README.md), so
    # windows stay small and set-up generates only the rows it streams
    WINDOW_ROWS = 20_000
    sf = WINDOWS * WINDOW_ROWS / 6_000_000
    # two micro-batches per leg keep a pass near 6 s, so a run's median
    # pass is taken over four passes, not three
    STEPS = 2
    READS = 3

    def __init__(self, work: str, seed: int, spans: probes.Spans | None):
        self.work = work
        self.seed = seed
        self.spans = spans
        self.verify_s = 0.0
        self.checks = 4  # W1, W3, served q1 and its version
        self.log = probes.ProgressLog()
        self.last = None

    def stage(self) -> None:
        gen = os.path.join(self.work, "gen")
        datagen.lineitem(gen, self.seed, self.sf)
        table = pq.read_table(os.path.join(gen, "lineitem.parquet")).sort_by(
            [(c, "ascending") for c in _LI_ORDER]
        )
        rng = np.random.default_rng([self.seed, 99])
        edges = np.linspace(0, len(table), self.WINDOWS + 1).astype(int)
        self.windows = []
        for w in range(self.WINDOWS):
            lo, hi = edges[w], edges[w + 1]
            cuts = np.sort(rng.choice(np.arange(lo + 1, hi), self.STEPS - 1, replace=False))
            bounds = [lo, *cuts, hi]
            # a directory named like a table, so the batch queries read it too
            d = os.path.join(self.work, f"win{w:02d}")
            src = os.path.join(d, "lineitem.parquet")
            os.makedirs(src)
            for i in range(self.STEPS):
                path = os.path.join(src, f"chunk{i}.parquet")
                pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
                # the file source orders files by modification time
                os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
            self.windows.append((d, hi - lo))
        shutil.rmtree(gen)

    def _drain(self, spark, index: int, traced: bool) -> Pass:
        d, rows = self.windows[index % self.WINDOWS]
        src = os.path.join(d, "lineitem.parquet")
        ck = os.path.join(self.work, f"ck{index}")
        store = os.path.join(self.work, f"store{index}")

        def stream():
            return spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(src)

        spark.sparkContext._jvm.System.gc()
        seen = len(self.log.progress)
        ops, layers = [], {}
        t0 = time.perf_counter()
        try:
            legs = {
                f"w1_p{index}": running_max_stream(
                    stream().withColumn("yr", F.year("l_shipdate")), ["yr"], _LI_ORDER, "l_extendedprice"
                ),
                f"w3_p{index}": rows_between_breaches_stream(
                    stream(), ["l_returnflag"], _LI_ORDER, "l_extendedprice", _BREACH, "l_orderkey"
                ),
            }
            # one leg after the other: concurrent legs contend for the
            # cores and made pass times bimodal from run to run
            for name, df in legs.items():
                q = (
                    df.writeStream.format("memory").queryName(name)
                    .option("checkpointLocation", os.path.join(ck, name))
                    .trigger(availableNow=True).start()
                )
                q.awaitTermination()
                if traced:
                    last = probes.plan_metrics(q._jsq.streamingQuery().lastExecution().executedPlan())
                    for k, v in last.items():
                        layers[k] = layers.get(k, 0.0) + v
            streaming_incremental_rollup(stream(), store, ["l_returnflag", "l_linestatus"], _q1_partials())
        except Exception:
            traceback.print_exc()
            ops.append(Op(f"drain p{index}", (time.perf_counter() - t0) * 1e3, ok=False))
            for q in spark.streams.active:
                q.stop()
        t1 = time.perf_counter()
        if traced:
            self.spans.add("streaming.drain", f"p{index}", None, t0, t1)
        reads, read_errors = [], 0
        for i in range(self.READS):
            a = time.perf_counter()
            try:
                entry._serve_q1_from_store(spark, store).toArrow()
            except Exception:
                traceback.print_exc()
                read_errors += 1
                continue
            b = time.perf_counter()
            reads.append((b - a) * 1e3)
            if traced:
                self.spans.add("streaming.read", f"p{index}.r{i}", None, a, b)
        seconds = time.perf_counter() - t0
        if traced and os.path.isdir(store):
            layers["streaming.store_versions"], layers["streaming.store_bytes"] = probes.dir_stats(store)
        self.log.wait_idle()
        progress = self.log.progress[seen:]
        for p, bl in zip(progress, probes.streaming_layers(progress)):
            ops.append(Op(p.get("name") or "rollup", float(p["batchDuration"]), layers=bl if traced else {}))
        if len(progress) != 3 * self.STEPS:
            ops.append(Op(f"drain p{index}: {len(progress)} micro-batches", 0.0, ok=False))
        shutil.rmtree(ck, ignore_errors=True)
        if self.last is not None:
            self._drop(spark, *self.last)
        self.last = (index, store)
        return Pass(seconds, rows, ops, reads, read_errors, layers)

    def _drop(self, spark, index: int, store: str) -> None:
        for leg in ("w1", "w3"):
            spark.catalog.dropTempView(f"{leg}_p{index}")
        shutil.rmtree(store, ignore_errors=True)

    def warmup(self, spark) -> list[str]:
        """Registers the progress listener and drains window 0, untimed."""
        spark.streams.addListener(self.log)
        self.schema = spark.read.parquet(os.path.join(self.windows[0][0], "lineitem.parquet")).schema
        warm = self._drain(spark, 0, False)
        return [f"warm-up {op.name} failed" for op in warm.ops if not op.ok]

    def run_pass(self, spark, index: int, traced: bool) -> Pass:
        return self._drain(spark, index + 1, traced)

    def check(self, spark) -> list[str]:
        """The last drain's W1/W3 output against the batch operators over
        the same rows, and its served q1 against batch q1."""
        index, store = self.last
        d = self.windows[index % self.WINDOWS][0]
        li = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
        want_w1 = running_max(
            li.withColumn("yr", F.year("l_shipdate")), ["yr"], _LI_ORDER, "l_extendedprice", "running_max"
        ).select("yr", "l_extendedprice", "running_max")
        want_w3 = rows_between_breaches(
            li, ["l_returnflag"], _LI_ORDER, breach=F.col("l_extendedprice") >= _BREACH,
            emit_cols=["l_returnflag", "l_orderkey"], out_col="rows_since_prev_breach",
        )
        served = entry._serve_q1_from_store(spark, store)
        pairs = {
            "w1 stream": (spark.table(f"w1_p{index}"), want_w1),
            "w3 stream": (spark.table(f"w3_p{index}"), want_w3),
            "served q1": (served.drop("as_of_version"), entry.queries()["q1_pricing_summary"](spark, d)),
        }
        con = duckdb.connect()
        bad = [
            f"{name}: differs from the batch result"
            for name, (got, want) in pairs.items()
            if not probes.same_result(con, got.toArrow(), want.toArrow())
        ]
        if served.select("as_of_version").distinct().collect()[0][0] != self.STEPS - 1:
            bad.append("served q1: not as of the last micro-batch")
        con.close()
        self._drop(spark, index, store)
        return bad


WORKLOADS = {
    "w1w4_batch": W1W4Batch,
    "stream_ingest": StreamIngest,
}
