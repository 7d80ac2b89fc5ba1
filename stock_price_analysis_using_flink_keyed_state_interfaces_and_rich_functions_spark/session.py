"""SparkSession factory.

The reference acquires its runtime via
``StreamExecutionEnvironment.getExecutionEnvironment()`` with zero tuning
(MaximumClosingPrice.java:23-24). We centralize session construction so
every entry point gets the same scale-conscious defaults:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  selection) — load-bearing at the 100 TB design point.
- ``spark.sql.shuffle.partitions`` sized to cores for local runs; on a real
  cluster this would be ~2-3× total executor cores (AQE coalesces down).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled for the Pandas-UDF slow path.
- Python workers start from the engine's own daemon module
  (``pyworker/spark_graft_pydaemon.py``). PySpark's worker calls
  ``importlib.invalidate_caches()`` at the start of every task, and before
  CPython 3.13 every ``zipimporter`` then re-reads the whole central
  directory of ``pyspark.zip`` (1,328 entries, 16 or more importers):
  150-280 ms per bare task and 170-430 ms per task of the W1/W3 stream
  legs, measured on a 4-core VM with CPython 3.11. The daemon re-reads
  an archive only when its ``os.stat`` changed, so every Python UDF task
  (streaming folds, pandas/Arrow UDFs, ``mapInPandas``) skips that cost.
  Only the daemon's directory joins ``spark.executorEnv.PYTHONPATH``
  (after the caller's value), never the package. Like the
  ``spark.driver.memory`` default this applies to local masters only, and
  a caller-set ``spark.python.daemon.module`` wins.
- Streaming checkpoints go through Spark's
  ``FileSystemBasedCheckpointFileManager``
  (``spark.sql.streaming.checkpointFileManagerClass``). Without the
  native ``libhadoop`` Hadoop's local filesystem forks a shell command
  for file metadata. Spark's default FileContext manager writes each
  checkpoint file (offset, commit and file-source log entries, every
  state-store delta) as create-temp then rename, and
  ``AbstractFileSystem.renameInternal`` forks ``readlink`` four times
  for the file and its ``.crc``. A fork costs 2.9-4.7 ms on a 4-core VM
  (``Shell.execCommand`` through py4j), and these forks were the largest
  part of a micro-batch's fixed cost. ``FileSystem.rename`` forks
  nothing. On ``file:`` the FileContext manager's "fail if the
  destination exists" is already a check followed by a rename, as here,
  and ``.crc`` files are still written. One behaviour differs: ``overwriteIfPossible=True`` onto an existing file keeps that
  file, because with the Hive jars of the PySpark distribution ``file:``
  resolves to Hive's ``ProxyLocalFileSystem``, whose ``rename`` refuses
  an existing destination as the ``FileSystem`` contract says. Spark's
  contract makes that overwrite best effort, and its only callers are
  the state stores' delta, snapshot, changelog and checkpoint-archive
  writers, which rewrite a version only when a batch re-runs from the
  same logged offsets. Spark uses this manager itself on every
  filesystem without FileContext support. Local masters only; a
  caller-set value wins.
- ``spark.sql.legacy.parquet.nanosAsLong`` is set when the session is
  built, so ``sources.io.read_events`` can read TIMESTAMP(NANOS) parquet
  without writing session conf on every read.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_parallelism", "stream_drain_session"]

# The Python worker daemon of local sessions and the directory that holds
# only it (see the module docstring).
PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pyworker")
PYWORKER_DAEMON = "spark_graft_pydaemon"
# Spark's FileSystem-based checkpoint file manager (see the module docstring).
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a cluster deployment ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    resolved_master = master or f"local[{cpus}]"
    local = resolved_master.startswith("local")
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Runtime Bloom-filter join pruning: for a selective build side,
        # inject a bloom filter into the probe-side scan so most
        # non-matching fact rows die before the shuffle — at 100 TB this
        # is often the single biggest shuffle reducer on star joins.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.ui.enabled": "false",
        # documents/embeddings rows are wide (text, 64-float vectors);
        # keep split sizes default but cap in-memory batches sanely.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    if local:
        # local mode = ONE JVM for driver + all executor threads; Spark's
        # 1g default heap OOMs 32 concurrent hash aggregates long before
        # the box runs out. Cluster deployments size the driver via
        # spark-submit, so the default is gated to local masters only.
        conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    conf.update(extra_conf or {})
    # Scale-dependent settings stay PARAMETERIZED (optimization-round
    # rule: no constants tuned for local[32]): $SPARK_GRAFT_CONF is a
    # ';'-separated k=v list applied LAST — after the defaults above and
    # after any explicit extra_conf — so a cluster deployment (or an A/B
    # experiment) can override any default without code edits, e.g.
    # SPARK_GRAFT_CONF="spark.sql.adaptive.advisoryPartitionSizeInBytes=256m".
    # Values may not contain ';' (the pair separator); pairs without '='
    # are ignored.
    for pair in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            conf[k.strip()] = v.strip()
    if local:
        conf.setdefault("spark.sql.streaming.checkpointFileManagerClass", FS_CHECKPOINT_MANAGER)
        if "spark.python.daemon.module" not in conf:
            conf["spark.python.daemon.module"] = PYWORKER_DAEMON
            conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
                filter(None, [conf.get("spark.executorEnv.PYTHONPATH"), PYWORKER_DIR])
            )
    builder = SparkSession.builder.appName(app_name).master(resolved_master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stream_drain_session(spark: SparkSession) -> SparkSession:
    """Child session (shared SparkContext/executors, ISOLATED SQLConf)
    for the maintained-store micro-batch drains — the deployment knob
    that lets a cluster scope drain-side shuffle width (and therefore
    stateful-aggregation state-store partition count) WITHOUT touching
    batch-query parallelism: set
    SPARK_GRAFT_CONF="spark.graft.stream.shufflePartitions=N" and only
    the streams started on this child run at N; the parent session's
    conf — and every batch read of the drained stores — is untouched.

    The cluster-side rationale for scoping: state-store partition
    count is fixed at a streaming query's first run and each partition
    pays open/commit overhead per micro-batch, so for |keys|-sized
    stores (q1 rollup: 6 groups; lateness census: |distinct lateness
    seconds|; tumbling counts: |windows|) a 200-or-cluster-width
    default is mostly metadata churn — on a real cluster N should
    track a state-size audit, not width.

    Default: INHERIT the parent's shuffle conf. Measured on
    local[32]/sf0.1 (optimization round 14): forcing N=8 made every
    drain ~2x SLOWER (warehouse rebuild 11.6-12.3s -> 21.0-25.7s,
    interleaved A/B) — at this scale the per-batch work (Arrow cell
    assignment, window kernels over 30-200k batch rows) genuinely
    uses the cores, and narrowing the reduce side serializes compute,
    the same failure mode as round 13's rejected
    coalescePartitions.parallelismFirst experiment. So the local
    default changes NOTHING; the knob exists for deployments whose
    state-size audit says otherwise.

    Store contents are partition-count-invariant (additive group sums,
    keyed upserts, watermark windowing) — pinned by the streaming
    replay/equivalence tests and the batch oracles.

    A value that is not a positive integer raises ``ValueError``.
    """
    key = "spark.graft.stream.shufflePartitions"
    n = spark.conf.get(key, None)
    if n is not None and not (n.isdecimal() and int(n) > 0):
        raise ValueError(f"{key} must be a positive integer, got {n!r}")
    child = spark.newSession()
    if n is not None:
        child.conf.set("spark.sql.shuffle.partitions", n)
    return child
