"""Sources and sinks.

Replaces the reference's single source/sink pair:
- S1 text-file source ``readTextFile(...)`` + P1 header content-filter
  (MaximumClosingPrice.java:28-30 and clones) → a schema'd CSV reader with
  ``header=True``; ragged trailing empties parse to NULL natively.
- S2 print sink ``.print()`` (MaximumClosingPrice.java:42) → show/collect/
  parquet write; streaming console/memory sinks live in ``streaming/``.

Every reader takes an explicit schema — no inference in the hot path, so
scans stay prunable and streaming sources are declarable.

Scale note: at 100 TB the sources are partitioned parquet/orc directories;
``read_table`` reads a directory or single file identically. CSV is kept
for reference parity only — columnar formats are the real input path.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Sequence
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import QUOTES_SCHEMA, EVENTS_SCHEMA, TABLE_SCHEMAS

__all__ = [
    "read_quotes_csv",
    "read_text_lines",
    "parse_quotes_lines",
    "read_table",
    "read_tables",
    "read_json",
    "read_orc",
    "read_quotes_stream",
    "read_events_stream",
    "read_rate_stream",
    "write_parquet",
    "write_orc",
    "write_bucketed_table",
    "compact_parquet_dir",
    "write_range_clustered",
    "zorder_key",
    "write_stream_console",
    "write_stream_memory",
    "write_stream_parquet",
]

#: All driver-generated synthetic tables (TESTDATA.md).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_quotes_csv(spark: SparkSession, path: str, with_row_id: bool = True) -> DataFrame:
    """Read an OHLCV quotes CSV in the reference's HDFC.csv shape.

    The reference drops the header with a substring filter and parses
    positionally (MaximumClosingPrice.java:29-39); here the reader owns
    both concerns. ``row_id`` gives a stable per-file arrival-order
    tiebreak so the W1–W4 replays are deterministic (SURVEY.md §3
    ordering caveat) — HDFC.csv is date-sorted, so (date, row_id) order
    equals file order.

    CONTRACT: ``with_row_id`` file-order semantics hold only for a
    SINGLE input file smaller than ``spark.sql.files.maxPartitionBytes``
    (one split → one partition → monotonic ids in file order). For
    multi-file globs or files large enough to split, ids remain unique
    but only per-split-ordered; callers needing global order over large
    inputs must carry an explicit order column in the data instead.
    """
    df = (
        spark.read.schema(QUOTES_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")  # ragged trailing fields → NULL
        .csv(path)
    )
    if with_row_id:
        # monotonically_increasing_id is increasing within a partition;
        # a single CSV file read is one split here, giving file order.
        df = df.withColumn("row_id", F.monotonically_increasing_id())
    return df


def read_text_lines(spark: SparkSession, path: str, with_row_id: bool = True) -> DataFrame:
    """The reference's literal source: one row per raw text line
    (``readTextFile``, MaximumClosingPrice.java:27-30), column ``value``.
    Same single-file ``row_id`` contract as :func:`read_quotes_csv`."""
    df = spark.read.text(path)
    if with_row_id:
        df = df.withColumn("row_id", F.monotonically_increasing_id())
    return df


def parse_quotes_lines(lines: DataFrame) -> DataFrame:
    """The reference's parse stage, declaratively: drop the header by
    content filter (``!line.contains("Date")`` —
    MaximumClosingPrice.java:31-33), split on commas, cast positionally
    (:35-39). Composed with :func:`read_text_lines` this IS the
    reference's dataflow; :func:`read_quotes_csv` is the idiomatic
    schema'd reader that replaces it. Both are pinned equal on the
    reference CSV in pytest. Malformed/empty fields become NULL via
    ``try_cast`` -- the PERMISSIVE-CSV behavior, without tripping ANSI
    mode's cast errors; the column order follows QUOTES_SCHEMA."""
    parts = F.split(F.col("value"), ",")
    casts = []
    for i, field in enumerate(QUOTES_SCHEMA.fields):
        c = parts.getItem(i)
        if field.dataType.typeName() == "string":
            out = F.when(c == "", None).otherwise(c).cast(field.dataType)
        else:
            out = c.try_cast(field.dataType)
        casts.append(out.alias(field.name))
    keep = [c for c in lines.columns if c != "value"]
    return lines.filter(~F.col("value").contains("Date")).select(*casts, *keep)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


# Session-scoped parquet SCHEMA cache (optimization round 14, VERDICT
# r13 item #6). Schema inference on every `spark.read.parquet(path)`
# fires a footer-reading driver job (~60 ms plan-time + ~250 ms by
# first action on this box); an engine invoking hundreds of queries per
# session re-pays it for the same immutable table each time. Caching
# the INFERRED schema per (session, path) and re-reading with
# `.schema(...)` skips that job while every byte of DATA still comes
# from the parquet files on every query.
#
# This is deliberately METADATA-only and does NOT conflict with the
# no-result-caching rule: no rows, no aggregates, no query outputs are
# retained — only the StructType the footer declares, exactly what a
# real deployment gets from its catalog (Hive metastore/Iceberg
# manifest) instead of re-inferring per query. First use still infers
# from the actual footer (ground truth — declared TABLE_SCHEMAS are
# NOT trusted blindly, so schema drift in the files is still caught
# once per session). Keyed weakly by the session, so a session nobody
# references any more takes its entries with it, then by absolute path,
# so every spelling of one local table shares one entry (the read uses
# that absolute path too; URIs are kept as given). Tables are immutable
# for a session's lifetime — mutate-in-place workflows must not use
# this path.
_SCHEMA_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    if not urlsplit(path).scheme:
        path = os.path.abspath(path)
    schemas = _SCHEMA_CACHE.setdefault(spark, {})
    schema = schemas.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        schemas[path] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic parquet table from a scale-factor directory.

    ``events.parquet`` is written with TIMESTAMP(NANOS) — a physical type
    Spark's vectorized parquet reader rejects outright. We read it via the
    ``nanosAsLong`` escape hatch and truncate to microseconds with integer
    division (``div``, not ``/`` — epoch-nanos exceed 2^53, so a double
    round-trip would corrupt low digits). Truncation matches what DuckDB's
    reader does, so both engines see identical microsecond timestamps.
    """
    if name == "events":
        return read_events(spark, os.path.join(sf_dir, "events.parquet"))
    return _parquet_cached_schema(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_events(spark: SparkSession, path: str) -> DataFrame:
    # spark.sql.legacy.parquet.nanosAsLong must hold at scan EXECUTION, so
    # a set-restore around the lazy read would be a race. Engine sessions
    # set it when they are built (session.get_spark); any other session
    # gets it here, once. Either way later third-party TIMESTAMP(NANOS)
    # parquet reads surface raw longs instead of erroring — route them
    # through read_events too.
    if spark.conf.get(_NANOS_AS_LONG, "false") != "true":
        spark.conf.set(_NANOS_AS_LONG, "true")
    df = _parquet_cached_schema(spark, path)
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def read_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in names}


def read_quotes_stream(spark: SparkSession, directory: str) -> DataFrame:
    """File-source streaming read of quotes CSVs (schema required up front)."""
    return (
        spark.readStream.schema(QUOTES_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(directory)
    )


def read_events_stream(spark: SparkSession, directory: str) -> DataFrame:
    """File-source streaming read of events parquet."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(directory)


def read_json(spark: SparkSession, path: str, schema: str | None = None, multiline: bool = False) -> DataFrame:
    """Read newline-delimited (or ``multiline``) JSON with an explicit
    schema when given — schema inference is a full extra pass over the
    data, unacceptable at scale, so production callers always pass one.
    """
    reader = spark.read.option("multiLine", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_rate_stream(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """Synthetic load-generator stream (``(timestamp, value)`` rows) —
    the dev/test stand-in for a message-bus source."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def write_stream_console(df: DataFrame, output_mode: str = "append", truncate: bool = False):
    """Streaming console sink — the reference's ``print()``
    (MaximumClosingPrice.java:42) in its streaming form. Returns the
    started StreamingQuery (caller owns awaitTermination/stop)."""
    return (
        df.writeStream.format("console")
        .option("truncate", truncate)
        .outputMode(output_mode)
        .start()
    )


def write_stream_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Streaming memory sink (queryable as ``spark.table(name)``) —
    bounded test/debug sink, not for production volumes."""
    return df.writeStream.format("memory").queryName(name).outputMode(output_mode).start()


def write_stream_parquet(df: DataFrame, path: str, checkpoint_dir: str, output_mode: str = "append"):
    """Durable streaming parquet sink with exactly-once file commits via
    the checkpoint log — the production path for streaming ETL output."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .start()
    )


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC reader — same columnar posture as parquet (predicate pushdown,
    column pruning, vectorized read). Pass a schema to skip footer
    inference on wide directories."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact_parquet_dir(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_rows_per_file: int,
    partition_by: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory so each
    output file holds ~``target_rows_per_file`` rows — the maintenance
    job every streaming/micro-batch sink eventually needs (a 100 TB
    table built from 1-minute micro-batches is millions of KB-sized
    files; open/list/footer overhead then dominates every scan).

    Mechanics: one count() sizes the job, ``repartition(ceil(n/target))``
    redistributes round-robin (even file sizes regardless of input
    skew), and ``maxRecordsPerFile`` caps stragglers so a future append
    can't silently produce jumbo files. Returns the partition count
    written. Compaction is pure I/O — rows are bit-identical, which is
    what the roundtrip test pins.
    """
    if target_rows_per_file <= 0:
        raise ValueError(f"target_rows_per_file must be positive, got {target_rows_per_file}")
    df = spark.read.parquet(in_path)
    n = df.count()
    n_files = max(1, -(-n // target_rows_per_file))
    w = (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(out_path)
    return n_files


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered layout: ``repartitionByRange`` +
    ``sortWithinPartitions`` on the cluster columns before writing, so
    each parquet file covers a DISJOINT value range and every row group
    is sorted. Parquet min/max statistics then let any later filtered
    scan skip whole files/row-groups — the poor-engine's Z-order, and at
    100 TB the cheapest data-skipping there is for range-predicate-heavy
    columns (dates, prices). The disjointness is verifiable from the
    written footers, which is exactly what the test does.
    """
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sort-bucketed) managed table —
    the storage-level answer to repeated large joins/aggregations on the
    same key: two tables bucketed identically on the join key equi-join
    with NO exchange at read time (Catalyst sees the bucketing output
    partitioning), and bucket-pruning serves point lookups. At 100 TB
    this converts every recurring fact⋈fact join from a full shuffle
    into a local zip of pre-sorted buckets.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def zorder_key(cols: Sequence[str], bits: int = 16):
    """Z-order (Morton) clustering key: interleaves the low ``bits``
    bits of each column into one BIGINT, so sorting by the key
    co-clusters ALL the columns at once — feed it to
    :func:`write_range_clustered` and parquet min/max stats prune
    multi-dimensional predicates (the real Z-order table layout;
    range-clustering on one column only skips on that column).

    Values are clamped to [0, 2^bits) first (Z-order is a locality
    heuristic — clamping the tail keeps the key total-ordered and
    cheap; pre-bucket wider domains, e.g. ``days since epoch`` or
    ``custkey div 16``). Pure integer bit arithmetic (shift/and/or), so
    the key is engine-exact and the DuckDB oracle replays it; the whole
    expression stays in whole-stage codegen — zero shuffle to derive,
    one range exchange to lay out.

    bits × len(cols) must fit a signed 64-bit key (≤ 62).
    """
    n = len(cols)
    if n < 1:
        raise ValueError("cols must be non-empty")
    if bits * n > 62:
        raise ValueError(f"bits*len(cols) must be <= 62, got {bits * n}")
    top = (1 << bits) - 1
    parts = []
    for ci, c in enumerate(cols):
        v = F.least(F.greatest(F.col(c).cast("long"), F.lit(0)), F.lit(top))
        for b in range(bits):
            parts.append(
                F.shiftleft(F.shiftright(v, b).bitwiseAND(F.lit(1)), b * n + ci)
            )
    z = parts[0]
    for p in parts[1:]:
        z = z.bitwiseOR(p)
    return z.cast("long")


def zorder_key_sql(exprs: Sequence[str], bits: int = 16) -> str:
    """The DuckDB/ANSI replay of :func:`zorder_key` for the oracle:
    same clamp, same interleave, same bit positions."""
    n = len(exprs)
    top = (1 << bits) - 1
    terms = []
    for ci, e in enumerate(exprs):
        v = f"least(greatest(CAST({e} AS BIGINT), 0), {top})"
        for b in range(bits):
            terms.append(f"((({v} >> {b}) & 1) << {b * n + ci})")
    return "CAST((" + " | ".join(terms) + ") AS BIGINT)"
