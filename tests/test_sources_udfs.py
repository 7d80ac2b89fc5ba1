"""Tests for the extended source/sink surface (JSON read, streaming
sinks, rate source) and the UDF/pandas-UDF/UDTF registration surface."""

from __future__ import annotations

import gc
import json
import os
import weakref

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources.io import (
    read_json,
    read_rate_stream,
    write_parquet,
    write_stream_memory,
    write_stream_parquet,
)
from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.udfs import (
    register_pandas_udf,
    register_python_udf,
    register_tokens_udtf,
)
from tests.conftest import SF_DIR


def test_read_json_with_schema(spark, tmp_path):
    p = tmp_path / "rows.json"
    with open(p, "w") as f:
        for i in range(3):
            f.write(json.dumps({"id": i, "name": f"n{i}", "score": i * 1.5}) + "\n")
    df = read_json(spark, str(p), schema="id long, name string, score double")
    assert df.count() == 3
    assert df.schema.simpleString() == "struct<id:bigint,name:string,score:double>"
    assert df.filter(F.col("id") == 2).first()["score"] == 3.0


def test_write_parquet_partitioned(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id int, part string")
    out = str(tmp_path / "out")
    write_parquet(df, out, partition_by=["part"])
    assert os.path.isdir(os.path.join(out, "part=a"))
    back = spark.read.parquet(out)
    assert back.count() == 3


def test_partitioned_read_prunes_partitions(spark, tmp_path):
    """A filter on the partition column must become a PartitionFilters
    entry (directory pruning — at 100 TB the difference between reading
    one partition and reading all of them), not a post-scan filter."""
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark import plans

    df = spark.range(100).withColumn("part", (F.col("id") % 4).cast("string"))
    out = str(tmp_path / "pp")
    write_parquet(df, out, partition_by=["part"])
    back = spark.read.parquet(out).filter(F.col("part") == "2")
    s = plans.explain_str(back)
    assert "PartitionFilters" in s and "part#" in s.split("PartitionFilters", 1)[1][:200], s
    assert back.count() == 25


def test_streaming_parquet_sink_and_memory_sink(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(i, float(i)) for i in range(5)], "id long, v double").coalesce(
        1
    ).write.parquet(str(src / "f0"))
    stream = spark.readStream.schema("id long, v double").parquet(str(src / "f*"))

    q = write_stream_parquet(
        stream, str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 5

    q2 = write_stream_memory(stream.filter(F.col("id") >= 3), "mem_sink_test")
    q2.processAllAvailable()
    q2.stop()
    assert spark.table("mem_sink_test").count() == 2


def test_rate_stream_schema(spark):
    df = read_rate_stream(spark, rows_per_second=5)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["timestamp", "value"]


def test_python_udf_and_pandas_udf(spark):
    register_python_udf(spark, "py_double_it", lambda x: x * 2, "int")

    def vec_square(s: pd.Series) -> pd.Series:
        return s * s

    register_pandas_udf(spark, "pd_square", vec_square, "double")
    spark.createDataFrame([(3, 4.0)], "a int, b double").createOrReplaceTempView("udf_src")
    row = spark.sql("SELECT py_double_it(a) AS d, pd_square(b) AS sq FROM udf_src").first()
    assert row["d"] == 6 and row["sq"] == 16.0


def test_tokens_udtf(spark):
    register_tokens_udtf(spark, "split_tokens_t")
    rows = spark.sql("SELECT * FROM split_tokens_t('hello spark world')").collect()
    assert [(r["pos"], r["token"]) for r in rows] == [(0, "hello"), (1, "spark"), (2, "world")]


def test_grouped_agg_pandas_udf(spark):
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.udfs import (
        register_grouped_agg_udf,
    )

    def weighted_mean(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    wm = register_grouped_agg_udf(spark, "wmean", weighted_mean, "double")
    df = spark.createDataFrame(
        [("a", 10.0, 1.0), ("a", 20.0, 3.0), ("b", 5.0, 2.0)], "k string, v double, w double"
    )
    got = {r["k"]: r["m"] for r in df.groupBy("k").agg(wm("v", "w").alias("m")).collect()}
    assert got["a"] == pytest.approx(17.5)
    assert got["b"] == pytest.approx(5.0)
    df.createOrReplaceTempView("_wm_src")
    sql_got = {r["k"]: r["m"] for r in spark.sql(
        "SELECT k, wmean(v, w) AS m FROM _wm_src GROUP BY k"
    ).collect()}
    assert sql_got == got


def test_merge_schema_evolution_read(spark, tmp_path):
    """Schema drift across parquet files (a new column appears mid-corpus)
    must be readable with mergeSchema: old files surface NULL for the new
    column instead of failing or silently dropping it."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(out + "/f=1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double").write.parquet(out + "/f=2")
    back = spark.read.option("mergeSchema", True).parquet(out)
    rows = {r["id"]: (r["v"], r["score"]) for r in back.collect()}
    assert rows[1] == ("a", None) and rows[2] == ("b", 9.5)


def test_stream_static_dim_join(spark, tmp_path):
    """Stream-static join: enrich a stream with a batch dimension table —
    no watermark needed on the static side, per-batch hash join."""
    root = str(tmp_path / "ss_in")
    spark.createDataFrame(
        [(1, "click"), (2, "buy"), (3, "click")], "id long, etype string"
    ).coalesce(1).write.parquet(root + "/part=0")
    dim = spark.createDataFrame([("click", 0.1), ("buy", 5.0)], "etype string, weight double")
    stream = spark.readStream.schema("id long, etype string").parquet(root + "/part=*")
    joined = stream.join(dim, "etype")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["id"]: r["weight"] for r in spark.table("ss_join").collect()}
    assert got == {1: 0.1, 2: 5.0, 3: 0.1}


def test_grouped_zscore_rejects_null_values(spark):
    """NULL arrives in pandas as NaN and rint(NaN)→int64 is undefined —
    the UDF must raise loudly instead of silently poisoning the group."""
    import pytest as _pytest

    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.udfs import (
        grouped_zscore,
    )

    df = spark.createDataFrame(
        [("g", 1.0), ("g", None), ("g", 3.0)], "k string, v double"
    )
    with _pytest.raises(Exception, match="NULL|NaN"):
        grouped_zscore(df, ["k"], "v", "z").collect()


def test_text_lines_parse_equals_csv_reader(spark, hdfc_path):
    """The reference's literal dataflow (readTextFile → header content
    filter → positional split/cast) must produce exactly what the
    schema'd CSV reader produces, row for row, on the reference's own
    file."""
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources import (
        parse_quotes_lines,
        read_quotes_csv,
        read_text_lines,
    )

    raw = parse_quotes_lines(read_text_lines(spark, hdfc_path))
    csv = read_quotes_csv(spark, hdfc_path)
    assert raw.count() == csv.count() == 5204
    cols = [f.name for f in csv.schema.fields if f.name != "row_id"]
    a = sorted(map(tuple, raw.select(*cols).collect()))
    b = sorted(map(tuple, csv.select(*cols).collect()))
    assert a == b


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC round-trips the lineitem table exactly and keeps the columnar
    contract: a filtered, projected read pushes the predicate into the
    ORC scan."""
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark import plans
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources import (
        read_orc,
        read_table,
        write_orc,
    )

    li = read_table(spark, "/root/testdata/sf0.001", "lineitem")
    path = str(tmp_path / "li_orc")
    write_orc(li, path)
    back = read_orc(spark, path)
    assert back.count() == li.count()
    assert sorted(back.columns) == sorted(li.columns)
    a = li.agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))).first()[0]
    b = back.agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))).first()[0]
    assert a == b
    filtered = back.filter(F.col("l_quantity") < 5).select("l_orderkey", "l_quantity")
    s = plans.explain_str(filtered)
    assert "PushedFilters" in s and "l_quantity" in s, s


def test_dynamic_partition_pruning_on_join(spark, tmp_path):
    """Joining a partitioned fact to a FILTERED dim must inject a
    dynamic-partition-pruning subquery on the fact scan
    (dynamicpruningexpression): the dim filter's surviving keys decide
    at runtime which fact partitions are read at all. At 100 TB this is
    the difference between scanning one date partition and the whole
    table when the filter is on the dim, not the fact."""
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark import plans
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources.io import (
        write_parquet,
    )

    fact = spark.range(4000).select(
        F.col("id").alias("fk"), (F.col("id") % 8).alias("part_key"), (F.col("id") * 2).alias("v")
    )
    out = str(tmp_path / "dpp_fact")
    write_parquet(fact, out, partition_by=["part_key"])
    dim = spark.range(8).select(
        F.col("id").alias("part_key"), (F.col("id") % 2 == 0).alias("keep")
    )
    joined = (
        spark.read.parquet(out)
        .join(dim.filter(F.col("keep")), "part_key")
        .agg(F.sum("v").alias("sv"))
    )
    s = plans.explain_str(joined)
    assert "dynamicpruning" in s.lower(), s[:1200]
    # semantics: only even part_keys' rows aggregate
    expect = sum(i * 2 for i in range(4000) if (i % 8) % 2 == 0)
    assert joined.collect()[0]["sv"] == expect


def test_compact_parquet_dir(spark, tmp_path):
    """Compaction must (a) reduce a many-tiny-file directory to
    ceil(n/target) evenly-sized files, (b) keep rows bit-identical, and
    (c) cap every output file at the target row count."""
    import glob

    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources.io import (
        compact_parquet_dir,
    )

    src_dir = str(tmp_path / "tiny")
    df = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("v"))
    df.repartition(50).write.parquet(src_dir)  # 50 tiny files
    assert len(glob.glob(os.path.join(src_dir, "*.parquet"))) == 50

    out_dir = str(tmp_path / "compact")
    n_files = compact_parquet_dir(spark, src_dir, out_dir, target_rows_per_file=300)
    assert n_files == 4  # ceil(1000/300)
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    assert len(files) == 4
    back = spark.read.parquet(out_dir)
    assert back.count() == 1000
    assert sorted(r["v"] for r in back.collect()) == sorted(r["v"] for r in df.collect())
    for f in files:
        assert spark.read.parquet(f).count() <= 300
    with pytest.raises(ValueError):
        compact_parquet_dir(spark, src_dir, out_dir, 0)


def test_range_clustered_write_has_disjoint_file_ranges(spark, tmp_path):
    """Range clustering must produce files whose [min, max] ranges on
    the cluster column are pairwise disjoint — VERIFIED FROM THE
    PARQUET FOOTERS, because disjoint footer stats are precisely what
    lets a later range-filtered scan skip whole files."""
    import glob

    import pyarrow.parquet as pq

    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources.io import (
        write_range_clustered,
    )

    df = spark.range(10000).select(
        ((F.col("id") * 7919) % 10007).alias("price"), F.col("id").alias("oid")
    )  # shuffled values: clustering must SORT, not rely on input order
    out = str(tmp_path / "clustered")
    write_range_clustered(df, out, ["price"], n_files=8)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert len(files) == 8
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "price"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"
    assert spark.read.parquet(out).count() == 10000
    with pytest.raises(ValueError):
        write_range_clustered(df, out, ["price"], n_files=0)


def test_runtime_bloom_filter_injected_on_selective_join(spark):
    """With broadcast disabled, a selective build side must inject a
    runtime Bloom filter into the probe-side scan (might_contain in the
    plan) — most non-matching fact rows die before the shuffle."""
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark import plans

    fact = spark.range(2_000_000).select(F.col("id").alias("fk"), (F.col("id") % 97).alias("v"))
    dim = spark.range(2_000_000).select(F.col("id").alias("fk")).filter(F.col("fk") % 1000 == 0)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        spark.conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
        # default 10GB floor exists so tiny scans skip the bloom cost;
        # zero it so the in-memory range relation qualifies for the test
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        joined = fact.join(dim, "fk").agg(F.sum("v").alias("sv"))
        s = plans.explain_str(joined)
        assert "might_contain" in s.lower(), s[:1500]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
        spark.conf.unset("spark.sql.optimizer.runtimeFilter.number.threshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_custom_python_datasource(spark):
    """Spark 4 Python DataSource: register, read with options, verify
    (a) the requested row count and partition planning, (b) value
    determinism independent of reader parallelism — identical frames
    for 2 vs 5 partitions — and (c) OHLC sanity (low <= open <= high)."""
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources.pysource import (
        register_synthetic_quotes_source,
    )

    register_synthetic_quotes_source(spark)
    df = spark.read.format("synthetic_quotes").option("rows", 200).option("partitions", 5).load()
    assert df.count() == 200
    assert df.rdd.getNumPartitions() == 5
    rows5 = sorted(df.collect())
    rows2 = sorted(
        spark.read.format("synthetic_quotes")
        .option("rows", 200).option("partitions", 2).load().collect()
    )
    assert rows5 == rows2
    bad = df.filter((F.col("low") > F.col("open")) | (F.col("open") > F.col("high"))).count()
    assert bad == 0


def test_zorder_key_morton_ground_truth(spark):
    """Known Morton codes for 2-D interleave (x bits at even positions,
    y at odd): z(0,0)=0, z(1,0)=1, z(0,1)=2, z(1,1)=3, z(2,3)=14; the
    clamp pins out-of-domain values to the boundary cell."""
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources.io import (
        zorder_key,
    )

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 3), (70000, -5)], "x long, y long"
    )
    got = [r["z"] for r in df.select(zorder_key(["x", "y"], bits=16).alias("z")).collect()]
    # z(65535, 0): every even bit position 0..30 set
    x_clamped = sum(1 << (2 * b) for b in range(16))
    assert got == [0, 1, 2, 3, 14, x_clamped]


def test_zorder_key_preserves_2d_locality(spark):
    """The point of the key: sorting by z then splitting into quartiles
    gives chunks whose x AND y ranges are both ~half the domain — a
    single-column sort leaves the other column's per-chunk range at
    ~full domain (no skipping power)."""
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources.io import (
        zorder_key,
    )

    pts = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(pts, "x long, y long")
    pdf = (
        df.select("x", "y", zorder_key(["x", "y"], bits=5).alias("z"))
        .toPandas()
        .sort_values("z")
        .reset_index(drop=True)
    )
    quart = len(pdf) // 4
    for i in range(4):
        chunk = pdf.iloc[i * quart : (i + 1) * quart]
        assert chunk["x"].max() - chunk["x"].min() <= 16
        assert chunk["y"].max() - chunk["y"].min() <= 16


def test_read_table_schema_cache_metadata_only(spark):
    """The session-scoped schema cache returns identical schemas AND
    identical data on cached re-reads (metadata-only: every byte still
    comes from the files), keys per (session, absolute path), and holds
    its sessions weakly."""
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources import io as io_mod

    sf = SF_DIR
    nation = os.path.join(os.path.abspath(sf), "nation.parquet")
    io_mod._SCHEMA_CACHE.clear()
    first = io_mod.read_table(spark, sf, "nation")
    assert io_mod._SCHEMA_CACHE[spark] == {nation: first.schema}  # populated by the inferring read
    # a relative spelling of the same table shares the entry
    second = io_mod.read_table(spark, os.path.relpath(sf), "nation")
    assert list(io_mod._SCHEMA_CACHE[spark]) == [nation]
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())
    # events goes through the nanos path and still caches its source schema
    ev1 = io_mod.read_table(spark, sf, "events")
    ev2 = io_mod.read_table(spark, sf, "events")
    assert ev2.schema == ev1.schema
    assert ev1.count() == ev2.count() > 0

    # a session nobody references any more releases its entries
    child = spark.newSession()
    assert io_mod.read_table(child, sf, "nation").schema == first.schema
    assert list(io_mod._SCHEMA_CACHE[child]) == [nation]
    released = weakref.ref(child)
    del child
    spark.newSession()  # PySpark's RDD.toDF patch holds the newest session
    gc.collect()
    assert released() is None
    assert list(io_mod._SCHEMA_CACHE.keys()) == [spark]


def test_read_events_sets_no_conf_on_an_engine_session(spark, monkeypatch):
    """Engine sessions carry spark.sql.legacy.parquet.nanosAsLong from
    get_spark, so an events read writes no session conf."""
    from pyspark.sql.conf import RuntimeConfig

    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources import io as io_mod

    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    sets = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, k, v: sets.append(k) or real_set(self, k, v))
    events = io_mod.read_events(spark, os.path.join(SF_DIR, "events.parquet"))
    assert events.count() > 0
    assert sets == []


def test_read_events_sets_nanos_on_a_session_without_it(spark):
    """A session without the key (a vanilla driver session) still reads
    events: read_events sets it once."""
    from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources import io as io_mod

    key = "spark.sql.legacy.parquet.nanosAsLong"
    path = os.path.join(SF_DIR, "events.parquet")
    child = spark.newSession()
    child.conf.unset(key)
    assert child.conf.get(key) == "false"
    events = io_mod.read_events(child, path)
    assert child.conf.get(key) == "true"
    assert events.dtypes == io_mod.read_events(spark, path).dtypes
    assert events.count() > 0
