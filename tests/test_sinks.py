"""Sink tests (S4/S6/S7): the date-partitioned wind table, whose upsert
rewrites only the partitions a batch touches — the set-oriented
replacement for the reference's per-row INSERT + DELETE upsert
(converter.py:98-117)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from mints_wind_data_ingestion_spark.operators.upsert import upsert_wind_table
from mints_wind_data_ingestion_spark.schemas import WIND_TABLE
from mints_wind_data_ingestion_spark.sinks import write_jdbc


def _wind_rows(spark, rows):
    return spark.createDataFrame(
        rows, "recorded_time string, param int, value double"
    ).select(
        F.col("recorded_time").cast("timestamp").alias("recorded_time"),
        "param",
        "value",
    )


def _wind_table_rows(spark, rows):
    """`WIND_TABLE` rows from (recorded_time, param, ref_time, value)."""
    return spark.createDataFrame(
        rows, "recorded_time string, param int, ref_time string, value float"
    ).select(
        F.col("recorded_time").cast("timestamp").alias("recorded_time"),
        "param",
        F.col("ref_time").cast("timestamp").alias("ref_time"),
        F.lit(6).alias("forecast_hours"),
        F.lit(None).cast(WIND_TABLE["header"].dataType).alias("header"),
        F.array("value").alias("data"),
    )


def test_partitioned_write_and_pruning(spark, tmp_path):
    path = str(tmp_path / "wind")
    df = _wind_table_rows(
        spark,
        [
            ("2020-08-12 12:00:00", 2, "2020-08-12 06:00:00", 1.0),
            ("2020-08-12 18:00:00", 3, "2020-08-12 06:00:00", 2.0),
            ("2020-08-13 00:00:00", 2, "2020-08-12 06:00:00", 3.0),
        ],
    )
    upsert_wind_table(df, path)
    parts = {os.path.basename(p) for p in glob.glob(path + "/recorded_date=*")}
    assert parts == {"recorded_date=2020-08-12", "recorded_date=2020-08-13"}

    back = spark.read.parquet(path)
    # partition-pruned read: the date predicate selects one directory
    pruned = back.filter(F.col("recorded_date") == "2020-08-12")
    assert pruned.count() == 2
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(recorded_date" in plan
    read = {r[0] for r in pruned.select(F.input_file_name()).collect()}
    assert read and all("/recorded_date=2020-08-12/" in f for f in read)


def test_dynamic_overwrite_rewrites_only_touched_partition(spark, tmp_path):
    path = str(tmp_path / "wind")
    upsert_wind_table(
        _wind_table_rows(
            spark,
            [
                ("2020-08-12 12:00:00", 2, "2020-08-12 06:00:00", 1.0),
                ("2020-08-13 00:00:00", 2, "2020-08-12 06:00:00", 3.0),
            ],
        ),
        path,
    )
    # a newer run replaces ONLY the 08-13 partition's row
    upsert_wind_table(
        _wind_table_rows(
            spark, [("2020-08-13 00:00:00", 2, "2020-08-12 12:00:00", 99.0)]
        ),
        path,
    )
    rows = {
        str(r.recorded_time): list(r.data) for r in spark.read.parquet(path).collect()
    }
    assert rows == {
        "2020-08-12 12:00:00": [1.0],  # untouched partition survives
        "2020-08-13 00:00:00": [99.0],  # replaced
    }


def test_jdbc_sink_gated_without_dsn(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_JDBC_URL", raising=False)
    df = _wind_rows(spark, [("2020-08-12 12:00:00", 2, 1.0)])
    assert write_jdbc(df, "wind_data") is False


def test_jdbc_round_trip(spark, tmp_path, jdbc_jar):
    """S6 ungated: write through the real Spark JDBC path into a
    DuckDB database file and read back through JDBC — the same
    executor-side batched-INSERT code a Postgres DSN exercises in
    production. (The table is pre-created because Spark's existence
    probe SELECTs from it and DuckDB's 'no such table' SQLSTATE isn't
    classified by the generic dialect.)"""
    import pytest as _pytest

    if not jdbc_jar:
        _pytest.skip("no DuckDB JDBC driver jar cached on this machine")

    url = f"jdbc:duckdb:{tmp_path}/roundtrip.db"
    drv = "org.duckdb.DuckDBDriver"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(drv)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.execute(
            "CREATE TABLE wind_data (recorded_time TIMESTAMP, param INT, value DOUBLE)"
        )
        st.close()
    finally:
        conn.close()

    df = _wind_rows(
        spark,
        [("2020-08-12 12:00:00", 2, 1.0), ("2020-08-12 12:00:00", 3, -2.5)],
    )
    assert write_jdbc(df.coalesce(1), "wind_data", url=url, driver=drv) is True

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "wind_data")
        .option("driver", drv)
        .load()
        .select(
            F.col("recorded_time").cast("timestamp"),
            F.col("param").cast("int"),
            F.col("value").cast("double"),
        )
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_format_roundtrips_csv_orc_json(spark, sf_dir, tmp_path):
    """Source-format breadth: the same table written+read through CSV
    (schema-on-read), ORC, and JSON must round-trip exactly (parquet
    is the native path exercised everywhere else)."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.sinks import write_format_roundtrip
    from mints_wind_data_ingestion_spark.sources.tables import load_tables

    ev = (
        load_tables(spark, sf_dir)["events"]
        .select("event_id", "user_id", "event_type", "value", "ts")
        .limit(500)
    )
    expect = sorted(map(tuple, ev.collect()))
    for fmt in ("csv", "orc", "json"):
        back = write_format_roundtrip(ev, str(tmp_path / f"rt_{fmt}"), fmt)
        assert sorted(map(tuple, back.collect())) == expect, fmt


def test_compact_table_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """Compaction: a fragmented table (one file per write) collapses to
    the target file count with identical contents, through the
    crash-safe swap (no window without a complete table)."""
    import os

    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.sinks import compact_table
    from mints_wind_data_ingestion_spark.sources.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"].select("event_id", "value").limit(900)
    path = str(tmp_path / "fragmented")
    for i in range(3):
        ev.filter(F.pmod("event_id", F.lit(3)) == i).repartition(4).write.mode(
            "append"
        ).parquet(path)
    expect = sorted(map(tuple, spark.read.parquet(path).collect()))
    n_before = compact_table(spark, path, target_files=2)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert n_before >= 12 and len(files) <= 2
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == expect


def test_schema_evolution_merge_on_read(spark, sf_dir, tmp_path):
    """Schema evolution: a column added mid-stream (new writer version)
    merges on read — old files surface NULL for the new column, new
    files carry it; no rewrite of history. The additive-evolution
    contract a long-lived 100 TB table depends on."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.sources.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"].select("event_id", "value").limit(200)
    path = str(tmp_path / "evolving")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(path)
    ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "quality", F.lit("v2")
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"event_id", "value", "quality"}
    assert merged.count() == 200
    assert merged.filter(F.col("quality").isNull()).count() == ev.filter(
        F.col("event_id") % 2 == 0
    ).count()
