"""Decoded-wind-record JSON source (SURVEY.md §2.1 S3).

The reference loads grib2json output with `json.load` and trusts the
shape blindly (converter.py:60-61). Here the read is schema-on-write:
`spark.read.json(..., schema=WIND_RECORD)` — malformed records surface
as NULL fields instead of runtime dict errors, and the 65k-float `data`
arrays parse straight into ArrayType(FloatType()) without inference
passes over the file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import WIND_RECORD, WIND_TABLE

__all__ = ["read_wind_json", "to_wind_table", "wind_rows"]


def read_wind_json(spark: SparkSession, path: str) -> DataFrame:
    """Read decoded wind-component records (grib2json output shape).

    The reference fixtures are single-line JSON *arrays* of records
    (data/wind_data.json), so multiLine mode is required; production
    landing files written one-record-per-line read with the same call
    (Spark handles both under multiLine=false only for JSONL — we accept
    the array form for fixture parity).
    """
    return spark.read.json(path, schema=WIND_RECORD, multiLine=True)


def wind_rows(records: DataFrame, recorded_time: Column) -> DataFrame:
    """The decoded-record → wind-row projection every wind write path
    shares (FIXTURES.md §A2): lift the filter/join keys `param`,
    `ref_time` and `forecast_hours` out of the header, then emit
    `schemas.WIND_TABLE`'s columns in its order.

    `recorded_time` is the path's observation time, and may refer to
    the lifted `ref_time` and `forecast_hours`: the JSON path parses
    `recordedTime`, the GRIB stream adds the forecast hours to the run,
    and the batch tick stamps its bucket. header.refTime
    '2020-08-12T06:00:00.000Z' parses with to_timestamp under the UTC
    session."""
    lifted = records.withColumns({
        "param": F.col("header.parameterNumber"),
        "ref_time": F.to_timestamp(
            F.col("header.refTime"), "yyyy-MM-dd'T'HH:mm:ss.SSSX"
        ),
        "forecast_hours": F.col("header.forecastTime"),
    })
    return lifted.withColumn("recorded_time", recorded_time).select(
        *WIND_TABLE.names
    )


def to_wind_table(records: DataFrame) -> DataFrame:
    """Normalize raw JSON records into the engine's typed wind-table
    layout (`wind_rows`); recordedTime '2020-08-12 12:00:00+00'
    (converter.py:67) parses with to_timestamp under the UTC session."""
    return wind_rows(
        records,
        F.to_timestamp(F.col("recordedTime"), "yyyy-MM-dd HH:mm:ssx"),
    )
