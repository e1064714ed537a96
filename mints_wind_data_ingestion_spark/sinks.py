"""Sinks (SURVEY.md §2.1 S4/S6/S7/S8): the write path.

The reference writes row-at-a-time psycopg2 INSERTs with one commit per
row and a non-atomic DELETE+INSERT upsert (converter.py:98-117). Here
every sink is set-oriented:

- `write_wind_table`: date-partitioned parquet with dynamic partition
  overwrite — replacing a batch rewrites only the touched partitions
  (the scalable DELETE+INSERT), and readers prune on the partition
  column (retention/as-of predicates never scan aged data).
- `write_jdbc`: the Postgres-parity sink — set-oriented JDBC batches,
  one transaction per partition instead of per row. Gated: no database
  ships in this environment, so it is exercised only when a DSN is
  supplied (`SPARK_GRAFT_JDBC_URL`).
- `create_wind_table_sql`: S8's DDL, expressed for Spark SQL.
- `publish` / `read_stored`: the one whole-table commit. `publish`
  writes a table fully to a temp path, then swaps it in with two
  renames; `read_stored` first restores a table a crashed swap left at
  its backup path, then reads it. Every whole-table writer goes
  through this pair — the wind merge and the rollup of
  `streaming.pipeline`, `operators.ingest.ingest_once` and
  `compact_table` — and the epoch streams read their stored corpus
  through `read_stored`. A `foreachBatch` epoch is exactly-once only
  when its sink is idempotent (a replay rewrites the same table), and
  this pair is that sink's storage half.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "write_wind_table",
    "write_jdbc",
    "create_wind_table_sql",
    "write_bucketed",
    "write_format_roundtrip",
    "compact_table",
    "publish",
    "read_stored",
]


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    buckets: int = 16,
    single_file_per_bucket: bool = True,
) -> None:
    """Catalog-managed bucketed table: hash-partitioned into `buckets`
    files by `key` at WRITE time, sorted within each bucket.

    This is the zero-exchange join contract: two tables bucketed by
    their join key with the same bucket count join with NO shuffle on
    either side — the co-location was paid once at write. The big
    repeated join of a warehouse (fact⋈fact on orderkey at 100 TB)
    amortizes its shuffle across every future query; with sortBy the
    sort-merge join skips its sorts too.

    `single_file_per_bucket` repartitions by the key first (Spark's
    repartition hash == its bucket hash, so each write task holds
    exactly one bucket) — one pre-sorted file per bucket. Readers that
    want to skip the merge-sort must set
    `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (since
    3.0 Spark re-sorts by default because multi-file buckets would
    need a merge). Bucketed tables must be catalog tables
    (saveAsTable); plain parquet paths carry no bucket metadata.
    """
    writer = df.repartition(buckets, F.col(key)) if single_file_per_bucket else df
    (
        writer.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(name)
    )


def write_wind_table(
    df: DataFrame,
    path: str,
    ts_col: str = "recorded_time",
    mode: str = "overwrite",
) -> None:
    """Date-partitioned parquet sink with dynamic partition overwrite.

    Partitioning by `to_date(ts_col)` keeps partition count bounded
    (one per day — 7 live partitions under the retention policy) while
    making both the retention delete (S7) and exact-timestamp lookups
    (F4) partition-pruned. `overwrite` + dynamic mode only rewrites
    partitions present in `df` — the atomic replacement for the
    reference's DELETE-then-INSERT pair.
    """
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        df.withColumn("__date", F.to_date(F.col(ts_col)))
        .write.mode(mode)
        .partitionBy("__date")
        .parquet(path)
    )


def write_jdbc(
    df: DataFrame,
    table: str,
    url: str | None = None,
    mode: str = "append",
    batchsize: int = 10_000,
    driver: str | None = None,
) -> bool:
    """S6 parity: set-oriented JDBC sink (vs the reference's one
    INSERT + COMMIT per row, converter.py:114-115).

    Executors write partitions concurrently, `batchsize` rows per
    round-trip, one transaction per partition. Returns False (no-op)
    when no DSN is configured; round-trip-tested against DuckDB over
    JDBC when a driver jar is available (tests/test_sinks.py), the
    same write path a Postgres DSN takes in production.
    """
    dsn = url or os.environ.get("SPARK_GRAFT_JDBC_URL")
    if not dsn:
        return False
    w = (
        df.write.format("jdbc")
        .option("url", dsn)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if driver:
        w = w.option("driver", driver)
    w.mode(mode).save()
    return True


def create_wind_table_sql(name: str = "wind_data", location: str | None = None) -> str:
    """S8 parity: the reference's DDL (dbwindsetup.sql:5-9 — timestamptz
    + two jsonb blobs) re-expressed as a typed, partitioned Spark table."""
    loc = f" LOCATION '{location}'" if location else ""
    return (
        f"CREATE TABLE IF NOT EXISTS {name} ("
        "recorded_time TIMESTAMP, param INT, ref_time TIMESTAMP, "
        "forecast_hours INT, header STRUCT<parameterNumber: INT, refTime: STRING>, "
        "data ARRAY<FLOAT>, __date DATE) USING parquet PARTITIONED BY (__date)"
        f"{loc}"
    )


def write_format_roundtrip(
    df: DataFrame, path: str, fmt: str, **options: str
) -> DataFrame:
    """Write `df` in `fmt` (csv / orc / json / parquet) and read it
    back with the ORIGINAL schema enforced — the source-format breadth
    surface. CSV is schema-on-read (everything arrives as strings
    without an explicit schema, and timestamps need a pinned format);
    ORC/parquet are self-describing columnar. The round-trip contract
    (read-back equals input) is what the tests pin per format.
    """
    writer = df.write.mode("overwrite").format(fmt)
    if fmt in ("csv", "json"):
        # text formats default to millisecond timestamps — micros
        # would silently truncate on the way out
        writer = writer.option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        )
    if fmt == "csv":
        writer = writer.option("header", "true")
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)

    reader = df.sparkSession.read.format(fmt).schema(df.schema)
    if fmt in ("csv", "json"):
        reader = reader.option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        )
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)


def _hadoop_fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem that holds `path`, and the JVM Path class.
    The session's Hadoop conf resolves it, as it does for `df.write`, so
    a file written through it lands on the same store as the data."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P


def publish(df: DataFrame, table_path: str) -> None:
    """Replace the table at `table_path` with `df`, crash-safe.

    `df` is written in full to `<table>__publish.tmp` first (an
    overwrite, so a temp dir a crash left behind is replaced, never
    published), and only then swapped in by two renames: live → backup,
    temp → live. `df` may read `table_path` itself — the table is
    durable on disk before the live path is touched, so no plan ever
    chases deleted source files. A crash at any point leaves either
    the old table (live, or at `<table>__prev.bak` until `read_stored`
    restores it) or the new one — never neither."""
    table_path = table_path.rstrip("/")
    tmp_path = table_path + "__publish.tmp"
    df.write.mode("overwrite").parquet(tmp_path)
    fs, P = _hadoop_fs(df.sparkSession, table_path)
    live, bak = P(table_path), P(table_path + "__prev.bak")
    if fs.exists(bak):
        fs.delete(bak, True)
    if fs.exists(live):
        fs.rename(live, bak)
    fs.rename(P(tmp_path), live)
    fs.delete(bak, True)


def read_stored(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The stored table at `table_path`, or None when there is none yet.

    A swap that crashed between its two renames left the live path
    missing and the backup intact: that backup is restored first.
    A missing path is None (legitimately the first epoch), and so is a
    path with no readable parquet footer (a first write crashed
    between mkdir and data), which is provably "no committed data".
    ANY OTHER read failure propagates and fails the epoch, so the
    checkpoint retries it — reading a transiently unreadable or corrupt
    table as "no table yet" would silently skip a merge or a
    cross-batch dedup."""
    from pyspark.errors.exceptions.captured import AnalysisException

    table_path = table_path.rstrip("/")
    fs, P = _hadoop_fs(spark, table_path)
    live, bak = P(table_path), P(table_path + "__prev.bak")
    if not fs.exists(live):
        if not fs.exists(bak):
            return None
        fs.rename(bak, live)
    try:
        return spark.read.parquet(table_path)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            return None  # dir exists, zero parquet footers → empty
        raise


def compact_table(spark: SparkSession, path: str, target_files: int) -> int:
    """Small-file compaction: rewrite the parquet table at `path` into
    `target_files` files through `publish` (a reader never sees a
    partial table, and the pre-compaction table survives any crash).

    The small-files problem is THE operational failure mode of
    micro-batch ingestion at scale (every epoch lands a file per
    partition; a month of 5-minute epochs is ~10⁵ files whose footer
    reads dominate planning). Returns the file count before
    compaction. Partitioned tables should compact per partition —
    pass the partition directory as `path`.
    """
    before = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    # coalesce, not repartition: no shuffle — compaction is pure IO
    publish(spark.read.parquet(path).coalesce(target_files), path)
    return len(before)
