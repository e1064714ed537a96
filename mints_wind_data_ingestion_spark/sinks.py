"""Sinks (SURVEY.md §2.1 S4/S6/S7/S8): the write path.

The reference writes row-at-a-time psycopg2 INSERTs with one commit per
row and a non-atomic DELETE+INSERT upsert (converter.py:98-117). Here
every sink is set-oriented:

- `write_jdbc`: the Postgres-parity sink — set-oriented JDBC batches,
  one transaction per partition instead of per row. Gated: no database
  ships in this environment, so it is exercised only when a DSN is
  supplied (`SPARK_GRAFT_JDBC_URL`).
- `create_wind_table_sql`: S8's DDL, expressed for Spark SQL, with the
  wind table's `recorded_date` partition column.
- `publish` / `read_stored`: the one commit. `publish` writes a table
  (or, with `partition_by`, only the Hive partitions `df` holds) in
  full to a temp path, then swaps it in with one rollback-journaled
  swap of a list of directories: the whole table is the one-directory
  case. `read_stored` first rolls back a swap a crash left
  half-done, then reads the table. Every writer goes through this pair
  — the wind upsert (`operators.upsert.upsert_wind_table`, used by both
  wind streams of `streaming.pipeline` and by
  `operators.ingest.ingest_once`), the rollup and `compact_table` — and
  the epoch streams read their stored corpus through `read_stored`. A
  `foreachBatch` epoch is exactly-once only when its sink is idempotent
  (a replay rewrites the same partitions), and this pair is that sink's
  storage half.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
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
        "data ARRAY<FLOAT>, recorded_date DATE) USING parquet "
        "PARTITIONED BY (recorded_date)"
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


def _move(fs, src, dst) -> None:
    """Rename `src` to `dst`; a rename the store refuses (Hadoop's
    `rename` returns false instead of raising) fails loud."""
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


def _dirs(table_path: str, part: str) -> tuple[str, str, str]:
    """The live, temp and backup directories of `part` ("" is the whole
    table)."""
    sub = "/" + part if part else ""
    return tuple(
        table_path + suffix + sub for suffix in ("", "__publish.tmp", "__prev.bak")
    )


def _swap(fs, P, table_path: str, parts: list[str]) -> None:
    """Swap the temp copies of `parts` into the live table.

    The journal (`<table>__publish.journal`) lists every part and
    whether it existed live before. It is staged inside the temp dir
    and renamed into place before the first live rename, so it is
    complete whenever it exists. Per part: live → backup, temp → live.
    Deleting the journal commits the swap; until then `_recover` can
    undo it."""
    live, tmp, bak = _dirs(table_path, "")
    journal = P(table_path + "__publish.journal")
    fs.delete(P(bak), True)
    staged = P(tmp + "/_journal")
    out = fs.create(staged, True)
    try:
        out.writeInt(len(parts))
        for part in parts:
            out.writeBoolean(fs.exists(P(_dirs(table_path, part)[0])))
            out.writeUTF(part)
    finally:
        out.close()
    _move(fs, staged, journal)
    if parts != [""]:
        fs.mkdirs(P(bak))
    for part in parts:
        p_live, p_tmp, p_bak = (P(d) for d in _dirs(table_path, part))
        if fs.exists(p_live):
            _move(fs, p_live, p_bak)
        _move(fs, p_tmp, p_live)
    fs.delete(journal, False)
    fs.delete(P(tmp), True)
    fs.delete(P(bak), True)


def _recover(fs, P, table_path: str) -> None:
    """Roll back a swap that a crash left behind its journal: restore
    every backed-up part, delete every part the swap added, then drop
    the temp and backup copies and the journal. Each step is
    idempotent, so a crash during recovery is recovered the same way."""
    journal = P(table_path + "__publish.journal")
    if not fs.exists(journal):
        return
    inp = fs.open(journal)
    try:
        entries = [(inp.readBoolean(), inp.readUTF()) for _ in range(inp.readInt())]
    finally:
        inp.close()
    for existed, part in entries:
        p_live, _, p_bak = (P(d) for d in _dirs(table_path, part))
        if not existed:
            fs.delete(p_live, True)
        elif fs.exists(p_bak):
            fs.delete(p_live, True)
            _move(fs, p_bak, p_live)
    fs.delete(journal, False)
    _, tmp, bak = _dirs(table_path, "")
    fs.delete(P(tmp), True)
    fs.delete(P(bak), True)


def publish(df: DataFrame, table_path: str, partition_by: str | None = None) -> None:
    """Replace the table at `table_path` with `df`, crash-safe.

    `df` is written in full to `<table>__publish.tmp` first (the temp
    dir is deleted beforehand, so a temp copy a crash left behind is
    never published), and only then swapped in (`_swap`). With
    `partition_by`, `df` is written as Hive partitions of that column
    and only the partitions it holds replace their live namesakes;
    every other live partition is left as it is. Without it, or when
    the table does not exist yet, the whole table is the one swapped
    directory. `df` may read `table_path` itself — its rows are durable
    on disk before the live path is touched, so no plan ever chases
    deleted source files. A reader through `read_stored` sees the old
    table or the new one, never a mix."""
    table_path = table_path.rstrip("/")
    fs, P = _hadoop_fs(df.sparkSession, table_path)
    _recover(fs, P, table_path)
    _, tmp_path, _ = _dirs(table_path, "")
    # deleted, not just overwritten: a dynamic partition overwrite would
    # keep the stale temp partitions that `df` does not hold
    fs.delete(P(tmp_path), True)
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp_path)
    parts = [""]
    if partition_by is not None and fs.exists(P(table_path)):
        parts = sorted(
            st.getPath().getName()
            for st in fs.listStatus(P(tmp_path))
            if st.isDirectory() and st.getPath().getName().startswith(partition_by + "=")
        )
    _swap(fs, P, table_path, parts)


def read_stored(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The stored table at `table_path`, or None when there is none yet.

    A swap that crashed before its commit left its journal behind: it
    is rolled back first (`_recover`), so the read sees the table as it
    was before that swap. A missing path is None (legitimately the
    first epoch), and so is a path with no readable parquet footer,
    which is provably "no committed data". ANY OTHER read failure
    propagates and fails the epoch, so the checkpoint retries it —
    reading a transiently unreadable or corrupt table as "no table yet"
    would silently skip a merge or a cross-batch dedup."""
    from pyspark.errors.exceptions.captured import AnalysisException

    table_path = table_path.rstrip("/")
    fs, P = _hadoop_fs(spark, table_path)
    _recover(fs, P, table_path)
    if not fs.exists(P(table_path)):
        return None
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
    compaction. `path` is a flat table: its top-level files are the
    ones counted, and the table is rewritten unpartitioned.
    """
    before = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    # coalesce, not repartition: no shuffle — compaction is pure IO
    publish(read_stored(spark, path).coalesce(target_files), path)
    return len(before)
