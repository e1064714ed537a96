"""Latest-wins upsert / MERGE (SURVEY.md §2.3 J4, §2.9 T3/T6).

The reference implements upsert destructively and non-atomically: DELETE
the stored rows for the timestamp, then INSERT the new ones, separate
commits (converter.py:96-117), with the replace/skip decision made by
comparing refTime hours (converter.py:160-171, including the 18→0 day
wrap special case that disappears once refTime is a real timestamp).

Here the merge is ONE declarative plan over (stored ∪ batch): per key,
keep the row with the greatest version; the stored side wins version
ties (the reference's strict `<` staleness test). Replayable and
idempotent — applying the same batch twice is a no-op, which is what
makes the streaming foreachBatch sink exactly-once per epoch.

Epoch contract: the wind streams and the batch tick all commit through
`upsert_wind_table`. The wind table is Hive-partitioned by
`recorded_date` (the UTC date of `recorded_time`), and a forecast run
touches one or two dates, so an epoch reads only the stored partitions
its batch touches (`sinks.read_stored` plus a static filter on the
partition column), merges the batch into them with ONE
`merge_latest_wins` (into the batch's empty self on the first write,
which dedups the batch), and swaps in only those partitions
(`sinks.publish` with `partition_by`). The union is shuffle-partitioned
once on the merge keys. A replay re-merges the same batch into the same
partitions and writes the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks import publish, read_stored

__all__ = ["merge_latest_wins", "upsert_wind_table", "DATE_COL"]

#: the wind table's partition column: `to_date(recorded_time)` under the
#: session's UTC zone; it reads back as the table's last column
DATE_COL = "recorded_date"


def merge_latest_wins(
    stored: DataFrame,
    batch: DataFrame,
    keys: list[str],
    version: str,
) -> DataFrame:
    """Return the merged state of `stored` after applying `batch`.

    Per `keys`: absent → insert; batch.version > stored.version →
    replace; else keep stored (converter.py:160-171 semantics, ties to
    stored). Version ties inside one side keep an arbitrary row.
    """
    if set(stored.columns) != set(batch.columns):
        raise ValueError(
            f"schema mismatch: stored={sorted(stored.columns)} batch={sorted(batch.columns)}"
        )
    tagged = stored.withColumn("__pri", F.lit(1)).unionByName(
        batch.withColumn("__pri", F.lit(0))
    )
    payload = F.struct(*stored.columns)
    order = F.struct(F.col(version), F.col("__pri"))
    return (
        tagged.groupBy(*keys)
        .agg(F.max_by(payload, order).alias("__w"))
        .select(*[F.col(f"__w.{c}").alias(c) for c in stored.columns])
    )


def upsert_wind_table(batch: DataFrame, table_path: str, dates: list | None = None) -> None:
    """Merge `batch` (`WIND_TABLE` rows) latest-wins per (recorded_time,
    param), versioned by ref_time, into the wind table at `table_path`,
    rewriting only the date partitions the batch touches.

    `dates` are the batch's `recorded_date` values when the caller
    already knows them. Otherwise, when a table exists, the batch is
    persisted and one small `distinct` job collects them; into an absent
    table (the first, backfill epoch) every row is new, so neither the
    job nor the persist is needed. There the batch spans every date it
    forecasts, so the merged rows are exchanged by date before the write
    (one file per date); a later epoch touches one or two dates, and its
    merge output is written as it comes."""
    stored = read_stored(batch.sparkSession, table_path)
    persisted = stored is not None and dates is None
    if persisted:
        batch = batch.persist()
    try:
        if stored is not None:
            if dates is None:
                dates = [r[0] for r in batch.select(F.to_date("recorded_time")).distinct().collect()]
            stored = stored.filter(F.col(DATE_COL).isin(dates)).drop(DATE_COL)
        merged = merge_latest_wins(
            batch.limit(0) if stored is None else stored, batch,
            ["recorded_time", "param"], "ref_time",
        ).withColumn(DATE_COL, F.to_date("recorded_time"))
        if stored is None:
            # every merge task holds rows of every date: one exchange by
            # date writes one file per date instead of one per task and date
            merged = merged.repartition(DATE_COL)
        publish(merged, table_path, DATE_COL)
    finally:
        if persisted:
            batch.unpersist()
