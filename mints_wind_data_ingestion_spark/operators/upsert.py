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

Epoch contract: the wind streams and the batch tick read the stored
table with `sinks.read_stored`, merge each batch into it with ONE
`merge_latest_wins` (into the batch's empty self on the first write,
which dedups the batch), and replace the table with `sinks.publish`.
The union is shuffle-partitioned once on the merge keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["merge_latest_wins"]


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
