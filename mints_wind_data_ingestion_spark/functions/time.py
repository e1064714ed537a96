"""Temporal expression library (SURVEY.md §2.8 C1-C9).

The reference hand-rolls every piece of calendar arithmetic — 6 h run
bucketing (converter.py:126), 3 h observation bucketing (converter.py:129),
a 34-line previous-day rollback with its own leap-year table
(converter.py:188-222, century-leap-year bug at :204), and a timezone
day-shift special case (converter.py:63-69). Here each is ONE catalyst
expression on real UTC timestamps; the bug classes vanish.

All functions return Column expressions — JVM-side, codegen'd, no UDFs.
Bucketing is done in epoch space (`unix_timestamp` → floor →
`timestamp_seconds`), which is timezone-free and therefore identical in
any engine (the DuckDB oracle mirrors it with `epoch()`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "bucket",
    "bucket_3h",
    "bucket_6h",
    "fmt_recorded_time",
]


def bucket(ts: Column | str, seconds: int) -> Column:
    """Floor a timestamp to a fixed-width bucket (tumbling window start).

    Equivalent to ``window(ts, f"{seconds} seconds").start`` but cheaper:
    no struct construction, stays a scalar expression. Reference: the
    `floor(hour/N)*N` idiom (converter.py:126,129).
    """
    col = F.col(ts) if isinstance(ts, str) else ts
    return F.timestamp_seconds(F.floor(F.unix_timestamp(col) / seconds) * seconds)


def bucket_3h(ts: Column | str) -> Column:
    """3 h observation bucket (C2, converter.py:129)."""
    return bucket(ts, 3 * 3600)


def bucket_6h(ts: Column | str) -> Column:
    """6 h GFS run-cycle bucket (C1, converter.py:126)."""
    return bucket(ts, 6 * 3600)


def fmt_recorded_time(ts: Column | str) -> Column:
    """Render the reference's recordedTime text form
    'YYYY-MM-DD HH:00:00+00' (C4, converter.py:67)."""
    col = F.col(ts) if isinstance(ts, str) else ts
    return F.concat(F.date_format(col, "yyyy-MM-dd HH:00:00"), F.lit("+00"))
