"""Batch ingest-once — the reference's `getData()` end-to-end
(converter.py:119-181), composed from the engine's operators.

One call ≙ one cron tick:

1. candidate runs for the observation bucket, newest first
   (operators.discovery.candidates — the ≤40-attempt backtracking walk
   as a 40-row DataFrame);
2. availability probe (operators.fetch.probe_binary — the reference's
   urlopen-success test, converter.py:142, WITHOUT reading bodies);
3. staleness gate against the stored table (converter.py:157-171:
   if the stored rows for this observation bucket already come from a
   run at least as new, stop before transferring any body — F7/F8);
4. fetch the winner's body only (converter.py:172-177), decode through
   the WMO codec UDTF (sources.grib.decode_binary_df), enrich the
   observation bucket (converter.py:63-69);
5. latest-wins merge into the wind table through the same upsert the
   streaming path uses (operators.upsert.upsert_wind_table): only the
   bucket's date partition is read, merged and swapped in. The bucket
   is known on the driver, so its date needs no job.

Deliberate divergences, same as the discovery operator's: real
calendar arithmetic (no century-leap-year bug), per-candidate forecast
offsets (converter.py:132's frozen `hourWithinRef` advanced), and an
atomic replace instead of the reference's separate DELETE/INSERT
commits.

Driver pulls are bounded — and the whole pre-fetch decision is ONE
action: the stored bucket's max ref_time joins onto the probe-winner
row inside the same plan, so each tick pulls exactly one ≤1-row result
before the (single-object) body fetch. Everything else stays a plan.
At cluster scale the probe fans out over executors and the fetch
transfers exactly one object per tick.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sinks import read_stored
from ..sources.grib import decode_binary_df
from ..sources.wind_json import wind_rows
from .discovery import MAX_ATTEMPTS, candidates
from .fetch import fetch_binary, probe_binary
from .upsert import DATE_COL, upsert_wind_table

__all__ = ["ingest_once"]

#: the `.idx` inventory records `use_idx=True` fetches: the wind
#: extract's U and V components, at every level the file carries
IDX_VARIABLES = ("UGRD", "VGRD")
IDX_LEVEL = None


def ingest_once(
    spark: SparkSession,
    base_url: str,
    table_path: str,
    now_ts: str,
    attempts: int = MAX_ATTEMPTS,
    use_idx: bool = False,
) -> dict:
    """Run one reference cron tick against `base_url` (file:// tree or
    http(s) endpoint laid out like the NOAA GFS server). Returns a
    status dict: {"status": "no_candidate" | "skip_current" | "merged",
    "run_ts", "obs_ts", "records"}.

    `use_idx=True` (r10) fetches via the winner's `.idx` inventory —
    ONLY the `IDX_VARIABLES`/`IDX_LEVEL` records' byte ranges transfer
    (operators.fetch.fetch_grib_ranges; ~2 of ~700 records for the
    wind extract), each fragment a standalone message into the same
    decoder. A missing/unparseable sidecar falls back to the full-file
    fetch, so idx mode is always at least as available as the
    reference's whole-file shape; the merged table is identical either
    way (the decoder's selector keeps the same records)."""
    cands = candidates(spark, now_ts, attempts)
    urls = cands.withColumn(
        "url", F.concat(F.lit(base_url.rstrip("/") + "/"), F.col("url_path"))
    )
    probed = probe_binary(urls)
    win = (
        probed.filter("ok").orderBy("rank").limit(1)
        .withColumn("obs_date", F.to_date("obs_ts"))
    )

    # staleness gate (converter.py:160-171) folded into the SAME plan
    # as the probe winner: the stored bucket's max ref_time rides the
    # winner row as `stored_ref`, so the whole pre-fetch decision is
    # ONE bounded driver action (≤1 row). The stored side semi-joins
    # against the candidate buckets (a broadcast ≤`attempts`-row set,
    # usually 1 distinct bucket) BEFORE aggregating — at cluster scale
    # that is a partition-prunable probe of the stored table, never a
    # full-table max.
    stored = read_stored(spark, table_path)
    if stored is not None:
        buckets = urls.select(
            F.col("obs_ts").alias("recorded_time")
        ).distinct()
        stored_max = (
            stored.join(F.broadcast(buckets), "recorded_time", "leftsemi")
            .groupBy("recorded_time")
            .agg(F.max("ref_time").alias("stored_ref"))
        )
        win = win.join(
            F.broadcast(stored_max),
            win["obs_ts"] == stored_max["recorded_time"],
            "left",
        ).drop("recorded_time")
    else:
        win = win.withColumn("stored_ref", F.lit(None).cast("timestamp"))
    winner = win.collect()  # bounded: ≤1 row, the tick's only pre-fetch pull
    if not winner:
        return {"status": "no_candidate", "run_ts": None, "obs_ts": None,
                "records": 0}
    w = winner[0]
    # strict `<` staleness, ties keep stored
    if w.stored_ref is not None and w.stored_ref >= w.run_ts:
        return {"status": "skip_current", "run_ts": w.run_ts,
                "obs_ts": w.obs_ts, "records": 0}

    one = spark.createDataFrame([(w.rank, w.url)], "rank int, url string")
    fetched = None
    ranged = None
    if use_idx:
        from .fetch import fetch_grib_ranges

        ranged = fetch_grib_ranges(
            one, variables=IDX_VARIABLES, level=IDX_LEVEL
        ).persist()  # ≤ a handful of rows: one winner × selected records
        # ALL-OR-NOTHING: the strict staleness gate (stored_ref >=
        # run_ts → skip_current) would permanently freeze a bucket
        # merged from a PARTIAL record set (e.g. UGRD ok, VGRD range
        # fetch failed), so the idx path is taken only when every
        # selected range fetched — otherwise fall back to the
        # reference's whole-file fetch, which keeps the merged table
        # identical either way.
        counts = ranged.groupBy("ok").count().collect()  # bounded: ≤2 rows
        n_ok = sum(r["count"] for r in counts if r["ok"])
        n_bad = sum(r["count"] for r in counts if not r["ok"])
        if n_ok > 0 and n_bad == 0:
            fetched = ranged
        else:  # no sidecar / no matches / partial → full fetch
            ranged.unpersist()
            ranged = None
    try:
        if fetched is None:
            fetched = fetch_binary(one, "url")
        body = fetched.filter("ok").select(F.col("url").alias("path"), "content")
        batch = wind_rows(
            decode_binary_df(body), F.lit(w.obs_ts).cast("timestamp")
        )
        upsert_wind_table(batch, table_path, dates=[w.obs_date])
    finally:
        if ranged is not None:  # a cron loop must not leak one cache/tick
            ranged.unpersist()
    n = spark.read.parquet(table_path).filter(
        (F.col(DATE_COL) == F.lit(w.obs_date))
        & (F.col("recorded_time") == F.lit(w.obs_ts))
        & (F.col("ref_time") == F.lit(w.run_ts))
    ).count()
    return {"status": "merged", "run_ts": w.run_ts, "obs_ts": w.obs_ts,
            "records": n}
