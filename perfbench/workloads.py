"""The two workloads, each a single client in a closed loop: an op starts
only when the previous one has returned and been checked.

An op is one cron tick, timed from the moment its input has landed to
the moment the serve read returns:

- `streaming.pipeline.run_grib_ingest_stream(...)` and
  `awaitTermination()`: decode, latest-wins merge, atomic publish;
- the serve read: `operators.retention.retain_recent` (7 days, anchored
  at the newest recorded_time) over the published table, collecting the
  newest U and V fields to the driver, which is the wind map's request.

Retention is logical: the engine has no physical-retention entry point,
so on `cron_tick` the table grows by the same 2 buckets x U/V per tick
in every run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

import check
import gen
import probe

BACKFILL_RUNS = 28  # 7 days of 6-hourly runs
# first ops run with a cold JIT and cold Python workers: 17-19 s for the
# first 28-run epoch against 7-8 s later; ticks fall from ~5 s to ~3.5 s
CRON_WARMUP_TICKS = 3
BACKFILL_WARMUP_EPOCHS = 1
CODEC_SAMPLE_FILES = 4


def serve_read(spark, table_path: str):
    """The newest U and V fields inside the 7-day window, as Arrow."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.operators.retention import retain_recent

    table = spark.read.parquet(table_path)
    newest = table.agg(F.max("recorded_time").alias("newest"))
    return (
        retain_recent(table.crossJoin(newest), anchor=F.col("newest"))
        .filter(F.col("recorded_time") == F.col("newest"))
        .select("recorded_time", "param", "ref_time", "data")
        .toArrow()
    )


class Harness:
    """One run's session, directories, inputs, tracer and op records."""

    def __init__(self, spark, root: str, inputs: gen.Inputs, tracer, trace: bool):
        self.spark = spark
        self.root = root
        self.inputs = inputs
        self.tracer = tracer
        self.trace = trace
        self.landing = os.path.join(root, "landing")
        self.landed: list[str] = []
        self.ops: list[dict] = []
        self.warmups: list[dict] = []

    def land_runs(self, runs: int) -> int:
        """Land the next `runs` forecast runs, one file each; returns the
        bytes landed."""
        os.makedirs(self.landing, exist_ok=True)
        total = 0
        for r in range(len(self.landed), len(self.landed) + runs):
            content = self.inputs.run_file(r)
            target = os.path.join(self.landing, f"gfs.{gen.ref_time(r):%Y%m%d%H}.grib2")
            gen.land(target, content)
            self.landed.append(target)
            total += len(content)
        return total

    def publish_and_serve(self, table: str, ckpt: str):
        """Publish what has landed and serve it. Returns (query, rows)."""
        from mints_wind_data_ingestion_spark.streaming.pipeline import (
            run_grib_ingest_stream,
        )

        t = self.tracer
        with t.span("streaming.run_grib_ingest_stream"):
            query = run_grib_ingest_stream(self.spark, self.landing, table, ckpt)
        with t.span("streaming.awaitTermination"):
            query.awaitTermination()
        with t.span("operators.retention.serve") as sp:
            rows = serve_read(self.spark, table)
            if sp is not None:
                sp["rows_returned"] = rows.num_rows
        return query, rows

    def op(self, table: str, ckpt: str, new_runs: int, traced: bool, record: bool) -> None:
        """Time one publish-and-serve of the `new_runs` runs landed last,
        then check the table and the serve read against the generator's
        state. A warm-up op (`record` false) is checked but not counted."""
        t = self.tracer
        t.active = traced
        cpu0 = probe.tree_cpu_s()
        start = time.perf_counter()
        with t.span("op", index=len(self.ops)) as sp:
            if sp is not None:
                t.op = sp["id"]
            query, rows = self.publish_and_serve(table, ckpt)
        wall = time.perf_counter() - start
        cpu = probe.tree_cpu_s() - cpu0
        t.active = False
        want = self.inputs.expected_state(len(self.landed))
        errors = check.check_table(table, want) + check.check_serve(rows, want)
        rec = {"wall_s": wall, "cpu_s": cpu, "traced": traced, "errors": errors[:5],
               "fields": new_runs * gen.FIELDS_PER_RUN,
               "bytes_in": sum(os.path.getsize(p) for p in self.landed[-new_runs:])}
        if traced:
            rec.update(self._layers(sp, query, table))
        (self.ops if record else self.warmups).append(rec)

    def _layers(self, op_span: dict, query, table: str) -> dict:
        spans = [s for s in self.tracer.spans if s["id"] >= op_span["id"]]
        serve = next(s for s in spans if s["name"] == "operators.retention.serve")
        stream_s = sum(s["end"] - s["start"] for s in spans
                       if s["name"].startswith("streaming."))
        status = op_span["status"]
        layers = {k: v for k, v in status.items()
                  if k not in ("output_bytes", "input_records")}
        layers.update(probe.progress(query))
        layers["stream.outside_trigger_ms"] = (
            stream_s * 1e3 - layers["stream.triggerExecution_ms"])
        files = [os.path.join(table, f) for f in os.listdir(table) if f.endswith(".parquet")]
        layers["table.rows"] = float(sum(pq.ParquetFile(f).metadata.num_rows for f in files))
        layers["table.bytes"] = float(sum(os.path.getsize(f) for f in files))
        layers["publish.bytes_written"] = status["output_bytes"]
        layers["serve_ms"] = (serve["end"] - serve["start"]) * 1e3
        layers["serve.rows_scanned_per_row_returned"] = (
            serve["status"]["input_records"] / max(serve["rows_returned"], 1))
        return layers


def cron_tick_setup(h: Harness) -> None:
    """Backfill 7 days of runs into the table, then warm up."""
    h.land_runs(BACKFILL_RUNS)
    h.publish_and_serve(os.path.join(h.root, "table"), os.path.join(h.root, "ckpt"))
    for _ in range(CRON_WARMUP_TICKS):
        cron_tick_op(h, traced=False, record=False)


def cron_tick_op(h: Harness, traced: bool, record: bool = True) -> None:
    """One tick: the next run lands and is merged into the 7-day table."""
    h.land_runs(1)
    h.op(os.path.join(h.root, "table"), os.path.join(h.root, "ckpt"), 1, traced, record)


def backfill_setup(h: Harness) -> None:
    h.land_runs(BACKFILL_RUNS)
    for _ in range(BACKFILL_WARMUP_EPOCHS):
        backfill_op(h, traced=False, record=False)


def backfill_op(h: Harness, traced: bool, record: bool = True) -> None:
    """One catch-up tick: all 28 landed runs published by one
    availableNow epoch into an empty table (fresh checkpoint)."""
    n = len(h.ops) + len(h.warmups)
    table, ckpt = os.path.join(h.root, f"table{n}"), os.path.join(h.root, f"ckpt{n}")
    h.op(table, ckpt, BACKFILL_RUNS, traced, record)
    shutil.rmtree(table)
    shutil.rmtree(ckpt)


WORKLOADS = {
    "cron_tick": (cron_tick_setup, cron_tick_op),
    "backfill": (backfill_setup, backfill_op),
}


def measure(h: Harness, workload: str, seconds: float) -> None:
    """Ops until `seconds` have passed. A traced run alternates untraced
    and traced ops, so the tracing overhead is measured on neighbouring
    ops of the same run; it runs at least one of each."""
    _, op = WORKLOADS[workload]
    deadline = time.perf_counter() + seconds
    i = 0
    while i < (2 if h.trace else 1) or time.perf_counter() < deadline:
        op(h, traced=h.trace and i % 2 == 1)
        i += 1


def codec_microbench(h: Harness) -> dict[str, float]:
    """process_time of the codec's decode over a sample of this run's own
    files, in the driver, one span per file."""
    from mints_wind_data_ingestion_spark.sources.grib2codec import decode_grib2_bytes

    h.tracer.active = True
    h.tracer.op = None
    per_field = []
    for path in h.landed[-CODEC_SAMPLE_FILES:]:
        with open(path, "rb") as fh:
            content = fh.read()
        with h.tracer.span("sources.grib2codec.decode_grib2_bytes",
                           file=os.path.basename(path)):
            c0 = time.process_time()
            fields = len(decode_grib2_bytes(content))
            per_field.append((time.process_time() - c0) * 1e3 / fields)
    h.tracer.active = False
    return {"codec.decode_ms_per_field": statistics.median(per_field)}
