"""End-to-end GRIB2 → lat-band grid statistics, no JSON intermediary
(VERDICT r2 "Next round" #8): encoder-built multi-record binary
fixtures (3 run timestamps × U/V + one decoy record the reference's
--fp/--fs/--fv selection must drop) are decoded by the REAL WMO codec
through the binaryFile + mapInArrow source (sources.grib.read_grib_dir)
and aggregated to per-(refTime, param, lat) statistics — the
x_grid_stats-class consumer query (SURVEY.md §2.4) — which must equal
the same aggregation computed from the original in-memory fields.

Closes the S2 → A-grid loop the reference's consumer implies
(README.md:3: decoded fields feed the earth-viz statistics)."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from mints_wind_data_ingestion_spark.functions.wind import cell_lat, cell_lon
from mints_wind_data_ingestion_spark.sources.grib import read_grib_dir
from mints_wind_data_ingestion_spark.sources.grib2codec import (
    encode_grib2_file,
    encode_grib2_message,
)

NX, NY = 12, 6
REF_TIMES = [
    datetime(2020, 8, 12, h, tzinfo=timezone.utc).replace(tzinfo=None)
    for h in (0, 6, 12)
]


def _field(t_idx: int, param: int) -> list[float]:
    """Deterministic 0.01-quantized values — exact under simple packing
    at decimal_scale=2 (range·100 < 2^12, so binary scale stays 0)."""
    return [
        round(((i * 7 + t_idx * 13 + param * 29) % 3800) / 100.0, 2)
        for i in range(NX * NY)
    ]


def _lat_band_stats(df):
    """x_grid_stats-class aggregation: per (ref_time, param, lat) count,
    min, max, and a ×100-quantized exact mean over the row's cells."""
    cells = df.select(
        "ref_time", "param", F.posexplode("data").alias("idx", "v")
    ).select(
        "ref_time", "param",
        cell_lat(F.col("idx"), nx=NX).alias("lat"),
        cell_lon(F.col("idx"), nx=NX).alias("lon"),
        "v",
    )
    # ×100 quantization BEFORE comparing: the wind record stores cells
    # as float32, the source fixture is float64 — the 0.01-quantized
    # grid is exact in both
    q = F.round(F.col("v") * 100).cast("bigint")
    out = cells.groupBy("ref_time", "param", "lat").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(q).alias("vmin_e2"),
        F.max(q).alias("vmax_e2"),
        F.sum(q).alias("vsum_e2"),
    )
    return {
        (r.ref_time, r.param, r.lat): (r.n, r.vmin_e2, r.vmax_e2, r.vsum_e2)
        for r in out.collect()
    }


def test_grib2_binary_to_lat_band_stats(spark, tmp_path):
    landing = tmp_path / "grib"
    landing.mkdir()
    fields = {}
    # mixed-packing corpus: one file per section-5 template the codec
    # supports (simple 5.0, complex 5.2, complex+spatial-diff 5.3 —
    # the packing real NOAA pgrb2 files use), all through the same
    # binaryFile + Arrow row-node source
    packings = ("simple", "complex", "complex_diff")
    for t_idx, ref in enumerate(REF_TIMES):
        msgs = []
        for param in (2, 3):  # U, V at 10 m — the selected records
            vals = _field(t_idx, param)
            fields[(ref, param)] = vals
            msgs.append(
                encode_grib2_message(
                    vals, parameter_number=param, ref_time=ref,
                    nx=NX, ny=NY, packing=packings[t_idx],
                )
            )
        # decoy record: 2 m temperature-surface analog the --fs/--fv
        # selection must drop (same param number, wrong level)
        msgs.append(
            encode_grib2_message(
                _field(t_idx, 5), parameter_number=2, ref_time=ref,
                nx=NX, ny=NY, surface1_value=2.0,
            )
        )
        (landing / f"gfs_t{t_idx}.grib2").write_bytes(encode_grib2_file(msgs))

    decoded = read_grib_dir(spark, str(landing))
    got_df = decoded.select(
        F.col("header.refTime").alias("ref_time"),
        F.col("header.parameterNumber").alias("param"),
        "data",
    )
    # selection: exactly 3 timestamps × 2 params survive, decoys dropped
    assert got_df.count() == 6
    got = _lat_band_stats(got_df)

    src = spark.createDataFrame(
        [
            (ref.strftime("%Y-%m-%dT%H:%M:%S.000Z"), param, vals)
            for (ref, param), vals in fields.items()
        ],
        "ref_time string, param int, data array<double>",
    )
    want = _lat_band_stats(src)

    assert set(got) == set(want)
    assert got == want
    # grid geometry sanity: NY latitude bands from 90 southward
    lats = {k[2] for k in got}
    assert lats == {90.0 - i for i in range(NY)}


def test_grib2_streaming_ingest_latest_wins(spark, tmp_path):
    """Binary GRIB2 landing files through the STREAMING path: two
    forecast runs predicting the same observation hour (ref 00Z fc+12
    vs ref 06Z fc+6 → both recorded 12Z) — the newer run's field must
    win in the stored table, older-run hours it alone covers survive,
    and a replay with the same checkpoint leaves the table unchanged
    (exactly-once)."""
    from mints_wind_data_ingestion_spark.streaming.pipeline import (
        run_grib_ingest_stream,
    )

    landing = tmp_path / "grib_landing"
    landing.mkdir()
    table = str(tmp_path / "wind_table")
    ckpt = str(tmp_path / "ckpt")

    ref0 = datetime(2020, 8, 12, 0)
    ref6 = datetime(2020, 8, 12, 6)

    def grib_file(ref, fc, bias):
        # complex-packed with spatial differencing (template 5.3) —
        # the streaming ingest decodes the same wire format the
        # reference's real NOAA downloads use
        msgs = [
            encode_grib2_message(
                [round(v + bias, 2) for v in _field(0, p)],
                parameter_number=p, ref_time=ref, forecast_hours=fc,
                nx=NX, ny=NY, packing="complex_diff",
            )
            for p in (2, 3)
        ]
        return encode_grib2_file(msgs)

    # run 00Z forecasts hour 12 (fc+12); run 06Z supersedes it (fc+6)
    (landing / "run00.grib2").write_bytes(grib_file(ref0, 12, 0.0))
    q = run_grib_ingest_stream(spark, str(landing), table, ckpt)
    q.awaitTermination(120)
    (landing / "run06.grib2").write_bytes(grib_file(ref6, 6, 1.0))
    q = run_grib_ingest_stream(spark, str(landing), table, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(table)
    rows = got.select("recorded_time", "param", "ref_time", "data").collect()
    # one row per (recorded hour, param): recorded 12Z × U/V
    assert len(rows) == 2
    for r in rows:
        assert r.recorded_time == datetime(2020, 8, 12, 12)
        assert r.ref_time == ref6  # newer run won
        want = [round(v + 1.0, 2) for v in _field(0, r.param)]
        assert [round(float(x), 2) for x in r.data] == want

    before = sorted(
        (r.recorded_time, r.param, r.ref_time) for r in got.collect()
    )
    q = run_grib_ingest_stream(spark, str(landing), table, ckpt)
    q.awaitTermination(120)
    after = sorted(
        (r.recorded_time, r.param, r.ref_time)
        for r in spark.read.parquet(table).collect()
    )
    assert after == before
