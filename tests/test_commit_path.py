"""The wind table's one commit path (`sinks.read_stored` +
`sinks.publish`) and the one wind-row projection (`wind_rows`), seen
from the three write paths: the JSON stream, the GRIB stream and the
batch tick `ingest_once`."""

from __future__ import annotations

import ast
import os
from datetime import datetime
from pathlib import Path

import pytest

from mints_wind_data_ingestion_spark import sinks
from mints_wind_data_ingestion_spark.schemas import WIND_TABLE
from mints_wind_data_ingestion_spark.sources.grib2codec import (
    encode_grib2_file,
    encode_grib2_message,
)
from mints_wind_data_ingestion_spark.streaming import pipeline
from mints_wind_data_ingestion_spark.streaming.pipeline import (
    run_grib_ingest_stream,
    run_ingest_stream,
)
from tests.test_grib_e2e import NX, NY, _field
from tests.test_round5 import _noaa_tree
from tests.test_wind_pipeline import U1, V1, _record, _write_batch

PACKAGE = Path(pipeline.__file__).resolve().parents[1]


def _grib_run(ref: datetime, fc: int, bias: float) -> bytes:
    """One forecast run's U and V fields as a GRIB2 file."""
    return encode_grib2_file([
        encode_grib2_message(
            [round(v + bias, 2) for v in _field(0, p)],
            parameter_number=p, ref_time=ref, forecast_hours=fc,
            nx=NX, ny=NY,
        )
        for p in (2, 3)
    ])


def _litter(d) -> list[str]:
    return sorted(
        p for p in os.listdir(d) if p.endswith(".tmp") or p.endswith(".bak")
    )


def test_every_wind_write_path_publishes_wind_table_layout(spark, tmp_path):
    """The JSON stream, the GRIB stream and the batch tick each publish
    a table with `WIND_TABLE`'s columns, in its order."""
    from mints_wind_data_ingestion_spark.operators.ingest import ingest_once

    json_landing = tmp_path / "json"
    json_landing.mkdir()
    _write_batch(
        str(json_landing / "b1.json"),
        [_record(2, "2020-08-12 12:00:00+00", "2020-08-12T06:00:00.000Z", U1)],
    )
    json_table = str(tmp_path / "json_table")
    run_ingest_stream(
        spark, str(json_landing), json_table, str(tmp_path / "ckpt_json")
    ).awaitTermination(120)

    grib_landing = tmp_path / "grib"
    grib_landing.mkdir()
    (grib_landing / "run06.grib2").write_bytes(
        _grib_run(datetime(2020, 8, 12, 6), 6, 0.0)
    )
    grib_table = str(tmp_path / "grib_table")
    run_grib_ingest_stream(
        spark, str(grib_landing), grib_table, str(tmp_path / "ckpt_grib")
    ).awaitTermination(120)

    tree, _ = _noaa_tree(tmp_path, present_runs=(6,))
    tick_table = str(tmp_path / "tick_table")
    r = ingest_once(
        spark, f"file://{tree}", tick_table, "2020-08-12 13:30:00", attempts=6
    )
    assert r["status"] == "merged"

    for table in (json_table, grib_table, tick_table):
        schema = spark.read.parquet(table).schema
        assert schema.names == WIND_TABLE.names, table
        assert [f.dataType.simpleString() for f in schema] == [
            f.dataType.simpleString() for f in WIND_TABLE
        ], table


def test_stale_temp_from_a_crash_before_the_swap_is_never_published(
    spark, tmp_path, monkeypatch
):
    """An epoch that dies after its temp write but before the swap
    leaves the live table untouched and a stale temp dir behind. The
    replayed epoch overwrites that temp dir — whatever it holds is
    never published — and leaves no temp or backup dir after it."""
    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "wind_table")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(
        str(landing / "b1.json"),
        [
            _record(2, "2020-08-12 12:00:00+00", "2020-08-12T06:00:00.000Z", U1),
            _record(3, "2020-08-12 12:00:00+00", "2020-08-12T06:00:00.000Z", V1),
        ],
    )
    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    before = sorted(map(tuple, spark.read.parquet(table).collect()))

    class CrashOnRename:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            raise RuntimeError("crash before the swap")

    real_fs = sinks._hadoop_fs

    def crashing_fs(spark_, path):
        fs, P = real_fs(spark_, path)
        return CrashOnRename(fs), P

    u2 = [x + 10 for x in U1]
    _write_batch(
        str(landing / "b2.json"),
        [_record(2, "2020-08-12 12:00:00+00", "2020-08-12T12:00:00.000Z", u2)],
    )
    monkeypatch.setattr(sinks, "_hadoop_fs", crashing_fs)
    with pytest.raises(Exception, match="crash before the swap"):
        run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    monkeypatch.undo()

    # the live table is the old one; the temp dir is the only trace
    assert sorted(map(tuple, spark.read.parquet(table).collect())) == before
    stale = _litter(tmp_path)
    assert len(stale) == 1 and stale[0].endswith(".tmp"), stale
    junk = spark.read.parquet(table).limit(1).selectExpr(
        *[("999 AS param" if c == "param" else c) for c in WIND_TABLE.names]
    )
    junk.write.mode("overwrite").parquet(str(tmp_path / stale[0]))

    # the checkpoint replays the crashed epoch: newer U wins, V stays
    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    got = {r.param: r for r in spark.read.parquet(table).collect()}
    assert set(got) == {2, 3}
    assert got[2].data == u2 and got[3].data == V1
    assert _litter(tmp_path) == []


def test_grib_backlog_of_two_runs_is_one_epoch(spark, tmp_path, monkeypatch):
    """Backfill's shape: two runs for the same observation hour land
    before one availableNow run. They form ONE epoch, the newer run
    wins, and a replay changes nothing. Every epoch — the first, into
    no table, and a later one, into the stored table — runs ONE
    latest-wins merge."""
    landing = tmp_path / "grib"
    landing.mkdir()
    table = str(tmp_path / "wind_table")
    ckpt = str(tmp_path / "ckpt")
    ref0, ref6, ref12 = (datetime(2020, 8, 12, h) for h in (0, 6, 12))
    # all three runs forecast 12Z: 00Z at +12 h, 06Z at +6 h, 12Z at +0 h
    (landing / "run00.grib2").write_bytes(_grib_run(ref0, 12, 0.0))
    (landing / "run06.grib2").write_bytes(_grib_run(ref6, 6, 1.0))

    merges = []
    real_merge = pipeline.merge_latest_wins

    def counting_merge(*args, **kwargs):
        merges.append(1)
        return real_merge(*args, **kwargs)

    def table_rows():
        return sorted(map(tuple, spark.read.parquet(table).collect()))

    def assert_won_by(ref, bias):
        rows = spark.read.parquet(table).collect()
        assert len(rows) == 2
        for r in rows:
            assert r.recorded_time == ref12 and r.ref_time == ref
            want = [round(v + bias, 2) for v in _field(0, r.param)]
            assert [round(float(x), 2) for x in r.data] == want

    monkeypatch.setattr(pipeline, "merge_latest_wins", counting_merge)
    q = run_grib_ingest_stream(spark, str(landing), table, ckpt)
    q.awaitTermination(120)
    epochs = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(epochs) == 1 and epochs[0]["numInputRows"] == 2  # files
    assert len(merges) == 1
    assert_won_by(ref6, 1.0)

    before = table_rows()
    run_grib_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    assert table_rows() == before
    assert len(merges) == 1

    (landing / "run12.grib2").write_bytes(_grib_run(ref12, 0, 2.0))
    run_grib_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    assert len(merges) == 2
    assert_won_by(ref12, 2.0)
    assert _litter(tmp_path) == []


def test_whole_table_commit_lives_only_in_sinks():
    """Renames and the backup path are `sinks.py`'s alone, and the
    batch tick does not reach into the streaming module."""
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "sinks.py" and path.parent == PACKAGE:
            continue
        src = path.read_text()
        assert ".rename(" not in src, path
        assert "__prev.bak" not in src, path

    tree = ast.parse((PACKAGE / "operators" / "ingest.py").read_text())
    imported = [
        node.module or ""
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
    ] + [
        alias.name
        for node in ast.walk(tree)
        if isinstance(node, ast.Import)
        for alias in node.names
    ]
    assert not [m for m in imported if "streaming" in m], imported
