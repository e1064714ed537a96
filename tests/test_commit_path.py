"""The wind table's one commit path (`operators.upsert.upsert_wind_table`
over `sinks.read_stored` + `sinks.publish`, a rollback-journaled swap
of the date partitions an epoch touches) and the one wind-row
projection (`wind_rows`), seen from the three write paths: the JSON
stream, the GRIB stream and the batch tick `ingest_once`."""

from __future__ import annotations

import ast
import os
from datetime import datetime
from pathlib import Path

import pytest

from mints_wind_data_ingestion_spark import sinks
from mints_wind_data_ingestion_spark.operators import upsert
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
        p for p in os.listdir(d) if p.endswith((".tmp", ".bak", ".journal"))
    )


def _crash_fs(monkeypatch, rename_at=None, delete_suffix=None):
    """Make `sinks` crash on its `rename_at`-th rename (1-based) or on
    deleting a path that ends with `delete_suffix`."""
    real_fs = sinks._hadoop_fs
    renames = []

    class Crashing:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            renames.append(str(dst))
            if len(renames) == rename_at:
                raise RuntimeError(f"crash at rename {rename_at}")
            return self._fs.rename(src, dst)

        def delete(self, path, recursive):
            if delete_suffix and str(path).endswith(delete_suffix):
                raise RuntimeError(f"crash deleting {delete_suffix}")
            return self._fs.delete(path, recursive)

    def crashing_fs(spark_, path):
        fs, P = real_fs(spark_, path)
        return Crashing(fs), P

    monkeypatch.setattr(sinks, "_hadoop_fs", crashing_fs)
    return renames


def _rows(spark, table):
    return sorted(map(tuple, spark.read.parquet(table).collect()))


def _partitions(table) -> list[str]:
    return sorted(p for p in os.listdir(table) if p.startswith("recorded_date="))


def test_every_wind_write_path_publishes_wind_table_layout(spark, tmp_path):
    """The JSON stream, the GRIB stream and the batch tick each publish
    a table with `WIND_TABLE`'s columns, in its order, Hive-partitioned
    by `recorded_date`, which reads back as the last column."""
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
        assert schema.names == WIND_TABLE.names + ["recorded_date"], table
        assert [f.dataType.simpleString() for f in schema] == [
            f.dataType.simpleString() for f in WIND_TABLE
        ] + ["date"], table
        assert _partitions(table) == ["recorded_date=2020-08-12"], table


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
    before = _rows(spark, table)

    u2 = [x + 10 for x in U1]
    _write_batch(
        str(landing / "b2.json"),
        [_record(2, "2020-08-12 12:00:00+00", "2020-08-12T12:00:00.000Z", u2)],
    )
    # the first rename moves the staged journal into place: nothing live
    # has been touched yet
    _crash_fs(monkeypatch, rename_at=1)
    with pytest.raises(Exception, match="crash at rename 1"):
        run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    monkeypatch.undo()

    # the live table is the old one; the temp dir is the only trace
    assert _rows(spark, table) == before
    stale = _litter(tmp_path)
    assert len(stale) == 1 and stale[0].endswith(".tmp"), stale
    # junk in the stale temp copy: a changed row in the partition the
    # replay rewrites, and a partition the replay does not touch
    junk = spark.read.parquet(table).limit(1).selectExpr(
        *[("999 AS param" if c == "param" else c) for c in WIND_TABLE.names]
    )
    for day in ("2020-08-12", "2020-08-14"):
        junk.write.mode("overwrite").parquet(
            str(tmp_path / stale[0] / f"recorded_date={day}")
        )

    # the checkpoint replays the crashed epoch: newer U wins, V stays
    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    got = {r.param: r for r in spark.read.parquet(table).collect()}
    assert set(got) == {2, 3}
    assert got[2].data == u2 and got[3].data == V1
    assert _partitions(table) == ["recorded_date=2020-08-12"]
    assert _litter(tmp_path) == []


def _two_day_table(spark, tmp_path):
    """A wind table holding U on 2020-08-12 and on 2020-08-13, and its
    JSON stream's landing dir and checkpoint."""
    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "wind_table")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(
        str(landing / "b1.json"),
        [
            _record(2, "2020-08-12 18:00:00+00", "2020-08-12T06:00:00.000Z", U1),
            _record(2, "2020-08-13 00:00:00+00", "2020-08-12T06:00:00.000Z", U1),
        ],
    )
    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    return landing, table, ckpt


def test_untouched_partitions_keep_their_files(spark, tmp_path):
    """An epoch rewrites only the partitions its batch touches: every
    other partition keeps the same files, names and mtimes."""
    landing, table, ckpt = _two_day_table(spark, tmp_path)

    def files(day):
        d = os.path.join(table, f"recorded_date={day}")
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    kept, replaced = files("2020-08-12"), files("2020-08-13")
    u2 = [x + 10 for x in U1]
    _write_batch(
        str(landing / "b2.json"),
        [_record(2, "2020-08-13 00:00:00+00", "2020-08-12T12:00:00.000Z", u2)],
    )
    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)

    assert files("2020-08-12") == kept
    assert not set(files("2020-08-13")) & set(replaced)
    got = {str(r.recorded_time): r.data for r in spark.read.parquet(table).collect()}
    assert got == {"2020-08-12 18:00:00": U1, "2020-08-13 00:00:00": u2}
    assert _litter(tmp_path) == []


def test_crash_after_the_first_of_two_partition_swaps_rolls_back(
    spark, tmp_path, monkeypatch
):
    """An epoch that touches two stored partitions dies after swapping
    the first one in. `read_stored` rolls the swap back, so it returns
    the old table exactly; the replay then publishes the merged table
    and leaves no temp, backup or journal behind."""
    landing, table, ckpt = _two_day_table(spark, tmp_path)
    before = _rows(spark, table)
    u2 = [x + 10 for x in U1]
    _write_batch(
        str(landing / "b2.json"),
        [
            _record(2, "2020-08-12 18:00:00+00", "2020-08-12T12:00:00.000Z", u2),
            _record(2, "2020-08-13 00:00:00+00", "2020-08-12T12:00:00.000Z", u2),
        ],
    )
    # renames: journal, then live → backup and temp → live per partition;
    # the 4th moves the second live partition to its backup
    renames = _crash_fs(monkeypatch, rename_at=4)
    with pytest.raises(Exception, match="crash at rename 4"):
        run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    monkeypatch.undo()
    assert renames[2].endswith("wind_table/recorded_date=2020-08-12")
    # half swapped on disk: the first partition already holds the new rows
    half = {str(r.recorded_time): r.data for r in spark.read.parquet(table).collect()}
    assert half == {"2020-08-12 18:00:00": u2, "2020-08-13 00:00:00": U1}

    assert sorted(map(tuple, sinks.read_stored(spark, table).collect())) == before
    assert _rows(spark, table) == before
    assert _litter(tmp_path) == []

    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    got = {str(r.recorded_time): r.data for r in spark.read.parquet(table).collect()}
    assert got == {"2020-08-12 18:00:00": u2, "2020-08-13 00:00:00": u2}
    assert _litter(tmp_path) == []


def test_crash_while_adding_a_new_date_partition_rolls_it_back(
    spark, tmp_path, monkeypatch
):
    """A swap that added a partition the table did not have, and died
    before its commit (deleting the journal), is rolled back: the new
    partition directory is deleted, and the replay adds it again."""
    landing, table, ckpt = _two_day_table(spark, tmp_path)
    before = _rows(spark, table)
    _write_batch(
        str(landing / "b2.json"),
        [_record(3, "2020-08-14 00:00:00+00", "2020-08-13T18:00:00.000Z", V1)],
    )
    _crash_fs(monkeypatch, delete_suffix="__publish.journal")
    with pytest.raises(Exception, match="crash deleting"):
        run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    monkeypatch.undo()
    assert "recorded_date=2020-08-14" in _partitions(table)

    assert sorted(map(tuple, sinks.read_stored(spark, table).collect())) == before
    assert _partitions(table) == [
        "recorded_date=2020-08-12", "recorded_date=2020-08-13"
    ]
    assert _litter(tmp_path) == []

    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    assert len(_partitions(table)) == 3
    assert len(_rows(spark, table)) == 3
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
    real_merge = upsert.merge_latest_wins

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

    monkeypatch.setattr(upsert, "merge_latest_wins", counting_merge)
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
    """Renames, the temp, backup and journal paths and the journal's
    reads and writes are `sinks.py`'s alone, and the batch tick does not
    reach into the streaming module."""
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "sinks.py" and path.parent == PACKAGE:
            continue
        src = path.read_text()
        for token in (".rename(", "__prev.bak", "__publish.tmp",
                      "__publish.journal", "_journal", "writeUTF", "readUTF"):
            assert token not in src, (path, token)

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
