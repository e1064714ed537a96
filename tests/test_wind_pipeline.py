"""Reference-parity tests for the wind pipeline (SURVEY.md §5 tests
#2-#4): fixture-shaped ingestion, latest-wins upsert semantics, the
streaming wrapper end-to-end, grid math, discovery, and retention.

Fixture records are synthesized in the exact decoded-JSON shape of the
reference's committed outputs (data/wind_data.json — a JSON array of
{header, recordedTime, data}; see FIXTURES.md §A1). Values are tiny
(3×2 grids) so assertions are hand-checkable.
"""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from mints_wind_data_ingestion_spark.functions.wind import (
    cell_lat,
    cell_lon,
    direction_deg,
    explode_grid,
    speed,
)
from mints_wind_data_ingestion_spark.operators.discovery import (
    candidates,
    freshest_available,
)
from mints_wind_data_ingestion_spark.operators.retention import (
    expired_partitions,
    retain_recent,
)
from mints_wind_data_ingestion_spark.operators.upsert import merge_latest_wins
from mints_wind_data_ingestion_spark.sources.wind_json import (
    read_wind_json,
    to_wind_table,
)
from mints_wind_data_ingestion_spark.streaming.pipeline import run_ingest_stream


def _record(param: int, recorded: str, ref: str, data: list[float]) -> dict:
    """A wind-component record in the reference's decoded-JSON shape
    (only the fields the pipeline reads; the rest of the 48-key header
    is legitimately absent → NULL under schema-on-write)."""
    return {
        "header": {
            "parameterNumber": param,
            "refTime": ref,
            "forecastTime": 6,
            "surface1Type": 103,
            "surface1Value": 10.0,
            "nx": 3,
            "ny": 2,
            "numberPoints": 6,
            "la1": 90.0,
            "lo1": 0.0,
            "dx": 1.0,
            "dy": 1.0,
            "scanMode": 0,
        },
        "recordedTime": recorded,
        "data": data,
    }


U1 = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
V1 = [0.5, 1.5, 2.5, 3.5, 4.5, 5.5]


def _write_batch(path: str, records: list[dict]) -> None:
    with open(path, "w") as fo:
        json.dump(records, fo)


@pytest.fixture()
def batch1(tmp_path):
    p = str(tmp_path / "batch1.json")
    _write_batch(
        p,
        [
            _record(2, "2020-08-12 12:00:00+00", "2020-08-12T06:00:00.000Z", U1),
            _record(3, "2020-08-12 12:00:00+00", "2020-08-12T06:00:00.000Z", V1),
        ],
    )
    return p


def test_wind_json_parse(spark, batch1):
    """S3 + F3 parity: schema-on-write read, both reference timestamp
    encodings parse, filter/join keys lifted from the header."""
    tbl = to_wind_table(read_wind_json(spark, batch1))
    rows = {r.param: r for r in tbl.collect()}
    assert set(rows) == {2, 3}
    u = rows[2]
    assert str(u.recorded_time) == "2020-08-12 12:00:00"
    assert str(u.ref_time) == "2020-08-12 06:00:00"
    assert u.forecast_hours == 6
    assert u.header.surface1Type == 103
    assert u.data == U1


def _tbl(spark, rows):
    return spark.createDataFrame(rows, "k string, param int, ref int, payload string")


def test_merge_latest_wins_semantics(spark):
    """J4/F7: newer version replaces, equal-or-older keeps stored
    (strict `<` staleness test of converter.py:163-167)."""
    stored = _tbl(spark, [("t1", 2, 6, "old-u"), ("t1", 3, 6, "old-v")])
    batch = _tbl(
        spark,
        [
            ("t1", 2, 12, "new-u"),  # newer → replace
            ("t1", 3, 6, "dup-v"),  # equal → stored wins
            ("t2", 2, 0, "ins-u"),  # absent key → insert
            ("t3", 2, 6, "new-t3"),  # two batch versions of one key:
            ("t3", 2, 0, "old-t3"),  # the newer wins
        ],
    )
    out = {
        (r.k, r.param): r.payload
        for r in merge_latest_wins(
            stored, batch, keys=["k", "param"], version="ref"
        ).collect()
    }
    assert out == {
        ("t1", 2): "new-u",
        ("t1", 3): "old-v",
        ("t2", 2): "ins-u",
        ("t3", 2): "new-t3",
    }


def test_merge_latest_wins_idempotent(spark):
    """§5 test 4: applying the same batch twice equals applying once."""
    stored = _tbl(spark, [("t1", 2, 6, "a")])
    batch = _tbl(spark, [("t1", 2, 12, "b"), ("t2", 3, 6, "c")])
    once = merge_latest_wins(stored, batch, keys=["k", "param"], version="ref")
    twice = merge_latest_wins(once, batch, keys=["k", "param"], version="ref")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_streaming_ingest_latest_wins(spark, tmp_path):
    """T1/T3/T6 end-to-end: availableNow micro-batches through
    foreachBatch merge; a later file with a newer forecast run replaces
    the stored batch, an equal-or-older one is a no-op."""
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
    t1 = spark.read.parquet(table)
    assert t1.count() == 2
    assert {str(r.ref_time) for r in t1.collect()} == {"2020-08-12 06:00:00"}

    # newer run for the same bucket → replace; stale V record → no-op
    u2 = [x + 10 for x in U1]
    _write_batch(
        str(landing / "b2.json"),
        [
            _record(2, "2020-08-12 12:00:00+00", "2020-08-12T12:00:00.000Z", u2),
            _record(3, "2020-08-12 12:00:00+00", "2020-08-12T00:00:00.000Z", V1),
        ],
    )
    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    t2 = {r.param: r for r in spark.read.parquet(table).collect()}
    assert len(t2) == 2
    assert str(t2[2].ref_time) == "2020-08-12 12:00:00" and t2[2].data == u2
    assert str(t2[3].ref_time) == "2020-08-12 06:00:00" and t2[3].data == V1

    # replay with no new files → unchanged (checkpoint skips old ones)
    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    t3 = {r.param: str(r.ref_time) for r in spark.read.parquet(table).collect()}
    assert t3 == {2: "2020-08-12 12:00:00", 3: "2020-08-12 06:00:00"}


def test_streaming_merge_is_crash_safe(spark, tmp_path, monkeypatch):
    """The epoch merge must never overwrite the path it reads: the
    merged partitions are fully written to a temp dir, then published
    by a journaled swap (per partition live → __prev.bak, tmp → live;
    then drop the journal and the backup). A crash between a
    partition's two renames leaves the old partition at the backup
    path and the journal in place — the next epoch (or any reader
    calling read_stored) restores it."""
    import os

    from mints_wind_data_ingestion_spark import sinks
    from mints_wind_data_ingestion_spark.sinks import publish, read_stored

    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "wind_table")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(
        str(landing / "b1.json"),
        [_record(2, "2020-08-12 12:00:00+00", "2020-08-12T06:00:00.000Z", U1)],
    )
    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    before = sorted(map(tuple, spark.read.parquet(table).collect()))
    part = os.path.join(table, "recorded_date=2020-08-12")

    def litter():
        return [p for p in os.listdir(tmp_path) if p.endswith((".tmp", ".bak", ".journal"))]

    # no temp/backup/journal litter after a healthy epoch
    assert not os.path.exists(table + "__prev.bak")
    assert litter() == []

    # the worst crash point: the live partition renamed away, the new
    # one not yet in (the third rename, after the journal's and the
    # partition's live → backup)
    real_fs, renames = sinks._hadoop_fs, []

    class CrashOnThirdRename:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            renames.append(dst)
            if len(renames) == 3:
                raise RuntimeError("crash between the renames")
            return self._fs.rename(src, dst)

    monkeypatch.setattr(
        sinks, "_hadoop_fs",
        lambda spark_, path: (CrashOnThirdRename(real_fs(spark_, path)[0]),
                              real_fs(spark_, path)[1]),
    )
    _write_batch(
        str(landing / "b2.json"),
        [_record(2, "2020-08-12 12:00:00+00", "2020-08-12T12:00:00.000Z", V1)],
    )
    with pytest.raises(Exception, match="crash between the renames"):
        run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    monkeypatch.undo()
    assert not os.path.exists(part)
    assert os.path.exists(table + "__prev.bak/recorded_date=2020-08-12")
    assert sorted(map(tuple, read_stored(spark, table).collect())) == before
    assert sorted(map(tuple, spark.read.parquet(table).collect())) == before
    assert litter() == []

    # publishing new partitions via the swap keeps old state until the
    # new ones are durable — even when they are a plan over the old
    newer = spark.read.parquet(table).withColumn("param", F.col("param") + 100)
    publish(newer, table, partition_by="recorded_date")
    assert {r.param for r in spark.read.parquet(table).collect()} == {102}
    assert litter() == []

    # the replayed epoch merges its batch into the published table
    run_ingest_stream(spark, str(landing), table, ckpt).awaitTermination(120)
    got = {r.param: r.data for r in spark.read.parquet(table).collect()}
    assert got == {102: U1, 2: V1}
    assert litter() == []


def test_grid_explode_and_vector_math(spark, batch1):
    """C13/C14/J2: index→lat/lon for scanMode 0, per-cell U⋈V zip,
    speed and meteorological direction."""
    tbl = to_wind_table(read_wind_json(spark, batch1))
    # nx=3: idx 0..5 → lat 90,90,90,89,89,89; lon 0,1,2,0,1,2
    cells = (
        explode_grid(tbl.filter(F.col("param") == 2), "data")
        .withColumn("lat", cell_lat(F.col("idx"), nx=3))
        .withColumn("lon", cell_lon(F.col("idx"), nx=3))
    )
    got = {r.idx: (r.lat, r.lon, r.value) for r in cells.collect()}
    assert got[0] == (90.0, 0.0, 1.0)
    assert got[4] == (89.0, 1.0, 5.0)

    u = tbl.filter(F.col("param") == 2).select("recorded_time", "data")
    v = tbl.filter(F.col("param") == 3).select(
        "recorded_time", F.col("data").alias("vdata")
    )
    paired = (
        u.join(v, "recorded_time")
        .select(F.posexplode(F.arrays_zip("data", "vdata")).alias("idx", "uv"))
        .select(
            "idx",
            speed(F.col("uv.data"), F.col("uv.vdata")).alias("spd"),
            direction_deg(F.col("uv.data"), F.col("uv.vdata")).alias("dir"),
        )
    )
    rows = {r.idx: r for r in paired.collect()}
    assert rows[0].spd == pytest.approx(math.hypot(1.0, 0.5))
    # u>0, v>0 → wind FROM the south-west: 180 < dir < 270
    assert 180 < rows[0].dir < 270


def test_discovery_candidates_and_top1(spark):
    """A3/O1: declarative backtracking — 40 ranked 6 h run candidates,
    semi-join against availability, top-1 by recency. Includes the
    reference-bug fix: forecast offset advances as runs recede
    (converter.py:132 kept it frozen)."""
    cands = candidates(spark, "2020-02-29 13:45:00")  # leap day on purpose
    rows = {r.rank: r for r in cands.collect()}
    assert len(rows) == 40
    assert str(rows[0].run_ts) == "2020-02-29 12:00:00"
    assert rows[0].forecast_hours == 0  # obs bucket 12:00 − run 12:00
    assert str(rows[1].run_ts) == "2020-02-29 06:00:00"
    assert rows[1].forecast_hours == 6  # offset ADVANCES (bug fix)
    assert str(rows[4].run_ts) == "2020-02-28 12:00:00"  # leap-day rollback
    assert rows[0].url_path == "gfs.20200229/12/atmos/gfs.t12z.pgrb2.1p00.f000"

    avail = spark.createDataFrame(
        [("2020-02-29 00:00:00",), ("2020-02-28 18:00:00",)], "run_ts string"
    ).select(F.col("run_ts").cast("timestamp"))
    best = freshest_available(cands, avail).collect()
    assert len(best) == 1
    assert str(best[0].run_ts) == "2020-02-29 00:00:00"  # newest available


def test_retention_window(spark):
    """F5/S7: logical retention filter + the partition list a
    maintenance job would drop."""
    df = spark.createDataFrame(
        [("2020-08-12 12:00:00",), ("2020-08-06 00:00:00",), ("2020-08-01 00:00:00",)],
        "recorded_time string",
    ).select(F.col("recorded_time").cast("timestamp"))
    anchor = F.lit("2020-08-12 12:00:00").cast("timestamp")
    kept = retain_recent(df, anchor=anchor)
    assert kept.count() == 2
    dropped = expired_partitions(df, anchor=anchor)
    assert [str(r.partition_date) for r in dropped.collect()] == ["2020-08-01"]


def test_salted_join_equivalence(spark):
    """Salted join must equal the plain join on skewed data (one key
    holding 90% of rows)."""
    from mints_wind_data_ingestion_spark.operators.skew import (
        salted_agg_count,
        salted_join,
    )

    left = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.createDataFrame(
        [("hot", 1), ("k950", 2), ("cold", 3)], "k string, rv int"
    )
    plain = left.join(right, "k").groupBy("k").count()
    salted = salted_join(left, right, "k").groupBy("k").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    counts = {r.k: r.cnt for r in salted_agg_count(left, "k").collect()}
    assert counts["hot"] == 900 and len(counts) == 101


def test_salted_join_rejects_right_preserving_joins(spark):
    """The right side is replicated `salt` times, so right/full outer
    would emit each unmatched right row `salt` times — reject loudly
    instead of returning silently wrong results."""
    import pytest as _pytest

    from mints_wind_data_ingestion_spark.operators.skew import salted_join

    left = spark.createDataFrame([("a", 1)], "k string, lv int")
    right = spark.createDataFrame([("a", 2), ("b", 3)], "k string, rv int")
    for bad in ("right", "right_outer", "full", "full_outer", "outer"):
        with _pytest.raises(ValueError, match="left-preserving"):
            salted_join(left, right, "k", how=bad)
    # left-preserving types still work
    assert salted_join(left, right, "k", how="left_anti").count() == 0
    assert salted_join(left, right, "k", how="left_semi").count() == 1


def test_simhash_fingerprints_match_simhash64(spark):
    """The scalable explode+sum fingerprint plan must be bit-identical
    to the per-row simhash64 expression — including the edge cases:
    empty array → 0 (no tally, no bit set), NULL array → NULL. The
    explode_outer bug class (xxhash64(NULL) giving every empty doc the
    same non-zero fingerprint, pairing them all at Hamming 0) stays
    dead."""
    from mints_wind_data_ingestion_spark.operators.dedup import (
        simhash64,
        simhash_fingerprints,
    )

    docs = spark.createDataFrame(
        [
            (1, ["the", "quick", "brown", "fox"]),
            (2, ["the", "quick", "brown", "fax"]),
            (3, ["completely", "different", "tokens"]),
            (4, []),  # empty: simhash64 -> 0
            (5, []),  # second empty: must NOT pair with 4 at hamming 0 via a fake fingerprint
            (6, None),  # NULL array: simhash64 -> NULL
            (7, ["single"]),
        ],
        "doc_id long, shingles array<string>",
    )
    expr = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", simhash64(F.col("shingles")).alias("s")
        ).collect()
    }
    plan = {
        r.doc_id: r.simhash
        for r in simhash_fingerprints(docs, "doc_id", "shingles").collect()
    }
    assert expr == plan
    assert plan[4] == 0 and plan[5] == 0 and plan[6] is None
