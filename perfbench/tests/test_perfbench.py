"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import check
import gen
import run
import workloads

BENCHMARK = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


@pytest.fixture(scope="module")
def inputs():
    return gen.generate(5, prerender=2)


def test_same_seed_same_bytes(inputs):
    again = gen.generate(5)
    assert again.checksums == inputs.checksums
    for r in range(3):
        assert again.run_file(r) == inputs.run_file(r)
    assert gen.generate(6).run_file(0) != inputs.run_file(0)


def test_run_file_decodes_to_the_expected_fields(inputs):
    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        decode_grib2_bytes,
        iter_grib2_messages,
    )

    content = inputs.run_file(3)
    for _, msg in iter_grib2_messages(content):
        s5 = gen._sections(msg)[5]
        assert int.from_bytes(msg[s5 + 9 : s5 + 11], "big") == 3  # template 5.3
    recs = decode_grib2_bytes(content)
    assert len(recs) == gen.FIELDS_PER_RUN
    for i, fh in enumerate(gen.FORECAST_HOURS):
        for j, p in enumerate(gen.PARAMS):
            hdr, data = recs[2 * i + j]["header"], recs[2 * i + j]["data"]
            assert (hdr["parameterNumber"], hdr["forecastTime"]) == (p, fh)
            assert hdr["refTime"].startswith(f"{gen.ref_time(3):%Y-%m-%dT%H}")
            assert gen.checksum(np.float32(data)) == inputs.checksums[inputs.pool_index(3, i, p)]


def _table(inputs, runs: int, older_wins=None) -> pa.Table:
    """The published table after `runs` runs, built from the generator's
    values; at key `older_wins` the second-newest run wins instead."""
    cols = {"recorded_time": [], "param": [], "ref_time": [], "data": []}
    for rec, p in inputs.expected_state(runs):
        covering = [
            (r, i) for r in range(runs) for i, fh in enumerate(gen.FORECAST_HOURS)
            if gen.ref_time(r) + timedelta(hours=fh) == rec
        ]
        r, i = sorted(covering)[-2 if (rec, p) == older_wins else -1]
        cols["recorded_time"].append(rec)
        cols["param"].append(p)
        cols["ref_time"].append(gen.ref_time(r))
        cols["data"].append(inputs.values[inputs.pool_index(r, i, p)].astype(np.float32))
    ts = pa.timestamp("us", tz="UTC")
    return pa.table({
        "recorded_time": pa.array(cols["recorded_time"], ts),
        "param": pa.array(cols["param"], pa.int32()),
        "ref_time": pa.array(cols["ref_time"], ts),
        "data": pa.array(cols["data"], pa.list_(pa.float32())),
    })


def test_checker_accepts_the_latest_wins_table(inputs, tmp_path):
    pq.write_table(_table(inputs, 3), tmp_path / "part-0.parquet")
    want = inputs.expected_state(3)
    assert check.check_table(str(tmp_path), want) == []
    assert check.check_serve(_table(inputs, 3).slice(0, 0), want) != []


def test_checker_rejects_a_table_where_the_older_run_wins(inputs, tmp_path):
    # run 2 supersedes run 1 at its first six buckets; let run 1 win one
    older = _table(inputs, 3, older_wins=(gen.ref_time(2), 3))
    pq.write_table(older, tmp_path / "part-0.parquet")
    errors = check.check_table(str(tmp_path), inputs.expected_state(3))
    assert len(errors) == 1 and "won by ref_time" in errors[0]


def test_checker_rejects_wrong_data(inputs, tmp_path):
    t = _table(inputs, 2)
    data = t["data"].to_pylist()
    data[0][17] += 0.01
    t = t.set_column(3, "data", pa.array(data, pa.list_(pa.float32())))
    pq.write_table(t, tmp_path / "part-0.parquet")
    errors = check.check_table(str(tmp_path), inputs.expected_state(2))
    assert len(errors) == 1 and "checksum" in errors[0]


def _fake_ops(traced: bool) -> list[dict]:
    layer = dict.fromkeys(run.PER_LAYER, 1.5)
    return [
        {"wall_s": 2.0 + i, "cpu_s": 5.0 + i, "traced": traced and i % 2 == 1,
         "errors": [], "bytes_in": 100.0, "fields": 16, **layer}
        for i in range(4)
    ]


@pytest.mark.parametrize("trace", [0, 1])
def test_every_benchmark_metric_is_printed_with_its_unit(trace, capsys):
    with open(BENCHMARK) as fh:
        spec = json.load(fh)
    h = workloads.Harness(None, "", None, None, bool(trace))
    h.ops = _fake_ops(bool(trace))
    result = run.summarize(h, 40.0, 7.0, bool(trace), {"codec.decode_ms_per_field": 30.0})
    run.report(result)
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(printed) == {"correct", "attempted", "failed", "metrics"}
    assert printed["attempted"] == 4 and printed["failed"] == 0
    want = spec["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in printed["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    assert all(isinstance(v["value"], float) for v in printed["metrics"].values())
