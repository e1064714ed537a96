"""Output checks: the published wind table and the serve read against
the generator's latest-wins state (`gen.Inputs.expected_state`).

The table is read straight from its parquet files with pyarrow, not
through the engine under test.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import DECIMAL_SCALE, NX, NY, _WEIGHTS

State = dict[tuple[datetime, int], tuple[datetime, int]]


def _micros(ts: datetime) -> int:
    return int(ts.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)


def _ts_micros(col: pa.ChunkedArray | pa.Array) -> list[int]:
    """A timestamp column of any unit or zone as UTC epoch microseconds."""
    us = col.cast(pa.timestamp("us", tz=col.type.tz), safe=False)
    return us.cast(pa.int64()).to_pylist()


def row_checksums(data: pa.ChunkedArray | pa.Array) -> list[int | None]:
    """`gen.checksum` of every row of a list<float> column; None for a
    row that is not one full grid."""
    arr = data.combine_chunks() if isinstance(data, pa.ChunkedArray) else data
    lengths = np.asarray(arr.value_lengths().fill_null(0))
    flat = np.asarray(arr.flatten(), dtype=np.float64)
    q = np.rint(flat * 10**DECIMAL_SCALE).astype(np.int64)
    out, at = [], 0
    for n in lengths:
        n = int(n)
        out.append(int((q[at : at + n] * _WEIGHTS).sum()) if n == NX * NY else None)
        at += n
    return out


def _compare(rows: pa.Table, want: State, what: str) -> list[str]:
    got = {}
    errors = []
    for rec, param, ref, cs in zip(
        _ts_micros(rows["recorded_time"]),
        rows["param"].to_pylist(),
        _ts_micros(rows["ref_time"]),
        row_checksums(rows["data"]),
    ):
        if (rec, param) in got:
            errors.append(f"{what}: duplicate key ({rec}, {param})")
        got[(rec, param)] = (ref, cs)
    want_m = {(_micros(k[0]), k[1]): (_micros(v[0]), v[1]) for k, v in want.items()}
    for key in sorted(set(want_m) - set(got)):
        errors.append(f"{what}: missing key {key}")
    for key in sorted(set(got) - set(want_m)):
        errors.append(f"{what}: unexpected key {key}")
    for key in sorted(set(got) & set(want_m)):
        (g_ref, g_cs), (w_ref, w_cs) = got[key], want_m[key]
        if g_ref != w_ref:
            errors.append(f"{what}: key {key} won by ref_time {g_ref}, want {w_ref}")
        elif g_cs != w_cs:
            errors.append(f"{what}: key {key} data checksum {g_cs}, want {w_cs}")
    return errors


def check_table(table_path: str, want: State) -> list[str]:
    """Every mismatch between the published table and `want`."""
    rows = pq.read_table(
        table_path, columns=["recorded_time", "param", "ref_time", "data"]
    )
    return _compare(rows, want, "table")


def newest(want: State) -> State:
    """The serve read's expected answer: the newest bucket's U and V."""
    top = max(k[0] for k in want)
    return {k: v for k, v in want.items() if k[0] == top}


def check_serve(rows: pa.Table, want: State) -> list[str]:
    return _compare(rows, newest(want), "serve")
