"""Seeded GRIB2 input generator and the latest-wins oracle it implies.

Every input of a run derives from its seed: a pool of wind fields on the
GFS 1-degree grid (360 x 181), each encoded once with complex packing and
second-order spatial differencing (template 5.3, the NOAA wire format).
A forecast run is one file of 8 forecast hours x U/V messages. Runs are
6 hours apart and forecast hours 3 hours apart, so 6 of a run's 8
observation buckets supersede the previous run.

Encoding one 5.3 field costs about 0.1 s of pure Python, so a run's
messages reuse the pool's packed data sections: each message takes
sections 1-4 (reference time, forecast hour, parameter, grid) from a
cheap encoding of an all-zero field and sections 5-7 (the packed data)
from its pool entry. The engine's own encoder builds every section.

The program under test receives only the files. The oracle side is
`expected_state`, the latest-wins table the generator implies, compared
against the published table by `check_table` through a checksum of the
data quantized to the 0.01 m/s encoding precision.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

NX, NY = 360, 181
FORECAST_HOURS = tuple(range(0, 24, 3))
PARAMS = (2, 3)  # U and V wind at 10 m
RUN_STEP = timedelta(hours=6)
FIRST_REF = datetime(2024, 1, 1)
FIELDS_PER_RUN = len(FORECAST_HOURS) * len(PARAMS)
POOL_SIZE = 8
DECIMAL_SCALE = 2
_WEIGHTS = (np.arange(NX * NY, dtype=np.int64) % 9973) + 1


def ref_time(run: int) -> datetime:
    return FIRST_REF + run * RUN_STEP


def checksum(values: np.ndarray) -> int:
    """Position-weighted sum of values quantized to the encoding's 0.01
    step. Decoded float32 values round back to the same integers."""
    q = np.rint(np.asarray(values, dtype=np.float64) * 10**DECIMAL_SCALE)
    return int((q.astype(np.int64) * _WEIGHTS).sum())


def _pool_field(rng: np.random.Generator) -> np.ndarray:
    """A smooth planetary-wave wind field plus small-scale noise, in m/s,
    on the exact 0.01 grid the packing preserves."""
    lon = np.radians(np.arange(NX, dtype=np.float64))[None, :]
    lat = np.radians(90.0 - np.arange(NY, dtype=np.float64))[:, None]
    f = np.zeros((NY, NX))
    for _ in range(4):
        k = rng.integers(1, 7)
        f += rng.uniform(2.0, 8.0) * np.cos(lat) ** 2 * np.sin(
            k * lon + rng.uniform(0.0, 2 * np.pi)
        ) * np.cos(rng.integers(1, 4) * lat + rng.uniform(0.0, np.pi))
    f += rng.normal(0.0, 0.4, size=f.shape)
    return np.round(f.ravel(), DECIMAL_SCALE)


def _sections(msg: bytes) -> dict[int, int]:
    """Offset of each section of one GRIB2 message, by section number."""
    out, pos = {}, 16
    while msg[pos : pos + 4] != b"7777":
        out[msg[pos + 4]] = pos
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    return out


def _splice(header_msg: bytes, data_msg: bytes) -> bytes:
    """Sections 1-4 of `header_msg` followed by sections 5-7 and the end
    marker of `data_msg`, under a section 0 with the new total length."""
    body = (
        header_msg[16 : _sections(header_msg)[5]]
        + data_msg[_sections(data_msg)[5] :]
    )
    return header_msg[:8] + (16 + len(body)).to_bytes(8, "big") + body


@dataclass
class Inputs:
    """One seed's generated inputs: `run_file(r)` is forecast run r."""

    seed: int
    values: list[np.ndarray] = field(default_factory=list)
    checksums: list[int] = field(default_factory=list)
    packed: list[bytes] = field(default_factory=list)
    files: dict[int, bytes] = field(default_factory=dict)

    def pool_index(self, run: int, fh_idx: int, param: int) -> int:
        # consecutive runs differ in every bucket they share: an older
        # winner never carries the newer winner's checksum
        return (self.seed + 7 * run + 3 * fh_idx + 11 * (param - 2)) % POOL_SIZE

    def run_file(self, run: int) -> bytes:
        if run in self.files:
            return self.files[run]
        from mints_wind_data_ingestion_spark.sources.grib2codec import (
            encode_grib2_file,
            encode_grib2_message,
        )

        zeros = np.zeros(NX * NY)
        msgs = []
        for i, fh in enumerate(FORECAST_HOURS):
            for p in PARAMS:
                head = encode_grib2_message(
                    zeros, parameter_number=p, ref_time=ref_time(run),
                    forecast_hours=fh, nx=NX, ny=NY, packing="simple",
                )
                msgs.append(_splice(head, self.packed[self.pool_index(run, i, p)]))
        return encode_grib2_file(msgs)

    def expected_state(self, runs: int) -> dict[tuple[datetime, int], tuple[datetime, int]]:
        """(recorded_time, param) -> (winning ref_time, data checksum)
        after runs 0..runs-1 are published: the newest run wins."""
        state = {}
        for r in range(runs):
            for i, fh in enumerate(FORECAST_HOURS):
                for p in PARAMS:
                    state[(ref_time(r) + timedelta(hours=fh), p)] = (
                        ref_time(r), self.checksums[self.pool_index(r, i, p)]
                    )
        return state


def generate(seed: int, prerender: int = 0) -> Inputs:
    """Draw and encode the field pool of `seed` (about 1 s), and build
    the files of runs 0..prerender-1 ahead of time."""
    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        encode_grib2_message,
    )

    rng = np.random.default_rng(
        int.from_bytes(hashlib.sha256(f"windflow-perfbench-{seed}".encode()).digest()[:8], "big")
    )
    inputs = Inputs(seed=seed)
    for _ in range(POOL_SIZE):
        v = _pool_field(rng)
        inputs.values.append(v)
        inputs.checksums.append(checksum(v))
        inputs.packed.append(
            encode_grib2_message(
                v, parameter_number=PARAMS[0], ref_time=FIRST_REF,
                nx=NX, ny=NY, decimal_scale=DECIMAL_SCALE, packing="complex_diff",
            )
        )
    inputs.files = {r: inputs.run_file(r) for r in range(prerender)}
    return inputs


def land(path: str, content: bytes) -> None:
    """Write a file so that a directory listing sees all of it or none:
    write beside it under a dot name (file sources skip those), then
    rename."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".part")
    with open(tmp, "wb") as fh:
        fh.write(content)
    os.rename(tmp, path)
