"""Reduced (thinned) Gaussian grids — template 3.40 with Ni missing
and a points-per-row optional list (section 3 octets 11-12 / 73+):
the ECMWF operational O-grid family (r8, VERDICT r7 #5).

Before r8 a reduced-Gaussian message sailed past the Nj==2N check and
decoded with nx = the 0xFFFFFFFF "missing" sentinel — silent garbage,
not a quarantine. Now: full decode (reducedPoints header, values
row-major), a vectorized per-point lat/lon helper for the non-uniform
rows, and loud quarantines for every malformed-list class.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pytest

from mints_wind_data_ingestion_spark.sources.grib2codec import (
    decode_grib2_bytes,
    encode_grib2_message,
    gaussian_latitudes,
    reduced_gaussian_latlon,
    scan_grib2_bytes,
)

RT = datetime(2024, 3, 1, 6, tzinfo=timezone.utc)
#: a toy O-grid: N=3 (6 rows), octahedral-ish thinning toward poles
COUNTS = [4, 8, 12, 12, 8, 4]


def _msg(counts=None, **kw):
    counts = COUNTS if counts is None else counts
    vals = (np.arange(sum(counts)) * 0.25) % 50
    args = dict(
        parameter_number=2, ref_time=RT, nx=0, ny=len(counts),
        gaussian_n=len(counts) // 2, gaussian_reduced=counts,
        scan_mode=0, packing="simple", nbits=12, decimal_scale=2,
    )
    args.update(kw)
    return vals, encode_grib2_message(vals, **args)


def _sec3(msg: bytes) -> int:
    o = 16
    while msg[o + 4] != 3:
        o += int.from_bytes(msg[o : o + 4], "big")
    return o


def test_reduced_roundtrip_header_and_values():
    vals, msg = _msg()
    rec = decode_grib2_bytes(msg)[0]
    h = rec["header"]
    assert h["gridDefinitionTemplate"] == 40
    assert h["reducedPoints"] == COUNTS
    assert h["nx"] is None  # Ni is the WMO missing sentinel
    assert h["ny"] == 6 and h["gaussianN"] == 3
    assert h["dx"] is None and h["dy"] is None  # per-row spacing
    assert h["numberPoints"] == sum(COUNTS)
    lats = gaussian_latitudes(3)
    assert h["la1"] == pytest.approx(float(lats[0]), abs=1e-5)
    assert h["la2"] == pytest.approx(float(lats[-1]), abs=1e-5)
    # Lo2 closes the widest (equatorial) row: 360 - 360/12
    assert h["lo2"] == pytest.approx(330.0, abs=1e-5)
    assert np.allclose(rec["data"], vals, atol=0.01)


def test_regular_gaussian_keeps_null_reduced_points():
    """Stable WIND_HEADER key set: regular 3.40 (and 3.0) messages
    carry reducedPoints=None and a real nx."""
    vals = [float(i % 7) for i in range(8 * 6)]
    h = decode_grib2_bytes(encode_grib2_message(
        vals, parameter_number=2, ref_time=RT, nx=8, ny=6, dx=45.0,
        gaussian_n=3,
    ))[0]["header"]
    assert h["reducedPoints"] is None and h["nx"] == 8
    h0 = decode_grib2_bytes(encode_grib2_message(
        vals, parameter_number=2, ref_time=RT, nx=8, ny=6,
    ))[0]["header"]
    assert h0["reducedPoints"] is None and h0["nx"] == 8


def test_reduced_latlon_helper():
    lat, lon = reduced_gaussian_latlon(COUNTS)
    assert lat.size == lon.size == sum(COUNTS)
    lats = gaussian_latitudes(3)
    # row latitudes repeat per count, north-first
    assert np.allclose(lat[:4], lats[0])
    assert np.allclose(lat[4:12], lats[1])
    assert np.allclose(lat[-4:], lats[-1])
    # row longitudes: full circle / count
    assert np.allclose(lon[:4], [0.0, 90.0, 180.0, 270.0])
    assert np.allclose(lon[4:12], np.arange(8) * 45.0)
    # south-first mirrors rows, lo1 offsets longitudes
    lat_s, lon_s = reduced_gaussian_latlon(COUNTS, lo1=10.0,
                                           north_first=False)
    assert np.allclose(lat_s[:4], lats[-1])
    assert np.allclose(lon_s[:4], [10.0, 100.0, 190.0, 280.0])


def test_reduced_latlon_validates():
    with pytest.raises(ValueError, match="even-length"):
        reduced_gaussian_latlon([4, 8, 4])
    with pytest.raises(ValueError, match=">= 1 point"):
        reduced_gaussian_latlon([4, 0])


def test_encoder_validations():
    vals = np.zeros(sum(COUNTS))
    with pytest.raises(ValueError, match="requires gaussian_n"):
        encode_grib2_message(vals, parameter_number=2, ref_time=RT,
                             nx=0, ny=6, gaussian_reduced=COUNTS)
    with pytest.raises(ValueError, match="2N"):
        encode_grib2_message(vals, parameter_number=2, ref_time=RT,
                             nx=0, ny=6, gaussian_n=2,
                             gaussian_reduced=COUNTS)
    with pytest.raises(ValueError, match="reduced grid of"):
        encode_grib2_message(np.zeros(10), parameter_number=2,
                             ref_time=RT, nx=0, ny=6, gaussian_n=3,
                             gaussian_reduced=COUNTS)
    with pytest.raises(ValueError, match="PNG"):
        encode_grib2_message(vals, parameter_number=2, ref_time=RT,
                             nx=0, ny=6, gaussian_n=3,
                             gaussian_reduced=COUNTS, packing="png")


def test_quarantine_sum_mismatch():
    """A count octet that no longer sums to numberPoints fail-louds in
    decode and quarantines in the scan path."""
    _, msg = _msg()
    ba = bytearray(msg)
    ba[_sec3(msg) + 72 + 3] = 99  # first count 4 -> huge
    with pytest.raises(ValueError, match="sums to"):
        decode_grib2_bytes(bytes(ba))
    out = scan_grib2_bytes(bytes(ba))
    assert out[0]["record"] is None and "sums to" in out[0]["error"]


def test_quarantine_list_on_non_gaussian_template():
    """An optional list on 3.0 (or any non-3.40 template) is out of
    family — loud, never nx=0xFFFFFFFF garbage."""
    vals = [float(i) for i in range(12)]
    msg = bytearray(encode_grib2_message(
        vals, parameter_number=2, ref_time=RT, nx=4, ny=3,
    ))
    msg[_sec3(bytes(msg)) + 10] = 4
    with pytest.raises(ValueError, match="Gaussian-only"):
        decode_grib2_bytes(bytes(msg))


def test_quarantine_bad_interpretation_and_width():
    _, msg = _msg()
    o3 = _sec3(msg)
    ba = bytearray(msg)
    ba[o3 + 11] = 3  # table 3.11: not points-per-row
    with pytest.raises(ValueError, match="interpretation"):
        decode_grib2_bytes(bytes(ba))
    ba = bytearray(msg)
    ba[o3 + 10] = 3  # no 3-octet entries
    with pytest.raises(ValueError, match="entry width"):
        decode_grib2_bytes(bytes(ba))


def test_quarantine_truncated_list():
    """Claiming a list the section is too short to hold must not read
    into the next section."""
    vals = [float(i % 7) for i in range(8 * 6)]
    msg = encode_grib2_message(
        vals, parameter_number=2, ref_time=RT, nx=8, ny=6, dx=45.0,
        gaussian_n=3,
    )  # regular: section 3 is exactly 72 octets
    ba = bytearray(msg)
    ba[_sec3(msg) + 10 : _sec3(msg) + 12] = bytes([4, 1])
    with pytest.raises(ValueError, match="needs"):
        decode_grib2_bytes(bytes(ba))


def test_reduced_scan_e2e(spark):
    """A reduced-Gaussian message scans through the Arrow UDTF path:
    reducedPoints lands as array<int> in the header struct, and a
    numpy pass over the decoded rows (the documented scale path for
    non-uniform rows) reproduces per-row means."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.sources.grib import (
        make_selector,
        scan_binary_df,
    )

    vals, msg = _msg()
    bdf = spark.createDataFrame([("ogrid.grib2", bytearray(msg))],
                                "path string, content binary")
    row = scan_binary_df(bdf, selector=make_selector()).select(
        F.col("header.reducedPoints").alias("rp"),
        F.col("header.nx").alias("nx"),
        F.col("header.gaussianN").alias("n"),
        "data",
    ).collect()[0]
    assert row["rp"] == COUNTS and row["nx"] is None and row["n"] == 3
    lat, lon = reduced_gaussian_latlon(row["rp"])
    data = np.asarray(row["data"], dtype=np.float64)
    assert data.size == lat.size
    # per-row mean via the helper's lat grouping == direct slicing
    offs = np.concatenate([[0], np.cumsum(COUNTS)])
    for j, c in enumerate(COUNTS):
        seg = data[offs[j] : offs[j + 1]]
        got = data[np.isclose(lat, gaussian_latitudes(3)[j])].mean()
        assert got == pytest.approx(seg.mean(), abs=1e-6)


def _with_entry_width(msg: bytes, width: int) -> bytes:
    """Rewrite the (4-octet-entry) points-per-row list as
    `width`-octet entries, fixing section 3 and message lengths —
    ECMWF operational files commonly use 2-octet entries."""
    o3 = _sec3(msg)
    slen3 = int.from_bytes(msg[o3 : o3 + 4], "big")
    nj = int.from_bytes(msg[o3 + 34 : o3 + 38], "big")
    counts = [
        int.from_bytes(msg[o3 + 72 + 4 * j : o3 + 76 + 4 * j], "big")
        for j in range(nj)
    ]
    sec = bytearray(msg[o3 : o3 + 72])
    sec[10] = width
    for c in counts:
        sec += c.to_bytes(width, "big")
    sec[0:4] = len(sec).to_bytes(4, "big")
    out = msg[:o3] + bytes(sec) + msg[o3 + slen3 :]
    return out[:8] + len(out).to_bytes(8, "big") + out[16:]


@pytest.mark.parametrize("width", [1, 2])
def test_narrow_list_entry_widths_decode(width):
    """1- and 2-octet points-per-row entries decode identically to the
    4-octet form the encoder emits."""
    vals, msg = _msg()
    rec4 = decode_grib2_bytes(msg)[0]
    rec = decode_grib2_bytes(_with_entry_width(msg, width))[0]
    assert rec["header"]["reducedPoints"] == COUNTS
    assert rec["header"]["nx"] is None
    assert np.array_equal(rec["data"], rec4["data"])
