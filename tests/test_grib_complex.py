"""GRIB2 complex packing (templates 5.2/5.3) — closes VERDICT r3
"What's missing" #1: real NOAA pgrb2 files are predominantly
complex-packed with spatial differencing (the reference decodes them
via its vendored grib2json JAR, converter.py:49-53); this pins the
pure-numpy codec's decode+encode for the same template family.

Round-trip tests use the encoder to build REAL binary complex-packed
messages (no network in the sandbox), the golden test replays the
reference's own 65k-point GFS field through templates 5.0 and 5.3
(skipped without the reference checkout; a synthetic 360×181 field
keeps its header and shape checks running), and the
e2e test in test_grib_e2e.py feeds a mixed-packing corpus through the
binaryFile + mapInArrow source.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest

from mints_wind_data_ingestion_spark.sources.grib2codec import (
    decode_grib2_bytes,
    encode_grib2_file,
    encode_grib2_message,
)
from tests.test_golden_fixture import FIXTURE

RT = dt.datetime(2020, 8, 12, 6, tzinfo=dt.timezone.utc)


def _smooth_field(nx: int, ny: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    xx, yy = np.meshgrid(np.arange(nx), np.arange(ny))
    return (
        10 * np.sin(xx / 9.0) + 5 * np.cos(yy / 7.0)
        + rng.normal(0, 0.8, (ny, nx))
    ).reshape(-1)


@pytest.mark.parametrize("packing", ["complex", "complex_diff", "complex_diff1"])
def test_complex_roundtrip_within_quantization(packing):
    field = _smooth_field(60, 40)
    msg = encode_grib2_message(
        field, parameter_number=2, ref_time=RT, nx=60, ny=40,
        decimal_scale=2, packing=packing,
    )
    rec = decode_grib2_bytes(msg)[0]
    got = np.asarray(rec["data"])
    assert np.abs(got - field).max() <= 0.5 * 10**-2 + 1e-9
    # headers identical to the simple-packed encode of the same field
    simple = decode_grib2_bytes(
        encode_grib2_message(
            field, parameter_number=2, ref_time=RT, nx=60, ny=40,
            decimal_scale=2,
        )
    )[0]["header"]
    diffs = {
        k for k, v in rec["header"].items()
        if simple.get(k) != v and k != "gribLength"
    }
    assert diffs == set()


def test_spatial_differencing_beats_simple_on_smooth_fields():
    """The point of template 5.3: smooth fields (like real wind grids)
    compress better through second differences."""
    field = _smooth_field(120, 80)
    kw = dict(parameter_number=2, ref_time=RT, nx=120, ny=80, decimal_scale=2)
    simple = encode_grib2_message(field, **kw)
    diffed = encode_grib2_message(field, packing="complex_diff", **kw)
    assert len(diffed) < len(simple)


def test_complex_negative_and_constant_fields():
    neg = np.array([-40.5, -0.25, 0.0, 12.75, 99.99, -99.99, 3.5, -3.5])
    msg = encode_grib2_message(
        neg, parameter_number=3, ref_time=RT, nx=4, ny=2,
        packing="complex_diff",
    )
    got = np.asarray(decode_grib2_bytes(msg)[0]["data"])
    assert np.abs(got - neg).max() <= 0.5 * 10**-2 + 1e-9

    const = np.full(12, 7.25)
    msg2 = encode_grib2_message(
        const, parameter_number=2, ref_time=RT, nx=4, ny=3,
        packing="complex",
    )
    got2 = np.asarray(decode_grib2_bytes(msg2)[0]["data"])
    assert np.abs(got2 - const).max() <= 1e-9


def test_mixed_packing_multi_message_file():
    f1, f2 = _smooth_field(12, 6, 1), _smooth_field(12, 6, 2)
    blob = encode_grib2_file([
        encode_grib2_message(f1, parameter_number=2, ref_time=RT,
                             nx=12, ny=6),
        encode_grib2_message(f2, parameter_number=3, ref_time=RT,
                             nx=12, ny=6, packing="complex_diff"),
    ])
    recs = decode_grib2_bytes(blob)
    assert [r["header"]["parameterNumber"] for r in recs] == [2, 3]
    assert np.abs(np.asarray(recs[1]["data"]) - f2).max() <= 0.5e-2 + 1e-9


GOLDEN = os.path.join(os.path.dirname(FIXTURE), "u_comp.json")


@pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason="reference fixture not available"
)
@pytest.mark.parametrize("packing", ["simple", "complex_diff"])
def test_golden_field_roundtrip(packing):
    """The reference's own 65,160-point GFS U field (data/u_comp.json)
    re-encoded at decimal scale 6 through simple (5.0) and complex
    spatial-differencing (5.3) packing: values match grib2json's decode
    within half a quantization step, and every header key grib2json
    emitted decodes identically (gribLength aside — we re-packed at a
    different precision than NCEP's original file)."""
    import json

    g = json.load(open(GOLDEN))[0]
    h, data = g["header"], np.asarray(g["data"], dtype=np.float64)
    msg = encode_grib2_message(
        data,
        parameter_number=h["parameterNumber"],
        ref_time=RT,
        forecast_hours=h["forecastTime"],
        nx=h["nx"], ny=h["ny"], la1=h["la1"], lo1=h["lo1"],
        dx=h["dx"], dy=h["dy"], decimal_scale=6,
        packing=packing,
    )
    rec = decode_grib2_bytes(msg)[0]
    assert np.abs(np.asarray(rec["data"]) - data).max() <= 1e-6
    diffs = {k: v for k, v in h.items() if rec["header"].get(k) != v}
    assert set(diffs) == {"gribLength"}


@pytest.mark.parametrize("packing", ["simple", "complex_diff"])
def test_gfs_global_grid_header_and_shape(packing):
    """The golden field's shape without the reference checkout: an
    engine-encoded 360×181 global 10 m U field decodes to the header
    the reference's grib2json output documents (SURVEY.md §1.2) and
    to 65,160 values within half a quantization step."""
    field = _smooth_field(360, 181)
    msg = encode_grib2_message(
        field, parameter_number=2, ref_time=RT, forecast_hours=6,
        nx=360, ny=181, la1=90.0, lo1=0.0, dx=1.0, dy=1.0,
        decimal_scale=2, packing=packing,
    )
    rec = decode_grib2_bytes(msg)[0]
    assert len(rec["data"]) == 65160
    # half a quantization step plus float32-reference slack
    assert np.abs(np.asarray(rec["data"]) - field).max() <= 0.5e-2 + 1e-6
    want = {
        "discipline": 0, "center": 7, "refTime": "2020-08-12T06:00:00.000Z",
        "forecastTime": 6, "parameterCategory": 2, "parameterNumber": 2,
        "parameterNumberName": "U-component_of_wind",
        "parameterUnit": "m.s-1", "surface1Type": 103,
        "surface1Value": 10.0, "gridDefinitionTemplate": 0,
        "numberPoints": 65160, "nx": 360, "ny": 181, "la1": 90.0,
        "lo1": 0.0, "la2": -90.0, "lo2": 359.0, "dx": 1.0, "dy": 1.0,
        "scanMode": 0,
    }
    assert {k: rec["header"][k] for k in want} == want


def test_hand_built_general_group_layout_decodes():
    """Decoder generality beyond what our encoder emits: VARIABLE
    group lengths through the scaled-length machinery (len_ref +
    inc·scaled), non-zero width reference — the shapes real NCEP
    encoders produce. Section 5/7 bytes are hand-assembled."""
    import struct

    from mints_wind_data_ingestion_spark.sources import grib2codec as gc

    # field of 10 values in two groups: lengths 6 and 4, widths 3 / 2
    x = np.array([0, 5, 7, 1, 3, 2, 10, 12, 11, 13], dtype=np.int64)
    g1, g2 = x[:6], x[6:]
    grefs = np.array([int(g1.min()), int(g2.min())])
    widths = np.array([3, 2])
    width_ref, wbits = 2, 1  # stored increments: 1, 0
    # lengths: ref 2, inc 2 → scaled (len−ref)/inc: g1 → 2; last group
    # true length from the template (scaled slot still present)
    len_ref, len_inc, lbits = 2, 2, 3
    payload = (
        gc._pack_uints(grefs, 4)
        + gc._pack_uints(widths - width_ref, wbits)
        + gc._pack_uints(np.array([2, 0]), lbits)
        + np.packbits(
            np.concatenate([
                np.stack([((g1 - grefs[0]) >> (2 - j)) & 1 for j in range(3)], 1).reshape(-1),
                np.stack([((g2 - grefs[1]) >> (1 - j)) & 1 for j in range(2)], 1).reshape(-1),
            ]).astype(np.uint8)
        ).tobytes()
    )
    ref, e, d = 1.5, 0, 1
    sec5 = (
        (47).to_bytes(4, "big") + b"\x05"
        + (10).to_bytes(4, "big") + (2).to_bytes(2, "big")
        + struct.pack(">f", ref) + gc._put_s(e, 2) + gc._put_s(d, 2)
        + bytes([4, 0, 1, 0])
        + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
        + (2).to_bytes(4, "big")           # NG
        + bytes([width_ref, wbits])
        + len_ref.to_bytes(4, "big") + bytes([len_inc])
        + (4).to_bytes(4, "big")           # true last length
        + bytes([lbits])
    )
    sec7 = (len(payload) + 5).to_bytes(4, "big") + b"\x07" + payload
    msg = sec5 + sec7
    got = gc._unpack_complex(msg, 0, len(sec5), len(sec7))
    want = (ref + x * 1.0) / 10.0**d
    assert np.allclose(got, want.astype(np.float32))


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    nx=st.integers(3, 40),
    ny=st.integers(2, 20),
    seed=st.integers(0, 2**31 - 1),
    packing=st.sampled_from(["simple", "complex", "complex_diff",
                             "complex_diff1"]),
    scale=st.sampled_from([0, 1, 2]),
)
def test_any_field_roundtrips_within_quantization(nx, ny, seed, packing, scale):
    """Property: ANY finite field round-trips through ANY packing
    within half a quantization step — grid shape, value range, sign,
    and decimal scale are all adversarial inputs here (group-boundary
    and spatial-differencing edge cases live exactly in odd shapes)."""
    rng = np.random.default_rng(seed)
    # mix smooth + rough + offset so differences span signs and widths
    base = rng.normal(0, 1) * 50
    field = base + rng.normal(0, rng.uniform(0.01, 30), nx * ny)
    msg = encode_grib2_message(
        field, parameter_number=2, ref_time=RT, nx=nx, ny=ny,
        decimal_scale=scale, packing=packing,
    )
    got = np.asarray(decode_grib2_bytes(msg)[0]["data"], dtype=np.float64)
    # tolerance: half a quantization step plus float32-reference slack
    tol = 0.5 * 10.0**-scale + abs(base) * 1e-6 + 1e-6
    assert np.abs(got - field).max() <= tol


@settings(max_examples=30, deadline=None)
@given(
    nx=st.integers(3, 30),
    ny=st.integers(2, 15),
    seed=st.integers(0, 2**31 - 1),
    packing=st.sampled_from(["simple", "complex_diff", "ieee"]),
    interval=st.sampled_from([None, 1, 6, 24]),
    lamb=st.booleans(),
)
def test_any_template_combination_roundtrips(nx, ny, seed, packing,
                                             interval, lamb):
    """Property over the r6-widened template matrix: any packing
    (incl. raw IEEE) × any product (point-in-time 4.0 / interval 4.8)
    × any grid (lat/lon 3.0 / Lambert 3.30) frames, decodes, and
    round-trips; the interval and projection header keys populate
    exactly when their templates are present."""
    rng = np.random.default_rng(seed)
    field = rng.normal(0, 20, nx * ny) + rng.normal(0, 1) * 40
    kw = dict(parameter_number=2, ref_time=RT, nx=nx, ny=ny,
              decimal_scale=2, packing=packing)
    if interval is not None:
        kw.update(interval_hours=interval, statistical_process=2)
    if lamb:
        kw.update(scan_mode=64, lambert=dict(
            laD=38.5, loV=262.5, latin1=25.0, latin2=47.0,
            dx=3000.0, dy=3000.0))
    rec = decode_grib2_bytes(encode_grib2_message(field, **kw))[0]
    got = np.asarray(rec["data"], dtype=np.float64)
    if packing == "ieee":
        tol = np.abs(field).max() * 2**-23 + 1e-9  # float32 ulp only
    else:
        tol = 0.5e-2 + np.abs(field).max() * 1e-6 + 1e-6
    assert np.abs(got - field).max() <= tol
    h = rec["header"]
    assert (h["productDefinitionTemplate"] == 8) == (interval is not None)
    assert (h["intervalHours"] == interval) or interval is None
    assert (h["gridDefinitionTemplate"] == 30) == lamb
    assert (h["latin2"] == 47.0) if lamb else (h["latin2"] is None)


# ---------------------------------------------------------------------------
# NCEP submessages (r10): repeated 4-7 sequences inside one message
# ---------------------------------------------------------------------------


def _sections(msg: bytes) -> dict[int, tuple[int, int]]:
    out, o = {}, 16
    while o < len(msg) - 4:
        ln, num = int.from_bytes(msg[o : o + 4], "big"), msg[o + 4]
        out[num] = (o, ln)
        o += ln
    return out

def _splice_submessage(m1: bytes, m2: bytes) -> bytes:
    """One message carrying m1's field then m2's sections 4-7 as a
    submessage (inheriting m1's sections 1/3) — the NCEP multi-field
    shape."""
    s2 = _sections(m2)
    tail = b"".join(
        m2[s2[n][0] : s2[n][0] + s2[n][1]] for n in (4, 5, 6, 7)
    )
    body = m1[:-4] + tail + b"7777"
    total = len(body)
    return body[:8] + total.to_bytes(8, "big") + body[16:]


def _mk(param, seed, **kw):
    from datetime import datetime, timezone

    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        encode_grib2_message,
    )

    rt = datetime(2020, 8, 12, 6, tzinfo=timezone.utc)
    vals = [((i * 7 + seed * 31) % 2600) / 100.0 for i in range(24)]
    return vals, encode_grib2_message(
        vals, parameter_number=param, ref_time=rt, nx=6, ny=4, **kw
    )


def test_submessage_decodes_every_field():
    """A message with a 4-7 repetition yields BOTH fields — before r10
    the walk silently kept only the last one."""
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        decode_grib2_bytes,
        scan_grib2_bytes,
    )

    v1, m1 = _mk(2, 1)
    v2, m2 = _mk(3, 2, packing="complex")
    blob = _splice_submessage(m1, m2)
    recs = decode_grib2_bytes(blob)
    assert len(recs) == 2
    assert [r["header"]["parameterNumber"] for r in recs] == [2, 3]
    assert np.allclose(recs[0]["data"], v1)
    assert np.allclose(recs[1]["data"], v2)
    # the inherited sections carry through: same grid, same refTime
    assert recs[0]["header"]["la1"] == recs[1]["header"]["la1"]
    assert recs[0]["header"]["refTime"] == recs[1]["header"]["refTime"]
    # scan grain: one entry per FIELD, same message offset
    out = scan_grib2_bytes(blob)
    assert len(out) == 2 and out[0]["offset"] == out[1]["offset"] == 0
    assert all(e["error"] is None for e in out)


def test_bad_submessage_never_drops_siblings():
    """Corrupting the SECOND field's packing template quarantines that
    field alone; the first still decodes (the scan's error-free
    records)."""
    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        scan_grib2_bytes,
    )

    v1, m1 = _mk(2, 3)
    _, m2 = _mk(3, 4)
    blob = bytearray(_splice_submessage(m1, m2))
    # the submessage's section 5 starts after m1's body; set its
    # template number (octets 10-11 of section 5) to 99
    secs1 = _sections(m1)
    o5_sub = len(m1) - 4 + (secs1[5][0] - secs1[4][0]) + 9
    blob[o5_sub : o5_sub + 2] = (99).to_bytes(2, "big")
    out = scan_grib2_bytes(bytes(blob))
    assert len(out) == 2
    assert out[0]["error"] is None
    assert out[0]["record"]["header"]["parameterNumber"] == 2
    assert "5.99 unsupported" in out[1]["error"]
    kept = [m["record"] for m in out if m["error"] is None]
    assert len(kept) == 1
    assert kept[0]["header"]["parameterNumber"] == 2


def test_unterminated_submessage_quarantines():
    """Sections trailing the last section 7 (a repetition that never
    closes) fail loud rather than being silently ignored."""
    import pytest

    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        decode_grib2_bytes,
    )

    _, m1 = _mk(2, 5)
    secs = _sections(m1)
    o4, l4 = secs[4]
    blob = m1[:-4] + m1[o4 : o4 + l4] + b"7777"
    blob = blob[:8] + len(blob).to_bytes(8, "big") + blob[16:]
    with pytest.raises(ValueError, match="unterminated submessage"):
        decode_grib2_bytes(blob)


def test_local_use_section_is_tolerated():
    """A section 2 (local use) between sections 1 and 3 is walked over
    and ignored — the decode is bit-identical to the plain message."""
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        decode_grib2_bytes,
    )

    v1, m1 = _mk(2, 6)
    secs = _sections(m1)
    o3 = secs[3][0]
    local = (5 + 11).to_bytes(4, "big") + bytes([2]) + b"NCEP-local."
    blob = m1[:o3] + local + m1[o3:-4] + b"7777"
    blob = blob[:8] + len(blob).to_bytes(8, "big") + blob[16:]
    [rec] = decode_grib2_bytes(blob)
    base = decode_grib2_bytes(m1)[0]
    assert np.allclose(rec["data"], v1)
    h1 = {k: v for k, v in rec["header"].items() if k != "gribLength"}
    h0 = {k: v for k, v in base["header"].items() if k != "gribLength"}
    assert h1 == h0


def _with_bitmap(grid_msg: bytes, packed_msg: bytes, present) -> bytes:
    """`grid_msg`'s sections 1/3/4 (the full grid) around `packed_msg`'s
    sections 5/7 (only the present points packed), joined by a section
    6 whose bitmap (indicator 0) marks `present`."""
    g, p = _sections(grid_msg), _sections(packed_msg)
    bitmap = np.packbits(np.asarray(present, dtype=np.uint8)).tobytes()
    sec6 = (6 + len(bitmap)).to_bytes(4, "big") + bytes([6, 0]) + bitmap

    def cut(msg, secs, n):
        return msg[secs[n][0] : secs[n][0] + secs[n][1]]

    body = (grid_msg[:16] + cut(grid_msg, g, 1) + cut(grid_msg, g, 3)
            + cut(grid_msg, g, 4) + cut(packed_msg, p, 5) + sec6
            + cut(packed_msg, p, 7) + b"7777")
    return body[:8] + len(body).to_bytes(8, "big") + body[16:]


def test_bitmap_masked_points_arrive_as_null(spark, tmp_path):
    """A field with a bitmap (section 6 indicator 0) through both Spark
    decode nodes: every point the bitmap marks missing is a NULL element
    of `data` (never NaN), and every present point equals
    `decode_grib2_bytes`'s value bit for bit."""
    from mints_wind_data_ingestion_spark.sources.grib import (
        decode_binary_df,
        scan_binary_df,
    )

    nx, ny = 6, 4
    present = (np.arange(nx * ny) % 5 != 2) & (np.arange(nx * ny) != 0)
    msgs = []
    for param, packing in ((2, "simple"), (3, "complex_diff")):
        vals = _smooth_field(nx, ny, seed=param)[present].round(2)
        packed = encode_grib2_message(
            list(vals), parameter_number=param, ref_time=RT,
            nx=int(present.sum()), ny=1, packing=packing,
        )
        grid = encode_grib2_message(
            [0.0] * (nx * ny), parameter_number=param, ref_time=RT,
            nx=nx, ny=ny, packing=packing,
        )
        msgs.append(_with_bitmap(grid, packed, present))
    content = encode_grib2_file(msgs)
    want = {r["header"]["parameterNumber"]: np.float32(r["data"])
            for r in decode_grib2_bytes(content)}
    assert sorted(want) == [2, 3]
    for data in want.values():
        assert data.size == nx * ny
        assert np.isnan(data[~present]).all()
        assert not np.isnan(data[present]).any()

    (tmp_path / "masked.grb2").write_bytes(content)
    binary = spark.read.format("binaryFile").load(str(tmp_path))
    for df in (decode_binary_df(binary), scan_binary_df(binary)):
        rows = df.collect()
        assert sorted(r.header.parameterNumber for r in rows) == [2, 3]
        for r in rows:
            got = r.data
            assert len(got) == nx * ny
            assert [i for i, v in enumerate(got) if v is None] == list(
                np.flatnonzero(~present)
            )
            kept = np.array([got[i] for i in np.flatnonzero(present)],
                            dtype=np.float32)
            param = r.header.parameterNumber
            assert kept.tobytes() == want[param][present].tobytes()


_GATHER_WIDTHS = st.one_of(st.integers(0, 64), st.sampled_from([0, 57, 58]))


def _same_outcome(fast, reference):
    """`fast()` returns what `reference()` returns, or raises the same
    exception class with the same text."""
    try:
        want = reference()
    except Exception as exc:  # noqa: BLE001 — the error IS the result
        with pytest.raises(type(exc)) as got:
            fast()
        assert str(got.value) == str(exc)
        return None
    got = fast()
    assert got.dtype == want.dtype == np.int64
    assert np.array_equal(got, want)
    return got


@settings(max_examples=400, deadline=None)
@given(st.data())
def test_group_gather_equals_the_group_loop(data):
    """The complex-packing group gather (`_group_values`) against its
    reference model, the per-group `_unpack_uints` loop
    (`_group_values_loop`): group widths 0-64 (across the 57/58 window
    boundary, zero widths included), group lengths that include 0, an
    unaligned leading bit offset and payloads cut short of the groups.
    Same int64 values, or the same exception class and text."""
    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        _group_values,
        _group_values_loop,
    )

    ng = data.draw(st.integers(0, 10))
    narrow = data.draw(st.booleans())
    widths = np.array(
        data.draw(st.lists(st.integers(0, 57) if narrow else _GATHER_WIDTHS,
                           min_size=ng, max_size=ng)), dtype=np.int64)
    lengths = np.array(
        data.draw(st.lists(st.sampled_from([0, 1, 2, 3, 7, 33]),
                           min_size=ng, max_size=ng)), dtype=np.int64)
    grefs = np.array(
        data.draw(st.lists(st.integers(0, 2**62), min_size=ng, max_size=ng)),
        dtype=np.int64)
    off = data.draw(st.integers(0, 23))
    need = (off + int(lengths @ widths) + 7) // 8
    size = max(0, need - data.draw(st.sampled_from([0, 0, 0, 1, 5])))
    buf = data.draw(st.binary(min_size=size, max_size=size))
    n = int(lengths.sum())
    _same_outcome(
        lambda: _group_values(buf, off, grefs, widths, lengths, n),
        lambda: _group_values_loop(buf, off, grefs, widths, lengths, n),
    )


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 40), _GATHER_WIDTHS, st.integers(0, 23), st.data())
def test_uint_reads_equal_the_matmul_reader(n, w, off, data):
    """The descriptor and template 5.0 reads (`_read_uints`) against
    the unpackbits+matmul reader `_unpack_uints`: the same values and
    next offset, or — for a read past the payload — the same error."""
    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        _read_uints,
        _unpack_uints,
    )

    need = (off + n * w + 7) // 8
    size = max(0, need - data.draw(st.sampled_from([0, 0, 1, 4])))
    buf = data.draw(st.binary(min_size=size, max_size=size))
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    ends = []

    def run(read):
        vals, end = read()
        ends.append(end)
        return vals

    _same_outcome(lambda: run(lambda: _read_uints(buf, off, n, w)),
                  lambda: run(lambda: _unpack_uints(bits, off, n, w)))
    assert len(set(ends)) <= 1
