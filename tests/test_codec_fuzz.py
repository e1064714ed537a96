"""Corruption fuzz over the GRIB2 quarantine surface (round 7).

A 100 TB mixed-corpus scan WILL meet corrupt files. The contract: a
framed-valid message with a garbage body either decodes or QUARANTINES
(error row via scan, ValueError class via decode) — never a hang,
never an allocation stall, never a foreign exception that would kill
the whole Arrow batch. The fuzz found and now guards against: a zero
section length freezing the section walk, a zero message length
freezing the file walk, corrupt 4-byte point/group counts sizing
multi-GB numpy allocations (minutes-long executor stalls that even
dodge signals), implausible scale factors overflowing ldexp/10**d,
and implausible Gaussian N driving an O(N²) eigensolve. Round 8
widens the seeded corpus to the new template family — 4.11/4.12
shifted-interval headers, the 4.2 derivation pair, and the reduced
Gaussian points-per-row list."""

from __future__ import annotations

import random
import time
from datetime import datetime, timezone

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mints_wind_data_ingestion_spark.sources.grib2codec import (
    DECODE_ERRORS,
    decode_grib2_bytes,
    encode_grib2_message,
    scan_grib2_bytes,
)

RT = datetime(2020, 8, 12, 6, tzinfo=timezone.utc)


def _splice(m1: bytes, m2: bytes) -> bytes:
    """Two single-field messages → one NCEP-style submessage blob
    (m2's sections 4-7 appended inside m1's frame)."""
    secs, o = {}, 16
    while o < len(m2) - 4:
        ln, num = int.from_bytes(m2[o : o + 4], "big"), m2[o + 4]
        secs[num] = (o, ln)
        o += ln
    tail = b"".join(m2[secs[n][0] : secs[n][0] + secs[n][1]]
                    for n in (4, 5, 6, 7))
    body = m1[:-4] + tail + b"7777"
    return body[:8] + len(body).to_bytes(8, "big") + body[16:]


def _corpus():
    f = lambda n, s=0: [((i * 7 + s * 31) % 2600) / 100.0 for i in range(n)]
    return [
        encode_grib2_message(f(6), parameter_number=2, ref_time=RT,
                             nx=3, ny=2),
        encode_grib2_message(f(48), parameter_number=3, ref_time=RT,
                             nx=8, ny=6, packing="complex_diff"),
        encode_grib2_message(f(48, 1), parameter_number=3, ref_time=RT,
                             nx=8, ny=6, packing="png", gaussian_n=3),
        encode_grib2_message(f(24, 2), parameter_number=2, ref_time=RT,
                             nx=6, ny=4, packing="ieee",
                             ensemble=dict(type=2, number=1, size=5)),
        encode_grib2_message(f(24, 3), parameter_number=8,
                             parameter_category=1, ref_time=RT,
                             forecast_hours=0, nx=6, ny=4,
                             interval_hours=6, packing="complex"),
        # r8 additions: the 4.11 ensemble-accumulation member, a 4.12
        # derived-spread accumulation, and a reduced Gaussian O-grid —
        # their extra header blocks (shifted interval octets, table
        # 4.7 pair, the points-per-row list) are fresh quarantine
        # surface the corruption sweep must cover
        encode_grib2_message(f(24, 4), parameter_number=8,
                             parameter_category=1, ref_time=RT,
                             forecast_hours=0, nx=6, ny=4,
                             interval_hours=6, packing="simple",
                             ensemble=dict(type=3, number=2, size=7)),
        encode_grib2_message(f(24, 5), parameter_number=8,
                             parameter_category=1, ref_time=RT,
                             forecast_hours=0, nx=6, ny=4,
                             interval_hours=6, packing="complex_diff1",
                             derived=dict(type=4, size=21)),
        encode_grib2_message(f(48, 6), parameter_number=2, ref_time=RT,
                             nx=0, ny=6, gaussian_n=3, scan_mode=0,
                             gaussian_reduced=[4, 10, 10, 10, 10, 4],
                             packing="simple"),
        encode_grib2_message(f(24, 7), parameter_number=8,
                             parameter_category=1, ref_time=RT,
                             forecast_hours=0, nx=6, ny=4,
                             interval_hours=6, packing="simple",
                             probability=dict(number=1, total=31,
                                              type=2, lower=0.25,
                                              upper=25.0)),
        # r10: an NCEP submessage (two fields sharing sections 1/3) —
        # corruption must quarantine per FIELD and the new
        # snapshotting walk must never hang or leak on flipped
        # section numbers/lengths
        _splice(
            encode_grib2_message(f(24, 10), parameter_number=2,
                                 ref_time=RT, nx=6, ny=4),
            encode_grib2_message(f(24, 11), parameter_number=3,
                                 ref_time=RT, nx=6, ny=4,
                                 packing="complex"),
        ),
        # r10 additions: cluster templates — the variable-length
        # member list (4.3) and the NC-displaced interval block (4.13)
        # are fresh quarantine surface (a corrupted NC octet shifts
        # every following field)
        encode_grib2_message(f(24, 8), parameter_number=2, ref_time=RT,
                             nx=6, ny=4, packing="complex",
                             cluster=dict(type=6, size=30, north=55.0,
                                          south=30.0, east=40.0,
                                          west=-10.0,
                                          members=[1, 4, 7, 19])),
        encode_grib2_message(f(24, 9), parameter_number=8,
                             parameter_category=1, ref_time=RT,
                             forecast_hours=0, nx=6, ny=4,
                             interval_hours=6, packing="simple",
                             cluster=dict(type=0, size=21, lat=42.5,
                                          lon=273.0, radius=750_000.0,
                                          members=[0, 2, 9])),
    ]


def test_corrupt_messages_quarantine_never_crash_or_stall():
    rng = random.Random(20260815)
    msgs = _corpus()
    quarantined = ok = framing = 0
    for _ in range(5000):
        b = bytearray(rng.choice(msgs))
        for _ in range(rng.randint(1, 8)):
            b[rng.randrange(16, len(b) - 4)] = rng.randrange(256)
        t0 = time.perf_counter()
        try:
            for m in scan_grib2_bytes(bytes(b)):
                quarantined += m["error"] is not None
                ok += m["error"] is None
        except ValueError:
            framing += 1  # corrupt message LENGTH: file-level, loud
        # anything else propagates and fails the test
        # quarantine latency bound: generous against host CPU bursts
        # (±50% windows) — the pre-guard failure mode was MINUTES
        assert time.perf_counter() - t0 < 3.0, "per-message stall"
    assert quarantined > 1000  # the fuzz actually hit the decode paths
    assert ok > 0  # some corruptions land in ignored octets


def test_zero_section_length_quarantines():
    """A zero SECTION length froze the per-message section walk before
    the r7 guard — now it quarantines (scan) / raises (decode)."""
    b = bytearray(_corpus()[0])
    b[16:20] = (0).to_bytes(4, "big")
    out = scan_grib2_bytes(bytes(b))
    assert out[0]["record"] is None and "length 0" in out[0]["error"]
    with pytest.raises(DECODE_ERRORS):
        decode_grib2_bytes(bytes(b))


def test_zero_message_length_fails_loud():
    b = bytearray(_corpus()[0])
    b[8:16] = (0).to_bytes(8, "big")
    with pytest.raises(ValueError, match="length 0"):
        scan_grib2_bytes(bytes(b))


def _sec_offset(msg: bytes, want: int) -> int:
    o = 16
    while o < len(msg) - 4:
        if msg[o + 4] == want:
            return o
        o += int.from_bytes(msg[o : o + 4], "big")
    raise AssertionError


def test_huge_counts_quarantine():
    """Corrupt 4-byte counts must reject in microseconds, not allocate
    gigabytes: numberPoints (section 3), packed count (section 5)."""
    base = _corpus()[0]
    o3, o5 = _sec_offset(base, 3), _sec_offset(base, 5)
    for off in (o3 + 6, o5 + 5):
        b = bytearray(base)
        b[off : off + 4] = (0xFFFF_FFFF).to_bytes(4, "big")
        t0 = time.perf_counter()
        out = scan_grib2_bytes(bytes(b))
        assert time.perf_counter() - t0 < 0.5
        assert out[0]["record"] is None
        assert "implausible" in out[0]["error"]


def test_implausible_scales_quarantine():
    base = _corpus()[0]
    o5 = _sec_offset(base, 5)
    b = bytearray(base)
    b[o5 + 15 : o5 + 17] = (30_000).to_bytes(2, "big")  # E = 30000
    out = scan_grib2_bytes(bytes(b))
    assert out[0]["record"] is None
    assert "implausible" in out[0]["error"]


def test_bitmap_guard():
    """A bitmap too short for numberPoints quarantines instead of
    mis-sizing the present-mask expansion."""
    vals = [1.0, 2.0, None, 4.0, 5.0, 6.0]
    # hand-build: encode without bitmap, then shrink numberPoints
    # mismatch is covered by the count guards; here pin the message
    # that CLAIMS a bitmap but carries too few bitmap octets
    base = bytearray(_corpus()[0])
    o6 = _sec_offset(bytes(base), 6)
    base[o6 + 5] = 0  # bitmap indicator: present (but no bitmap bits)
    out = scan_grib2_bytes(bytes(base))
    assert out[0]["record"] is None
    assert "bitmap" in out[0]["error"]



def _with_payload(msg: bytes, payload: bytes) -> bytes:
    """`msg` with section 7's data replaced by `payload` (the section
    and message lengths follow)."""
    o7 = _sec_offset(msg, 7)
    sec7 = (5 + len(payload)).to_bytes(4, "big") + b"\x07" + payload
    o8 = o7 + int.from_bytes(msg[o7 : o7 + 4], "big")
    body = msg[:o7] + sec7 + msg[o8:]
    return body[:8] + len(body).to_bytes(8, "big") + body[16:]


def test_fields_of_64_bits_quarantine():
    """A packed field of 64 bits or more does not fit an int64: a
    template 5.0 `nbits` of 64 and a template 5.2 group width of 64
    each give a quarantine error row, never wrapped values. The
    payloads are all-ones and long enough for every field, so the
    reader cannot fail on length first."""
    base = _corpus()[0]  # 6 points, template 5.0
    o5 = _sec_offset(base, 5)
    simple = bytearray(base)
    simple[o5 + 19] = 64  # nbits
    complex_ = bytearray(encode_grib2_message(
        [float(i) for i in range(6)], parameter_number=2, ref_time=RT,
        nx=3, ny=2, packing="complex"))
    o5c = _sec_offset(bytes(complex_), 5)
    assert int.from_bytes(complex_[o5c + 9 : o5c + 11], "big") == 2
    # one group of all 6 points, 64 bits wide; every descriptor 0 bits
    complex_[o5c + 19] = 0  # group reference width
    complex_[o5c + 31 : o5c + 35] = (1).to_bytes(4, "big")  # groups
    complex_[o5c + 35], complex_[o5c + 36] = 64, 0  # width ref, bits
    complex_[o5c + 42 : o5c + 46] = (6).to_bytes(4, "big")  # last len
    complex_[o5c + 46] = 0  # length bits
    for msg in (bytes(simple), bytes(complex_)):
        (out,) = scan_grib2_bytes(_with_payload(msg, b"\xff" * 48))
        assert out["record"] is None
        assert "64" in out["error"]

def test_header_ints_above_int32_quarantine(spark):
    """A header integer the `int` header column cannot hold is a field
    error: a template 3.0 `basicAngle` of 0xd7000006 (section 3 octets
    39-42) scans as one quarantine row, and decode raises. Scanned in
    one Arrow batch with a good file, the good file's rows survive —
    a value that reached the row node would fail the whole batch."""
    good = _corpus()[0]
    o3 = _sec_offset(good, 3)
    bad = bytearray(good)
    bad[o3 + 38 : o3 + 42] = bytes.fromhex("d7000006")
    bad = bytes(bad)
    (out,) = scan_grib2_bytes(bad)
    assert out["record"] is None
    assert "basicAngle 3607101446" in out["error"]
    with pytest.raises(ValueError, match="basicAngle"):
        decode_grib2_bytes(bad)

    from mints_wind_data_ingestion_spark.sources.grib import scan_binary_df

    binary = spark.createDataFrame(
        [("bad.grib2", bytearray(bad)), ("good.grib2", bytearray(good))],
        "path string, content binary",
    ).coalesce(1)
    rows = scan_binary_df(binary).collect()
    assert sorted((r.source_path, r.error is None) for r in rows) == [
        ("bad.grib2", False), ("good.grib2", True)
    ]
    (quarantined,) = [r for r in rows if r.error is not None]
    assert quarantined.header is None and quarantined.data is None
    (kept,) = [r for r in rows if r.error is None]
    assert kept.header.basicAngle == 0
    assert len(kept.data) == 6


def _complex_corpus():
    """test_grib_complex.py's messages: the three complex packings of
    its smooth field, and its NCEP submessage (two fields, one frame)."""
    from tests.test_grib_complex import (
        _mk,
        _smooth_field,
        _splice_submessage,
    )

    field = list(_smooth_field(60, 40))
    msgs = [
        encode_grib2_message(field, parameter_number=2, ref_time=RT,
                             nx=60, ny=40, packing=p)
        for p in ("complex", "complex_diff", "complex_diff1")
    ]
    _, m1 = _mk(2, 1)
    _, m2 = _mk(3, 2, packing="complex")
    return msgs + [_splice_submessage(m1, m2)]


_BOTH_CORPORA = _corpus() + _complex_corpus()


@settings(max_examples=400, deadline=None)
@given(st.data())
def test_decode_is_the_scan_of_one_walk(data):
    """Decode and scan share one field walk: on a file of one to three
    corpus messages with up to six flipped body octets, a scan with no
    error rows means decode returns exactly the scan's records (same
    values, same order); otherwise decode raises the first scan
    error's class and text. A framing error raises the same from
    both."""
    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        _scan_error_text,
    )

    parts = []
    for _ in range(data.draw(st.integers(1, 3))):
        b = bytearray(data.draw(st.sampled_from(_BOTH_CORPORA)))
        for _ in range(data.draw(st.integers(0, 6))):
            b[data.draw(st.integers(16, len(b) - 5))] = data.draw(
                st.integers(0, 255))
        parts.append(bytes(b))
    blob = b"".join(parts)
    try:
        out = scan_grib2_bytes(blob)
    except ValueError as framing:
        with pytest.raises(ValueError) as ei:
            decode_grib2_bytes(blob)
        assert type(ei.value) is type(framing)
        assert str(ei.value) == str(framing)
        return
    errors = [m["error"] for m in out if m["error"] is not None]
    if not errors:
        assert repr(decode_grib2_bytes(blob)) == repr(
            [m["record"] for m in out])
        return
    with pytest.raises(DECODE_ERRORS) as ei:
        decode_grib2_bytes(blob)
    assert _scan_error_text(ei.value) == errors[0]
