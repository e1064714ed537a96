"""Pure-Python GRIB2 codec — the real bit-unpacking behind S2/X1.

The reference decodes GFS GRIB2 by shelling out to a vendored JVM tool
(converter.py:49-53, grib2json); its golden output (data/u_comp.json)
pins the header key set and value semantics this codec reproduces.
Implemented from the public WMO GRIB2 specification (FM 92, sections
0-8) for the template family GFS wind extracts use:

- section 3 template 3.0  (latitude/longitude grid)
- section 3 template 3.10 (Mercator — NCEP tropical/regional grids;
  r6)
- section 3 template 3.20 (polar stereographic — the NOAA Alaska and
  polar grids; r6)
- section 3 template 3.30 (Lambert conformal — the HRRR/NAM grid; r6)
- section 3 template 3.40 (Gaussian latitude/longitude — the
  spectral-era NCEP/ECMWF grid family; parallels sit at the
  Gauss-Legendre quadrature latitudes, computed driver-side from the
  roots of P_{2N}; r7. REDUCED/thinned Gaussian grids — the ECMWF
  operational O-grid family, Ni missing + a points-per-row optional
  list in section 3 octets 11-12/73+ — decode with a `reducedPoints`
  header and per-row widths; r8)
- section 4 template 4.0  (analysis/forecast at a point in time)
- section 4 template 4.1  (individual ensemble forecast, control or
  perturbed member — the NOAA GEFS ensemble siblings of the GFS wind
  files; adds typed ensembleType/perturbationNumber/ensembleSize
  header keys; r7)
- section 4 template 4.11 (individual ensemble member over a time
  interval — the 4.1 triple + the 4.8 interval block; GEFS
  accumulation members, e.g. ensemble precipitation; r8)
- section 4 templates 4.2/4.12 (derived ensemble forecast — the
  WMO table 4.7 derivation code + ensemble size; GEFS mean/spread
  geavg/gespr files, point-in-time and over an interval; r8)
- section 4 templates 4.5/4.9 (probability forecast — WMO table
  4.9 type + scaled event limits; the GEFS probability-of-event
  products, point-in-time and over an interval; r8)
- section 4 templates 4.6/4.10 (percentile forecast — the GEFS
  percentile products, point-in-time and over an interval; r8)
- section 4 templates 4.3/4.4/4.13/4.14 (derived forecast based on
  a cluster of ensemble members, rectangular / circular domain —
  cluster identity, domain, statistics and member list, point-in-time
  and over a time interval (the interval block sits PAST the
  variable-length member list); the GEFS cluster-analysis products;
  r10 — closes the GEFS product-template family)
- section 4 template 4.8  (average/accumulation/extreme over a time
  interval — APCP/max-min-temp class records in the same NOAA pgrb2
  files the wind extracts ride in; r6)
- section 5 template 5.0  (grid-point simple packing)
- section 5 template 5.2  (grid-point complex packing)
- section 5 template 5.3  (complex packing with spatial differencing,
  order 1 or 2 — the packing real NOAA pgrb2 files, the exact files
  the reference downloads via converter.py:136-142, predominantly use)
- section 5 template 5.4  (IEEE floating point, 32-bit; r6)
- section 5 template 5.41 (PNG packing — NCEP MRMS-class products;
  from-scratch RFC 2083 decode over stdlib zlib: chunk walk, all five
  scanline filters, 1/2/4/8/16-bit grayscale + 24/32-bit RGB(A)
  sample layouts per the g2clib convention; r6)
- section 5 template 5.40 (JPEG2000 packing — import-GATED like
  multimodal's JPEG/MP3: decoded when an OpenJPEG binding (glymur or
  openjpeg) is importable, otherwise the message quarantines with a
  typed unsupported-template error instead of failing the file; the
  container ships no JPEG2000 codec, so the gate is the honest
  posture — r7)
- section 6 bitmap indicator 255 (no bitmap) or 0 (bitmap present)

Decoding is numpy-vectorized with one bit reader: every packed field
(simple-packing values, complex-packing group descriptors and all
group values at once) is one fancy-indexed 64-bit window read per
value, then a shift and a mask (`_gather_uints`, exact for widths
≤ 57). Wider fields and reads past the payload go through the
unpackbits+matmul reader `_unpack_uints`, which keeps their values
and error texts. A decoded field's `data` is the float32 ndarray
itself, which the `mapInArrow` decode node hands to Arrow without a
Python float per point. The encoder exists so tests can build REAL binary
fixtures (and round-trip the reference's golden field) without
network access; it doubles as a GRIB2 writer for the sink surface.

Simple packing contract (WMO regulation 92.9.4):

    value = (R + X * 2**E) / 10**D

with R the IEEE-754 float32 reference value, X the nbits-wide unsigned
packed integer, E/D the binary/decimal scale factors (sign-magnitude
16-bit ints in the wire format).
"""

from __future__ import annotations

import math
import struct
import zlib
from datetime import datetime, timedelta, timezone

import numpy as np

#: exception classes a CORRUPT (framed-valid, garbage-body) message can
#: surface from decode: explicit structural ValueErrors, out-of-range
#: octet reads, short struct/zlib buffers, numpy size mismatches (also
#: ValueError). The scan quarantine surface converts exactly these
#: into error rows; anything else is a codec BUG and stays loud.
DECODE_ERRORS = (ValueError, IndexError, KeyError, struct.error, zlib.error)

__all__ = [
    "decode_grib2_bytes",
    "scan_grib2_bytes",
    "iter_grib2_messages",
    "encode_grib2_message",
    "encode_grib2_file",
    "gaussian_latitudes",
    "reduced_gaussian_latlon",
]

# --- code-table names grib2json emits (the subset our fixtures use; an
# --- unknown code decodes with name=None, never an error)
_CENTER = {7: "US National Weather Service - NCEP(WMC)"}
_DISCIPLINE = {0: "Meteorological products"}
_CATEGORY = {(0, 2): "Momentum"}
_PARAMETER = {
    (0, 2, 2): ("U-component_of_wind", "m.s-1"),
    (0, 2, 3): ("V-component_of_wind", "m.s-1"),
}
_SURFACE = {
    103: "Specified height level above ground",
    255: "Missing",
}
_SIGNIFICANCE_RT = {1: "Start of forecast"}
_PRODUCT_STATUS = {0: "Operational products"}
_PRODUCT_TYPE = {1: "Forecast products"}
_PDT_NAME = {
    0: "Analysis/forecast at horizontal level/layer at a point in time",
    1: "Individual ensemble forecast, control and perturbed, at a "
       "horizontal level or in a horizontal layer at a point in time",
    8: "Average, accumulation, extreme values or other statistically "
       "processed values at a horizontal level or in a horizontal layer "
       "in a continuous or non-continuous time interval",
    11: "Individual ensemble forecast, control and perturbed, at a "
        "horizontal level or in a horizontal layer, in a continuous or "
        "non-continuous time interval",
    2: "Derived forecasts based on all ensemble members at a horizontal "
       "level or in a horizontal layer at a point in time",
    3: "Derived forecasts based on a cluster of ensemble members over a "
       "rectangular area at a horizontal level or in a horizontal layer "
       "at a point in time",
    4: "Derived forecasts based on a cluster of ensemble members over a "
       "circular area at a horizontal level or in a horizontal layer at "
       "a point in time",
    13: "Derived forecasts based on a cluster of ensemble members over a "
        "rectangular area at a horizontal level or in a horizontal "
        "layer, in a continuous or non-continuous time interval",
    14: "Derived forecasts based on a cluster of ensemble members over a "
        "circular area at a horizontal level or in a horizontal layer, "
        "in a continuous or non-continuous time interval",
    12: "Derived forecasts based on all ensemble members at a horizontal "
        "level or in a horizontal layer, in a continuous or "
        "non-continuous time interval",
    5: "Probability forecasts at a horizontal level or in a horizontal "
       "layer at a point in time",
    9: "Probability forecasts at a horizontal level or in a horizontal "
       "layer in a continuous or non-continuous time interval",
    6: "Percentile forecasts at a horizontal level or in a horizontal "
       "layer at a point in time",
    10: "Percentile forecasts at a horizontal level or in a horizontal "
        "layer in a continuous or non-continuous time interval",
}
# WMO code table 4.6 — type of ensemble forecast
_ENSEMBLE_TYPE = {
    0: "Unperturbed high-resolution control forecast",
    1: "Unperturbed low-resolution control forecast",
    2: "Negatively perturbed forecast",
    3: "Positively perturbed forecast",
    255: "Missing",
}
# WMO code table 4.7 — derived forecast (templates 4.2/4.12)
_DERIVED_TYPE = {
    0: "Unweighted mean of all members",
    1: "Weighted mean of all members",
    2: "Standard deviation with respect to cluster mean",
    3: "Standard deviation with respect to cluster mean, normalized",
    4: "Spread of all members",
    5: "Large anomaly index of all members",
    6: "Unweighted mean of the cluster members",
    255: "Missing",
}
# WMO code table 4.8 — clustering method (templates 4.3/4.4)
_CLUSTERING_METHOD = {
    0: "Anomaly correlation",
    1: "Root mean square",
    255: "Missing",
}
# WMO code table 4.9 — probability type (templates 4.5/4.9)
_PROBABILITY_TYPE = {
    0: "Probability of event below lower limit",
    1: "Probability of event above upper limit",
    2: "Probability of event between upper and lower limits",
    3: "Probability of event above lower limit",
    4: "Probability of event below upper limit",
    255: "Missing",
}
# WMO code table 4.10 — type of statistical processing
_STAT_PROCESS = {
    0: "Average",
    1: "Accumulation",
    2: "Maximum",
    3: "Minimum",
    4: "Difference (end minus beginning)",
    5: "Root mean square",
    6: "Standard deviation",
}
_GEN_PROCESS = {2: "Forecast"}
_GDT_NAME = {
    0: "Latitude_Longitude",
    10: "Mercator",
    20: "Polar_Stereographic",
    30: "Lambert_Conformal",
    40: "Gaussian_Latitude_Longitude",
}
_SHAPE = {6: "Earth spherical with radius of 6,371,229.0 m"}

#: per-message point-count plausibility bound: 1<<25 ≈ 33.5M, ~5× the
#: largest operational grid (ECMWF O1280 ≈ 6.6M points; N=1280 is the
#: operational ceiling this codec's bounds are anchored to — NCEP
#: spectral output sits lower, around N=768). Corrupt count octets
#: otherwise size allocations (np.zeros of a 4-byte count) that can
#: stall an executor for minutes — the quarantine surface must reject
#: them in microseconds instead.
_MAX_POINTS = 1 << 25

#: every integer column of `schemas.WIND_HEADER` (scalars and array
#: elements) is a 32-bit `int`: a header integer outside this range
#: cannot be stored, and in the Arrow row node it would fail the whole
#: batch, so the field is rejected instead
_HEADER_INT_RANGE = (-(1 << 31), (1 << 31) - 1)


def _check_header_ints(header: dict) -> None:
    lo, hi = _HEADER_INT_RANGE
    for key, value in header.items():
        for v in value if isinstance(value, list) else (value,):
            if type(v) is int and not lo <= v <= hi:
                raise ValueError(f"header {key} {v} outside the int column range")


def _u(b: bytes, o: int, n: int) -> int:
    return int.from_bytes(b[o : o + n], "big")


def _s(b: bytes, o: int, n: int) -> int:
    """GRIB2 signed integers are sign-and-magnitude, not two's
    complement: the top bit is the sign, the rest the magnitude."""
    v = _u(b, o, n)
    sign = 1 << (8 * n - 1)
    return -(v ^ sign) if v & sign else v


def _put_s(v: int, n: int) -> bytes:
    sign = 1 << (8 * n - 1)
    return ((sign | -v) if v < 0 else v).to_bytes(n, "big")


def _deg(b: bytes, o: int) -> float:
    """Signed microdegrees → degrees."""
    return _s(b, o, 4) / 1e6


def _put_deg(v: float) -> bytes:
    return _put_s(round(v * 1e6), 4)


_gauss_lat_cache: dict[int, np.ndarray] = {}


def gaussian_latitudes(n: int) -> np.ndarray:
    """The 2N Gaussian latitudes (degrees, north→south) of a regular
    Gaussian grid with N parallels between pole and equator (template
    3.40 octets 68-71): arcsin of the Gauss-Legendre quadrature nodes —
    the roots of the Legendre polynomial P_{2N}. numpy's leggauss
    computes the nodes (Golub-Welsch eigensolve); an independent Newton
    iteration on P_{2N} pins them in tests/test_gaussian_grid.py.

    Driver-side only — O(N) doubles, computed once per N and cached.
    The operational ceiling is ECMWF's N=1280 (O1280) — 2 560 float64s
    ≈ 20 KB, still plan-literal sized; NCEP regular-Gaussian spectral
    products sit lower (N=768, ≈12 KB)."""
    if n < 1:
        raise ValueError(f"Gaussian grid needs N >= 1, got {n}")
    if n > 8192:
        # operational grids top out around N=1280 (ECMWF O1280); a
        # larger N is corrupt octets, and the O((2N)²) eigensolve +
        # cache entry would otherwise be an executor-side allocation
        # bomb on one bad message
        raise ValueError(f"Gaussian grid N {n} implausible (max 8192)")
    if n not in _gauss_lat_cache:
        nodes, _w = np.polynomial.legendre.leggauss(2 * n)
        # leggauss returns nodes ascending in sin(lat); GRIB scans rows
        # north→south (scan mode 0/64 start at la1 = northernmost)
        _gauss_lat_cache[n] = np.degrees(np.arcsin(nodes))[::-1].copy()
    return _gauss_lat_cache[n]


def reduced_gaussian_latlon(
    counts, lo1: float = 0.0, north_first: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """Per-point (lat, lon) arrays for a REDUCED Gaussian grid (r8) —
    2N rows at the Gauss-Legendre quadrature latitudes, row j holding
    counts[j] points evenly spaced over the full circle (the ECMWF
    O-grid family; `reducedPoints` in a decoded header).

    Vectorized: one `np.repeat` for latitudes, per-row aranges for
    longitudes — O(total points), no per-point Python. Regular grids
    keep the closed-form pure-expression mapping
    (functions.wind.gaussian_cell_latlon — an O(1) codegen'd lookup);
    a reduced grid's row boundaries are a prefix sum, so its natural
    scale path is THIS helper inside the same Arrow decode pass that
    unpacked the values (numpy batch work, never a per-cell search
    expression — an expression form would pay an O(2N) scan per cell).
    """
    counts = np.asarray(counts, dtype=np.int64)
    if counts.ndim != 1 or len(counts) % 2 or not len(counts):
        raise ValueError(
            f"reduced grid needs a flat, even-length counts list, "
            f"got shape {counts.shape}"
        )
    if (counts < 1).any():
        raise ValueError("reduced grid rows must have >= 1 point")
    lats_rows = gaussian_latitudes(len(counts) // 2)
    if not north_first:
        lats_rows = lats_rows[::-1]
    lat = np.repeat(lats_rows, counts)
    lon = lo1 + np.concatenate(
        [np.arange(c, dtype=np.float64) * (360.0 / c) for c in counts]
    )
    return lat, lon


def _scales(msg: bytes, o5: int) -> tuple[int, int]:
    """Binary/decimal scale factors (octets 16-17/18-19 of section 5)
    with a plausibility bound: real products use |E|,|D| ≲ 30, and a
    corrupt value would overflow ldexp/10**d executor-side instead of
    quarantining."""
    e, d = _s(msg, o5 + 15, 2), _s(msg, o5 + 17, 2)
    if abs(e) > 64 or abs(d) > 64:
        raise ValueError(f"scale factors E={e} D={d} implausible")
    return e, d


def _unpack_values(
    packed: bytes, n: int, nbits: int, ref: float, e: int, d: int
) -> np.ndarray:
    x, _ = _read_uints(packed, 0, n, nbits)  # nbits 0: constant field
    return ((ref + x * math.ldexp(1.0, e)) / 10.0**d).astype(np.float32)


def _pack_values(
    values: np.ndarray, nbits: int, d: int
) -> tuple[bytes, float, int, int, int]:
    """Quantize to simple packing with binary scale 0: returns
    (packed bits, reference value as stored float32, E=0, D=d, nbits).
    nbits widens automatically if the scaled range does not fit."""
    scaled = np.asarray(values, dtype=np.float64) * 10.0**d
    ref = np.float32(scaled.min())  # stored as float32 — quantize with it
    x = np.rint(scaled - float(ref)).astype(np.int64)
    x = np.maximum(x, 0)
    if x.max() == 0:  # constant field: spec packs zero bits per point
        return b"", float(ref), 0, d, 0
    nbits = max(nbits, int(x.max()).bit_length())
    out = np.zeros((len(x), nbits), dtype=np.uint8)
    for j in range(nbits):  # nbits ≤ ~32 columns, vectorized over rows
        out[:, j] = (x >> (nbits - 1 - j)) & 1
    return np.packbits(out.reshape(-1)).tobytes(), float(ref), 0, d, nbits


def _pack_uints(arr: np.ndarray, w: int) -> bytes:
    """Pack non-negative ints as consecutive `w`-bit fields, padded to
    a whole number of octets (the per-array padding WMO template 7.2
    prescribes)."""
    a = np.asarray(arr, dtype=np.int64)
    if w == 0 or a.size == 0:
        return b""
    out = np.zeros((a.size, w), dtype=np.uint8)
    for j in range(w):
        out[:, j] = (a >> (w - 1 - j)) & 1
    return np.packbits(out.reshape(-1)).tobytes()


def _unpack_uints(bits: np.ndarray, off: int, n: int, w: int):
    """Read `n` consecutive `w`-bit unsigned fields from a 0/1 bit
    array starting at bit `off`; returns (values, next bit offset).
    The reference reader: `_read_uints` and `_group_values` fall back
    to it wherever the window gather is not exact (a width above
    `_WINDOW_BITS`, a read past the payload), so those inputs keep its
    results and its errors. A field of 64 bits or more does not fit an
    int64 and raises."""
    if w == 0:
        return np.zeros(n, dtype=np.int64), off
    if w > 63:
        raise ValueError(f"{w}-bit packed field overflows int64")
    sl = bits[off : off + n * w].reshape(n, w).astype(np.int64)
    vals = sl @ (1 << np.arange(w - 1, -1, -1, dtype=np.int64))
    return vals, off + n * w


#: widest field `_gather_uints` reads exactly: a field starts up to 7
#: bits into its first octet, and 7 + 57 bits fill the 64-bit window
_WINDOW_BITS = 57


def _bit_array(buf: bytes) -> np.ndarray:
    return np.unpackbits(np.frombuffer(buf, dtype=np.uint8))


def _gather_uints(
    buf: bytes, starts: np.ndarray, widths: np.ndarray
) -> np.ndarray:
    """Big-endian unsigned fields of `buf`: value i is the `widths[i]`
    bits from bit `starts[i]` on. One fancy-indexed 8-byte read per
    value from an overlapping `>u8` view, then a shift and a mask —
    exact for widths ≤ `_WINDOW_BITS` whose bits lie inside `buf`."""
    padded = buf + bytes(8)  # the last windows run past the payload
    windows = np.ndarray(
        (len(buf) + 1,), dtype=">u8", buffer=padded, strides=(1,)
    )
    w = widths.astype(np.uint64)
    word = windows[starts >> 3].astype(np.uint64)
    shift = np.uint64(64) - (starts & 7).astype(np.uint64) - w
    mask = (np.uint64(1) << w) - np.uint64(1)
    return ((word >> shift) & mask).astype(np.int64)


def _read_uints(buf: bytes, off: int, n: int, w: int):
    """`_unpack_uints` over the bits of `buf`: the window gather where
    it is exact, `_unpack_uints` itself otherwise."""
    if w == 0:
        return np.zeros(n, dtype=np.int64), off
    if w > _WINDOW_BITS or off + n * w > 8 * len(buf):
        return _unpack_uints(_bit_array(buf), off, n, w)
    starts = off + w * np.arange(n, dtype=np.int64)
    widths = np.full(n, w, dtype=np.int64)
    return _gather_uints(buf, starts, widths), off + n * w


def _group_values_loop(
    buf: bytes, off: int, grefs: np.ndarray, widths: np.ndarray,
    lengths: np.ndarray, n: int,
) -> np.ndarray:
    """Complex-packing group values, one `_unpack_uints` per group:
    the reference model of `_group_values` and its fallback."""
    bits = _bit_array(buf)
    x = np.empty(n, dtype=np.int64)
    at = 0
    for g in range(len(lengths)):
        ln, w = int(lengths[g]), int(widths[g])
        vals, off = _unpack_uints(bits, off, ln, w)
        x[at : at + ln] = vals + grefs[g]
        at += ln
    return x


def _group_values(
    buf: bytes, off: int, grefs: np.ndarray, widths: np.ndarray,
    lengths: np.ndarray, n: int,
) -> np.ndarray:
    """The `n` values of complex packing's groups (templates 7.2/7.3),
    read from bit `off` of `buf`: group g holds `lengths[g]` fields of
    `widths[g]` bits, each plus `grefs[g]`. One window gather over all
    values — per-value widths by `np.repeat`, starts by a cumsum —
    where every width is within `_WINDOW_BITS`, every length is
    non-negative and the groups fit the payload; the per-group loop
    otherwise, so a corrupt descriptor set raises what it always did."""
    if len(lengths) and (
        widths.min() < 0 or widths.max() > _WINDOW_BITS
        or lengths.min() < 0 or off + int(lengths @ widths) > 8 * len(buf)
    ):
        return _group_values_loop(buf, off, grefs, widths, lengths, n)
    w = np.repeat(widths, lengths)
    starts = off + np.cumsum(w) - w
    return _gather_uints(buf, starts, w) + np.repeat(grefs, lengths)


def _octet_align(off: int) -> int:
    return (off + 7) & ~7


# --- PNG packing (template 5.41) -------------------------------------------
#
# NCEP's PNG packing stores the scaled integers X as a PNG image whose
# pixel layout follows the g2clib convention: grayscale (colour type 0)
# for depths 1/2/4/8/16, RGB (2) for 24, RGBA (6) for 32 — the sample
# depth is the packing's nbits rounded up to the nearest legal PNG
# depth. The decoder below is a from-scratch implementation of the
# public PNG spec (RFC 2083): chunk walk → concatenated IDAT → zlib
# (stdlib) → per-scanline filter reconstruction (all five filter
# types) → big-endian sample reassembly. No external imaging library.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: packing nbits → (PNG bit depth per channel, colour type, channels)
_PNG_LAYOUT = {1: (1, 0, 1), 2: (2, 0, 1), 4: (4, 0, 1), 8: (8, 0, 1),
               16: (16, 0, 1), 24: (8, 2, 3), 32: (8, 6, 4)}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline PNG filtering → (h, stride) uint8 matrix.

    Filters 0 (none) and 2 (up) reconstruct vectorized; 1 (sub),
    3 (average) and 4 (Paeth) depend on the left neighbour, so those
    rows walk columns — bounded by the row width, and real GRIB fields
    are a few hundred columns wide."""
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    for r in range(h):
        ft, cur = int(rows[r, 0]), rows[r, 1:].astype(np.int64)
        prev = out[r - 1].astype(np.int64) if r else np.zeros(stride, np.int64)
        if ft == 0:
            rec = cur
        elif ft == 2:
            rec = (cur + prev) & 0xFF
        elif ft in (1, 3, 4):
            rec = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                if ft == 1:
                    x = cur[i] + a
                elif ft == 3:
                    x = cur[i] + (a + b) // 2
                else:  # Paeth
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c
                    )
                    x = cur[i] + pred
                rec[i] = x & 0xFF
        else:
            raise ValueError(f"PNG filter type {ft} invalid")
        out[r] = rec.astype(np.uint8)
    return out


def _png_decode_samples(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode a PNG byte stream → (width, height, sample bits, samples)
    where samples is a (h*w,) int64 array of big-endian pixel values
    (channels concatenated per the g2clib 24/32-bit convention).

    Every corruption mode raises ValueError — the only exception class
    the per-message quarantine (`scan_grib2_bytes`) converts to an
    error row — so a flipped byte in one message's deflate stream or a
    truncated IHDR can never crash the scan of a whole file."""
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("PNG packing: bad signature")
    o, w = 8, None
    idat = b""
    try:
        while o < len(data):
            ln = _u(data, o, 4)
            typ = data[o + 4 : o + 8]
            body = data[o + 8 : o + 8 + ln]
            if typ == b"IHDR":
                w, h = _u(body, 0, 4), _u(body, 4, 4)
                depth, ctype = body[8], body[9]
                if body[10] or body[11] or body[12]:
                    raise ValueError("PNG packing: interlace/filter method")
            elif typ == b"IDAT":
                idat += body
            elif typ == b"IEND":
                break
            o += 12 + ln
    except IndexError as exc:  # truncated chunk/IHDR
        raise ValueError(f"PNG packing: truncated stream ({exc})") from exc
    if w is None:
        raise ValueError("PNG packing: no IHDR")
    channels = {0: 1, 2: 3, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"PNG packing: colour type {ctype} unsupported")
    if w == 0 or h == 0 or w * h > _MAX_POINTS:
        raise ValueError(f"PNG packing: {w}x{h} dimensions implausible")
    bits_px = depth * channels
    stride = (w * bits_px + 7) // 8
    bpp = max(1, bits_px // 8)
    try:
        raw = zlib.decompress(idat)
        mat = _png_unfilter(raw, h, stride, bpp)
    except (zlib.error, ValueError) as exc:
        # zlib.error (corrupt deflate) and reshape ValueError (wrong
        # decompressed size) both mean a damaged message, same verdict
        raise ValueError(f"PNG packing: corrupt image data ({exc})") from exc
    if depth < 8:  # sub-byte grayscale: bit-unpack each row, drop pad
        bits = np.unpackbits(mat, axis=1)[:, : w * depth]
        vals = bits.reshape(h, w, depth).astype(np.int64)
        samples = (vals @ (1 << np.arange(depth - 1, -1, -1))).reshape(-1)
    else:
        nby = bits_px // 8
        by = mat.reshape(h, w, nby).astype(np.int64)
        weights = (1 << (8 * np.arange(nby - 1, -1, -1))).astype(np.int64)
        samples = (by @ weights).reshape(-1)
    return w, h, bits_px, samples


def _png_encode_samples(
    x: np.ndarray, w: int, h: int, nbits: int, filter_type: int = 0
) -> bytes:
    """Encode scaled ints as the PNG stream template 5.41 carries
    (depth per _PNG_LAYOUT; `filter_type` lets tests exercise every
    reconstruction path in the decoder — real encoders may choose any
    per scanline)."""
    import zlib

    depth, ctype, channels = _PNG_LAYOUT[nbits]
    bits_px = depth * channels
    stride = (w * bits_px + 7) // 8
    bpp = max(1, bits_px // 8)
    x = np.asarray(x, dtype=np.int64).reshape(h, w)
    if depth < 8:
        bits = (
            (x[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
        ).astype(np.uint8).reshape(h, -1)
        mat = np.packbits(bits, axis=1)[:, :stride]
    else:
        nby = bits_px // 8
        by = (x[:, :, None] >> (8 * np.arange(nby - 1, -1, -1))) & 0xFF
        mat = by.astype(np.uint8).reshape(h, stride)
    lines = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        cur = mat[r].astype(np.int64)
        if filter_type == 0:
            enc = cur
        elif filter_type == 2:
            enc = (cur - prev) & 0xFF
        elif filter_type in (1, 3, 4):
            enc = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                if filter_type == 1:
                    pred = a
                elif filter_type == 3:
                    pred = (a + b) // 2
                else:
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c
                    )
                enc[i] = (cur[i] - pred) & 0xFF
        else:
            raise ValueError(f"filter_type {filter_type}")
        lines.append(filter_type)
        lines += enc.astype(np.uint8).tobytes()
        prev = cur

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big") + typ + body
            + zlib.crc32(typ + body).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([depth, ctype, 0, 0, 0])
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines), 9))
        + chunk(b"IEND", b"")
    )


# --- JPEG2000 packing (template 5.40) ---------------------------------------


def _jpeg2000_decode_samples(data: bytes, n: int) -> np.ndarray:
    """Scaled ints from the JPEG2000 codestream of a template-5.40
    section 7 — import-GATED on an OpenJPEG binding (glymur), the
    same honest posture as multimodal's JPEG/MP3 gates: the container
    ships no JPEG2000 codec and a from-scratch EBCOT/wavelet decoder
    is out of scope, so absent the binding this raises the standard
    unsupported-template ValueError and the message QUARANTINES
    (scan_grib2_bytes) instead of poisoning the file. With glymur
    installed the codestream decodes losslessly (NCEP encodes 5.40
    reversible) to the same int samples the other packings carry."""
    try:
        import glymur  # noqa: PLC0415 — the gate IS the import
    except ImportError as exc:
        raise ValueError(
            "data representation template 5.40 (JPEG2000) requires an "
            "OpenJPEG binding (glymur) which is not installed"
        ) from exc
    import tempfile

    try:
        with tempfile.NamedTemporaryFile(suffix=".j2k") as fh:
            fh.write(data)
            fh.flush()
            arr = np.asarray(glymur.Jp2k(fh.name)[:])
    except DECODE_ERRORS:
        raise
    except Exception as exc:  # noqa: BLE001 — glymur/OpenJPEG raise
        # their own error types (RuntimeError/OSError/InvalidJp2kError)
        # on corrupt codestreams; a framed-valid message with garbage
        # bytes must QUARANTINE, never kill the file/Arrow batch
        raise ValueError(
            f"JPEG2000 packing: corrupt codestream "
            f"({type(exc).__name__}: {exc})"
        ) from exc
    x = arr.reshape(-1).astype(np.int64)
    if x.size < n:
        raise ValueError(
            f"JPEG2000 packing: {x.size} samples for {n} points"
        )
    return x[:n]


def _unpack_complex(msg: bytes, o5: int, o7: int, slen7: int) -> np.ndarray:
    """Decode section 7 for templates 5.2/5.3 (complex packing,
    optionally with spatial differencing) → float32 values.

    Layout per WMO FM 92 templates 5.2/5.3 + 7.2/7.3 and the NCEP g2
    convention for the differencing extras: `ba`-octet sign-magnitude
    descriptors (the first `order` original scaled values, then the
    overall minimum of the differences), then the group machinery over
    the zero-led, min-subtracted difference array; decoding re-adds
    the minimum to positions ≥ order, restores the leading values, and
    integrates the recurrence."""
    drt = _u(msg, o5 + 9, 2)
    n = _u(msg, o5 + 5, 4)
    if n > _MAX_POINTS:
        raise ValueError(f"packed point count {n} implausible")
    ref = struct.unpack(">f", msg[o5 + 11 : o5 + 15])[0]
    e, d = _scales(msg, o5)
    nbits_ref = msg[o5 + 19]
    if msg[o5 + 22] != 0:
        raise ValueError(
            f"missing-value management {msg[o5 + 22]} unsupported"
        )
    ng = _u(msg, o5 + 31, 4)
    if ng > n:
        raise ValueError(f"{ng} groups for {n} points implausible")
    width_ref, wbits = msg[o5 + 35], msg[o5 + 36]
    len_ref, len_inc = _u(msg, o5 + 37, 4), msg[o5 + 41]
    last_len = _u(msg, o5 + 42, 4)
    lbits = msg[o5 + 46]
    # O(1) corrupt-descriptor rejection: group lengths are
    # len_ref + linc·len_inc with linc ≥ 0, so the minimum possible
    # sum is (ng−1)·len_ref + last_len. A descriptor set whose floor
    # already exceeds n can never pass the exact sum check below, and
    # expanding its O(ng) descriptor arrays first is wasted work with
    # pathological latency under host memory pressure (observed: a
    # 267-byte corrupt message claiming 1.9M groups cost 0.15-5.7 s
    # before this guard, microseconds after).
    if ng > 0 and (ng - 1) * len_ref + last_len > n:
        raise ValueError(
            f"group lengths sum to at least "
            f"{(ng - 1) * len_ref + last_len}, expected {n}"
        )

    payload = msg[o7 + 5 : o7 + slen7]
    pos = 0
    order = 0
    ival = []
    minsd = 0
    if drt == 3:
        order, ba = msg[o5 + 47], msg[o5 + 48]
        if order not in (1, 2):
            raise ValueError(f"spatial differencing order {order} unsupported")
        if n <= order:
            # the recurrence needs `order` seed values plus ≥1 packed
            # difference; a 5.3 message claiming otherwise is corrupt
            # octets — quarantine, never a broadcast-shape crash
            raise ValueError(
                f"spatial differencing order {order} needs more than "
                f"{n} points"
            )
        for _ in range(order):
            ival.append(_s(payload, pos, ba))
            pos += ba
        minsd = _s(payload, pos, ba)
        pos += ba

    body = payload[pos:]
    # cheap pre-allocation budget check: the three per-group field
    # arrays need ng·(widths) bits — a corrupt ng with nonzero widths
    # rejects here in microseconds instead of after ng-sized transients
    if ng * (nbits_ref + wbits + lbits) > 8 * len(body) + 32:
        raise ValueError(
            f"{ng} groups need {ng * (nbits_ref + wbits + lbits)} "
            f"descriptor bits, payload has {8 * len(body)}"
        )
    off = 0
    grefs, off = _read_uints(body, off, ng, nbits_ref)
    off = _octet_align(off)
    winc, off = _read_uints(body, off, ng, wbits)
    widths = winc + width_ref
    off = _octet_align(off)
    linc, off = _read_uints(body, off, ng, lbits)
    lengths = linc * len_inc + len_ref
    if ng > 0:
        lengths[-1] = last_len
    off = _octet_align(off)
    if int(lengths.sum()) != n:
        raise ValueError(
            f"group lengths sum to {int(lengths.sum())}, expected {n}"
        )

    x = _group_values(body, off, grefs, widths, lengths, n)

    if drt == 3:
        x[order:] += minsd
        x[:order] = ival
        if order == 1:
            x = np.cumsum(x)
        else:
            # order 2: x'' = sd ⇒ first differences are cumsum(sd)
            # seeded with ival2−ival1, and x is their cumsum seeded
            # with ival1 — two exact int64 cumsums, no Python loop
            t = x.copy()
            t[1] = x[1] - x[0]
            d1 = np.cumsum(t[1:])  # first differences x[j] − x[j−1]
            x = x[0] + np.concatenate(
                (np.zeros(1, dtype=np.int64), np.cumsum(d1))
            )
    return ((ref + x * math.ldexp(1.0, e)) / 10.0**d).astype(np.float32)


def _pack_complex(
    values: np.ndarray, d: int, order: int, group_len: int = 32
) -> tuple[bytes, bytes, float]:
    """Encode values with complex packing (order=0 → template 5.2,
    order 1/2 → 5.3): returns (section 5 template bytes from octet 12,
    section 7 payload, stored reference value)."""
    scaled = np.asarray(values, dtype=np.float64) * 10.0**d
    m = scaled.min()
    ref = np.float32(m)
    # float32 may round the minimum UP; then rint(scaled - ref) goes
    # negative at the min positions and a clamp would silently corrupt
    # them by up to half a float32 ulp (visible once |scaled| > 2^24,
    # e.g. decimal_scale=6 fields). Round ref toward -inf instead so
    # every offset is non-negative by construction.
    if float(ref) > m:
        ref = np.nextafter(ref, np.float32("-inf"))
    v = np.rint(scaled - float(ref)).astype(np.int64)
    n = v.size

    extras = b""
    if order:
        if n <= order:
            raise ValueError("spatial differencing needs more points than order")
        ival = [int(v[i]) for i in range(order)]
        sd = np.zeros(n, dtype=np.int64)
        if order == 1:
            sd[1:] = v[1:] - v[:-1]
        else:
            sd[2:] = v[2:] - 2 * v[1:-1] + v[:-2]
        minsd = int(sd[order:].min()) if n > order else 0
        sd[order:] -= minsd
        v = sd
        ba = max(
            (int(abs(x)).bit_length() + 8) // 8 for x in (*ival, minsd, 1)
        )
        extras = b"".join(_put_s(x, ba) for x in (*ival, minsd))
    else:
        ba = 0

    ng = (n + group_len - 1) // group_len
    groups = [v[g * group_len : (g + 1) * group_len] for g in range(ng)]
    grefs = np.array([int(g.min()) for g in groups], dtype=np.int64)
    maxdev = [int((g - r).max()) for g, r in zip(groups, grefs)]
    widths = np.array([m.bit_length() for m in maxdev], dtype=np.int64)
    nbits_ref = int(grefs.max()).bit_length() if grefs.max() > 0 else 0
    width_ref = int(widths.min())
    wbits = int((widths - width_ref).max()).bit_length() if ng else 0

    blob = _pack_uints(grefs, nbits_ref)
    blob += _pack_uints(widths - width_ref, wbits)
    # constant group length: scaled lengths all zero (0 bits each),
    # the last group's true length goes in the template
    databits = []
    for g, r, w in zip(groups, grefs, widths):
        if w:
            a = (g - r).astype(np.int64)
            out = np.zeros((a.size, int(w)), dtype=np.uint8)
            for j in range(int(w)):
                out[:, j] = (a >> (int(w) - 1 - j)) & 1
            databits.append(out.reshape(-1))
    if databits:
        blob += np.packbits(np.concatenate(databits)).tobytes()

    tmpl = (
        struct.pack(">f", float(ref))
        + _put_s(0, 2)  # E = 0
        + _put_s(d, 2)
        + bytes([nbits_ref, 0])  # original field type: float
        + bytes([1, 0])  # general splitting, no missing-value mgmt
        + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
        + ng.to_bytes(4, "big")
        + bytes([width_ref, wbits])
        + group_len.to_bytes(4, "big")  # length reference
        + bytes([1])  # length increment
        + len(groups[-1]).to_bytes(4, "big")
        + bytes([0])  # scaled group lengths: 0 bits each
    )
    if order:
        tmpl += bytes([order, ba])
    return tmpl, extras + blob, float(ref)


def iter_grib2_messages(content: bytes):
    """(offset, message bytes) for every GRIB2 message in the file.
    Framing errors (bad magic, wrong edition, missing end section)
    always raise — they mean a corrupt or non-GRIB payload, not an
    unsupported-but-valid message."""
    pos = 0
    while pos < len(content):
        if content[pos : pos + 4] != b"GRIB":
            raise ValueError(f"not a GRIB message at offset {pos}")
        edition = content[pos + 7]
        if edition != 2:
            raise ValueError(f"GRIB edition {edition} unsupported (GRIB2 only)")
        msg_len = _u(content, pos + 8, 8)
        # a corrupt length of 0 would freeze this walk (pos += 0) and
        # anything under indicator+end cannot frame a message — both
        # are file-level corruption, fail loud (executor-side infinite
        # loops are the one failure mode a 100 TB scan can never have)
        if msg_len < 21 or pos + msg_len > len(content):
            raise ValueError(
                f"GRIB message length {msg_len} at offset {pos} invalid"
            )
        msg = content[pos : pos + msg_len]
        if msg[-4:] != b"7777":
            raise ValueError("GRIB message missing 7777 end section")
        yield pos, msg
        pos += msg_len


def _walk_fields(content: bytes):
    """The one message/field walk behind decode and scan: yields
    (offset, record, exception) per FIELD, exactly one of record /
    exception set (a multi-field NCEP submessage yields several entries
    sharing the message offset; r10). A message whose sections cannot
    be split yields one exception entry; a bad submessage never hides
    its decodable siblings. Framing errors raise from
    `iter_grib2_messages` — they are file-level corruption."""
    for pos, msg in iter_grib2_messages(content):
        try:
            snaps = _split_message_fields(msg)
        except DECODE_ERRORS as exc:
            yield pos, None, exc
            continue
        for snap in snaps:
            try:
                rec = _decode_field(msg, snap)
            except DECODE_ERRORS as exc:
                yield pos, None, exc
                continue
            yield pos, rec, None


def decode_grib2_bytes(content: bytes) -> list[dict]:
    """Decode every message in a GRIB2 file into grib2json-shaped
    records: {"header": {...}, "data": <float32 ndarray>}, with NaN at
    the points a bitmap marks missing.

    Header keys mirror the reference's golden fixture
    (data/u_comp.json) — numeric codes plus the human-readable *Name
    fields grib2json adds. Raises ValueError on a non-GRIB2 payload.
    A framed-valid message using a template outside the supported
    family (grid 3.0/3.10/3.20/3.30/3.40 / product
    4.0/4.1/4.2/4.5/4.6/4.8/4.9/4.10/4.11/4.12 / packing
    5.0/5.2/5.3/5.4/5.41, plus 5.40 when an OpenJPEG binding is
    importable) fails the whole file loud with the first field's
    error; `scan_grib2_bytes` is the quarantine-not-corrupt variant
    that reports each rejected field and keeps the rest."""
    records: list[dict] = []
    for _pos, rec, exc in _walk_fields(content):
        if exc is not None:
            raise exc
        records.append(rec)
    return records


def scan_grib2_bytes(content: bytes) -> list[dict]:
    """Per-field scan report: [{"offset", "record", "error"}] with
    exactly one of record/error set, one entry per field of
    `_walk_fields`. Supported fields decode bit-identically to
    `decode_grib2_bytes`; unsupported-template or corrupt fields carry
    their rejection text instead of poisoning the file."""
    return [
        {"offset": pos, "record": rec,
         "error": None if exc is None else _scan_error_text(exc)}
        for pos, rec, exc in _walk_fields(content)
    ]


def _scan_error_text(exc: BaseException) -> str:
    return (
        str(exc)
        if isinstance(exc, ValueError)
        else f"corrupt message ({type(exc).__name__}): {exc}"
    )


def _split_message_fields(msg: bytes) -> list[dict[int, tuple[int, int]]]:
    """Walk one framed message's sections into one snapshot per FIELD.

    GRIB2 allows repeated (2,)3-7 / (3,)4-7 / 4-7 sequences inside one
    message — NCEP emits such SUBMESSAGES in real pgrb2 products —
    with each repetition inheriting the sections it doesn't restate.
    Every completed section 7 closes one field; the snapshot copies
    the running section map, so inherited sections carry forward
    exactly per spec. Section 2 (local use) is walked over and
    ignored. Before r10 the walk kept only the LAST of each section
    number, silently decoding one field of a multi-field message —
    the silent-data-loss class the quarantine design exists to
    prevent."""
    msg_len = len(msg)
    sec: dict[int, tuple[int, int]] = {}
    snapshots: list[dict[int, tuple[int, int]]] = []
    open_since_close = False
    o = 16
    while o < msg_len - 4:
        if o + 5 > msg_len - 4:
            raise ValueError(f"truncated section header at octet {o}")
        slen, snum = _u(msg, o, 4), msg[o + 4]
        # a corrupt zero/short length would freeze this walk — per-
        # message corruption raises ValueError so the SCAN path
        # quarantines the message instead of hanging the executor
        if slen < 5 or o + slen > msg_len - 4:
            raise ValueError(
                f"section {snum} length {slen} at octet {o} invalid"
            )
        sec[snum] = (o, slen)
        open_since_close = True
        o += slen
        if snum == 7:
            missing = [s for s in (1, 3, 4, 5, 6) if s not in sec]
            if missing:
                raise ValueError(
                    f"mandatory sections missing: {missing}"
                )
            snapshots.append(dict(sec))
            open_since_close = False
    if not snapshots:
        missing = [s for s in (1, 3, 4, 5, 6, 7) if s not in sec]
        raise ValueError(f"mandatory sections missing: {missing}")
    if open_since_close:
        raise ValueError(
            "unterminated submessage: sections after the last "
            "section 7"
        )
    return snapshots


def _decode_field(msg: bytes, sec: dict[int, tuple[int, int]]) -> dict:
    """Decode one field of a framed GRIB2 message from its section
    snapshot; raises ValueError on templates outside the supported
    family (fail-loud, never a wrong field)."""
    msg_len = len(msg)
    discipline = msg[6]

    o1 = sec[1][0]
    ref_time = datetime(
        _u(msg, o1 + 12, 2), msg[o1 + 14], msg[o1 + 15],
        msg[o1 + 16], msg[o1 + 17], msg[o1 + 18], tzinfo=timezone.utc,
    )

    o3, slen3 = sec[3]
    gdt = _u(msg, o3 + 12, 2)
    if gdt not in (0, 10, 20, 30, 40):
        raise ValueError(f"grid definition template 3.{gdt} unsupported")
    n_points = _u(msg, o3 + 6, 4)
    if n_points > _MAX_POINTS:
        raise ValueError(f"numberPoints {n_points} implausible")
    # section 3 octets 11-12: optional list of numbers defining points
    # per row — the REDUCED (thinned) grid mechanism (r8). Octet 11 is
    # the octet width of each list entry (0 = no list), octet 12 its
    # interpretation (WMO table 3.11; 1 = points per row/circle). Only
    # reduced GAUSSIAN grids (ECMWF operational O-grids) are in
    # family; a list on any other template quarantines loudly —
    # before r8 such a message sailed past the template check and
    # decoded with nx = the 0xFFFFFFFF "missing" sentinel.
    list_octets = msg[o3 + 10]
    reduced: np.ndarray | None = None
    if list_octets:
        if gdt != 40:
            raise ValueError(
                f"optional points-per-row list on grid template 3.{gdt} "
                "unsupported (reduced grids are Gaussian-only)"
            )
        if msg[o3 + 11] != 1:
            raise ValueError(
                f"points-per-row list interpretation {msg[o3 + 11]} "
                "unsupported (WMO table 3.11 code 1 only)"
            )
        if list_octets not in (1, 2, 4):
            raise ValueError(
                f"points-per-row entry width {list_octets} unsupported"
            )
        nj_list = _u(msg, o3 + 34, 4)
        end = 72 + list_octets * nj_list
        if slen3 < end:
            raise ValueError(
                f"section 3 is {slen3} octets, needs {end} for a "
                f"{nj_list}-row points-per-row list"
            )
        reduced = np.frombuffer(
            msg, dtype=f">u{list_octets}", count=nj_list, offset=o3 + 72
        ).astype(np.int64)
        if int(reduced.sum()) != n_points:
            raise ValueError(
                f"points-per-row list sums to {int(reduced.sum())}, "
                f"numberPoints says {n_points}"
            )
        if (reduced < 1).any():
            raise ValueError("points-per-row list contains a zero row")
    if gdt == 10:
        # template 3.10 — Mercator (NCEP tropical/regional products):
        # carries BOTH corner points (degrees) and metre dx/dy true at
        # laD; a rotated grid (nonzero orientation) stays fail-loud
        orient = _u(msg, o3 + 60, 4)
        if orient != 0:
            raise ValueError(
                f"Mercator grid orientation {orient} unsupported (0 only)"
            )
        grid = {
            "gridUnits": "m",
            "la1": _deg(msg, o3 + 38),
            "lo1": _deg(msg, o3 + 42),
            "la2": _deg(msg, o3 + 51),
            "lo2": _deg(msg, o3 + 55),
            "dx": _u(msg, o3 + 64, 4) / 1000.0,
            "dy": _u(msg, o3 + 68, 4) / 1000.0,
            "basicAngle": None,
            "scanMode": msg[o3 + 59],
            "resolution": msg[o3 + 46],
            "laD": _deg(msg, o3 + 47),
            "loV": None,  # Mercator has no orientation longitude
            "latin1": None, "latin2": None, "projectionCentre": None,
            "gaussianN": None,
        }
    elif gdt in (0, 40):
        # template 3.40 (regular Gaussian lat/lon) shares 3.0's layout
        # exactly, except octets 68-71 carry N — the number of
        # parallels between a pole and the equator — instead of Dj:
        # the Nj = 2N rows sit at the Gauss-Legendre quadrature
        # latitudes, so dy is None (non-uniform row spacing) and the
        # per-row latitude comes from `gaussian_latitudes(N)`.
        gauss_n = None
        if gdt == 40:
            gauss_n = _u(msg, o3 + 67, 4)
            ny_g = _u(msg, o3 + 34, 4)
            if ny_g != 2 * gauss_n:
                # REDUCED Gaussian grids keep Nj == 2N too (thinning
                # varies Ni per row, not the row count) — a mismatch
                # is corrupt octets on any Gaussian grid
                raise ValueError(
                    f"Gaussian grid Nj {ny_g} != 2N (N={gauss_n}) unsupported"
                )
            if reduced is not None and len(reduced) != ny_g:
                raise ValueError(
                    f"points-per-row list has {len(reduced)} rows, "
                    f"grid has Nj {ny_g}"
                )
            la1_g = _deg(msg, o3 + 46)
            lat0 = float(gaussian_latitudes(gauss_n)[0])
            # real emitters encode La1 as the first quadrature latitude
            # rounded to microdegrees — WHICH END depends on the scan
            # direction (flag table 3.4 bit 0x40: +j = rows south→
            # north, so la1 is the SOUTHERNMOST). A sign-insensitive
            # check would accept a south-first grid that a north-first
            # cell mapping then mirrors about the equator (r7 review).
            south_first = bool(msg[o3 + 71] & 0x40)
            want = -lat0 if south_first else lat0
            if abs(la1_g - want) > 1e-3:
                raise ValueError(
                    f"Gaussian grid la1 {la1_g} does not match the "
                    f"{'southern' if south_first else 'northern'}most "
                    f"quadrature latitude {want:.6f} for N={gauss_n} "
                    f"(scanMode {msg[o3 + 71]})"
                )
        grid = {
            "gridUnits": "degrees",
            "la1": _deg(msg, o3 + 46),
            "lo1": _deg(msg, o3 + 50),
            "la2": _deg(msg, o3 + 55),
            "lo2": _deg(msg, o3 + 59),
            # reduced grids: Di is missing (per-row spacing 360/Ni[j])
            "dx": None if reduced is not None else _deg(msg, o3 + 63),
            "dy": _deg(msg, o3 + 67) if gdt == 0 else None,
            "basicAngle": _u(msg, o3 + 38, 4),
            "scanMode": msg[o3 + 71],
            "resolution": msg[o3 + 54],
            "laD": None, "loV": None,
            "latin1": None, "latin2": None, "projectionCentre": None,
            "gaussianN": gauss_n,
        }
    else:
        # templates 3.20 (polar stereographic — the NOAA Alaska/polar
        # grids) and 3.30 (Lambert conformal — HRRR/NAM) share their
        # layout through octet 65; 3.30 appends the two standard
        # parallels (and the unused southern-pole octets) after it
        grid = {
            "gridUnits": "m",  # dx/dy are grid lengths in metres at laD
            "la1": _deg(msg, o3 + 38),
            "lo1": _deg(msg, o3 + 42),
            "la2": None, "lo2": None,  # no closing corner
            "dx": _u(msg, o3 + 55, 4) / 1000.0,
            "dy": _u(msg, o3 + 59, 4) / 1000.0,
            "basicAngle": None,
            "scanMode": msg[o3 + 64],
            "resolution": msg[o3 + 46],
            "laD": _deg(msg, o3 + 47),
            "loV": _deg(msg, o3 + 51),
            "latin1": _deg(msg, o3 + 65) if gdt == 30 else None,
            "latin2": _deg(msg, o3 + 69) if gdt == 30 else None,
            "projectionCentre": msg[o3 + 63],
            "gaussianN": None,
        }

    o4 = sec[4]
    pdt = _u(msg, o4[0] + 7, 2)
    if pdt not in (0, 1, 2, 3, 4, 5, 6, 8, 9, 10, 11, 12, 13, 14):
        raise ValueError(f"product definition template 4.{pdt} unsupported")
    o4 = o4[0]
    category, number = msg[o4 + 9], msg[o4 + 10]
    s1t, s1f, s1v = msg[o4 + 22], _s(msg, o4 + 23, 1), _u(msg, o4 + 24, 4)
    s2t, s2f, s2v = msg[o4 + 28], _s(msg, o4 + 29, 1), _u(msg, o4 + 30, 4)

    # template 4.8 extends 4.0 (octets 10-34 are identical) with the
    # end of the overall time interval and per-range statistical specs;
    # a single range covers the APCP/extreme-temp records in NOAA pgrb2
    # files, and >1 range stays fail-loud rather than half-decoded
    # template 4.1 extends 4.0 (octets 10-34 identical) with the
    # ensemble identity — the GEFS member triple (WMO table 4.6 type,
    # perturbation number, ensemble size); NULL for 4.0/4.8
    # template 4.11 is the union: the 4.1 ensemble triple (octets
    # 35-37) followed by the 4.8 interval block shifted +3 octets —
    # the GEFS accumulation members (ensemble precipitation, the most
    # downloaded GEFS product class, reference converter.py:136 domain)
    ens_type = pert_num = ens_size = derived_type = None
    if pdt in (1, 11):
        if sec[4][1] < 37:
            raise ValueError(
                f"product template 4.{pdt} truncated (section 4 is "
                f"{sec[4][1]} octets, needs 37)"
            )
        ens_type = msg[o4 + 34]
        pert_num = msg[o4 + 35]
        ens_size = msg[o4 + 36]
    # templates 4.2/4.12 (derived ensemble forecast — the GEFS
    # mean/spread files, geavg/gespr): octets 10-34 identical to 4.0,
    # then the WMO table 4.7 derivation code + ensemble size (r8)
    if pdt in (2, 12):
        if sec[4][1] < 36:
            raise ValueError(
                f"product template 4.{pdt} truncated (section 4 is "
                f"{sec[4][1]} octets, needs 36)"
            )
        derived_type = msg[o4 + 34]
        ens_size = msg[o4 + 35]
    # templates 4.3/4.4 (derived forecast based on a CLUSTER of
    # ensemble members, rectangular / circular domain — the GEFS
    # cluster-analysis products): octets 10-34 identical to 4.0, then
    # the table 4.7 derivation code + ensemble size (as 4.2), the
    # cluster identity block (identifier, hi/lo-res control cluster
    # numbers, total clusters, table 4.8 method), the domain (corner
    # lat/lons for 4.3; centre + radius in 10^-3 m for 4.4), the
    # cluster statistics (scaled std-dev and distance from ensemble
    # mean), and a trailing NC-entry member-number list
    cluster_id = cl_hi = cl_lo = cl_total = cl_method = None
    cl_north = cl_south = cl_east = cl_west = None
    cl_clat = cl_clon = cl_radius = None
    cl_size = cl_sd = cl_dist = cl_members = None
    if pdt in (3, 4, 13, 14):
        # 4.13/4.14 are the interval unions: identical through the
        # member list, then the 4.8 interval block displaced past it
        fixed = 68 if pdt in (3, 13) else 64  # octets before members
        if sec[4][1] < fixed:
            raise ValueError(
                f"product template 4.{pdt} truncated (section 4 is "
                f"{sec[4][1]} octets, needs {fixed})"
            )
        derived_type = msg[o4 + 34]
        ens_size = msg[o4 + 35]
        cluster_id = msg[o4 + 36]
        cl_hi = msg[o4 + 37]
        cl_lo = msg[o4 + 38]
        cl_total = msg[o4 + 39]
        cl_method = msg[o4 + 40]
        if pdt in (3, 13):
            cl_north = _deg(msg, o4 + 41)
            cl_south = _deg(msg, o4 + 45)
            cl_east = _deg(msg, o4 + 49)
            cl_west = _deg(msg, o4 + 53)
            base = 57
        else:
            cl_clat = _deg(msg, o4 + 41)
            cl_clon = _deg(msg, o4 + 45)
            cl_radius = _u(msg, o4 + 49, 4) / 1000.0  # 10^-3 m → m
            base = 53
        cl_size = msg[o4 + base]
        if sec[4][1] < fixed + cl_size:  # member list out of section
            raise ValueError(
                f"product template 4.{pdt} truncated (section 4 is "
                f"{sec[4][1]} octets, needs {fixed + cl_size} for "
                f"{cl_size} cluster members)"
            )
        sf_sd = _s(msg, o4 + base + 1, 1)
        sf_di = _s(msg, o4 + base + 6, 1)
        if abs(sf_sd) > 64 or abs(sf_di) > 64:
            raise ValueError(
                f"cluster statistics scale factor ({sf_sd}, {sf_di}) "
                "implausible"
            )
        cl_sd = _u(msg, o4 + base + 2, 4) / 10.0**sf_sd
        cl_dist = _u(msg, o4 + base + 7, 4) / 10.0**sf_di
        cl_members = [int(m) for m in msg[o4 + fixed : o4 + fixed + cl_size]]
    # templates 4.5/4.9 (probability forecast — the GEFS probability
    # products, e.g. probability of precipitation: member number /
    # total, WMO table 4.9 probability type, and the scaled event
    # limits; an unused limit is the all-ones missing sentinel) (r8)
    prob_num = prob_total = prob_type = prob_lower = prob_upper = None
    if pdt in (5, 9):
        if sec[4][1] < 47:
            raise ValueError(
                f"product template 4.{pdt} truncated (section 4 is "
                f"{sec[4][1]} octets, needs 47)"
            )
        prob_num = msg[o4 + 34]
        prob_total = msg[o4 + 35]
        prob_type = msg[o4 + 36]

        def _limit(off: int) -> float | None:
            if msg[o4 + off : o4 + off + 5] == b"\xff" * 5:
                return None  # missing: this side of the event is open
            sf_ = _s(msg, o4 + off, 1)
            if abs(sf_) > 64:
                raise ValueError(
                    f"probability limit scale factor {sf_} implausible"
                )
            return _s(msg, o4 + off + 1, 4) / 10.0**sf_

        prob_lower = _limit(37)
        prob_upper = _limit(42)
    # templates 4.6/4.10 (percentile forecast — GEFS percentile
    # products, e.g. 90th-percentile precipitation): octet 35 is the
    # percentile (0-100) (r8)
    percentile = None
    if pdt in (6, 10):
        if sec[4][1] < 35:
            raise ValueError(
                f"product template 4.{pdt} truncated (section 4 is "
                f"{sec[4][1]} octets, needs 35)"
            )
        percentile = msg[o4 + 34]
        if percentile > 100:
            raise ValueError(
                f"percentile value {percentile} out of range (0-100)"
            )

    stat_proc = stat_name = interval_len = interval_end = None
    if pdt in (8, 9, 10, 11, 12, 13, 14):
        # 4.9/4.10/4.11/4.12's interval block is 4.8's, displaced by
        # the 13-octet probability block / 1-octet percentile /
        # 3-octet ensemble triple / 2-octet derivation pair; for
        # 4.13/4.14 the displacement is the whole cluster block plus
        # the NC-entry member list (template-length arithmetic:
        # 68+NC / 64+NC octets precede the interval block)
        if pdt in (13, 14):
            d = (34 if pdt == 13 else 30) + cl_size
        else:
            d = {9: 13, 10: 1, 11: 3, 12: 2}.get(pdt, 0)
        if sec[4][1] < 58 + d:  # a short section relabeled 4.8/4.11
            # would otherwise read interval octets out of the next one
            raise ValueError(
                f"product template 4.{pdt} truncated (section 4 is "
                f"{sec[4][1]} octets, needs {58 + d})"
            )
        n_ranges = msg[o4 + d + 41]
        if n_ranges != 1:
            raise ValueError(
                f"product template 4.{pdt} with {n_ranges} time ranges "
                "unsupported"
            )
        interval_end = datetime(
            _u(msg, o4 + d + 34, 2), msg[o4 + d + 36], msg[o4 + d + 37],
            msg[o4 + d + 38], msg[o4 + d + 39], msg[o4 + d + 40],
            tzinfo=timezone.utc,
        ).strftime("%Y-%m-%dT%H:%M:%S.000Z")
        stat_proc = msg[o4 + d + 46]
        stat_name = _STAT_PROCESS.get(stat_proc)
        time_unit = msg[o4 + d + 48]
        if time_unit != 1:  # table 4.4: 1 = hour (what NOAA emits)
            raise ValueError(
                f"product template 4.{pdt} time-range unit {time_unit} "
                "unsupported"
            )
        interval_len = _u(msg, o4 + d + 49, 4)

    o5 = sec[5][0]
    drt = _u(msg, o5 + 9, 2)
    if drt not in (0, 2, 3, 4, 40, 41):
        raise ValueError(f"data representation template 5.{drt} unsupported")

    o6, slen6 = sec[6]
    bitmap_ind = msg[o6 + 5]
    if bitmap_ind not in (0, 255):
        raise ValueError(f"bitmap indicator {bitmap_ind} unsupported")

    o7, slen7 = sec[7]
    n_packed = _u(msg, o5 + 5, 4)  # points actually packed (≠ grid under bitmap)
    if n_packed > _MAX_POINTS:
        raise ValueError(f"packed point count {n_packed} implausible")
    if drt == 0:
        ref = struct.unpack(">f", msg[o5 + 11 : o5 + 15])[0]
        e, d = _scales(msg, o5)
        nbits = msg[o5 + 19]
        vals = _unpack_values(
            msg[o7 + 5 : o7 + slen7], n_packed, nbits, ref, e, d
        )
    elif drt == 4:
        # template 5.4: section 7 is raw big-endian IEEE floats;
        # octet 12 is the precision (table 5.7: 1 = 32-bit)
        precision = msg[o5 + 11]
        if precision != 1:
            raise ValueError(
                f"IEEE packing precision {precision} unsupported (32-bit only)"
            )
        vals = np.frombuffer(
            msg[o7 + 5 : o7 + slen7], dtype=">f4", count=n_packed
        ).astype(np.float32)
    elif drt == 40:
        # template 5.40: same R/E/D head as simple packing, the scaled
        # ints ride a JPEG2000 codestream in section 7 (several
        # operational NCEP products). Import-GATED: the container
        # ships no OpenJPEG binding, so without one the message
        # quarantines via the standard unsupported-ValueError path
        # (tests/test_round7.py pins both branches of the gate).
        ref = struct.unpack(">f", msg[o5 + 11 : o5 + 15])[0]
        e, d = _scales(msg, o5)
        nbits = msg[o5 + 19]
        if nbits == 0:  # constant field — no codestream to decode
            x = np.zeros(n_packed, dtype=np.int64)
        else:
            x = _jpeg2000_decode_samples(
                msg[o7 + 5 : o7 + slen7], n_packed
            )
        vals = ((ref + x * math.ldexp(1.0, e)) / 10.0**d).astype(
            np.float32
        )
    elif drt == 41:
        # template 5.41: same R/E/D head as simple packing, the scaled
        # ints ride a PNG stream in section 7 (NCEP MRMS-class files)
        ref = struct.unpack(">f", msg[o5 + 11 : o5 + 15])[0]
        e, d = _scales(msg, o5)
        _w, _h, _bits, x = _png_decode_samples(msg[o7 + 5 : o7 + slen7])
        if x.size < n_packed:
            raise ValueError(
                f"PNG packing: {x.size} samples for {n_packed} points"
            )
        vals = (
            (ref + x[:n_packed] * math.ldexp(1.0, e)) / 10.0**d
        ).astype(np.float32)
    else:
        vals = _unpack_complex(msg, o5, o7, slen7)
    if bitmap_ind == 0:
        if n_points > (slen6 - 6) * 8:
            # corrupt numberPoints would otherwise size an allocation
            # far beyond the message's own bitmap
            raise ValueError(
                f"bitmap of {slen6 - 6} octets cannot cover "
                f"{n_points} points"
            )
        present = np.unpackbits(
            np.frombuffer(msg[o6 + 6 : o6 + slen6], dtype=np.uint8)
        )[:n_points].astype(bool)
        full = np.full(n_points, np.nan, dtype=np.float32)
        if int(present.sum()) != vals.size:
            raise ValueError(
                f"bitmap marks {int(present.sum())} present points but "
                f"section 7 decoded {vals.size}"
            )
        full[present] = vals
        vals = full

    pname, punit = _PARAMETER.get((discipline, category, number), (None, None))
    header = {
        "discipline": discipline,
        "disciplineName": _DISCIPLINE.get(discipline),
        "gribEdition": 2,
        "gribLength": msg_len,
        "center": _u(msg, o1 + 5, 2),
        "centerName": _CENTER.get(_u(msg, o1 + 5, 2)),
        "subcenter": _u(msg, o1 + 7, 2),
        "significanceOfRT": msg[o1 + 11],
        "significanceOfRTName": _SIGNIFICANCE_RT.get(msg[o1 + 11]),
        "refTime": ref_time.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
        "forecastTime": _s(msg, o4 + 18, 4),
        "productStatus": msg[o1 + 19],
        "productStatusName": _PRODUCT_STATUS.get(msg[o1 + 19]),
        "productType": msg[o1 + 20],
        "productTypeName": _PRODUCT_TYPE.get(msg[o1 + 20]),
        "productDefinitionTemplate": pdt,
        "productDefinitionTemplateName": _PDT_NAME.get(pdt),
        # template 4.8 interval statistics (None for point-in-time 4.0)
        "statisticalProcess": stat_proc,
        "statisticalProcessName": stat_name,
        "intervalHours": interval_len,
        "intervalEnd": interval_end,
        # template 4.1 ensemble identity (None for 4.0/4.8)
        "ensembleType": ens_type,
        "ensembleTypeName": _ENSEMBLE_TYPE.get(ens_type),
        "perturbationNumber": pert_num,
        "ensembleSize": ens_size,
        "derivedForecastType": derived_type,
        "derivedForecastTypeName": _DERIVED_TYPE.get(derived_type),
        "probabilityNumber": prob_num,
        "probabilityTotal": prob_total,
        "probabilityType": prob_type,
        "probabilityTypeName": _PROBABILITY_TYPE.get(prob_type),
        "probabilityLowerLimit": prob_lower,
        "probabilityUpperLimit": prob_upper,
        "percentileValue": percentile,
        # template 4.3/4.4 cluster identity + domain + statistics
        # (None for non-cluster templates; the rectangular corner keys
        # are None for 4.4 and the centre/radius keys None for 4.3)
        "clusterIdentifier": cluster_id,
        "clusterControlHiRes": cl_hi,
        "clusterControlLoRes": cl_lo,
        "totalClusters": cl_total,
        "clusteringMethod": cl_method,
        "clusteringMethodName": _CLUSTERING_METHOD.get(cl_method),
        "clusterNorthLatitude": cl_north,
        "clusterSouthLatitude": cl_south,
        "clusterEastLongitude": cl_east,
        "clusterWestLongitude": cl_west,
        "clusterCentralLatitude": cl_clat,
        "clusterCentralLongitude": cl_clon,
        "clusterRadius": cl_radius,
        "clusterSize": cl_size,
        "clusterStdDev": cl_sd,
        "clusterMeanDistance": cl_dist,
        "clusterMembers": cl_members,
        "genProcessType": msg[o4 + 11],
        "genProcessTypeName": _GEN_PROCESS.get(msg[o4 + 11]),
        "parameterCategory": category,
        "parameterCategoryName": _CATEGORY.get((discipline, category)),
        "parameterNumber": number,
        "parameterNumberName": pname,
        "parameterUnit": punit,
        "surface1Type": s1t,
        "surface1TypeName": _SURFACE.get(s1t),
        "surface1Value": float(s1v) / 10.0**s1f,
        "surface2Type": s2t,
        "surface2TypeName": _SURFACE.get(s2t),
        "surface2Value": 0.0 if s2t == 255 else float(s2v) / 10.0**s2f,
        "gridDefinitionTemplate": gdt,
        "gridDefinitionTemplateName": _GDT_NAME.get(gdt),
        "numberPoints": n_points,
        # reduced grids carry the WMO "missing" sentinel in Ni — the
        # per-row widths live in reducedPoints instead
        "nx": None if reduced is not None else _u(msg, o3 + 30, 4),
        "ny": _u(msg, o3 + 34, 4),
        "reducedPoints": (
            [int(c) for c in reduced] if reduced is not None else None
        ),
        **grid,
        "shape": msg[o3 + 14],
        "shapeName": _SHAPE.get(msg[o3 + 14]),
        # flag table 3.3 bit 5: u/v relative to east/north ("true")
        # vs the grid axes — grib2json's `winds` field
        "winds": "true" if not grid["resolution"] & 0x08 else "grid",
    }
    _check_header_ints(header)
    return {"header": header, "data": vals}


def encode_grib2_message(
    values,
    *,
    parameter_number: int,
    parameter_category: int = 2,
    discipline: int = 0,
    center: int = 7,
    subcenter: int = 0,
    ref_time: datetime,
    forecast_hours: int = 6,
    surface1_type: int = 103,
    surface1_value: float = 10.0,
    nx: int,
    ny: int,
    la1: float = 90.0,
    lo1: float = 0.0,
    dx: float = 1.0,
    dy: float = 1.0,
    scan_mode: int = 0,
    nbits: int = 12,
    decimal_scale: int = 2,
    packing: str = "simple",
    interval_hours: int | None = None,
    statistical_process: int = 1,
    lambert: dict | None = None,
    polar: dict | None = None,
    mercator: dict | None = None,
    gaussian_n: int | None = None,
    gaussian_reduced: list[int] | None = None,
    ensemble: dict | None = None,
    derived: dict | None = None,
    probability: dict | None = None,
    percentile: int | None = None,
    cluster: dict | None = None,
) -> bytes:
    """Encode one field as a GRIB2 message (templates 3.0/4.0, no
    bitmap). `packing` selects section 5: "simple" (5.0),
    "complex" (5.2), "complex_diff" / "complex_diff1" (5.3 with
    second/first-order spatial differencing), "ieee" (5.4, raw
    32-bit floats — decimal_scale/nbits ignored), or "png" (5.41,
    scaled ints as a PNG stream, depth auto-selected from the range). `interval_hours`
    switches section 4 to template 4.8 (statistics over a time
    interval): `forecast_hours` becomes the START of the interval,
    `statistical_process` is WMO table 4.10 (1 = accumulation), and
    the overall-interval end time derives as ref + start + length.
    `ensemble` switches section 4 to template 4.1 (individual
    ensemble member — GEFS-class): a dict with keys `type` (WMO table
    4.6), `number` (perturbation number) and `size` (forecasts in the
    ensemble); combined with `interval_hours` it emits template 4.11
    (ensemble member statistics over a time interval — the GEFS
    accumulation members, r8). `derived` switches it to template 4.2
    (derived ensemble forecast — the GEFS mean/spread geavg/gespr
    files, r8): a dict with keys `type` (WMO table 4.7 derivation
    code) and `size`; with `interval_hours` it emits 4.12 (derived
    statistics over an interval); mutually exclusive with `ensemble`.
    `probability` switches it to template 4.5 (probability forecast —
    the GEFS probability-of-event products, r8): a dict with keys
    `number` (forecast probability number), `total`, `type` (WMO
    table 4.9) and `lower`/`upper` event limits (None = that side is
    open, encoded as the all-ones missing sentinel; optional `scale`,
    default 2, scales both limits); with `interval_hours` it emits
    4.9 (probability over an interval — e.g. probability of 6 h
    precipitation exceeding a threshold); mutually exclusive with
    `ensemble`/`derived`. `percentile` (0-100) switches it to
    template 4.6 (percentile forecast — the GEFS percentile
    products, r8); with `interval_hours` it emits 4.10; mutually
    exclusive with the other three. `cluster` switches it to
    template 4.3 (rectangular domain: keys north/south/east/west in
    degrees) or 4.4 (circular: keys lat/lon/radius, radius in
    metres) — derived forecast over a CLUSTER of ensemble members
    (r10): required keys `type` (WMO table 4.7) and `size`; optional
    identifier/hi_res/lo_res/total/method (table 4.8), std_dev/
    distance (encoded at scale factor 2) and `members` (the cluster's
    forecast numbers); with `interval_hours` it emits 4.13/4.14 (the
    interval block lands after the variable-length member list).
    `lambert` switches section 3 to template 3.30 (Lambert conformal,
    the HRRR/NAM projection): a dict with keys laD, loV, latin1,
    latin2 (degrees) and dx, dy (metres). `polar` switches it to
    template 3.20 (polar stereographic, the Alaska/polar grids): keys
    laD, loV, dx, dy and optional south=True for the south-pole
    aspect. `mercator` switches it to template 3.10 (NCEP tropical
    grids): keys laD, dx, dy — the far corner (la2, lo2) derives from
    the spherical Mercator forward at cell (nx-1, ny-1). For all
    three, la1/lo1 stay the first grid point and scan_mode should be
    64 (+x/+y row-major) as NOAA emits. `gaussian_n` switches it to
    template 3.40 (regular Gaussian lat/lon): ny must equal 2N,
    la1/la2 derive from the Gauss-Legendre quadrature (the passed
    la1/dy are ignored — the grid's rows are DEFINED by N), dx stays
    the uniform longitude step. `gaussian_reduced` (r8, requires
    `gaussian_n`) emits a REDUCED Gaussian grid (the ECMWF
    operational O-grid family): a list of 2N points-per-row counts —
    Ni and Di become the WMO "missing" sentinel, section 3 carries
    the counts as a 4-octet-entry optional list (octets 11-12 = 4,
    1), `values` must have sum(counts) elements laid out row-major
    north-first, and `nx` is ignored. Otherwise la2/lo2 derive from
    the grid shape the way scanMode 0 lays it out (rows N→S, lon
    W→E)."""
    values = np.asarray(values, dtype=np.float64)
    n = values.size
    if gaussian_reduced is not None:
        if gaussian_n is None:
            raise ValueError("gaussian_reduced requires gaussian_n")
        if len(gaussian_reduced) != 2 * gaussian_n:
            raise ValueError(
                f"gaussian_reduced needs 2N={2 * gaussian_n} rows, "
                f"got {len(gaussian_reduced)}"
            )
        if any(c < 1 for c in gaussian_reduced):
            raise ValueError("gaussian_reduced rows must be >= 1 point")
        if packing == "png":
            raise ValueError(
                "reduced Gaussian grids cannot use PNG packing "
                "(no rectangular scanline layout)"
            )
        if n != sum(gaussian_reduced):
            raise ValueError(
                f"{n} values for a reduced grid of "
                f"{sum(gaussian_reduced)} points"
            )
    elif n != nx * ny:
        raise ValueError(f"{n} values for a {nx}x{ny} grid")
    if gaussian_n is not None:
        if ny != 2 * gaussian_n:
            raise ValueError(
                f"Gaussian grid ny {ny} != 2N (N={gaussian_n})"
            )
        if scan_mode & 0x40:
            # +j (rows S→N) would need la1 = the SOUTHERNMOST
            # quadrature latitude; this encoder emits north-first rows
            # only (scanMode 0 — what NCEP emits), so claiming +j
            # would mislabel the layout
            raise ValueError(
                "Gaussian encode supports north-first rows only "
                f"(scan_mode {scan_mode} sets +j)"
            )
        lats = gaussian_latitudes(gaussian_n)
        la1, la2 = float(lats[0]), float(lats[-1])
        if gaussian_reduced is not None:
            # ECMWF convention: Lo2 closes the widest (equatorial) row
            cmax = max(gaussian_reduced)
            lo2 = lo1 + 360.0 * (cmax - 1) / cmax
        else:
            lo2 = lo1 + dx * (nx - 1)
    else:
        la2, lo2 = la1 - dy * (ny - 1), lo1 + dx * (nx - 1)

    if packing == "ieee":
        packed = values.astype(">f4").tobytes()
        s5_tail = (4).to_bytes(2, "big") + bytes([1])  # precision: 32-bit
    elif packing == "png":
        scaled = values * 10.0**decimal_scale
        ref = np.float32(scaled.min())
        x = np.maximum(np.rint(scaled - float(ref)).astype(np.int64), 0)
        need = max(int(x.max()).bit_length(), 1)
        if need > 32:
            raise ValueError(
                f"PNG packing: {need}-bit samples exceed the 32-bit layout"
            )
        depth_bits = min(b for b in _PNG_LAYOUT if b >= need)
        packed = _png_encode_samples(x, nx, ny, depth_bits)
        s5_tail = (
            (41).to_bytes(2, "big")
            + struct.pack(">f", float(ref))
            + _put_s(0, 2) + _put_s(decimal_scale, 2)
            + bytes([depth_bits, 0])
        )
    elif packing == "simple":
        packed, ref, e, d, nbits_used = _pack_values(values, nbits, decimal_scale)
        s5_tail = (
            (0).to_bytes(2, "big")  # template 5.0
            + struct.pack(">f", ref)
            + _put_s(e, 2) + _put_s(d, 2)
            + bytes([nbits_used, 0])
        )
    elif packing in ("complex", "complex_diff", "complex_diff1"):
        order = {"complex": 0, "complex_diff": 2, "complex_diff1": 1}[packing]
        # WMO 5.3 integrates an order-k recurrence from k seed values
        # plus at least one packed difference, so a field of n points
        # can carry at most order n−1 differencing; degenerate grids
        # (e.g. a 2-point reduced-Gaussian field) clamp down — order 0
        # is plain 5.2 complex packing, always valid
        order = min(order, max(n - 1, 0))
        tmpl, packed, _ref = _pack_complex(values, decimal_scale, order)
        s5_tail = (2 if order == 0 else 3).to_bytes(2, "big") + tmpl
    else:
        raise ValueError(f"unknown packing {packing!r}")

    s1 = (
        b"\x01"
        + center.to_bytes(2, "big")
        + subcenter.to_bytes(2, "big")
        + bytes([2, 1, 1])  # master table 2, local table 1, significance 1
        + ref_time.year.to_bytes(2, "big")
        + bytes([ref_time.month, ref_time.day, ref_time.hour,
                 ref_time.minute, ref_time.second])
        + bytes([0, 1])  # productStatus 0, productType 1
    )
    if sum(x is not None for x in (lambert, polar, mercator, gaussian_n)) > 1:
        raise ValueError("at most one of lambert/polar/mercator/gaussian_n")
    gdt_code = (30 if lambert else 20 if polar else 10 if mercator
                else 40 if gaussian_n is not None else 0)
    s3_prefix = (
        b"\x03\x00"
        + n.to_bytes(4, "big")
        # octets 11-12: points-per-row list entry width + WMO table
        # 3.11 interpretation (reduced grids only)
        + (bytes([4, 1]) if gaussian_reduced is not None else bytes([0, 0]))
        + gdt_code.to_bytes(2, "big")
        + bytes([6])  # shape of earth
        + bytes([0]) + (0).to_bytes(4, "big")  # radius scale/value
        + bytes([0]) + (0).to_bytes(4, "big")  # major axis
        + bytes([0]) + (0).to_bytes(4, "big")  # minor axis
        # reduced: Ni is "missing" (all ones) — widths are in the list
        + (b"\xff\xff\xff\xff" if gaussian_reduced is not None
           else nx.to_bytes(4, "big"))
        + ny.to_bytes(4, "big")
    )
    if mercator:
        k = 6371229.0 * math.cos(math.radians(mercator["laD"]))
        y1 = k * math.log(math.tan(math.pi / 4 + math.radians(la1) / 2))
        la2m = math.degrees(
            2 * math.atan(math.exp((y1 + (ny - 1) * mercator["dy"]) / k))
            - math.pi / 2
        )
        lo2m = (lo1 + math.degrees((nx - 1) * mercator["dx"] / k)) % 360.0
        s3 = s3_prefix + (
            _put_deg(la1) + _put_deg(lo1)
            + bytes([8])  # resolution/component flags
            + _put_deg(mercator["laD"])
            + _put_deg(la2m) + _put_deg(lo2m)
            + bytes([scan_mode])
            + (0).to_bytes(4, "big")  # orientation: 0
            + round(mercator["dx"] * 1000).to_bytes(4, "big")
            + round(mercator["dy"] * 1000).to_bytes(4, "big")
        )
    elif lambert or polar:
        proj = lambert or polar
        centre = 0x80 if (polar or {}).get("south") else 0
        s3 = s3_prefix + (
            _put_deg(la1) + _put_deg(lo1)
            + bytes([8])  # resolution/component flags: winds grid-relative
            + _put_deg(proj["laD"]) + _put_deg(proj["loV"])
            + round(proj["dx"] * 1000).to_bytes(4, "big")  # 10^-3 m
            + round(proj["dy"] * 1000).to_bytes(4, "big")
            + bytes([centre])
            + bytes([scan_mode])
        )
        if lambert:
            s3 += (
                _put_deg(lambert["latin1"]) + _put_deg(lambert["latin2"])
                + _put_deg(-90.0) + _put_deg(0.0)  # southern pole (unused)
            )
    else:
        # 3.0 and 3.40 share the layout; 3.40's octets 68-71 carry N
        # (parallels pole→equator) where 3.0 carries Dj
        s3 = s3_prefix + (
            (0).to_bytes(4, "big")  # basic angle
            + (0).to_bytes(4, "big")  # subdivisions
            + _put_deg(la1) + _put_deg(lo1)
            # resolution/component flags: di+dj given (0x30), except
            # reduced grids where Di is missing per WMO flag table 3.3
            + bytes([16 if gaussian_reduced is not None else 48])
            + _put_deg(la2) + _put_deg(lo2)
            + (b"\xff\xff\xff\xff" if gaussian_reduced is not None
               else _put_deg(dx))
            + (gaussian_n.to_bytes(4, "big") if gaussian_n is not None
               else _put_deg(dy))
            + bytes([scan_mode])
        )
        if gaussian_reduced is not None:
            # the optional points-per-row list trails the template
            s3 += b"".join(
                int(c).to_bytes(4, "big") for c in gaussian_reduced
            )
    # ensemble + interval = template 4.11 (statistics over an ensemble
    # member's time interval — GEFS accumulation members); derived +
    # interval = 4.12 (the GEFS mean/spread accumulations). In every
    # case the member/derivation octets precede the 4.8 interval
    # block, i.e. exactly the append order below
    if sum(x is not None
           for x in (ensemble, derived, probability, percentile,
                     cluster)) > 1:
        raise ValueError(
            "at most one of ensemble/derived/probability/percentile/"
            "cluster"
        )
    if percentile is not None and not 0 <= percentile <= 100:
        raise ValueError(f"percentile {percentile} out of range (0-100)")
    _cluster_circ = cluster is not None and "radius" in cluster
    pdt_code = (
        11 if ensemble is not None and interval_hours is not None
        else 12 if derived is not None and interval_hours is not None
        else (14 if _cluster_circ else 13)
        if cluster is not None and interval_hours is not None
        else 9 if probability is not None and interval_hours is not None
        else 10 if percentile is not None and interval_hours is not None
        else 8 if interval_hours is not None
        else 1 if ensemble is not None
        else 2 if derived is not None
        else 5 if probability is not None
        else 6 if percentile is not None
        else 4 if _cluster_circ
        else 3 if cluster is not None else 0
    )
    s4 = (
        b"\x04"
        + (0).to_bytes(2, "big")  # NV
        + pdt_code.to_bytes(2, "big")
        + bytes([parameter_category, parameter_number, 2, 0, 96])
        + (0).to_bytes(2, "big") + bytes([0])  # cutoff
        + bytes([1])  # time unit: hour
        + _put_s(forecast_hours, 4)
        + bytes([surface1_type, 0])
        + round(surface1_value).to_bytes(4, "big")
        + bytes([255, 0]) + (0).to_bytes(4, "big")  # surface 2 missing
    )
    if ensemble is not None:
        # template 4.1 tail: type (table 4.6), perturbation number,
        # number of forecasts in ensemble
        s4 += bytes([ensemble["type"], ensemble["number"],
                     ensemble["size"]])
    if derived is not None:
        # template 4.2 tail: derivation (table 4.7), ensemble size
        s4 += bytes([derived["type"], derived["size"]])
    if probability is not None:
        # template 4.5 tail: number, total, type (table 4.9), scaled
        # lower/upper limits (None → all-ones missing: open side)
        pscale = int(probability.get("scale", 2))

        def _lim(v) -> bytes:
            if v is None:
                return b"\xff" * 5
            return _put_s(pscale, 1) + _put_s(round(v * 10.0**pscale), 4)

        s4 += bytes([probability["number"], probability["total"],
                     probability["type"]])
        s4 += _lim(probability.get("lower")) + _lim(probability.get("upper"))
    if percentile is not None:
        # template 4.6 tail: the percentile (0-100)
        s4 += bytes([percentile])
    if cluster is not None:
        # template 4.3/4.4 tail: derivation pair (as 4.2), cluster
        # identity block, domain (corners → 4.3, centre+radius → 4.4),
        # scaled statistics (fixed scale factor 2), NC member numbers
        members = list(cluster.get("members", ()))
        s4 += bytes([
            cluster["type"], cluster["size"],
            cluster.get("identifier", 1),
            cluster.get("hi_res", 0), cluster.get("lo_res", 0),
            cluster.get("total", 1), cluster.get("method", 0),
        ])
        if "radius" in cluster:  # 4.4: circular domain, radius in m
            s4 += (_put_deg(cluster["lat"]) + _put_deg(cluster["lon"])
                   + round(cluster["radius"] * 1000).to_bytes(4, "big"))
        else:  # 4.3: rectangular corner domain
            s4 += (_put_deg(cluster["north"]) + _put_deg(cluster["south"])
                   + _put_deg(cluster["east"]) + _put_deg(cluster["west"]))
        s4 += bytes([len(members)])
        s4 += _put_s(2, 1) + round(
            cluster.get("std_dev", 0.0) * 100).to_bytes(4, "big")
        s4 += _put_s(2, 1) + round(
            cluster.get("distance", 0.0) * 100).to_bytes(4, "big")
        s4 += bytes(members)
    if interval_hours is not None:
        end = ref_time + timedelta(hours=forecast_hours + interval_hours)
        s4 += (
            end.year.to_bytes(2, "big")
            + bytes([end.month, end.day, end.hour, end.minute, end.second])
            + bytes([1])  # one time-range specification
            + (0).to_bytes(4, "big")  # no values missing
            # range: stat process, increment type 2 (same start), unit
            # hour, length, increment unit hour, increment 0
            + bytes([statistical_process, 2, 1])
            + interval_hours.to_bytes(4, "big")
            + bytes([1]) + (0).to_bytes(4, "big")
        )
    s5 = b"\x05" + n.to_bytes(4, "big") + s5_tail
    s6 = b"\x06" + bytes([255])
    s7 = b"\x07" + packed

    body = b"".join(
        (len(s) + 4).to_bytes(4, "big") + s for s in (s1, s3, s4, s5, s6, s7)
    )
    total = 16 + len(body) + 4
    s0 = b"GRIB" + bytes([0, 0, discipline, 2]) + total.to_bytes(8, "big")
    return s0 + body + b"7777"


def encode_grib2_file(messages: list[bytes]) -> bytes:
    """A GRIB2 file is messages back-to-back — no container framing."""
    return b"".join(messages)
