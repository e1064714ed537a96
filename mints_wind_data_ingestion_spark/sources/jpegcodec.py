"""Native baseline-JPEG codec (ITU-T T.81): pure Python + numpy, zero
codec dependencies.

Closes the largest real-world format gap in the multimodal decode path
(VERDICT r10 "what's missing" #3): LAION-class image dedup meets JPEG
before BMP/PPM/PNG, and this container ships no PIL. Follows the
engine's RFC-2083 PNG decoder precedent (sources/grib2codec.py:441).

Decoder (`decode_jpeg`):
  sequential DCT (SOF0; SOF1 extended sequential decodes on the same
  path) AND full progressive (SOF2: spectral selection + successive
  approximation, EOBn runs, DC/AC refinement scans — T.81 Annex G),
  8-bit precision, grayscale and 3-component YCbCr (JFIF) or RGB
  (Adobe APP14 transform 0), any integer chroma subsampling the
  spec's MCU grid can express (4:4:4, 4:2:2, 4:2:0, 4:1:1, ...),
  restart intervals (DRI/RSTn), byte stuffing, interleaved and
  per-component scans. Lossless, arithmetic-coded and 12-bit streams
  raise ValueError — the one exception class the multimodal quarantine
  boundary (multimodal.MM_DECODE_ERRORS) converts to an error row, so
  one damaged payload can never fail a task.

Encoder (`encode_jpeg`):
  deterministic baseline encoder used by tests and fixture generators:
  Annex K quantization tables scaled by the libjpeg quality formula,
  Annex K Huffman tables, 4:4:4 / 4:2:0 / grayscale, optional restart
  intervals. Not a rate-optimized production encoder — it exists so
  round-trip, corruption and dhash-stability properties are testable
  with zero dependencies (the JVM's javax.imageio codec provides the
  independent cross-check in tests/test_jpeg.py, so a symmetric
  encode/decode bug cannot hide).

Scale posture: entropy decode is per-image sequential Python (Huffman
is inherently bit-serial), everything after the bitstream (dequant,
de-zigzag, IDCT, upsample, color transform) is vectorized numpy over
all blocks at once. The parallel unit is the image: decode runs inside
the Arrow row node (`sources.arrow_rows`; multimodal.decode_image), so a 100 TB
corpus scales by partition count, never by driver work.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# constant tables (ITU-T T.81 Annex K — public spec data)
# ---------------------------------------------------------------------------


def _zigzag() -> np.ndarray:
    """Raster index of the k-th zigzag-ordered coefficient (T.81
    figure 5). Generated, and pinned against the spec's literal table
    in tests/test_jpeg.py so a generation bug cannot silently cancel
    between encoder and decoder."""
    out = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        for r in rng if s % 2 else reversed(rng):
            out.append(r * 8 + (s - r))
    return np.array(out, dtype=np.int64)


ZIGZAG = _zigzag()

#: Annex K table K.1 / K.2 — luminance and chrominance quantization
#: tables, raster order.
QTABLE_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QTABLE_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

#: Annex K tables K.3-K.6 — (BITS, HUFFVAL) pairs.
HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31,
        0x41, 0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32,
        0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52,
        0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28, 0x29, 0x2A,
        0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57,
        0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x83,
        0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93, 0x94,
        0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8,
        0xD9, 0xDA, 0xE1, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8,
        0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06,
        0x12, 0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81,
        0x08, 0x14, 0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33,
        0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56,
        0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A,
        0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92,
        0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6,
        0xD7, 0xD8, 0xD9, 0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7,
        0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# 8-point DCT-II basis: IDCT is A.T @ C @ A, forward DCT is A @ X @ A.T
_A = np.array([
    [
        (np.sqrt(0.5) if k == 0 else 1.0)
        * 0.5
        * np.cos((2 * n + 1) * k * np.pi / 16.0)
        for n in range(8)
    ]
    for k in range(8)
])


def scaled_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's quality→table scaling (jcparam.c convention, itself a
    restatement of the IJG public formula): scale = 5000/Q below 50,
    200 - 2Q at and above; entries clamped to [1, 255] (baseline DQT
    is 8-bit)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality {quality} outside [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _huff_decode_table(bits: list[int], values: list[int]) -> dict:
    """Canonical Huffman (code, length) → symbol map (T.81 C.2)."""
    if len(values) != sum(bits):
        raise ValueError("DHT: BITS/HUFFVAL length mismatch")
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("DHT: code overflow (corrupt BITS)")
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_encode_table(bits: list[int], values: list[int]) -> dict:
    """symbol → (code, length), the encoder-side inverse."""
    return {
        sym: (code, length)
        for (length, code), sym in _huff_decode_table(bits, values).items()
    }


# ---------------------------------------------------------------------------
# bitstream primitives
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first reader over one destuffed entropy-coded segment."""

    __slots__ = ("bits", "pos")

    def __init__(self, seg: bytes) -> None:
        self.bits = np.unpackbits(np.frombuffer(seg, dtype=np.uint8))
        self.pos = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.bits):
            raise ValueError("JPEG: truncated entropy-coded segment")
        b = int(self.bits[self.pos])
        self.pos += 1
        return b

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.pos + n > len(self.bits):
            raise ValueError("JPEG: truncated entropy-coded segment")
        sl = self.bits[self.pos : self.pos + n]
        self.pos += n
        return int(sl @ (1 << np.arange(n - 1, -1, -1, dtype=np.int64)))


def _decode_huff(r: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("JPEG: invalid Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    if s and v < (1 << (s - 1)):
        return v - (1 << s) + 1
    return v


class _BitWriter:
    """MSB-first writer with 0xFF byte stuffing (encoder side)."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:  # pad with 1-bits to the byte boundary (F.1.2.3)
            self.write(0x7F, 8 - self.nbits)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

_SOF_UNSUPPORTED = {
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic (SOF13)",
    0xCE: "differential arithmetic (SOF14)",
    0xCF: "differential arithmetic (SOF15)",
}

#: dimension sanity bound, matching the PNG decoder's _MAX_POINTS idea:
#: a corrupt SOF must not allocate an unbounded coefficient buffer
#: (the per-component plan allocates at SOF time — 16 Mpx ≈ 4096², a
#: sane ceiling for a curation-pipeline thumbnailing/dedup decode).
_MAX_PIXELS = 1 << 24


class _Component:
    """Per-component decode state. `coef` is the (by*bx, 64) int32
    zigzag-ordered quantized-coefficient plane, allocated at SOF and
    filled by one (sequential) or many (progressive) scans; IDCT runs
    once at EOI."""

    __slots__ = ("cid", "h", "v", "tq", "w", "ht", "bx", "by", "coef", "touched")

    def __init__(self, cid: int, h: int, v: int, tq: int) -> None:
        self.cid, self.h, self.v, self.tq = cid, h, v, tq
        self.touched = False


def _split_scan(data: bytes, o: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from offset `o`: destuff 0xFF00, split at
    RSTn markers; returns (segments, offset of the terminating marker)."""
    segs: list[bytes] = []
    cur = bytearray()
    n = len(data)
    i = o
    while i < n:
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        if i + 1 >= n:
            break
        m = data[i + 1]
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # a real marker terminates the scan
            break
    segs.append(bytes(cur))
    return segs, i


def _idct_blocks(zz: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(N, 64) zigzag-ordered quantized coeffs → (N, 8, 8) uint8
    samples: dequant, de-zigzag, 2-D IDCT, +128 level shift, clip.
    Fully vectorized — the per-bit work stays in the entropy loop."""
    raster = np.zeros_like(zz)
    raster[:, ZIGZAG] = zz * qtab[ZIGZAG]
    c = raster.reshape(-1, 8, 8).astype(np.float64)
    x = np.einsum("ij,njk,kl->nil", _A.T, c, _A)
    return np.clip(np.round(x) + 128.0, 0.0, 255.0).astype(np.uint8)


def decode_jpeg(data: bytes) -> dict:
    """Baseline or progressive JPEG → {"width", "height", "mode",
    "pixels"} matching the multimodal.decode_image contract. Every
    corruption mode raises ValueError (quarantine boundary; see module
    docstring)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("JPEG: bad SOI signature")
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    comps: list[_Component] = []
    w = h = 0
    restart_interval = 0
    progressive = False
    adobe_transform: int | None = None
    o = 2
    try:
        while o < len(data):
            if data[o] != 0xFF:
                raise ValueError(f"JPEG: expected marker at {o}")
            while o < len(data) and data[o] == 0xFF:
                o += 1  # fill bytes are legal between segments (B.1.1.2)
            marker = data[o]
            o += 1
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                continue  # TEM / stray RST: standalone, no length
            if o + 2 > len(data):
                raise ValueError("JPEG: truncated segment header")
            ln = struct.unpack_from(">H", data, o)[0]
            if ln < 2 or o + ln > len(data):
                raise ValueError("JPEG: segment length out of range")
            body = data[o + 2 : o + ln]
            o += ln
            if marker in _SOF_UNSUPPORTED:
                raise ValueError(
                    f"JPEG: {_SOF_UNSUPPORTED[marker]} not supported "
                    "(baseline sequential only)"
                )
            if marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1/SOF2
                if comps:
                    raise ValueError("JPEG: multiple SOF segments")
                progressive = marker == 0xC2
                prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
                if prec != 8:
                    raise ValueError(f"JPEG: {prec}-bit precision unsupported")
                if not w or not h or w * h > _MAX_PIXELS:
                    raise ValueError(f"JPEG: {w}x{h} dimensions implausible")
                if ncomp not in (1, 3):
                    raise ValueError(f"JPEG: {ncomp} components unsupported")
                for ci in range(ncomp):
                    cid, hv, tq = struct.unpack_from(">BBB", body, 6 + ci * 3)
                    comps.append(_Component(cid, hv >> 4, hv & 0xF, tq))
                for c in comps:
                    if not 1 <= c.h <= 4 or not 1 <= c.v <= 4:
                        raise ValueError("JPEG: sampling factor out of range")
                # allocate coefficient planes on the storage grid:
                # MCU-padded for multi-component frames; a single-
                # component frame ignores its sampling factors (A.1.1)
                hmax = max(c.h for c in comps)
                vmax = max(c.v for c in comps)
                for c in comps:
                    if ncomp == 1:
                        c.w, c.ht = w, h
                        c.bx, c.by = -(-w // 8), -(-h // 8)
                    else:
                        c.w = -(-w * c.h // hmax)
                        c.ht = -(-h * c.v // vmax)
                        c.bx = -(-w // (8 * hmax)) * c.h
                        c.by = -(-h // (8 * vmax)) * c.v
                    c.coef = np.zeros((c.by * c.bx, 64), dtype=np.int32)
            elif marker == 0xC4:  # DHT
                p = 0
                while p < len(body):
                    tc_th = body[p]
                    bits = list(body[p + 1 : p + 17])
                    if len(bits) < 16:
                        raise ValueError("JPEG: truncated DHT")
                    nsym = sum(bits)
                    vals = list(body[p + 17 : p + 17 + nsym])
                    if len(vals) < nsym:
                        raise ValueError("JPEG: truncated DHT values")
                    htables[(tc_th >> 4, tc_th & 0xF)] = _huff_decode_table(
                        bits, vals
                    )
                    p += 17 + nsym
            elif marker == 0xDB:  # DQT
                p = 0
                while p < len(body):
                    pq, tq = body[p] >> 4, body[p] & 0xF
                    if pq:  # 16-bit tables are extended-mode only
                        raise ValueError("JPEG: 16-bit DQT unsupported")
                    raw = np.frombuffer(
                        body, dtype=np.uint8, count=64, offset=p + 1
                    ).astype(np.int64)
                    t = np.zeros(64, dtype=np.int64)
                    t[ZIGZAG] = raw  # DQT is stored in zigzag order
                    qtables[tq] = t
                    p += 65
            elif marker == 0xDD:  # DRI
                restart_interval = struct.unpack_from(">H", body, 0)[0]
            elif marker == 0xEE and body[:5] == b"Adobe":  # APP14
                adobe_transform = body[11] if len(body) >= 12 else None
            elif marker == 0xDA:  # SOS
                if not comps:
                    raise ValueError("JPEG: SOS before SOF")
                o = _decode_scan(
                    data, o, body, comps, htables, restart_interval,
                    progressive, w, h,
                )
            # APPn / COM / others: skipped
    except (struct.error, IndexError) as exc:
        raise ValueError(f"JPEG: truncated stream ({exc})") from exc
    if not comps or not all(c.touched for c in comps):
        raise ValueError("JPEG: missing scan data for some components")
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    planes = []
    for c in comps:
        if c.tq not in qtables:
            raise ValueError("JPEG: SOF references missing quant table")
        blocks = _idct_blocks(
            c.coef.astype(np.int64), qtables[c.tq]
        ).reshape(c.by, c.bx, 8, 8)
        plane = blocks.transpose(0, 2, 1, 3).reshape(c.by * 8, c.bx * 8)
        ry, rx = vmax // c.v, hmax // c.h
        if (ry * c.v, rx * c.h) != (vmax, hmax):
            raise ValueError("JPEG: non-integer subsampling ratio")
        if ry > 1 or rx > 1:
            plane = plane.repeat(ry, axis=0).repeat(rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return {"width": w, "height": h, "mode": "L", "pixels": planes[0]}
    ycc = np.stack(planes, axis=-1).astype(np.float64)
    if adobe_transform == 0:  # Adobe APP14: components already RGB
        rgb = ycc
    else:  # JFIF YCbCr (ITU-R BT.601)
        y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
        rgb = np.stack(
            [
                y + 1.402 * cr,
                y - 0.344136 * cb - 0.714136 * cr,
                y + 1.772 * cb,
            ],
            axis=-1,
        )
    pixels = np.clip(np.round(rgb), 0.0, 255.0).astype(np.uint8)
    return {"width": w, "height": h, "mode": "RGB", "pixels": pixels}


def _block_dc_first(reader: _BitReader, blk, dc_tab: dict, al: int,
                    pred: int) -> int:
    """First (or only) DC pass: Huffman size class + EXTEND bits,
    differential against `pred`; progressive point transform shifts
    the value left by Al (F.2.2.1 / G.1.2.1)."""
    s = _decode_huff(reader, dc_tab)
    if s > 11:
        raise ValueError("JPEG: DC size out of range")
    pred += _extend(reader.read(s), s)
    blk[0] = pred << al
    return pred


def _block_ac_first(reader: _BitReader, blk, ac_tab: dict, ss: int,
                    se: int, al: int, eobrun: int) -> int:
    """First AC pass over band [ss, se]: run/size symbols with the
    progressive EOBn extension (G.1.2.2 — EOB run = 2^r + r extra
    bits; baseline's plain EOB is the r=0 degenerate case, so one
    loop serves both modes)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_huff(reader, ac_tab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.read(r)
            break
        k += r
        if k > se:
            raise ValueError("JPEG: AC run past band end")
        blk[k] = _extend(reader.read(s), s) << al
        k += 1
    return eobrun


def _block_dc_refine(reader: _BitReader, blk, al: int) -> None:
    """DC successive-approximation refinement: one appended bit
    (G.1.2.1); bitwise-OR on the two's-complement value."""
    if reader.read_bit():
        blk[0] = int(blk[0]) | (1 << al)


def _block_ac_refine(reader: _BitReader, blk, ac_tab: dict, ss: int,
                     se: int, al: int, eobrun: int) -> int:
    """AC successive-approximation refinement (G.1.2.3): newly nonzero
    coefficients arrive as ±2^Al; every already-nonzero coefficient
    crossed on the way receives one correction bit. History-zero
    coefficients alone count toward the run length."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(reader, ac_tab)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read(r)
                    break
                # ZRL: skip 16 history-zero coefficients, insert nothing
            else:
                if s != 1:
                    raise ValueError("JPEG: bad refinement magnitude")
                val = p1 if reader.read_bit() else m1
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if reader.read_bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # EOB run: correction bits only
            c = int(blk[k])
            if c != 0 and reader.read_bit() and (c & p1) == 0:
                blk[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan(
    data: bytes,
    o: int,
    sos: bytes,
    comps: list[_Component],
    htables: dict[tuple[int, int], dict],
    restart_interval: int,
    progressive: bool,
    w: int,
    h: int,
) -> int:
    """Decode one scan into the components' coefficient planes —
    interleaved or single-component, first pass or successive-
    approximation refinement; returns the offset of the marker that
    terminated the entropy-coded data."""
    ns = sos[0]
    if ns < 1 or len(sos) < 4 + 2 * ns:
        raise ValueError("JPEG: truncated SOS header")
    if progressive:
        ss, se = sos[1 + 2 * ns], sos[2 + 2 * ns]
        ah, al = sos[3 + 2 * ns] >> 4, sos[3 + 2 * ns] & 0xF
        if ss > se or se > 63 or al > 13 or ah > 13:
            raise ValueError("JPEG: invalid spectral selection")
        if ss == 0 and se != 0:
            raise ValueError("JPEG: progressive scan mixes DC and AC")
        if ss > 0 and ns != 1:
            raise ValueError("JPEG: interleaved progressive AC scan")
    else:
        ss, se, ah, al = 0, 63, 0, 0  # fixed for sequential (B.2.3)
    need_dc = ss == 0 and ah == 0
    need_ac = se > 0
    scan: list[tuple[_Component, dict | None, dict | None]] = []
    for i in range(ns):
        cs, tda = sos[1 + 2 * i], sos[2 + 2 * i]
        comp = next((c for c in comps if c.cid == cs), None)
        if comp is None:
            raise ValueError(f"JPEG: SOS names unknown component {cs}")
        dc = htables.get((0, tda >> 4)) if need_dc else None
        ac = htables.get((1, tda & 0xF)) if need_ac else None
        if (need_dc and dc is None) or (need_ac and ac is None):
            raise ValueError("JPEG: SOS references missing Huffman table")
        scan.append((comp, dc, ac))
    # unit geometry: an interleaved unit is one MCU; a single-
    # component scan's unit is one block on the COMPONENT's own grid
    # (A.2.2 — NOT the MCU-padded storage grid, which may be wider)
    if ns == 1:
        comp = scan[0][0]
        nbx, nby = -(-comp.w // 8), -(-comp.ht // 8)
        n_units = nbx * nby
    else:
        hmax = max(c.h for c in comps)
        vmax = max(c.v for c in comps)
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        n_units = mcux * mcuy
    segs, end = _split_scan(data, o)
    seg_i = 0
    reader = _BitReader(segs[0])
    pred = {c.cid: 0 for (c, _, _) in scan}
    eobrun = 0
    ac_ss = max(ss, 1)
    for u in range(n_units):
        if restart_interval and u and u % restart_interval == 0:
            seg_i += 1  # RSTn: byte-align, reset DC preds + EOB run
            if seg_i >= len(segs):
                raise ValueError("JPEG: missing restart segment")
            reader = _BitReader(segs[seg_i])
            pred = {c.cid: 0 for (c, _, _) in scan}
            eobrun = 0
        if ns == 1:
            comp, dc_tab, ac_tab = scan[0]
            by_, bx_ = divmod(u, nbx)
            units = [(comp, dc_tab, ac_tab, by_ * comp.bx + bx_)]
        else:
            my, mx = divmod(u, mcux)
            units = [
                (c, dc_tab, ac_tab, (my * c.v + v) * c.bx + (mx * c.h + hh))
                for (c, dc_tab, ac_tab) in scan
                for v in range(c.v)
                for hh in range(c.h)
            ]
        for comp, dc_tab, ac_tab, bi in units:
            blk = comp.coef[bi]
            if ah == 0:
                if need_dc:
                    pred[comp.cid] = _block_dc_first(
                        reader, blk, dc_tab, al, pred[comp.cid]
                    )
                if need_ac:
                    eobrun = _block_ac_first(
                        reader, blk, ac_tab, ac_ss, se, al, eobrun
                    )
            else:
                if ss == 0:
                    _block_dc_refine(reader, blk, al)
                if need_ac:
                    eobrun = _block_ac_refine(
                        reader, blk, ac_tab, ac_ss, se, al, eobrun
                    )
    for comp, _, _ in scan:
        comp.touched = True
    return end


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _plane_blocks(plane: np.ndarray, bx: int, by: int) -> np.ndarray:
    """Pad (edge-replicate) to (by*8, bx*8) and split into (N, 8, 8)."""
    ph, pw = by * 8 - plane.shape[0], bx * 8 - plane.shape[1]
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return (
        plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _encode_blocks(
    blocks: np.ndarray, qtab: np.ndarray
) -> np.ndarray:
    """(N, 8, 8) uint8 → (N, 64) zigzag-ordered quantized coeffs."""
    x = blocks.astype(np.float64) - 128.0
    c = np.einsum("ij,njk,kl->nil", _A, x, _A.T).reshape(-1, 64)
    quant = np.round(c / qtab.astype(np.float64)).astype(np.int64)
    # baseline 8-bit coefficient range: AC must fit the standard AC
    # tables' max magnitude category (10 bits); reachable only at
    # quality≈100 on synthetic Nyquist patterns, clamped with ~1 LSB
    # of error rather than emitting an unrepresentable symbol
    quant[:, 1:] = np.clip(quant[:, 1:], -1023, 1023)
    return quant[:, ZIGZAG]


def _emit_block(
    wtr: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_tab: dict,
    ac_tab: dict,
) -> int:
    diff = int(zz[0]) - pred
    mag = abs(diff)
    s = mag.bit_length()
    code, ln = dc_tab[s]
    wtr.write(code, ln)
    if s:
        wtr.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = int(nz[-1]) + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac_tab[(run << 4) | s]
        wtr.write(code, ln)
        wtr.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = ac_tab[0x00]  # EOB
        wtr.write(code, ln)
    return int(zz[0])


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(
    pixels,
    quality: int = 90,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Deterministic baseline-JPEG encoder (see module docstring).

    `pixels`: (H, W) grayscale or (H, W, 3) RGB uint8. `subsampling`:
    "4:4:4" or "4:2:0" (ignored for grayscale). `restart_interval` in
    MCUs (0 = none)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim not in (2, 3) or (px.ndim == 3 and px.shape[2] != 3):
        raise ValueError("encode_jpeg expects (H, W) or (H, W, 3) uint8")
    h, w = px.shape[:2]
    if not h or not w:
        raise ValueError("encode_jpeg: empty image")
    gray = px.ndim == 2
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError(f"subsampling {subsampling!r} unsupported")
    sub = (2, 2) if (subsampling == "4:2:0" and not gray) else (1, 1)
    qt_l = scaled_qtable(QTABLE_LUMA, quality)
    qt_c = scaled_qtable(QTABLE_CHROMA, quality)
    if gray:
        planes = [px.astype(np.float64)]
    else:
        r = px[..., 0].astype(np.float64)
        g = px[..., 1].astype(np.float64)
        b = px[..., 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
    hmax, vmax = sub
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    samp = [(hmax, vmax)] + [(1, 1)] * (len(planes) - 1)
    blocks = []
    for i, plane in enumerate(planes):
        ch, cv = samp[i]
        if i and (hmax, vmax) != (1, 1):  # box-average chroma downsample
            pad_h, pad_w = mcuy * vmax * 8, mcux * hmax * 8
            p = np.pad(
                plane,
                ((0, pad_h - h), (0, pad_w - w)),
                mode="edge",
            )
            plane = p.reshape(pad_h // vmax, vmax, pad_w // hmax, hmax).mean(
                axis=(1, 3)
            )
        plane = np.clip(np.round(plane), 0, 255).astype(np.uint8)
        qt = qt_l if i == 0 else qt_c
        blocks.append(
            _encode_blocks(
                _plane_blocks(plane, mcux * ch, mcuy * cv), qt
            )
        )
    # headers
    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HBB", 1, 0, 0))
    zz_l = qt_l[ZIGZAG].astype(np.uint8).tobytes()
    out += _seg(0xDB, b"\x00" + zz_l)
    if not gray:
        zz_c = qt_c[ZIGZAG].astype(np.uint8).tobytes()
        out += _seg(0xDB, b"\x01" + zz_c)
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        ch, cv = samp[ci]
        sof += bytes([ci + 1, (ch << 4) | cv, 0 if ci == 0 else 1])
    out += _seg(0xC0, sof)
    tables = [(0x00, HUFF_DC_LUMA), (0x10, HUFF_AC_LUMA)]
    if not gray:
        tables += [(0x01, HUFF_DC_CHROMA), (0x11, HUFF_AC_CHROMA)]
    for tid, (bits, vals) in tables:
        out += _seg(0xC4, bytes([tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += _seg(0xDA, sos)
    # entropy-coded data
    enc_dc_l = _huff_encode_table(*HUFF_DC_LUMA)
    enc_ac_l = _huff_encode_table(*HUFF_AC_LUMA)
    enc_dc_c = _huff_encode_table(*HUFF_DC_CHROMA)
    enc_ac_c = _huff_encode_table(*HUFF_AC_CHROMA)
    wtr = _BitWriter()
    pred = [0] * ncomp
    n_mcu = mcux * mcuy
    for mcu in range(n_mcu):
        if restart_interval and mcu and mcu % restart_interval == 0:
            wtr.flush()
            out += wtr.out
            out += bytes([0xFF, 0xD0 + ((mcu // restart_interval - 1) % 8)])
            wtr = _BitWriter()
            pred = [0] * ncomp
        my, mx = divmod(mcu, mcux)
        for ci in range(ncomp):
            ch, cv = samp[ci]
            bx = mcux * ch
            dc = enc_dc_l if ci == 0 else enc_dc_c
            ac = enc_ac_l if ci == 0 else enc_ac_c
            for v in range(cv):
                for hh in range(ch):
                    bi = (my * cv + v) * bx + (mx * ch + hh)
                    pred[ci] = _emit_block(
                        wtr, blocks[ci][bi], pred[ci], dc, ac
                    )
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)
