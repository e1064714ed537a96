"""Native zstd (Zstandard) codec — written from RFC 8878 ("Zstandard
Compression and the 'application/zstd' Media Type", IETF, 2021).

Why (r14): the WARC/JSONL first-mile (sources/warc.py) shipped with a
typed IMPORT GATE for `.zst` containers because the stdlib has no
zstd codec — but modern LLM corpus distributions (RedPajama-class
JSONL shards, filtered CommonCrawl derivatives) ship overwhelmingly
as `.jsonl.zst`. Zstd is LOSSLESS and fully specified by an RFC, so it
meets the engine's falsifiability doctrine the same way PNG/GIF/
TIFF/FLAC/VP8L did: byte-exact round-trip against the module's own
deterministic encoder + spec vectors + corruption fuzz; the optional
`zstandard`-binding cross-check rides tests/test_decoder_dispatch.py
for environments that ship it.

Decoder scope (ValueError outside it — the quarantine contract):
- frames: magic, frame header (single-segment and windowed forms, all
  FCS field sizes, dictionary-ID fields read but nonzero DID raises a
  typed gate — dictionary decompression is out of scope), content
  checksum verified with the module's own XXH64, skippable frames,
  multi-frame concatenation;
- blocks: Raw, RLE, Compressed (reserved type raises);
- literals: Raw, RLE, Compressed and Treeless (repeat-tree), 1-stream
  and 4-stream layouts, Huffman tree descriptions in BOTH forms
  (direct 4-bit weights and FSE-compressed weights with the
  two-state interleaved decode);
- sequences: all symbol-compression modes (Predefined, RLE,
  FSE_Compressed, Repeat), the full LL/ML/OF code tables, repeat
  offsets including the literals_length == 0 shift and the
  Repeated_Offset1 − 1 case;
- bounds: window/decompressed sizes capped by the caller's
  decompression-bomb budget; every table read is validated (accuracy
  logs, probability sums, oversubscribed Huffman weights).

Encoder scope (deterministic fixture half): frame writer with
options covering every decoder path that can be round-tripped —
raw/RLE/compressed blocks, Huffman literals with DIRECT or
FSE-COMPRESSED weight descriptions (the two-state interleaved weight
stream, built by decode-table inversion) in 1- or 4-stream layouts,
a real greedy hash-chain LZ77 match finder emitting sequences under
any of Predefined / RLE / FSE_Compressed (real normalized-count
serialization + tANS encoding by decode-table inversion) modes,
single-segment or windowed headers, optional XXH64 content checksum.
Only the Repeat/Treeless cross-block reuse modes remain decoder-only
(hand-built vectors in tests/test_zstd.py cover them).
"""

from __future__ import annotations

import struct

__all__ = ["ZstdError", "decompress_zstd", "compress_zstd", "xxh64"]


class ZstdError(ValueError):
    """Corruption/out-of-scope — a subclass of ValueError so every
    existing quarantine boundary classifies it."""


_MAGIC = 0xFD2FB528
_SKIPPABLE_LO = 0x184D2A50
_SKIPPABLE_HI = 0x184D2A5F

# ---------------------------------------------------------------------------
# XXH64 (public algorithm; content-checksum verification)
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(v: int, r: int) -> int:
    return ((v << r) | (v >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        # hot loop: _round/_rotl inlined (the per-lane call pair cost
        # more than the arithmetic on long inputs), locals bound
        P1, P2, M = _P1, _P2, _M64
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed
        v4 = (seed - P1) & M
        while i + 32 <= n:
            # bounded bulk unpack: one struct call per 64 KiB chunk
            stripes = min((n - i) >> 5, 2048)
            lanes = struct.unpack_from(f"<{stripes * 4}Q", data, i)
            i += stripes << 5
            for j in range(0, stripes * 4, 4):
                v1 = (v1 + lanes[j] * P2) & M
                v1 = (((v1 << 31) | (v1 >> 33)) & M) * P1 & M
                v2 = (v2 + lanes[j + 1] * P2) & M
                v2 = (((v2 << 31) | (v2 >> 33)) & M) * P1 & M
                v3 = (v3 + lanes[j + 2] * P2) & M
                v3 = (((v3 << 31) | (v3 >> 33)) & M) * P1 & M
                v4 = (v4 + lanes[j + 3] * P2) & M
                v4 = (((v4 << 31) | (v4 >> 33)) & M) * P1 & M
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = ((_rotl(h ^ _round(0, k), 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = ((_rotl((h ^ (k * _P1)) & _M64, 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl((h ^ (data[i] * _P5)) & _M64, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------


class _BackBits:
    """Zstd backward bitstream: bytes are written forward, read from
    the END; the last byte's highest set bit is the padding sentinel.
    Streaming implementation — a small accumulator refilled byte-wise
    from the back, O(total bits) regardless of stream size (a whole-
    stream big-int representation made every read O(stream) and the
    literal decode quadratic). Controlled past-the-end reads
    zero-fill from below (the interleaved Huffman-weight decode's
    contract); `pos` is the bits remaining and goes negative then."""

    __slots__ = ("data", "byte_pos", "acc", "nbits", "pos")

    def __init__(self, data: bytes):
        i = len(data) - 1
        while i >= 0 and data[i] == 0:
            i -= 1
        if i < 0:
            raise ZstdError("zstd: backward bitstream missing sentinel")
        top = data[i].bit_length() - 1  # bits below the sentinel byte
        self.data = data
        self.byte_pos = i
        self.acc = data[i] & ((1 << top) - 1)
        self.nbits = top
        self.pos = top + 8 * i

    def _fill(self, n: int) -> None:
        while self.nbits < n and self.byte_pos > 0:
            self.byte_pos -= 1
            self.acc = (self.acc << 8) | self.data[self.byte_pos]
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        self.pos -= n
        if self.nbits >= n:
            self.nbits -= n
            out = (self.acc >> self.nbits) & ((1 << n) - 1)
            self.acc &= (1 << self.nbits) - 1
            return out
        # over-read: remaining bits land at the TOP, zeros below
        out = (self.acc << (n - self.nbits)) & ((1 << n) - 1)
        self.acc = 0
        self.nbits = 0
        return out if self.pos > -n else 0

    def peek(self, n: int) -> int:
        self._fill(n)
        if self.nbits >= n:
            return (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        return (self.acc << (n - self.nbits)) & ((1 << n) - 1)

    def consume(self, n: int) -> None:
        self._fill(n)
        self.pos -= n
        if self.nbits >= n:
            self.nbits -= n
            self.acc &= (1 << self.nbits) - 1
        else:
            self.acc = 0
            self.nbits = 0


class _FwdBits:
    """Forward LSB-first bit reader (FSE table descriptions)."""

    __slots__ = ("data", "bitpos")

    def __init__(self, data: bytes):
        self.data = data
        self.bitpos = 0

    def read(self, n: int) -> int:
        out = 0
        for i in range(n):
            byte = self.bitpos >> 3
            if byte >= len(self.data):
                raise ZstdError("zstd: FSE description overruns input")
            out |= ((self.data[byte] >> (self.bitpos & 7)) & 1) << i
            self.bitpos += 1
        return out

    def bytes_consumed(self) -> int:
        return (self.bitpos + 7) >> 3


# ---------------------------------------------------------------------------
# FSE
# ---------------------------------------------------------------------------


class _FseTable:
    """Decoding table: per state → (symbol, nbBits, baseline)
    (RFC 8878 §4.1: x starts at the normalized count and increments
    per occurrence; nbBits = accuracy − highestBit(x), baseline =
    (x << nbBits) − tableSize)."""

    __slots__ = ("accuracy", "symbols", "nbits", "baseline")

    def __init__(self, counts: list[int], accuracy: int):
        size = 1 << accuracy
        # Σ positive counts + one cell per −1 entry must equal the
        # table size — enforced structurally below: the spread must
        # land back on position 0 with every cell filled.
        spread = [None] * size
        high = size - 1
        for sym, c in enumerate(counts):
            if c == -1:
                spread[high] = sym
                high -= 1
        step = (size >> 1) + (size >> 3) + 3
        pos = 0
        for sym, c in enumerate(counts):
            if c <= 0:
                continue
            for _ in range(c):
                spread[pos] = sym
                pos = (pos + step) & (size - 1)
                while pos > high:
                    pos = (pos + step) & (size - 1)
        if pos != 0 or any(s is None for s in spread):
            raise ZstdError("zstd: corrupt FSE distribution")
        self.accuracy = accuracy
        self.symbols = spread
        self.nbits = [0] * size
        self.baseline = [0] * size
        x = {
            sym: (1 if c == -1 else c) for sym, c in enumerate(counts)
        }
        for state in range(size):
            sym = spread[state]
            xv = x[sym]
            x[sym] += 1
            nb = accuracy - (xv.bit_length() - 1)
            self.nbits[state] = nb
            self.baseline[state] = (xv << nb) - size

    def states_of(self, sym: int) -> list[int]:
        return [s for s in range(len(self.symbols)) if self.symbols[s] == sym]


def _read_fse_counts(
    data: bytes, max_symbol: int, max_accuracy: int
) -> tuple[list[int], int, int]:
    """Read a normalized-count table description (forward bitstream,
    byte-aligned at the end) → (counts, accuracy, bytes_consumed)."""
    br = _FwdBits(data)
    accuracy = 5 + br.read(4)
    if accuracy > max_accuracy:
        raise ZstdError(
            f"zstd: FSE accuracy {accuracy} exceeds max {max_accuracy}"
        )
    remaining = (1 << accuracy) + 1
    counts: list[int] = []
    while remaining > 1:
        if len(counts) > max_symbol:
            raise ZstdError("zstd: FSE counts exceed max symbol")
        bits = remaining.bit_length()
        low_mask = (1 << (bits - 1)) - 1
        threshold = (1 << bits) - 1 - remaining
        v = br.read(bits - 1)
        if (v & low_mask) < threshold:
            value = v & low_mask
        else:
            v |= br.read(1) << (bits - 1)
            value = v if v <= low_mask else v - threshold
        proba = value - 1
        remaining -= 1 if proba < 0 else proba
        counts.append(proba)
        if proba == 0:
            while True:
                r = br.read(2)
                counts.extend([0] * r)
                if r != 3:
                    break
    if remaining != 1:
        raise ZstdError("zstd: FSE counts oversubscribed")
    return counts, accuracy, br.bytes_consumed()


# predefined distributions (RFC 8878 §3.1.1.3.2.2)
_LL_DEFAULT = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
     2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
     -1, -1, -1, -1],
    6,
)
_ML_DEFAULT = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
     -1, -1, -1, -1, -1],
    6,
)
_OF_DEFAULT = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1],
    5,
)

# literals-length codes (RFC 8878 table): code → (baseline, extra bits)
_LL_CODE = [(i, 0) for i in range(16)] + [
    (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3),
    (40, 3), (48, 4), (64, 6), (128, 7), (256, 8), (512, 9),
    (1024, 10), (2048, 11), (4096, 12), (8192, 13), (16384, 14),
    (32768, 15), (65536, 16),
]
_ML_CODE = [(i + 3, 0) for i in range(32)] + [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3),
    (59, 3), (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9),
    (1027, 10), (2051, 11), (4099, 12), (8195, 13), (16387, 14),
    (32771, 15), (65539, 16),
]

_MAX_ACCURACY = {"ll": 9, "of": 8, "ml": 9}
_MAX_SYMBOL = {"ll": 35, "of": 31, "ml": 52}


def _np_code_tables():
    """(base, bits) int64 column arrays of _LL_CODE/_ML_CODE for the
    vectorized encoder (lazy: numpy import stays off the decode-only
    path until first use)."""
    global _LL_BASE, _LL_BITS, _ML_BASE, _ML_BITS
    import numpy as np

    _LL_BASE = np.array([b for b, _ in _LL_CODE], dtype=np.int64)
    _LL_BITS = np.array([n for _, n in _LL_CODE], dtype=np.int64)
    _ML_BASE = np.array([b for b, _ in _ML_CODE], dtype=np.int64)
    _ML_BITS = np.array([n for _, n in _ML_CODE], dtype=np.int64)


_LL_BASE = _LL_BITS = _ML_BASE = _ML_BITS = None


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


class _HuffTable:
    """Weights → decode table (RFC 8878 §4.2.1): symbols sorted by
    (weight, index), numBits = maxBits + 1 − weight, each filling
    2^(weight−1) consecutive entries of the 2^maxBits table."""

    __slots__ = ("max_bits", "table")

    def __init__(self, weights: list[int]):
        total = sum((1 << (w - 1)) for w in weights if w > 0)
        if total == 0:
            raise ZstdError("zstd: empty Huffman weights")
        max_bits = (total - 1).bit_length() if total > 1 else 1
        if (1 << max_bits) != total:
            raise ZstdError("zstd: Huffman weights don't sum to a power of 2")
        if max_bits > 11:
            raise ZstdError("zstd: Huffman max bits > 11")
        table: list[tuple[int, int]] = [None] * (1 << max_bits)
        pos = 0
        for w in range(1, max_bits + 1):
            for sym, sw in enumerate(weights):
                if sw != w:
                    continue
                nbits = max_bits + 1 - w
                span = 1 << (w - 1)
                for _ in range(span):
                    table[pos] = (sym, nbits)
                    pos += 1
        if pos != len(table):
            raise ZstdError("zstd: Huffman table underfilled")
        self.max_bits = max_bits
        self.table = table

    def decode_stream(self, data: bytes, n_out: int) -> bytearray:
        bb = _BackBits(data)
        out = bytearray()
        mb = self.max_bits
        while len(out) < n_out:
            if bb.pos <= 0:
                raise ZstdError("zstd: Huffman stream exhausted")
            sym, nbits = self.table[bb.peek(mb)]
            bb.consume(nbits)
            out.append(sym)
        if bb.pos != 0:
            raise ZstdError(
                f"zstd: Huffman stream mis-sized ({bb.pos} bits left)"
            )
        return out


def _complete_last_weight(listed: list[int]) -> list[int]:
    """The serialized form omits the LAST symbol's weight; it completes
    the total to the next power of two."""
    total = sum((1 << (w - 1)) for w in listed if w > 0)
    if total == 0:
        raise ZstdError("zstd: Huffman weights all zero")
    next_pow = 1 << (total - 1).bit_length() if total > 1 else 2
    if next_pow == total:
        next_pow *= 2
    left = next_pow - total
    if left & (left - 1):
        raise ZstdError("zstd: Huffman weights not completable")
    return listed + [left.bit_length()]


def _read_huffman_description(data: bytes) -> tuple[_HuffTable, int]:
    """Huffman_Tree_Description → (table, bytes consumed)."""
    if not data:
        raise ZstdError("zstd: missing Huffman description")
    header = data[0]
    if header >= 128:  # direct 4-bit weights
        n = header - 127
        nbytes = (n + 1) // 2
        if 1 + nbytes > len(data):
            raise ZstdError("zstd: truncated Huffman weights")
        listed = []
        for i in range(n):
            b = data[1 + (i >> 1)]
            listed.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return _HuffTable(_complete_last_weight(listed)), 1 + nbytes
    # FSE-compressed weights
    comp = data[1 : 1 + header]
    if len(comp) < header:
        raise ZstdError("zstd: truncated Huffman FSE weights")
    counts, accuracy, used = _read_fse_counts(comp, 255, 6)
    table = _FseTable(counts, accuracy)
    bb = _BackBits(comp[used:])
    s1 = bb.read(accuracy)
    s2 = bb.read(accuracy)
    if bb.pos < 0:
        raise ZstdError("zstd: Huffman weight stream too short")
    # two-state interleaved decode (RFC 8878 §4.2.1.1): states
    # alternate; when a state update exhausts the bitstream, the OTHER
    # state's current symbol is the final weight
    listed: list[int] = []
    while True:
        listed.append(table.symbols[s1])
        s1 = table.baseline[s1] + bb.read(table.nbits[s1])
        if bb.pos <= 0:
            listed.append(table.symbols[s2])
            break
        listed.append(table.symbols[s2])
        s2 = table.baseline[s2] + bb.read(table.nbits[s2])
        if bb.pos <= 0:
            listed.append(table.symbols[s1])
            break
        if len(listed) > 255:
            raise ZstdError("zstd: too many Huffman weights")
    return _HuffTable(_complete_last_weight(listed)), 1 + header


# ---------------------------------------------------------------------------
# frame / block decoding
# ---------------------------------------------------------------------------

#: default decompressed-size budget (the warc bomb-guard convention)
_MAX_OUT = 1 << 28


def decompress_zstd(data: bytes, max_output: int = _MAX_OUT) -> bytes:
    """Decode a (possibly multi-frame) zstd stream. ZstdError — a
    ValueError — on corruption, dictionaries, or the bomb guard."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        if n - pos < 4:
            raise ZstdError("zstd: truncated magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if n - pos < 8:
                raise ZstdError("zstd: truncated skippable frame")
            (size,) = struct.unpack_from("<I", data, pos + 4)
            pos += 8 + size
            if pos > n:
                raise ZstdError("zstd: skippable frame overruns input")
            continue
        if magic != _MAGIC:
            raise ZstdError(f"zstd: bad magic 0x{magic:08x}")
        pos = _decode_frame(data, pos + 4, out, max_output)
    return bytes(out)


def _decode_frame(
    data: bytes, pos: int, out: bytearray, max_output: int
) -> int:
    n = len(data)
    if pos >= n:
        raise ZstdError("zstd: truncated frame header")
    desc = data[pos]
    pos += 1
    did_size = (0, 1, 2, 4)[desc & 3]
    checksum = bool(desc & 4)
    if desc & 8:
        raise ZstdError("zstd: reserved frame-header bit set")
    single = bool(desc & 0x20)
    fcs_code = desc >> 6
    fcs_size = (1 if single else 0, 2, 4, 8)[fcs_code]
    window_size = None
    if not single:
        if pos >= n:
            raise ZstdError("zstd: truncated window descriptor")
        wd = data[pos]
        pos += 1
        base = 1 << (10 + (wd >> 3))
        window_size = base + (base // 8) * (wd & 7)
    if did_size:
        if pos + did_size > n:
            raise ZstdError("zstd: truncated dictionary id")
        did = int.from_bytes(data[pos : pos + did_size], "little")
        pos += did_size
        if did:
            raise ZstdError(
                f"zstd: dictionary {did} required — dictionary "
                "decompression is out of scope (typed gate)"
            )
    content_size = None
    if fcs_size:
        if pos + fcs_size > n:
            raise ZstdError("zstd: truncated frame content size")
        content_size = int.from_bytes(data[pos : pos + fcs_size], "little")
        if fcs_size == 2:
            content_size += 256
        pos += fcs_size
    if single:
        window_size = content_size if content_size is not None else 0
    if content_size is not None and len(out) + content_size > max_output:
        raise ZstdError(
            f"zstd: declared content size {content_size} exceeds the "
            f"{max_output}-byte decompression-bomb guard"
        )
    if window_size is not None and window_size > max(max_output, 1 << 27):
        raise ZstdError("zstd: window size exceeds the bomb guard")

    frame_start = len(out)
    ctx = {"huff": None, "ll": None, "of": None, "ml": None,
           "rep": [1, 4, 8]}
    while True:
        if pos + 3 > n:
            raise ZstdError("zstd: truncated block header")
        hdr = int.from_bytes(data[pos : pos + 3], "little")
        pos += 3
        last = hdr & 1
        btype = (hdr >> 1) & 3
        bsize = hdr >> 3
        if btype == 0:  # raw
            if pos + bsize > n:
                raise ZstdError("zstd: truncated raw block")
            out += data[pos : pos + bsize]
            pos += bsize
        elif btype == 1:  # RLE
            if pos >= n:
                raise ZstdError("zstd: truncated RLE block")
            out += bytes([data[pos]]) * bsize
            pos += 1
        elif btype == 2:
            if pos + bsize > n:
                raise ZstdError("zstd: truncated compressed block")
            _decode_block(data[pos : pos + bsize], out, ctx)
            pos += bsize
        else:
            raise ZstdError("zstd: reserved block type")
        if len(out) > max_output:
            raise ZstdError(
                f"zstd: output exceeds the {max_output}-byte "
                "decompression-bomb guard"
            )
        if last:
            break
    if content_size is not None and len(out) - frame_start != content_size:
        raise ZstdError(
            f"zstd: decoded {len(out) - frame_start} bytes, frame "
            f"header declared {content_size}"
        )
    if checksum:
        if pos + 4 > n:
            raise ZstdError("zstd: truncated content checksum")
        (want,) = struct.unpack_from("<I", data, pos)
        pos += 4
        got = xxh64(bytes(out[frame_start:])) & 0xFFFFFFFF
        if got != want:
            raise ZstdError(
                f"zstd: content checksum mismatch "
                f"(got {got:08x}, want {want:08x})"
            )
    return pos


def _decode_block(block: bytes, out: bytearray, ctx: dict) -> None:
    literals, pos = _decode_literals(block, ctx)
    _decode_sequences(block[pos:], literals, out, ctx)


def _decode_literals(block: bytes, ctx: dict) -> tuple[bytes, int]:
    if not block:
        raise ZstdError("zstd: empty compressed block")
    b0 = block[0]
    ltype = b0 & 3
    sf = (b0 >> 2) & 3
    if ltype in (0, 1):  # raw / RLE
        if sf in (0, 2):
            regen = b0 >> 3
            hlen = 1
        elif sf == 1:
            if len(block) < 2:
                raise ZstdError("zstd: truncated literals header")
            regen = (b0 >> 4) | (block[1] << 4)
            hlen = 2
        else:
            if len(block) < 3:
                raise ZstdError("zstd: truncated literals header")
            regen = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            hlen = 3
        if ltype == 0:
            if hlen + regen > len(block):
                raise ZstdError("zstd: truncated raw literals")
            return block[hlen : hlen + regen], hlen + regen
        if hlen >= len(block):
            raise ZstdError("zstd: truncated RLE literal")
        return bytes([block[hlen]]) * regen, hlen + 1
    # compressed (2) / treeless (3)
    if sf == 0:
        streams, hlen = 1, 3
    elif sf == 1:
        streams, hlen = 4, 3
    elif sf == 2:
        streams, hlen = 4, 4
    else:
        streams, hlen = 4, 5
    if len(block) < hlen:
        raise ZstdError("zstd: truncated literals header")
    if hlen == 3:
        regen = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        comp = (block[1] >> 6) | (block[2] << 2)
    elif hlen == 4:
        regen = (b0 >> 4) | (block[1] << 4) | ((block[2] & 3) << 12)
        comp = (block[2] >> 2) | (block[3] << 6)
    else:
        regen = (b0 >> 4) | (block[1] << 4) | ((block[2] & 0x3F) << 12)
        comp = (block[2] >> 6) | (block[3] << 2) | (block[4] << 10)
    body = block[hlen : hlen + comp]
    if len(body) < comp:
        raise ZstdError("zstd: truncated compressed literals")
    if ltype == 2:
        huff, used = _read_huffman_description(body)
        ctx["huff"] = huff
        body = body[used:]
    else:
        huff = ctx["huff"]
        if huff is None:
            raise ZstdError("zstd: treeless literals with no previous tree")
    if streams == 1:
        lit = huff.decode_stream(body, regen)
    else:
        if len(body) < 6:
            raise ZstdError("zstd: truncated 4-stream jump table")
        s1, s2, s3 = struct.unpack_from("<HHH", body, 0)
        chunks = []
        off = 6
        per = (regen + 3) // 4
        sizes = [s1, s2, s3, len(body) - 6 - s1 - s2 - s3]
        if sizes[3] < 0:
            raise ZstdError("zstd: 4-stream jump table overruns")
        for k, size in enumerate(sizes):
            want = per if k < 3 else regen - 3 * per
            chunks.append(huff.decode_stream(body[off : off + size], want))
            off += size
        lit = bytearray()
        for c in chunks:
            lit += c
    if len(lit) != regen:
        raise ZstdError("zstd: literal count mismatch")
    return bytes(lit), hlen + comp


def _seq_table(
    mode: int, data: bytes, pos: int, kind: str, ctx: dict
):
    """One symbol-compression-mode table → (table-or-rle, new pos).
    Tables memo into ctx for Repeat mode."""
    if mode == 0:  # predefined
        default = {"ll": _LL_DEFAULT, "of": _OF_DEFAULT, "ml": _ML_DEFAULT}[
            kind
        ]
        table = _FseTable(*default)
        ctx[kind] = ("fse", table)
        return ctx[kind], pos
    if mode == 1:  # RLE: one byte, that symbol for every sequence
        if pos >= len(data):
            raise ZstdError("zstd: truncated RLE sequence table")
        ctx[kind] = ("rle", data[pos])
        return ctx[kind], pos + 1
    if mode == 2:  # FSE compressed
        counts, accuracy, used = _read_fse_counts(
            data[pos:], _MAX_SYMBOL[kind], _MAX_ACCURACY[kind]
        )
        table = _FseTable(counts, accuracy)
        ctx[kind] = ("fse", table)
        return ctx[kind], pos + used
    prev = ctx.get(kind)
    if prev is None:
        raise ZstdError(f"zstd: repeat mode with no previous {kind} table")
    return prev, pos


def _decode_sequences(
    data: bytes, literals: bytes, out: bytearray, ctx: dict
) -> None:
    if not data:
        raise ZstdError("zstd: missing sequences section")
    b0 = data[0]
    if b0 == 0:
        out += literals
        return
    if b0 < 128:
        nseq, pos = b0, 1
    elif b0 < 255:
        if len(data) < 2:
            raise ZstdError("zstd: truncated sequence count")
        nseq, pos = ((b0 - 128) << 8) + data[1], 2
    else:
        if len(data) < 3:
            raise ZstdError("zstd: truncated sequence count")
        nseq, pos = data[1] + (data[2] << 8) + 0x7F00, 3
    if pos >= len(data):
        raise ZstdError("zstd: truncated compression modes")
    modes = data[pos]
    pos += 1
    if modes & 3:
        raise ZstdError("zstd: reserved compression-mode bits set")
    ll, pos = _seq_table((modes >> 6) & 3, data, pos, "ll", ctx)
    of, pos = _seq_table((modes >> 4) & 3, data, pos, "of", ctx)
    ml, pos = _seq_table((modes >> 2) & 3, data, pos, "ml", ctx)

    bb = _BackBits(data[pos:])
    ll_state = bb.read(ll[1].accuracy) if ll[0] == "fse" else None
    of_state = bb.read(of[1].accuracy) if of[0] == "fse" else None
    ml_state = bb.read(ml[1].accuracy) if ml[0] == "fse" else None
    if bb.pos < 0:
        raise ZstdError("zstd: sequence bitstream underflow at init")

    # hot loop: the backward bit reader runs inlined on locals (the
    # six `bb.read` method calls per sequence dominated the decode
    # profile); per-channel mode flags and FSE table columns are
    # hoisted out of the loop. Semantics (including the over-read
    # zero-fill and every error message) are unchanged — pinned by the
    # spec-vector and fuzz tests.
    bdata = bb.data
    byte_pos = bb.byte_pos
    acc = bb.acc
    bits_avail = bb.nbits
    bpos = bb.pos

    of_fse = of[0] == "fse"
    ml_fse = ml[0] == "fse"
    ll_fse = ll[0] == "fse"
    of_rle_code = None if of_fse else of[1]
    ml_rle_code = None if ml_fse else ml[1]
    ll_rle_code = None if ll_fse else ll[1]
    if of_fse:
        of_symbols, of_nb, of_base = (
            of[1].symbols, of[1].nbits, of[1].baseline
        )
    if ml_fse:
        ml_symbols, ml_nb, ml_base_t = (
            ml[1].symbols, ml[1].nbits, ml[1].baseline
        )
    if ll_fse:
        ll_symbols, ll_nb, ll_base_t = (
            ll[1].symbols, ll[1].nbits, ll[1].baseline
        )
    ml_code_table = _ML_CODE
    ll_code_table = _LL_CODE
    n_ml_codes = len(ml_code_table)
    n_ll_codes = len(ll_code_table)

    rep = ctx["rep"]
    lit_pos = 0
    lit_n = len(literals)
    last = nseq - 1
    out_len = len(out)
    for i in range(nseq):
        of_code = of_symbols[of_state] if of_fse else of_rle_code
        ml_code = ml_symbols[ml_state] if ml_fse else ml_rle_code
        ll_code = ll_symbols[ll_state] if ll_fse else ll_rle_code
        if of_code > 31:
            raise ZstdError(f"zstd: offset code {of_code} out of range")
        # inline read(of_code)
        if of_code:
            while bits_avail < of_code and byte_pos > 0:
                byte_pos -= 1
                acc = (acc << 8) | bdata[byte_pos]
                bits_avail += 8
            bpos -= of_code
            if bits_avail >= of_code:
                bits_avail -= of_code
                v = (acc >> bits_avail) & ((1 << of_code) - 1)
                acc &= (1 << bits_avail) - 1
            else:
                v = (acc << (of_code - bits_avail)) & ((1 << of_code) - 1)
                acc = 0
                bits_avail = 0
                if bpos <= -of_code:
                    v = 0
            offset_value = (1 << of_code) + v
        else:
            offset_value = 1
        if ml_code >= n_ml_codes:
            raise ZstdError(
                f"zstd: match-length code {ml_code} out of range"
            )
        ml_base, nb = ml_code_table[ml_code]
        if nb:
            while bits_avail < nb and byte_pos > 0:
                byte_pos -= 1
                acc = (acc << 8) | bdata[byte_pos]
                bits_avail += 8
            bpos -= nb
            if bits_avail >= nb:
                bits_avail -= nb
                v = (acc >> bits_avail) & ((1 << nb) - 1)
                acc &= (1 << bits_avail) - 1
            else:
                v = (acc << (nb - bits_avail)) & ((1 << nb) - 1)
                acc = 0
                bits_avail = 0
                if bpos <= -nb:
                    v = 0
            match_len = ml_base + v
        else:
            match_len = ml_base
        if ll_code >= n_ll_codes:
            raise ZstdError(
                f"zstd: literals-length code {ll_code} out of range"
            )
        ll_base, nb = ll_code_table[ll_code]
        if nb:
            while bits_avail < nb and byte_pos > 0:
                byte_pos -= 1
                acc = (acc << 8) | bdata[byte_pos]
                bits_avail += 8
            bpos -= nb
            if bits_avail >= nb:
                bits_avail -= nb
                v = (acc >> bits_avail) & ((1 << nb) - 1)
                acc &= (1 << bits_avail) - 1
            else:
                v = (acc << (nb - bits_avail)) & ((1 << nb) - 1)
                acc = 0
                bits_avail = 0
                if bpos <= -nb:
                    v = 0
            lit_len = ll_base + v
        else:
            lit_len = ll_base
        if bpos < 0:
            raise ZstdError("zstd: sequence bitstream underflow")

        if offset_value > 3:
            offset = offset_value - 3
            rep[0], rep[1], rep[2] = offset, rep[0], rep[1]
        else:
            idx = offset_value - 1 + (1 if lit_len == 0 else 0)
            if idx == 0:
                offset = rep[0]
            elif idx == 1:
                offset = rep[1]
                rep[0], rep[1] = offset, rep[0]
            elif idx == 2:
                offset = rep[2]
                rep[0], rep[1], rep[2] = offset, rep[0], rep[1]
            else:  # Repeated_Offset1 − 1
                offset = rep[0] - 1
                if offset == 0:
                    raise ZstdError("zstd: repeat offset underflows to 0")
                rep[0], rep[1], rep[2] = offset, rep[0], rep[1]

        if lit_pos + lit_len > lit_n:
            raise ZstdError("zstd: sequence literals overrun")
        out += literals[lit_pos : lit_pos + lit_len]
        lit_pos += lit_len
        out_len += lit_len
        if offset > out_len:
            raise ZstdError("zstd: match offset before output start")
        if offset >= match_len:  # non-overlapping: one slice copy
            start = out_len - offset
            out += out[start : start + match_len]
        else:  # overlapping run: the repeat is the point
            for _ in range(match_len):
                out.append(out[-offset])
        out_len += match_len

        if i != last:
            if ll_fse:
                nb = ll_nb[ll_state]
                base = ll_base_t[ll_state]
                if nb:
                    while bits_avail < nb and byte_pos > 0:
                        byte_pos -= 1
                        acc = (acc << 8) | bdata[byte_pos]
                        bits_avail += 8
                    bpos -= nb
                    if bits_avail >= nb:
                        bits_avail -= nb
                        v = (acc >> bits_avail) & ((1 << nb) - 1)
                        acc &= (1 << bits_avail) - 1
                    else:
                        v = (acc << (nb - bits_avail)) & ((1 << nb) - 1)
                        acc = 0
                        bits_avail = 0
                        if bpos <= -nb:
                            v = 0
                    ll_state = base + v
                else:
                    ll_state = base
            if ml_fse:
                nb = ml_nb[ml_state]
                base = ml_base_t[ml_state]
                if nb:
                    while bits_avail < nb and byte_pos > 0:
                        byte_pos -= 1
                        acc = (acc << 8) | bdata[byte_pos]
                        bits_avail += 8
                    bpos -= nb
                    if bits_avail >= nb:
                        bits_avail -= nb
                        v = (acc >> bits_avail) & ((1 << nb) - 1)
                        acc &= (1 << bits_avail) - 1
                    else:
                        v = (acc << (nb - bits_avail)) & ((1 << nb) - 1)
                        acc = 0
                        bits_avail = 0
                        if bpos <= -nb:
                            v = 0
                    ml_state = base + v
                else:
                    ml_state = base
            if of_fse:
                nb = of_nb[of_state]
                base = of_base[of_state]
                if nb:
                    while bits_avail < nb and byte_pos > 0:
                        byte_pos -= 1
                        acc = (acc << 8) | bdata[byte_pos]
                        bits_avail += 8
                    bpos -= nb
                    if bits_avail >= nb:
                        bits_avail -= nb
                        v = (acc >> bits_avail) & ((1 << nb) - 1)
                        acc &= (1 << bits_avail) - 1
                    else:
                        v = (acc << (nb - bits_avail)) & ((1 << nb) - 1)
                        acc = 0
                        bits_avail = 0
                        if bpos <= -nb:
                            v = 0
                    of_state = base + v
                else:
                    of_state = base
            if bpos < 0:
                raise ZstdError("zstd: sequence state update underflow")
    if bpos != 0:
        raise ZstdError(
            f"zstd: {bpos} unconsumed sequence bits"
        )
    out += literals[lit_pos:]


# ---------------------------------------------------------------------------
# encoder (deterministic fixture half)
# ---------------------------------------------------------------------------


def _pack_backward(reads: list) -> bytes:
    """Emit a zstd backward bitstream: `reads` is the (value, nbits)
    list in DECODER-read order; the first read lands just under the
    padding sentinel, exactly where `_BackBits` starts. Streaming:
    the LAST read occupies the lowest bits, so building in reverse
    lets finished low bytes flush immediately (O(total bits) — the
    single big-int shift chain was quadratic)."""
    out = bytearray()
    acc = 0
    nbits = 0
    for v, n in reversed(reads):
        acc |= (v & ((1 << n) - 1)) << nbits
        nbits += n
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    acc |= 1 << nbits  # sentinel above the first read
    out.append(acc & 0xFF)
    acc >>= 8
    while acc:
        out.append(acc & 0xFF)
        acc >>= 8
    return bytes(out)


def _pack_backward_arrays(v_arr, n_arr) -> bytes:
    """Vectorized `_pack_backward` over (values, widths) int64 arrays
    in decoder-read order — byte-identical output (pinned in tests).
    The stream little-endian-reversed is an MSB-first bit string:
    leading pad zeros, the sentinel 1, then each field's bits
    MSB-first in read order — assembled as one 0/1 array (the FLAC
    `write_bitarr` recipe) and byte-packed in a single packbits pass.
    Fields wider than 62 bits never occur (offsets cap near 2^31)."""
    import numpy as np

    v = np.asarray(v_arr, dtype=np.int64)
    n = np.asarray(n_arr, dtype=np.int64)
    keep = n > 0  # zero-width fields contribute no bits
    v, n = v[keep], n[keep]
    total = int(n.sum())
    nbytes = (total >> 3) + 1
    lead = nbytes * 8 - total - 1
    if len(n):
        starts = np.concatenate(([0], np.cumsum(n)[:-1]))
        pos_in_field = np.arange(total) - np.repeat(starts, n)
        shift = np.repeat(n, n) - 1 - pos_in_field
        field_bits = ((np.repeat(v, n) >> shift) & 1).astype(np.uint8)
    else:
        field_bits = np.empty(0, dtype=np.uint8)
    bits = np.empty(nbytes * 8, dtype=np.uint8)
    bits[:lead] = 0
    bits[lead] = 1
    bits[lead + 1 :] = field_bits
    return np.packbits(bits).tobytes()[::-1]


class _FwdBitsWriter:
    """Forward LSB-first writer (FSE table descriptions)."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _normalize_counts(freqs: dict[int, int], accuracy: int) -> list[int]:
    """Histogram → normalized counts summing to 2^accuracy, every
    present symbol ≥ 1 (the encoder never emits −1 probabilities —
    the decoder's −1 path is spec-vector-tested)."""
    size = 1 << accuracy
    total = sum(freqs.values())
    syms = sorted(freqs)
    if len(syms) > size:
        raise ZstdError("zstd: accuracy too small for symbol count")
    counts = {s: max(1, (freqs[s] * size) // total) for s in syms}
    diff = size - sum(counts.values())
    # settle the remainder on the most frequent symbols (stable order)
    by_freq = sorted(syms, key=lambda s: (-freqs[s], s))
    i = 0
    while diff != 0:
        s = by_freq[i % len(by_freq)]
        if diff > 0:
            counts[s] += 1
            diff -= 1
        elif counts[s] > 1:
            counts[s] -= 1
            diff += 1
        i += 1
    return [counts.get(s, 0) for s in range(max(syms) + 1)]


def _write_fse_counts(counts: list[int], accuracy: int) -> bytes:
    """Serialize a normalized-count table (inverse of
    `_read_fse_counts`), byte-aligned."""
    bw = _FwdBitsWriter()
    bw.write(accuracy - 5, 4)
    remaining = (1 << accuracy) + 1
    i = 0
    while remaining > 1 and i < len(counts):
        c = counts[i]
        i += 1
        bits = remaining.bit_length()
        low_mask = (1 << (bits - 1)) - 1
        threshold = (1 << bits) - 1 - remaining
        value = c + 1  # −1 would encode as 0; encoder never emits it
        if value < threshold:
            bw.write(value, bits - 1)
        else:
            v = value if value <= low_mask else value + threshold
            bw.write(v, bits)
        remaining -= c if c > 0 else (1 if c < 0 else 0)
        if c == 0:
            # count the zero run that follows and emit 2-bit repeats
            z = 0
            while i + z < len(counts) and counts[i + z] == 0:
                z += 1
            i += z
            while z >= 3:
                bw.write(3, 2)
                z -= 3
            bw.write(z, 2)
    return bw.finish()


def _fse_encode_states(
    table: _FseTable, symbols: list[int]
) -> tuple[int, list]:
    """tANS encoding by decode-table inversion: returns (init_state,
    [(bits, nbits) per transition in SEQUENCE order]). For each
    backward step, the state whose [baseline, baseline+2^nbits) range
    contains the successor state is unique — the per-symbol ranges
    partition the state space, so a bisect over baselines finds the
    SAME state the linear scan did, in O(log) instead of O(states)."""
    import bisect as _bisect

    size = 1 << table.accuracy
    by_symbol: dict[int, list[int]] = {}
    for st in range(size):
        by_symbol.setdefault(table.symbols[st], []).append(st)
    # per symbol: state list sorted by baseline + the baseline keys
    # (ranges partition [0, size), so containment == bisect hit)
    inv: dict[int, tuple[list[int], list[int]]] = {}
    for sym, sts in by_symbol.items():
        srt = sorted(sts, key=lambda st: table.baseline[st])
        inv[sym] = ([table.baseline[st] for st in srt], srt)
    cur = by_symbol[symbols[-1]][0]  # any state emitting the last symbol
    transitions: list = []
    for sym in reversed(symbols[:-1]):
        lows, sts = inv[sym]
        st = sts[_bisect.bisect_right(lows, cur) - 1]
        lo = table.baseline[st]
        if not (lo <= cur < lo + (1 << table.nbits[st])):
            raise AssertionError("FSE inversion: no covering state")
        transitions.append((cur - lo, table.nbits[st]))
        cur = st
    transitions.reverse()
    return cur, transitions


def _huff_encode_info(freqs: dict[int, int]):
    """Literal histogram → (weights list incl. implied last, codes
    {sym: (code, nbits)}, serialized direct-weights description)."""
    from .webpcodec import _huffman_lengths_impl

    lengths = _huffman_lengths_impl(freqs, max_len=11)
    max_len = max(lengths.values())
    weights = {s: max_len + 1 - l for s, l in lengths.items()}
    last_sym = max(weights)
    full = [weights.get(s, 0) for s in range(last_sym + 1)]
    # decode-table layout: symbols by (weight asc, symbol asc) fill
    # 2^(w−1)-entry aligned spans; the code is the span's top bits
    total = sum(1 << (w - 1) for w in full if w > 0)
    max_bits = (total - 1).bit_length()
    codes = {}
    pos = 0
    for w in range(1, max_bits + 1):
        for sym in range(last_sym + 1):
            if full[sym] != w:
                continue
            nbits = max_bits + 1 - w
            codes[sym] = (pos >> (max_bits - nbits), nbits)
            pos += 1 << (w - 1)
    listed = full[:-1]  # last present symbol's weight is implied
    if len(listed) > 128:  # direct form caps at headerByte 255
        return full, codes, None
    desc = bytearray([127 + len(listed)])
    for j in range(0, len(listed), 2):
        hi = listed[j] << 4
        lo = listed[j + 1] if j + 1 < len(listed) else 0
        desc.append(hi | lo)
    return full, codes, bytes(desc)


def _code_of(value: int, kind: str) -> int:
    table = _LL_CODE if kind == "ll" else _ML_CODE
    # baselines ascend: binary search the last baseline ≤ value
    lo, hi = 0, len(table) - 1
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if table[mid][0] <= value:
            lo = mid
        else:
            hi = mid - 1
    return lo


def _find_sequences(data: bytes, min_match: int = 4):
    """Greedy hash-table LZ77: returns (sequences, literals) where
    sequences = [(lit_len, match_len, offset), ...] and `literals` is
    the concatenation of all literal runs (zstd stores literals
    separately from sequence structure)."""
    n = len(data)
    seqs = []
    lits = bytearray()
    i = 0
    lit_start = 0
    if min_match == 4 and n >= 4:
        # hot path: precompute every position's 4-byte window as one
        # little-endian uint32 (vectorized) — key equality IS bytes
        # equality, so the dict probe needs no slice + no re-compare
        import numpy as np

        a = np.frombuffer(data, dtype=np.uint8).astype(np.uint32)
        keys = (
            a[: n - 3]
            | (a[1 : n - 2] << np.uint32(8))
            | (a[2 : n - 1] << np.uint32(16))
            | (a[3:] << np.uint32(24))
        ).tolist()
        table: dict[int, int] = {}
        get = table.get
        while i + 4 <= n:
            key = keys[i]
            j = get(key)
            table[key] = i
            if j is not None:
                length = 4
                while i + length < n and data[j + length] == data[i + length]:
                    length += 1
                lits += data[lit_start:i]
                seqs.append((i - lit_start, length, i - j))
                i += length
                lit_start = i
            else:
                i += 1
        lits += data[lit_start:]
        return seqs, bytes(lits)
    btable: dict[bytes, int] = {}
    while i + min_match <= n:
        key = data[i : i + min_match]
        j = btable.get(key)
        btable[key] = i
        if j is not None and data[j : j + min_match] == key:
            length = min_match
            while i + length < n and data[j + length] == data[i + length]:
                length += 1
            lits += data[lit_start:i]
            seqs.append((i - lit_start, length, i - j))
            i += length
            lit_start = i
        else:
            i += 1
    lits += data[lit_start:]
    return seqs, bytes(lits)


def _compressed_lit_header(n: int, comp: int, four: bool) -> bytes | None:
    """Literals-section header for Compressed type: Size_Format 00
    (1 stream, 10+10 bits), 01 (4 streams, 10+10), 10 (4, 14+14),
    11 (4, 18+18)."""
    if not four and n <= 1023 and comp <= 1023:
        b0 = 2 | (0 << 2) | ((n & 0xF) << 4)
        return bytes([b0, (n >> 4) | ((comp & 3) << 6), comp >> 2])
    if four and n <= 1023 and comp <= 1023:
        b0 = 2 | (1 << 2) | ((n & 0xF) << 4)
        return bytes([b0, (n >> 4) | ((comp & 3) << 6), comp >> 2])
    if four and n <= 16383 and comp <= 16383:
        b0 = 2 | (2 << 2) | ((n & 0xF) << 4)
        return bytes(
            [b0, (n >> 4) & 0xFF, ((n >> 12) & 3) | ((comp & 0x3F) << 2),
             comp >> 6]
        )
    if four and n <= 262143 and comp <= 262143:
        b0 = 2 | (3 << 2) | ((n & 0xF) << 4)
        return bytes(
            [b0, (n >> 4) & 0xFF, ((n >> 12) & 0x3F) | ((comp & 3) << 6),
             (comp >> 2) & 0xFF, comp >> 10]
        )
    return None


def _literals_section(
    literals: bytes, mode: str
) -> bytes:
    """`mode`: raw | huffman (1-stream, direct weights where the
    alphabet allows, FSE-compressed weights otherwise) | huffman_fse
    (force the FSE-weights description) | huffman4 (4-stream layout
    with the jump table). Falls back to raw whenever the compressed
    form wouldn't fit or win."""
    import numpy as np

    n = len(literals)
    want_huff = mode in ("huffman", "huffman_fse", "huffman4")
    if want_huff and n >= 8 and len(set(literals)) >= 2:
        lit_arr = np.frombuffer(literals, dtype=np.uint8)
        binc = np.bincount(lit_arr, minlength=256)
        freqs = {int(s): int(c) for s, c in enumerate(binc) if c}
        full, codes, direct_desc = _huff_encode_info(freqs)
        desc = None
        if mode == "huffman_fse" or direct_desc is None:
            desc = _fse_encode_weights(full[:-1])
        if desc is None:
            desc = direct_desc
        if desc is not None:
            # per-byte code/width gather tables → one vectorized
            # backward pack per stream (byte-identical to the
            # per-literal append loop)
            code_v = np.zeros(256, dtype=np.int64)
            code_n = np.zeros(256, dtype=np.int64)
            for s, (c, nb) in codes.items():
                code_v[s] = c
                code_n[s] = nb
            four = mode == "huffman4"
            if four:
                per = (n + 3) // 4
                chunks = [
                    lit_arr[i * per : (i + 1) * per] for i in range(3)
                ]
                chunks.append(lit_arr[3 * per :])
                streams = [
                    _pack_backward_arrays(code_v[c], code_n[c])
                    for c in chunks
                ]
                body = (
                    desc
                    + struct.pack(
                        "<HHH", len(streams[0]), len(streams[1]),
                        len(streams[2]),
                    )
                    + b"".join(streams)
                )
            else:
                body = desc + _pack_backward_arrays(
                    code_v[lit_arr], code_n[lit_arr]
                )
            comp = len(body)
            hdr = _compressed_lit_header(n, comp, four)
            if hdr is not None and comp < n:
                return hdr + body
    # raw literals
    if n <= 31:
        return bytes([0 | (n << 3)]) + literals
    if n <= 4095:
        return bytes([0 | (1 << 2) | ((n & 0xF) << 4), n >> 4]) + literals
    return bytes(
        [0 | (3 << 2) | ((n & 0xF) << 4), (n >> 4) & 0xFF, n >> 12]
    ) + literals


def _fse_encode_states_arr(table: _FseTable, syms):
    """Array `_fse_encode_states`: same inversion, same output bits
    (byte-identity pinned in tests). Per symbol, the covering state
    for every successor is precomputed as a full size-length row —
    the per-symbol [baseline, baseline+2^nbits) ranges partition the
    state space, so `np.repeat(states_by_baseline, spans)` builds each
    row in one shot and the sequential chain walk becomes three list
    indexings per step instead of a bisect + tuple build."""
    import numpy as np

    size = 1 << table.accuracy
    symbols = np.asarray(table.symbols, dtype=np.int64)
    nbits = np.asarray(table.nbits, dtype=np.int64)
    baseline = np.asarray(table.baseline, dtype=np.int64)
    order = np.lexsort((baseline, symbols))
    cover_flat = np.repeat(order, (1 << nbits)[order])
    present = np.unique(symbols)
    row_of = {int(s): r for r, s in enumerate(present)}
    cover_rows = [
        cover_flat[r * size : (r + 1) * size].tolist()
        for r in range(len(present))
    ]
    base_l = table.baseline
    nbits_l = table.nbits
    sym_l = table.symbols
    s_list = syms.tolist() if hasattr(syms, "tolist") else list(syms)
    n = len(s_list)
    # init state: the LOWEST state index emitting the last symbol
    # (the dict-build order of the scalar version)
    last = s_list[-1]
    cur = next(st for st in range(size) if sym_l[st] == last)
    tv = [0] * (n - 1)
    tn = [0] * (n - 1)
    for i in range(n - 2, -1, -1):
        st = cover_rows[row_of[s_list[i]]][cur]
        tv[i] = cur - base_l[st]
        tn[i] = nbits_l[st]
        cur = st
    return cur, tv, tn


def _sequences_section(seqs: list, seq_mode: str) -> bytes:
    import numpy as np

    if not seqs:
        return b"\x00"
    nseq = len(seqs)
    if nseq < 128:
        count = bytes([nseq])
    elif nseq < 0x7F00 + 255:
        count = bytes([128 + (nseq >> 8), nseq & 0xFF])
    else:
        rest = nseq - 0x7F00
        count = bytes([255, rest & 0xFF, rest >> 8])

    # vectorized symbol/extra-bits derivation (byte-identical to the
    # per-sequence loop): offset code = floor(log2) via frexp (exact —
    # offsets stay far under 2^52), ll/ml codes by searchsorted over
    # the RFC tables' ascending baselines
    if _LL_BASE is None:
        _np_code_tables()
    arr = np.asarray(seqs, dtype=np.int64)
    lit_len, match_len = arr[:, 0], arr[:, 1]
    ov = arr[:, 2] + 3  # absolute offsets only (> 3 skips rep logic)
    of_syms = np.frexp(ov.astype(np.float64))[1] - 1
    of_extra_v = ov - (np.int64(1) << of_syms)
    ml_syms = np.searchsorted(_ML_BASE, match_len, side="right") - 1
    ml_extra_v = match_len - _ML_BASE[ml_syms]
    ml_extra_n = _ML_BITS[ml_syms]
    ll_syms = np.searchsorted(_LL_BASE, lit_len, side="right") - 1
    ll_extra_v = lit_len - _LL_BASE[ll_syms]
    ll_extra_n = _LL_BITS[ll_syms]

    def channel(kind: str, syms):
        """→ (mode, table_payload, fse_table_or_None). RLE only ever
        applies to a genuinely uniform channel; a `seq_mode='rle'`
        request on a mixed channel falls back to FSE."""
        first = int(syms[0])
        if bool((syms == first).all()):
            return 1, bytes([first]), None
        binc = np.bincount(syms)
        freqs = {
            int(s): int(c) for s, c in enumerate(binc) if c
        }
        if seq_mode in ("fse", "rle"):
            acc = min(
                _MAX_ACCURACY[kind],
                max(5, (len(freqs) - 1).bit_length() + 1),
            )
            counts = _normalize_counts(freqs, acc)
            return 2, _write_fse_counts(counts, acc), _FseTable(counts, acc)
        # predefined — upgrade OF to fse when the default table's
        # symbol range (≤ 28) can't express the offset
        default = {
            "ll": _LL_DEFAULT, "of": _OF_DEFAULT, "ml": _ML_DEFAULT
        }[kind]
        if len(binc) > len(default[0]):
            acc = _MAX_ACCURACY[kind]
            counts = _normalize_counts(freqs, acc)
            return 2, _write_fse_counts(counts, acc), _FseTable(counts, acc)
        return 0, b"", _FseTable(*default)

    ll_mode, ll_pay, ll_tab = channel("ll", ll_syms)
    of_mode, of_pay, of_tab = channel("of", of_syms)
    ml_mode, ml_pay, ml_tab = channel("ml", ml_syms)
    modes = (ll_mode << 6) | (of_mode << 4) | (ml_mode << 2)

    # assemble the read stream as (nseq, ≤6) value/width matrices and
    # ravel — the interleaving the decoder expects: per sequence
    # of/ml/ll extras then ll/ml/of state transitions (none after the
    # final sequence: their widths are zeroed and the packer drops
    # zero-width fields exactly like the scalar append loop skipped
    # them)
    zeros = np.zeros(nseq, dtype=np.int64)
    v_cols = [of_extra_v, ml_extra_v, ll_extra_v]
    n_cols = [of_syms, ml_extra_n, ll_extra_n]
    init_reads: list = []
    for tab, syms in (
        (ll_tab, ll_syms), (ml_tab, ml_syms), (of_tab, of_syms)
    ):
        if tab is None:
            v_cols.append(zeros)
            n_cols.append(zeros)
            continue
        init, tv, tn = _fse_encode_states_arr(tab, syms)
        init_reads.append((init, tab.accuracy))
        v_cols.append(np.append(np.asarray(tv, dtype=np.int64), 0))
        n_cols.append(np.append(np.asarray(tn, dtype=np.int64), 0))
    v_mat = np.column_stack(v_cols)
    n_mat = np.column_stack(n_cols)
    # decoder init-state reads come first, in ll, of, ml order
    # (init_reads was collected in ll, ml, of transition-column order)
    by_tag = {}
    idx = 0
    for tag, tab in (("ll", ll_tab), ("ml", ml_tab), ("of", of_tab)):
        if tab is not None:
            by_tag[tag] = init_reads[idx]
            idx += 1
    iv, inn = [], []
    for tag in ("ll", "of", "ml"):
        if tag in by_tag:
            iv.append(by_tag[tag][0])
            inn.append(by_tag[tag][1])
    v_all = np.concatenate([np.asarray(iv, dtype=np.int64), v_mat.ravel()])
    n_all = np.concatenate([np.asarray(inn, dtype=np.int64), n_mat.ravel()])
    return (
        count + bytes([modes]) + ll_pay + of_pay + ml_pay
        + _pack_backward_arrays(v_all, n_all)
    )


def compress_zstd(
    data: bytes,
    *,
    block_mode: str = "auto",
    literals: str = "huffman",
    seq_mode: str = "predefined",
    use_sequences: bool = True,
    single_segment: bool = True,
    checksum: bool = True,
    block_size: int = 1 << 17,
) -> bytes:
    """Deterministic zstd frame. Options map to decoder paths:
    `block_mode` auto/raw/rle, `literals` huffman/raw, `seq_mode`
    predefined/fse/rle (LZ77 sequences via the greedy matcher),
    `single_segment` + `checksum` for the header variants."""
    out = bytearray()
    out += struct.pack("<I", _MAGIC)
    desc = 0
    if checksum:
        desc |= 4
    n = len(data)
    if single_segment:
        desc |= 0x20
        if n < 256:
            fcs_code, fcs_bytes = 0, n.to_bytes(1, "little")
        elif n < 65536 + 256:
            fcs_code, fcs_bytes = 1, (n - 256).to_bytes(2, "little")
        else:
            fcs_code, fcs_bytes = 2, n.to_bytes(4, "little")
        out.append(desc | (fcs_code << 6))
        out += fcs_bytes
    else:
        fcs_code, fcs_bytes = 2, n.to_bytes(4, "little")
        out.append(desc | (fcs_code << 6))
        # window descriptor: smallest window covering the content
        exp = max(0, (max(n, 1024) - 1).bit_length() - 10)
        out.append(exp << 3)
        out += fcs_bytes

    blocks = [data[i : i + block_size] for i in range(0, n, block_size)]
    if not blocks:
        blocks = [b""]
    for bi, chunk in enumerate(blocks):
        last = 1 if bi == len(blocks) - 1 else 0
        if block_mode == "raw" or not chunk:
            out += struct.pack(
                "<I", last | (0 << 1) | (len(chunk) << 3)
            )[:3]
            out += chunk
            continue
        if block_mode == "rle" or (
            block_mode == "auto" and len(set(chunk)) == 1
        ):
            if len(set(chunk)) != 1:
                raise ZstdError("zstd: rle block needs uniform bytes")
            out += struct.pack(
                "<I", last | (1 << 1) | (len(chunk) << 3)
            )[:3]
            out.append(chunk[0])
            continue
        if use_sequences:
            seqs, lits = _find_sequences(chunk)
        else:
            seqs, lits = [], chunk
        body = _literals_section(lits, literals) + _sequences_section(
            seqs, seq_mode
        )
        if len(body) >= len(chunk):  # incompressible: raw block
            out += struct.pack(
                "<I", last | (0 << 1) | (len(chunk) << 3)
            )[:3]
            out += chunk
        else:
            out += struct.pack(
                "<I", last | (2 << 1) | (len(body) << 3)
            )[:3]
            out += body
    if checksum:
        out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)


def _fse_encode_weights(listed: list[int]) -> bytes | None:
    """FSE-compressed Huffman-weight description (headerByte < 128):
    the two-state interleaved stream of `_read_huffman_description`,
    built by the same decode-table inversion as the sequence encoder.
    Chain split: state1 emits even-indexed weights, state2 odd; the
    final weight is the terminating peek of whichever state did NOT
    perform the exhausting update, whose own terminal update must read
    ≥ 1 bit (otherwise the decoder's `pos <= 0` break cannot land
    there). Returns None when the shape can't be encoded (degenerate
    single-symbol distribution, no ≥1-bit terminal state, or a
    description that doesn't fit the 127-byte header budget)."""
    k = len(listed)
    if k < 2:
        return None
    freqs: dict[int, int] = {}
    for w in listed:
        freqs[w] = freqs.get(w, 0) + 1
    if len(freqs) < 2:
        return None  # single distinct weight: RLE-shaped, not FSE
    accuracy = min(6, max(5, (len(freqs) - 1).bit_length() + 1))
    counts = _normalize_counts(freqs, accuracy)
    table = _FseTable(counts, accuracy)
    by_symbol: dict[int, list[int]] = {}
    for st in range(1 << accuracy):
        by_symbol.setdefault(table.symbols[st], []).append(st)

    chain_a = listed[0::2]  # state1's emitted symbols
    chain_b = listed[1::2]  # state2's
    # the terminating update belongs to the chain whose last emit is
    # weight index k-2; the OTHER chain's final state is peeked as
    # the last weight and is never updated
    if (k - 1) % 2 == 0:  # last weight peeked from state1
        peek_chain, upd_chain = chain_a, chain_b
        peek_is_a = True
    else:
        peek_chain, upd_chain = chain_b, chain_a
        peek_is_a = False

    def invert(symbols, terminal_min_bits):
        """Backward inversion; for the updating chain, the state
        emitting its LAST symbol needs nbits ≥ terminal_min_bits."""
        candidates = [
            st for st in by_symbol.get(symbols[-1], ())
            if table.nbits[st] >= terminal_min_bits
        ]
        if not candidates:
            return None
        cur = candidates[0]
        last_state = cur
        transitions = []
        for sym in reversed(symbols[:-1]):
            for st in by_symbol[sym]:
                lo = table.baseline[st]
                if lo <= cur < lo + (1 << table.nbits[st]):
                    transitions.append((cur - lo, table.nbits[st]))
                    cur = st
                    break
            else:
                return None
        transitions.reverse()
        return cur, transitions, last_state

    got_peek = invert(peek_chain, 0)
    got_upd = invert(upd_chain, 1)
    if got_peek is None or got_upd is None:
        return None
    init_p, tr_p, _ = got_peek
    init_u, tr_u, last_u = got_upd
    # terminal update of the updating chain: any value, ≥1 bit wide
    tr_u = tr_u + [(0, table.nbits[last_u])]
    init_a, tr_a = (init_p, tr_p) if peek_is_a else (init_u, tr_u)
    init_b, tr_b = (init_u, tr_u) if peek_is_a else (init_p, tr_p)

    reads = [(init_a, accuracy), (init_b, accuracy)]
    na = nb = 0
    for i in range(k - 1):  # update i follows emit i; s1 on even
        if i % 2 == 0:
            reads.append(tr_a[na])
            na += 1
        else:
            reads.append(tr_b[nb])
            nb += 1
    if na != len(tr_a) or nb != len(tr_b):
        return None
    desc = _write_fse_counts(counts, accuracy) + _pack_backward(reads)
    if len(desc) >= 128 or len(desc) >= k:  # must beat direct form-ish
        return None
    return bytes([len(desc)]) + desc
