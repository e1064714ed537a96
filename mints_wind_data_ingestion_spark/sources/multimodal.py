"""Multimodal binary columns (SURVEY.md §2.11; BASELINE.json north_star).

Images / audio / video ride through the engine as opaque `binary`
payload columns plus a typed metadata struct — exactly the pattern the
reference's wind record already uses (GRIB2 blob → header struct + data
array, SURVEY.md §1.4). This module supplies the Spark-side plumbing:

- `with_payload`: attach a binary payload column (from a `binaryFile`
  scan in production; synthesized from text in tests).
- `extract_meta`: Arrow-batched feature extraction through the
  package's one Python row node (`sources.arrow_rows`) — the UDTF
  shape every real decoder (PIL/ffmpeg/librosa) would plug into. One
  partition in → one iterator of Arrow batches out; nothing is
  collected to the driver, and the payload column is dropped on output
  so only the (small) metadata survives the shuffle boundary.
- `decode_image` / `decode_audio` / `sample_video_frames`: REAL
  decoders for the container formats that need no external library —
  BMP (24-bit BI_RGB), PPM/PGM, PNG (the engine's own RFC 2083
  decoder; r10) and JPEG (the engine's own T.81 baseline+progressive
  codec, `jpegcodec`; r11) images, RIFF WAV PCM and G.711 µ-law/
  A-law audio (r12), YUV4MPEG2 (y4m) and MJPEG-in-AVI video (r12:
  RIFF/idx1 index walk → per-frame JPEG) — parsed with struct/numpy,
  round-tripped in tests against self-encoded fixtures. The remaining
  compressed codecs (MP3/FLAC, MP4/H.264) dispatch to
  soundfile/ffmpeg behind import-tries and raise with the contract
  documented when the library is absent, as it is in this
  container.
- `byte_stats_meta` remains the deterministic byte-level extractor
  used by the registry query (its oracle must be SQL-expressible).

Scale posture: payloads never expand in memory beyond one Arrow batch
(`spark.sql.execution.arrow.maxRecordsPerBatch` bounds it); the
metadata projection happens executor-side so a 100 TB blob store scans
into a few GB of metadata; decode failures become NULL-metadata rows,
not task failures.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import arrow_rows

#: exception classes a CORRUPT payload can surface from the native
#: decoders (BMP/PNM/WAV/Y4M): explicit ValueErrors, short struct
#: buffers, missing header keys (WAV bits / Y4M W/H lookups), plus the
#: import-gate NotImplementedError. Quarantine boundaries
#: (transform_images and callers embedding decode in a UDTF) convert
#: exactly these to NULL rows; anything else is a decoder bug.
MM_DECODE_ERRORS = (
    ValueError,
    NotImplementedError,
    KeyError,
    IndexError,
    struct.error,
)

__all__ = [
    "META_SCHEMA",
    "with_payload",
    "byte_stats_meta",
    "extract_meta",
    "decode_image",
    "decode_audio",
    "sample_video_frames",
    "resize_image",
    "encode_bmp",
    "encode_png",
    "image_features",
    "audio_features",
    "transform_images",
    "synth_bmp_corpus",
    "resized_pixel_moments",
    "dhash64",
    "image_dhash_df",
    "image_neardup_pairs",
    "image_neardup_join",
    "encode_y4m_gray",
    "encode_mjpeg_avi",
    "video_dhash_df",
    "video_neardup_pairs",
    "video_neardup_join",
    "encode_wav_pcm16",
    "encode_wav_g711",
    "audio_fingerprint",
    "audio_fingerprint_df",
]

#: metadata emitted per payload — the shape a real image decoder fills
META_SCHEMA = StructType(
    [
        StructField("n_bytes", LongType()),
        StructField("first_byte", IntegerType()),
        StructField("checksum", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

_ADLER_MOD = 65521  # adler32 modulus — any fixed modulus works


def with_payload(df: DataFrame, text_col: str = "text", out: str = "payload") -> DataFrame:
    """Synthesize a binary payload from a text column (UTF-8 bytes).

    Production path replaces this with
    ``spark.read.format("binaryFile").load(dir)`` whose `content`
    column is already binary; everything downstream is identical.
    """
    return df.withColumn(out, F.encode(F.col(text_col), "UTF-8"))


def byte_stats_meta(payload: bytes) -> tuple[int, int, int, int, int]:
    """Deterministic fake 'decode': metadata derived from raw bytes.

    Stands in for a real header parse; width/height are synthesized
    from the checksum/first byte so tests exercise real per-byte work
    with an exact SQL-expressible oracle.
    """
    n = len(payload)
    first = payload[0] if n else 0
    checksum = sum(payload) % _ADLER_MOD
    return n, first, checksum, 16 + checksum % 32, 16 + first % 32


def extract_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Arrow-batched metadata extraction over a binary column.

    A row node (`arrow_rows`) — not a scalar pandas_udf — because real
    decoders are one-row-in/variable-out (corrupt frames dropped,
    multi-page TIFFs exploded); the node's contract supports that for
    free.
    """
    out_schema = StructType(
        [df.schema[id_col], *META_SCHEMA.fields]
    )

    def columns_of(ids, payloads):
        stats = [byte_stats_meta(b) for b in payloads]
        return {id_col: ids, **{
            f.name: [s[k] for s in stats]
            for k, f in enumerate(META_SCHEMA.fields)
        }}

    return arrow_rows(df.select(id_col, payload_col), columns_of, out_schema)


def _decode_bmp(payload: bytes) -> dict:
    """24-bit uncompressed (BI_RGB) BMP: pure offset arithmetic.
    Rows are 4-byte padded and stored bottom-up; pixels are BGR."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit BI_RGB supported (bpp={bpp}, comp={compression})")
    stride = (width * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * abs(height), offset=data_off
    ).reshape(abs(height), stride)[:, : width * 3]
    img = rows.reshape(abs(height), width, 3)[:, :, ::-1]  # BGR → RGB
    if height > 0:  # bottom-up storage
        img = img[::-1]
    return {"width": width, "height": abs(height), "mode": "RGB", "pixels": img.copy()}


def _decode_pnm(payload: bytes) -> dict:
    """Binary PPM (P6, RGB) / PGM (P5, grayscale): header tokens then
    raw samples. Comments (#…) are legal between tokens."""
    import numpy as np

    def tokens(buf: bytes):
        i = 0
        while True:
            while i < len(buf) and buf[i : i + 1].isspace():
                i += 1
            if buf[i : i + 1] == b"#":
                while i < len(buf) and buf[i] != 0x0A:
                    i += 1
                continue
            j = i
            while j < len(buf) and not buf[j : j + 1].isspace():
                j += 1
            yield buf[i:j], j + 1
            i = j + 1

    it = tokens(payload)
    magic, _ = next(it)
    if magic not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM payload")
    (w, _), (h, _), (maxval, off) = next(it), next(it), next(it)
    w, h, maxval = int(w), int(h), int(maxval)
    if maxval > 255:
        raise ValueError("16-bit PNM not supported")
    ch = 3 if magic == b"P6" else 1
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=off)
    return {
        "width": w,
        "height": h,
        "mode": "RGB" if ch == 3 else "L",
        "pixels": px.reshape(h, w, ch) if ch == 3 else px.reshape(h, w),
    }


def _decode_png(payload: bytes) -> dict:
    """PNG via the engine's own RFC 2083 decoder (sources.grib2codec
    ._png_decode_samples — built for GRIB template 5.41, reused here
    so PNG images decode natively with zero new dependencies: chunk
    walk, all five scanline filters, zlib over stdlib).

    The GRIB path concatenates channels into one big-endian integer
    per pixel (the g2clib convention); this wrapper splits them back
    into an (H, W[, C]) array. The channel layout derives from the
    per-pixel bit width — PNG colour types constrain it uniquely:
    1/2/4/8/16 → grayscale, 24/48 → RGB, 32/64 → RGBA (8- vs 16-bit
    per channel); dtype is uint8 or uint16 accordingly."""
    import numpy as np

    from .grib2codec import _png_decode_samples

    w, h, bits_px, samples = _png_decode_samples(payload)
    layout = {
        1: ("L", 1, 1), 2: ("L", 1, 2), 4: ("L", 1, 4), 8: ("L", 1, 8),
        16: ("L", 1, 16), 24: ("RGB", 3, 8), 48: ("RGB", 3, 16),
        32: ("RGBA", 4, 8), 64: ("RGBA", 4, 16),
    }.get(bits_px)
    if layout is None:  # e.g. colour type 6 at sub-byte depth
        raise ValueError(f"PNG: {bits_px} bits/pixel unsupported")
    mode, channels, depth = layout
    dtype = np.uint16 if depth == 16 else np.uint8
    if channels == 1:
        pixels = samples.reshape(h, w).astype(dtype)
    else:
        shifts = depth * np.arange(channels - 1, -1, -1, dtype=np.int64)
        mask = (1 << depth) - 1
        pixels = (
            (samples.reshape(h, w, 1) >> shifts) & mask
        ).astype(dtype)
    return {"width": w, "height": h, "mode": mode, "pixels": pixels}


def decode_image(payload: bytes) -> dict:
    """Image decode → {"width", "height", "mode", "pixels": ndarray}.

    BMP (24-bit BI_RGB), binary PPM/PGM, PNG AND JPEG (baseline +
    progressive) decode natively — the first two are raw containers,
    PNG rides the engine's own RFC 2083 decoder (r10), JPEG the
    engine's own ITU-T T.81 codec (r11, sources/jpegcodec.py; JVM
    javax.imageio cross-validated in tests/test_jpeg.py, grayscale
    progressive bit-exact), and lossless WebP the engine's own VP8L
    codec (r14, sources/webpcodec.py — full transform/meta/cache/LZ77
    surface; lossy VP8 stays a typed gate). Remaining compressed
    formats (JPEG2000, arithmetic-coded JPEG, ...) dispatch to PIL
    when importable;
    this container ships none, so they raise with the contract intact.
    Plug into `extract_meta`'s iterator in place of `byte_stats_meta`
    for real metadata.
    """
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] in (b"P5", b"P6"):
        return _decode_pnm(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gifcodec import decode_gif

        return decode_gif(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiffcodec import decode_tiff

        return decode_tiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .webpcodec import decode_webp

        # lossless VP8L decodes natively (r14); lossy VP8 raises a
        # typed ValueError naming the gate — same quarantine class
        return decode_webp(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpegcodec import decode_jpeg

        try:
            return decode_jpeg(payload)
        except ValueError as exc:
            if "support" not in str(exc):
                raise  # corrupt stream: quarantine verdict
            # arithmetic/lossless/12-bit coding modes: give the
            # optional PIL gate a chance before quarantining
    try:
        from io import BytesIO

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError as e:
        raise NotImplementedError(
            "compressed image decode requires PIL, not shipped in this "
            "environment; BMP/PPM/PGM decode natively"
        ) from e
    import numpy as np

    img = Image.open(BytesIO(payload))
    return {
        "width": img.width,
        "height": img.height,
        "mode": img.mode,
        "pixels": np.asarray(img),
    }


_G711_TABLES: dict = {}


def _g711_table(law: str):
    """256-entry G.711 expand table (companded byte → int16 linear),
    built from the ITU-T G.711 segment layout (the classic public
    ulaw2linear/alaw2linear forms): µ-law is BIAS-offset with
    complemented bytes; A-law XORs 0x55 with an un-biased first
    segment. Cached per law."""
    import numpy as np

    t = _G711_TABLES.get(law)
    if t is not None:
        return t
    codes = np.arange(256, dtype=np.uint8)
    if law == "ulaw":
        u = (~codes) & 0xFF
        mag = (((u & 0x0F) << 3) + 0x84).astype(np.int32)
        mag <<= (u >> 4) & 0x07
        mag -= 0x84
        out = np.where(u & 0x80, -mag, mag)
    elif law == "alaw":
        a = codes ^ 0x55
        seg = (a >> 4) & 0x07
        mant = (a & 0x0F).astype(np.int32)
        mag = np.where(
            seg == 0,
            (mant << 4) + 8,
            ((mant << 4) + 0x108) << np.maximum(seg - 1, 0),
        )
        out = np.where(a & 0x80, mag, -mag)
    else:
        raise ValueError(f"unknown G.711 law {law!r}")
    t = out.astype(np.int16)
    _G711_TABLES[law] = t
    return t


def encode_wav_g711(
    samples, law: str = "ulaw", sample_rate: int = 8000
) -> bytes:
    """Encode an (n,) or (n, ch) int16 array as a G.711 µ-law/A-law
    RIFF WAV (format codes 7/6) — the compressed-telephony inverse of
    `decode_audio`'s expand path, for fixtures and re-encode tests.
    Companding quantizes each sample to the nearest of the law's 256
    decode levels (what the standard segment encoder approximates)."""
    import struct

    import numpy as np

    table = _g711_table(law)
    order = np.argsort(table, kind="stable")
    levels = table[order].astype(np.int32)
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    ch = s.shape[1]
    flat = s.reshape(-1).astype(np.int32)
    pos = np.searchsorted(levels, flat)
    pos = np.clip(pos, 1, len(levels) - 1)
    lo, hi = levels[pos - 1], levels[pos]
    pick = np.where(np.abs(flat - lo) <= np.abs(hi - flat), pos - 1, pos)
    comp = order[pick].astype(np.uint8).tobytes()
    fmt_code = 6 if law == "alaw" else 7
    return (
        b"RIFF" + struct.pack("<I", 36 + len(comp)) + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH", 16, fmt_code, ch, sample_rate,
            sample_rate * ch, ch, 8,
        )
        + b"data" + struct.pack("<I", len(comp)) + comp
    )


def decode_audio(payload: bytes) -> dict:
    """Audio decode → {"sample_rate", "n_channels", "n_samples",
    "waveform": float64 ndarray in [-1, 1], shape (n_samples, ch)}.

    RIFF WAV with integer PCM (8/16/32-bit) decodes natively by chunk
    walk + numpy view. Compressed codecs dispatch to soundfile when
    importable; absent here, they raise with the contract intact.
    """
    import struct

    import numpy as np

    if payload[:4] == b"fLaC":  # lossless FLAC decodes natively (r12)
        from .flaccodec import decode_flac

        return decode_flac(payload)
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        try:
            from io import BytesIO

            import soundfile  # type: ignore[import-not-found]
        except ImportError as e:
            raise NotImplementedError(
                "non-WAV/FLAC audio decode requires soundfile, not shipped "
                "in this environment; RIFF PCM, G.711 WAV and FLAC decode "
                "natively"
            ) from e
        data, sr = soundfile.read(BytesIO(payload))
        return {
            "sample_rate": sr,
            "n_channels": 1 if data.ndim == 1 else data.shape[1],
            "n_samples": data.shape[0],
            "waveform": data,
        }

    fmt, data = None, None
    off = 12
    while off + 8 <= len(payload):
        cid, size = payload[off : off + 4], struct.unpack_from("<I", payload, off + 4)[0]
        body = payload[off + 8 : off + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        off += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, ch, sr, _, _, bits = fmt
    if audio_format not in (1, 6, 7):
        raise ValueError(
            f"only integer PCM / G.711 supported (format={audio_format})"
        )
    if ch == 0:  # corrupt fmt chunk: len(raw) % 0 would be a
        # ZeroDivisionError outside the quarantine class
        raise ValueError("WAV with 0 channels")
    if audio_format in (6, 7):  # G.711 A-law / µ-law (r12): 8-bit
        # companded bytes expand through the 256-entry tables to
        # 16-bit linear — format codes 6/7 of the RIFF spec
        if bits != 8:
            raise ValueError(f"G.711 WAV must be 8-bit (bits={bits})")
        table = _g711_table("alaw" if audio_format == 6 else "ulaw")
        raw = table[np.frombuffer(data, dtype=np.uint8)]
        raw = raw[: len(raw) - len(raw) % ch].reshape(-1, ch)
        wave = raw.astype(np.float64) / 32768.0
        return {
            "sample_rate": sr,
            "n_channels": ch,
            "n_samples": wave.shape[0],
            "waveform": wave,
        }
    dtype = {8: np.uint8, 16: np.int16, 32: np.int32}[bits]
    raw = np.frombuffer(data, dtype=dtype)
    raw = raw[: len(raw) - len(raw) % ch].reshape(-1, ch)
    if bits == 8:  # 8-bit WAV is unsigned, midpoint 128
        wave = (raw.astype(np.float64) - 128.0) / 128.0
    else:
        wave = raw.astype(np.float64) / float(2 ** (bits - 1))
    return {
        "sample_rate": sr,
        "n_channels": ch,
        "n_samples": wave.shape[0],
        "waveform": wave,
    }


def sample_video_frames(payload: bytes, every_n: int = 30) -> list:
    """Video frame sampling → [(frame_index, Y-plane ndarray), ...]
    for every Nth frame.

    YUV4MPEG2 (.y4m) decodes natively: one ASCII header line, then
    'FRAME…\\n'-prefixed raw 4:2:0 planes — seeking is arithmetic, so
    sampling skips (not decodes) the in-between frames, exactly the
    access pattern a real keyframe sampler wants.

    MJPEG-in-AVI (r12, VERDICT r11 #4) also decodes natively: the
    RIFF/AVI 'idx1' index walk seeks straight to every Nth '00dc'
    frame chunk and only THOSE JPEG payloads decode (the engine's own
    T.81 codec, sources.jpegcodec) — a real compressed container with
    zero new dependencies, same skip-don't-decode access pattern.
    Remaining codecs (H.264/MP4) require ffmpeg/pyav; absent here,
    they raise with the contract intact.
    """
    import numpy as np

    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return _sample_avi_mjpeg_frames(payload, every_n)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        # animated GIF (r13): the dominant short-loop video format in
        # web crawls rides the same (frame_index, Y-plane) contract.
        # Every frame decodes even when skipped — GIF frames are
        # deltas over the canvas (see decode_gif_frames).
        from .gifcodec import decode_gif_frames

        return [
            (k, _luma_plane(rgb))
            for k, rgb in decode_gif_frames(payload, every_n)
        ]
    if not payload.startswith(b"YUV4MPEG2"):
        raise NotImplementedError(
            "compressed video decode requires ffmpeg/pyav, not shipped in "
            "this environment; YUV4MPEG2 (.y4m), MJPEG-AVI and animated "
            "GIF decode natively"
        )
    nl = payload.index(b"\n")
    params = dict(
        (tok[:1], tok[1:]) for tok in payload[9:nl].split() if tok
    )
    w, h = int(params[b"W"]), int(params[b"H"])
    frame_bytes = w * h * 3 // 2  # 4:2:0
    out = []
    off, idx = nl + 1, 0
    while off < len(payload):
        fnl = payload.index(b"\n", off)  # FRAME line (may carry params)
        if payload[off : off + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at {off}")
        body = fnl + 1
        if idx % every_n == 0:
            y = np.frombuffer(payload, dtype=np.uint8, count=w * h, offset=body)
            out.append((idx, y.reshape(h, w).copy()))
        off = body + frame_bytes
        idx += 1
    return out


def _luma_plane(px):
    """Y (luminance) plane of decoded pixels — the integer ITU-R 601
    form `dhash64` uses, so a hash of this plane equals a hash of the
    RGB frame; grayscale passes through."""
    import numpy as np

    px = np.asarray(px)
    if px.ndim == 3:
        # one contiguous pass: (N,3) @ weights runs ~5x faster than
        # three strided channel astypes and allocates one temporary
        # instead of four — the fresh-page first-touch cost of big
        # transients dominates wide frames on this host (alpha, if
        # any, ignored). Identical integers: max 255*1000 < 2^31.
        flat = np.ascontiguousarray(px[..., :3]).reshape(-1, 3)
        acc = flat @ np.array([299, 587, 114], dtype=np.int32)
        acc //= 1000
        return acc.astype(np.uint8).reshape(px.shape[:2])
    return px.astype(np.uint8, copy=False)


def _sample_avi_mjpeg_frames(payload: bytes, every_n: int) -> list:
    """MJPEG-in-AVI frame sampling: walk the top-level RIFF chunks to
    the 'movi' LIST and the 'idx1' index; seek via the index (falling
    back to a sequential movi walk for index-less files) to every Nth
    video chunk ('##dc'/'##db' of stream 0) and JPEG-decode only
    those. Returns [(frame_index, Y-plane), ...] like the Y4M path.
    Corrupt structure raises ValueError (quarantine class)."""
    import struct

    from .jpegcodec import decode_jpeg

    movi_fcc = None  # offset of the 'movi' fourcc itself
    idx1 = None
    off = 12
    riff_end = min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    while off + 8 <= riff_end:
        cid = payload[off : off + 4]
        size = struct.unpack_from("<I", payload, off + 4)[0]
        if off + 8 + size > len(payload):
            raise ValueError(f"AVI chunk at {off} overruns payload")
        if cid == b"LIST" and payload[off + 8 : off + 12] == b"movi":
            movi_fcc = off + 8
        elif cid == b"idx1":
            idx1 = payload[off + 8 : off + 8 + size]
        off += 8 + size + (size & 1)
    if movi_fcc is None:
        raise ValueError("AVI without a movi list")

    def _is_video(cid: bytes) -> bool:
        # stream 0 ONLY, per the documented contract: a two-video-
        # stream AVI must not interleave both streams' frames into
        # one frame-index sequence
        return cid[2:4] in (b"dc", b"db") and cid[:2] == b"00"

    frames = []  # (chunk_header_offset, size)
    if idx1 is not None and len(idx1) >= 16:
        n_ent = len(idx1) // 16
        for i in range(n_ent):
            cid, _flags, coff, csize = struct.unpack_from(
                "<4sIII", idx1, i * 16
            )
            if not _is_video(cid):
                continue
            # offsets are relative to the 'movi' fourcc in most files,
            # absolute in some — disambiguate by checking the fourcc
            # actually present at the target
            rel = movi_fcc + coff
            if payload[rel : rel + 4] == cid:
                frames.append((rel, csize))
            elif payload[coff : coff + 4] == cid:
                frames.append((coff, csize))
            else:
                raise ValueError(f"idx1 entry {i} points at no {cid!r} chunk")
    else:
        movi_size = struct.unpack_from("<I", payload, movi_fcc - 4)[0]
        end = movi_fcc + movi_size
        off = movi_fcc + 4
        while off + 8 <= end:
            cid = payload[off : off + 4]
            csize = struct.unpack_from("<I", payload, off + 4)[0]
            if _is_video(cid):
                frames.append((off, csize))
            off += 8 + csize + (csize & 1)

    out = []
    for idx, (hoff, csize) in enumerate(frames):
        if idx % every_n:
            continue
        jpeg = payload[hoff + 8 : hoff + 8 + csize]
        out.append((idx, _luma_plane(decode_jpeg(jpeg)["pixels"])))
    return out


def encode_mjpeg_avi(frames, quality: int = 90, fps: int = 25) -> bytes:
    """Encode frames ((H, W) gray or (H, W, 3) RGB uint8 arrays) as an
    MJPEG-in-AVI container — per-frame baseline JPEG (the engine's own
    encoder) in '00dc' chunks with a standard 'idx1' index; the
    inverse of `_sample_avi_mjpeg_frames`' walk, for fixtures and the
    re-encode half of a video transform loop."""
    import struct

    import numpy as np

    from .jpegcodec import encode_jpeg

    if not frames:
        raise ValueError("encode_mjpeg_avi: no frames")
    if fps <= 0:
        raise ValueError(f"encode_mjpeg_avi: fps must be positive, got {fps}")
    jpegs = [
        encode_jpeg(np.asarray(f, dtype=np.uint8), quality=quality)
        for f in frames
    ]
    h, w = np.asarray(frames[0]).shape[:2]
    n = len(jpegs)
    sugbuf = max(len(j) for j in jpegs) + 8

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, 0, 0, 0x10, n, 0, 1, sugbuf, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, n, sugbuf,
        0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)

    movi_children = b""
    idx_entries = b""
    for j in jpegs:
        # offset is relative to the 'movi' fourcc; first chunk sits
        # right after it (offset 4)
        idx_entries += struct.pack(
            "<4sIII", b"00dc", 0x10, 4 + len(movi_children), len(j)
        )
        movi_children += chunk(b"00dc", j)
    movi = lst(b"movi", movi_children)
    idx1 = chunk(b"idx1", idx_entries)

    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# transforms: resize / re-encode / feature extraction (SURVEY.md §2.11
# multimodal row: decode → feature-extract → RESIZE → frame-sample)
# ---------------------------------------------------------------------------


def resize_image(pixels, out_w: int, out_h: int):
    """Nearest-neighbor resize of an (H, W[, C]) uint8 array — pure
    numpy index arithmetic, the resize kernel a training-data image
    pipeline runs before batching (bilinear/area filters plug in the
    same way; nearest needs no dependency and is exactly reproducible).

    Sample grid: src_i = floor((dst_i + 0.5) * src/dst) — the standard
    half-pixel-center mapping (what OpenCV INTER_NEAREST computes)."""
    import numpy as np

    h, w = pixels.shape[:2]
    rows = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    cols = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    return pixels[rows][:, cols]


def encode_bmp(pixels) -> bytes:
    """Encode an (H, W, 3) RGB uint8 array as 24-bit BI_RGB BMP —
    the re-encode half of the decode→transform→store loop (the same
    container `decode_image` parses, so the round trip is closed
    without any codec dependency)."""
    import struct

    import numpy as np

    px = np.ascontiguousarray(pixels)
    h, w = px.shape[:2]
    stride = (w * 3 + 3) & ~3
    pad = stride - w * 3
    # RGB → BGR, bottom-up rows, 4-byte padded
    body = bytearray()
    for row in px[::-1]:
        body += row[:, ::-1].tobytes() + b"\x00" * pad
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", 54 + len(body), 0, 0, 54,
        40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0,
    )
    return bytes(header) + bytes(body)


def encode_png(pixels, level: int = 6) -> bytes:
    """Encode an (H, W) grayscale or (H, W, 3) RGB uint8 array as an
    8-bit PNG (color type 0/2, filter 0 rows, one zlib IDAT) — pure
    stdlib (zlib deflate + crc32), the LOSSLESS re-encode option of
    the image transform loop (`decode_image` reads it back through the
    engine's own RFC 2083 decoder, so the round trip is closed with
    zero dependencies and dHash survives exactly)."""
    import struct
    import zlib

    import numpy as np

    px = np.ascontiguousarray(np.asarray(pixels, dtype=np.uint8))
    if px.ndim not in (2, 3) or (px.ndim == 3 and px.shape[2] != 3):
        raise ValueError("encode_png expects (H, W) or (H, W, 3) uint8")
    h, w = px.shape[:2]
    if not h or not w:
        raise ValueError("encode_png: empty image")
    gray = px.ndim == 2
    rows = px if gray else px.reshape(h, w * 3)
    raw = b"".join(b"\x00" + bytes(r) for r in rows)

    def chunk(tag: bytes, body: bytes) -> bytes:
        c = tag + body
        return (
            struct.pack(">I", len(body)) + c
            + struct.pack(">I", zlib.crc32(c) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if gray else 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, level))
        + chunk(b"IEND", b"")
    )


def image_features(pixels) -> dict:
    """Pixel-statistics feature vector: per-channel means, global std,
    and an 8-bin luminance histogram (normalized) — the cheap signals
    an image-quality / dedup-prefilter stage computes after decode."""
    import numpy as np

    px = pixels if pixels.ndim == 3 else pixels[:, :, None]
    fl = px.astype(np.float64)
    lum = fl.mean(axis=2)
    hist, _ = np.histogram(lum, bins=8, range=(0.0, 256.0))
    return {
        "channel_means": [float(m) for m in fl.mean(axis=(0, 1))],
        "pixel_std": float(fl.std()),
        "lum_hist": (hist / max(lum.size, 1)).tolist(),
    }


def audio_features(waveform, frame: int = 1024) -> dict:
    """Frame-level audio features over a (n_samples, ch) waveform in
    [-1, 1]: per-frame RMS energy and zero-crossing rate (mono mix),
    trailing partial frame dropped — the VAD/quality-filter primitives
    of an audio-corpus curation pass, fully vectorized."""
    import numpy as np

    mono = waveform.mean(axis=1) if waveform.ndim == 2 else waveform
    n = (len(mono) // frame) * frame
    if n == 0:
        return {"rms": [], "zcr": []}
    frames = mono[:n].reshape(-1, frame)
    rms = np.sqrt((frames * frames).mean(axis=1))
    zcr = (np.diff(np.signbit(frames), axis=1) != 0).mean(axis=1)
    return {"rms": rms.tolist(), "zcr": zcr.tolist()}


def transform_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    out_format: str = "bmp",
    quality: int = 90,
) -> DataFrame:
    """Executor-side image pipeline: decode → nearest-neighbor resize →
    re-encode + features, as one Arrow-batched row-node pass —
    binary column in, binary column + typed features out, the
    decode-transform-store shape of an image-training-data job.
    `out_format`: "bmp" (lossless, uncompressed), "png" (lossless,
    deflate — r12) or "jpeg" (the engine's own T.81 encoder at
    `quality` — what a thumbnail/training-shard writer actually
    stores); `decode_image` reads all three back.
    Undecodable payloads become NULL rows (counted by the caller), not
    task failures. Nothing touches the driver; memory is bounded by
    one Arrow batch of payloads."""
    import numpy as np

    if out_format == "bmp":
        encode = encode_bmp
    elif out_format == "png":
        encode = encode_png
    elif out_format == "jpeg":
        from .jpegcodec import encode_jpeg

        def encode(px):
            return encode_jpeg(px, quality=quality)
    else:
        raise ValueError(f"out_format {out_format!r}: bmp, png or jpeg")

    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("resized", BinaryType()),
            StructField("out_width", IntegerType()),
            StructField("out_height", IntegerType()),
            StructField("mean_r", DoubleType()),
            StructField("pixel_std", DoubleType()),
        ]
    )

    def columns_of(ids, payloads):
        rows = []
        for i, b in zip(ids, payloads):
            try:
                img = decode_image(bytes(b))
                px = img["pixels"]
                if px.ndim == 2:  # grayscale → RGB for the encoder
                    px = np.repeat(px[:, :, None], 3, axis=2)
                rs = resize_image(px, out_w, out_h)
                feats = image_features(rs)
                rows.append(
                    (i, encode(rs), out_w, out_h,
                     feats["channel_means"][0], feats["pixel_std"])
                )
            except MM_DECODE_ERRORS:
                rows.append((i, None, None, None, None, None))
        return {f.name: [r[k] for r in rows]
                for k, f in enumerate(out_schema.fields)}

    return arrow_rows(df.select(id_col, payload_col), columns_of, out_schema)


def synth_bmp_corpus(
    df: DataFrame, id_col: str = "doc_id", out: str = "payload"
) -> DataFrame:
    """Deterministic REAL-BMP payload per id: a (16+id%13) ×
    (16+3·id%11) RGB image whose pixel (y, x, c) is
    (id·7 + x·3 + y·5 + c·11) mod 256, encoded with encode_bmp.

    The closed-form pixel function makes every downstream transform's
    output SQL-predictable (the x_mm_transform oracle recomputes the
    resized moments from it directly) while the payload itself is a
    genuine binary image the full decode path must parse — the
    sandbox analogue of binaryFile-scanning an image corpus.
    """
    import numpy as np

    id_t = df.schema[id_col].dataType.simpleString()

    def columns_of(ids):
        payloads = []
        for i in ids:
            i = int(i)
            w, h = 16 + i % 13, 16 + (i * 3) % 11
            yy, xx, cc = np.meshgrid(
                np.arange(h), np.arange(w), np.arange(3), indexing="ij"
            )
            px = ((i * 7 + xx * 3 + yy * 5 + cc * 11) % 256).astype(
                np.uint8
            )
            payloads.append(encode_bmp(px))
        return {id_col: ids, out: payloads}

    return arrow_rows(
        df.select(id_col), columns_of, f"{id_col} {id_t}, {out} binary"
    )


def resized_pixel_moments(
    transformed: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Close the re-encode loop: DECODE the `resized` BMP payloads a
    transform_images pass produced and emit exact integer pixel
    moments (Σv, Σv²) plus the carried feature columns — integers are
    engine-exact, so the driver hash pins the whole synth → encode →
    decode → resize → feature → re-encode → decode chain."""
    import numpy as np

    def columns_of(ids, widths, heights, mean_r, resized):
        sums, sqs = [], []
        for b in resized:
            if b is None:
                sums.append(None)
                sqs.append(None)
                continue
            px = decode_image(bytes(b))["pixels"].astype(np.int64)
            sums.append(int(px.sum()))
            sqs.append(int((px * px).sum()))
        return {id_col: ids, "out_width": widths, "out_height": heights,
                "mean_r": mean_r, "px_sum": sums, "px_sumsq": sqs}

    id_t = transformed.schema[id_col].dataType.simpleString()
    return arrow_rows(
        transformed.select(
            id_col, "out_width", "out_height", "mean_r", "resized"
        ),
        columns_of,
        f"{id_col} {id_t}, out_width int, out_height int, "
        "mean_r double, px_sum long, px_sumsq long",
    )


# ---------------------------------------------------------------------------
# image perceptual-hash dedup (r10) — the LAION-class image dedup stage
# ---------------------------------------------------------------------------


def dhash64(pixels) -> int:
    """Classic 64-bit difference hash (dHash): integer luminance →
    nearest-neighbor resize to 9×8 (`resize_image`'s half-pixel-center
    grid — exactly reproducible, no codec) → one bit per cell for the
    horizontal gradient small[r, c] > small[r, c+1]. Near-duplicate
    images (recompressed, lightly edited, slightly rescaled) land
    within a small Hamming distance; the luminance weights are the
    integer ITU-R 601 form ((299R + 587G + 114B) // 1000), so the
    whole hash is exact integer arithmetic end-to-end."""
    import numpy as np

    px = np.asarray(pixels)
    # nearest-neighbor resize is a pure per-cell gather and the
    # luminance map is pointwise, so they commute EXACTLY: resizing
    # first runs the integer luma on 72 cells instead of W*H and
    # skips the full-plane int64 astype (O(W*H) temporaries whose
    # first-touch page cost dominated wide frames on this host).
    small = resize_image(px, 9, 8)
    if small.ndim == 3:
        s = small.astype(np.int64)
        # alpha (if any) ignored
        small = (s[..., 0] * 299 + s[..., 1] * 587 + s[..., 2] * 114) // 1000
    else:
        small = small.astype(np.int64)
    bits = small[:, :-1] > small[:, 1:]
    weights = (1 << np.arange(63, -1, -1, dtype=np.uint64))
    return int(bits.reshape(-1).astype(np.uint64) @ weights)


def image_dhash_df(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, dhash) per image payload — one Arrow-batched decode+hash
    pass over the native formats (BMP/PPM/PGM/PNG); a corrupt or
    codec-gated payload yields a NULL dhash row (the transform-UDTF
    quarantine contract), never a task failure. dhash is emitted as a
    SIGNED bigint (the raw 64 bits reinterpreted) so the banded join
    and bit_count run on JVM longs."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()

    def columns_of(ids, payloads):
        hashes = []
        for payload in payloads:
            try:
                h = dhash64(decode_image(bytes(payload))["pixels"])
                hashes.append(np.int64(np.uint64(h)))
            except MM_DECODE_ERRORS:
                hashes.append(None)
        return {id_col: ids, "dhash": hashes}

    return arrow_rows(
        df.select(id_col, payload_col), columns_of,
        f"{id_col} {id_type}, dhash long",
    )


def _check_bands(bands: int, max_hamming: int) -> None:
    if 64 % bands:
        raise ValueError(f"bands {bands} must divide 64")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming {max_hamming} exceeds the banded recall "
            f"guarantee (bands - 1 = {bands - 1})"
        )


def image_neardup_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    bands: int = 8,
    cache: bool = True,
) -> DataFrame:
    """Near-duplicate image pairs from a dHash table: band the 64 bits
    into `bands` equal slices, equi-join on (band, slice) — pigeonhole
    guarantees every pair within Hamming `bands - 1` shares a band, so
    recall is EXACT for max_hamming ≤ bands - 1 — then verify by
    bit_count(xor). Same bucketed never-O(n²) shape as the text
    SimHash pipeline (plans.extensions.x_dedup_simhash); NULL-dhash
    (undecodable) rows drop out before the join.

    Since r13 the banded self-join COLLAPSES IDENTICAL FINGERPRINTS
    first (operators.dedup.banded_hamming_pairs; VERDICT r12 "What's
    wrong" #1): a real crawl carries thousands-to-millions of
    byte-identical blank thumbnails / tracking pixels / default
    avatars — all dHash-identical — and banding every row would push
    m²/2 candidate rows × 8 bands through the shuffle per hot
    cluster. Distinct hashes band-join; membership joins expand the
    answer, proportional to the output. Pinned by the planted
    10³-identical-image test (tests/test_round13.py).

    The hash table is cached before the self-join (the
    jaccard_similarity_join posting-cache convention): both join
    sides consume it, and without a materialization point the
    upstream decode+hash Arrow pass executes once PER SIDE —
    measured 3× decode inside x_layout_mm_suite (r11). Pass
    `cache=False` when the input is already materialized (a
    streaming gate's localCheckpoint) — an internal .cache() there
    would leak one CacheManager entry per epoch."""
    from ..operators.dedup import banded_hamming_pairs

    _check_bands(bands, max_hamming)
    hashes = hashes.filter(F.col("dhash").isNotNull())
    if cache:
        from ..caching import managed_cache

        hashes = managed_cache(hashes)
    return banded_hamming_pairs(
        hashes, id_col, "dhash", nbits=64, bands=bands,
        max_hamming=max_hamming,
    )


def image_neardup_join(
    new: DataFrame,
    stored: DataFrame,
    id_new: str = "doc_id",
    id_stored: str = "stored_id",
    max_hamming: int = 6,
    bands: int = 8,
) -> DataFrame:
    """TWO-SIDED banded Hamming join — every (new, stored) image pair
    within `max_hamming`: the incremental twin of
    `image_neardup_pairs`, joining a batch's dHash table against a
    persisted corpus index instead of self-joining one table. Same
    pigeonhole-exact recall (max_hamming ≤ bands - 1), same
    never-O(n²) shape: both sides collapse to DISTINCT hashes before
    banding (operators.dedup.banded_hamming_join_rs, r13 — a hot
    identical cluster in the persisted index costs one representative
    in the candidate join however many members it has), meet in an
    equi-join, and membership joins expand the answer proportional to
    the output. `new` and `stored` are (id, dhash) tables; output
    (id_new, id_stored, hamming), distinct."""
    from ..operators.dedup import banded_hamming_join_rs

    _check_bands(bands, max_hamming)
    return banded_hamming_join_rs(
        new.select(F.col(id_new), "dhash"),
        stored.select(F.col(id_stored), "dhash"),
        id_new, id_stored, "dhash", "dhash",
        nbits=64, bands=bands, max_hamming=max_hamming,
    )


# ---------------------------------------------------------------------------
# video near-dup (r11) — frame-sampled perceptual signatures
# ---------------------------------------------------------------------------


def encode_y4m_gray(frames) -> bytes:
    """Encode a list of (H, W) uint8 Y planes as a YUV4MPEG2 stream
    (C420, chroma planes flat 128) — the inverse of
    `sample_video_frames`'s container walk, for fixtures and the
    re-encode half of a video transform loop."""
    import numpy as np

    h, w = np.asarray(frames[0]).shape
    if h % 2 or w % 2:
        # 4:2:0 subsampling needs even dimensions; an odd fixture
        # would misparse subsequent FRAME markers downstream instead
        # of failing here at encode time
        raise ValueError(f"C420 requires even dimensions, got {w}x{h}")
    chroma = bytes([128]) * ((w // 2) * (h // 2) * 2)
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode())
    for f in frames:
        out += b"FRAME\n"
        out += np.asarray(f, dtype=np.uint8).tobytes()
        out += chroma
    return bytes(out)


def video_dhash_df(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_n: int = 1,
) -> DataFrame:
    """(id, frame_idx, fhash) per SAMPLED frame — one Arrow-batched
    pass: container walk (`sample_video_frames` seeks arithmetically,
    decoding only every Nth frame) then the same 64-bit dHash the
    image dedup path uses, on the Y plane directly (dHash is a
    luminance hash; 4:2:0 video already carries luminance separated).
    A corrupt or codec-gated payload yields one NULL row (the
    transform-UDTF quarantine contract), never a task failure."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()

    def columns_of(in_ids, payloads):
        ids, idxs, hashes = [], [], []
        for i, payload in zip(in_ids, payloads):
            try:
                frames = sample_video_frames(bytes(payload), every_n)
                if not frames:
                    # a headers-only stream (e.g. Y4M with zero
                    # FRAME sections) must still leave evidence —
                    # one NULL row, so the ingest gate quarantines
                    # it instead of the id silently vanishing
                    raise ValueError("no frames decoded")
                for idx, y in frames:
                    ids.append(i)
                    idxs.append(idx)
                    hashes.append(np.int64(np.uint64(dhash64(y))))
            except MM_DECODE_ERRORS:
                ids.append(i)
                idxs.append(None)
                hashes.append(None)
        return {id_col: ids, "frame_idx": idxs, "fhash": hashes}

    return arrow_rows(
        df.select(id_col, payload_col), columns_of,
        f"{id_col} {id_type}, frame_idx int, fhash long",
    )


def video_neardup_pairs(
    frame_hashes: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    method: str = "prefix",
    cache: bool = True,
) -> DataFrame:
    """(id_a, id_b, jaccard) for video pairs whose sampled-frame
    perceptual-hash SETS overlap with Jaccard ≥ threshold — the
    edited/re-cut near-duplicate model: trims, frame replacements and
    re-stitches keep most frame hashes identical, so set overlap
    survives where any frame-aligned comparison breaks.

    Physically this is the text dedup engine verbatim: each video's
    frame-hash set plays the shingle set. The DEFAULT plan is the
    skew-safe PPJoin prefix filter
    (`operators.dedup.jaccard_join_prefix_filtered`): frame hashes
    from real video are exactly the Zipf-head case — black frames,
    title cards, credit rolls all hash identically, so one hot fhash
    posting list of m videos would explode the plain inverted-index
    self-join into m²/2 rows before the group-by. The prefix filter
    prunes the hot hash out of every set's prefix EXACTLY (no recall
    loss; PPJoin theorem), so collisions stay bounded by the rare-
    hash fan-out. `method='uniform'` keeps the plain count plan
    (`jaccard_similarity_join`) for corpora known to be hot-key-free
    (synthetic fixtures, pre-pruned postings). Robustness to
    re-encoding lives in the per-frame dHash (pinned by the JPEG
    re-encode stability test), orthogonal to the pair semantics."""
    from ..operators.dedup import (
        jaccard_join_prefix_filtered,
        jaccard_similarity_join,
    )

    sigs = (
        frame_hashes.filter(F.col("fhash").isNotNull())
        .groupBy(id_col)
        .agg(F.collect_set("fhash").alias("__fh"))
    )
    if method == "prefix":
        return jaccard_join_prefix_filtered(
            sigs, id_col, "__fh", threshold, cache=cache
        )
    if method == "uniform":
        return jaccard_similarity_join(
            sigs, id_col, "__fh", threshold, cache=cache
        )
    raise ValueError(f"unknown method {method!r} (want 'prefix' or 'uniform')")


def video_neardup_join(
    new_sigs: DataFrame,
    stored_sigs: DataFrame,
    id_new: str = "doc_id",
    id_stored: str = "__oid",
    sig_col: str = "__fh",
    threshold: float = 0.5,
    method: str = "prefix",
) -> DataFrame:
    """Two-sided frame-set Jaccard join — the ingest-gate shape: NEW
    video signatures against a PERSISTED signature index. Both inputs
    are (id, sig_col: array<long>) tables. The DEFAULT plan is the
    R-S PPJoin prefix filter
    (`operators.dedup.jaccard_join_prefix_filtered_rs`): a hot frame
    hash in the corpus (the black frame every clip opens on) would
    otherwise fan the postings equi-join out to |batch| × df(hot)
    rows per epoch; the prefix filter sorts the Zipf head out of
    every prefix exactly, no recall loss. `method='uniform'` keeps
    the plain postings equi-join — explode both sides to
    (id, n, fhash), meet on the hash, count per pair — for hot-key-
    free corpora; there cost is O(batch + collisions) however large
    the stored side grows, and no signature array crosses a shuffle.
    Output (id_new, id_stored, jaccard), jaccard ≥ threshold."""
    if method == "prefix":
        from ..operators.dedup import jaccard_join_prefix_filtered_rs

        return jaccard_join_prefix_filtered_rs(
            new_sigs, stored_sigs, id_new, id_stored, sig_col, threshold
        )
    if method != "uniform":
        raise ValueError(f"unknown method {method!r} (want 'prefix' or 'uniform')")

    def _postings(df: DataFrame, idc: str):
        # size over the SAME de-duplicated set the intersection counts
        # (an input array with repeated hashes must not understate
        # jaccard)
        return df.select(
            F.col(idc),
            F.size(F.array_distinct(sig_col)).alias(f"__n_{idc}"),
            F.explode(F.array_distinct(sig_col)).alias("__s"),
        )

    a = _postings(new_sigs, id_new)
    b = _postings(stored_sigs, id_stored)
    inter = (
        a.join(b, "__s")
        .groupBy(id_new, id_stored)
        .agg(
            F.count("*").alias("__i"),
            F.first(f"__n_{id_new}").alias("__na"),
            F.first(f"__n_{id_stored}").alias("__nb"),
        )
    )
    return inter.select(
        id_new,
        id_stored,
        (
            F.col("__i")
            / (F.col("__na") + F.col("__nb") - F.col("__i"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# audio fingerprint near-dup (late r11) — the fourth modality of the
# dedup family (text shingles / image dHash / video frame sets /
# audio frame fingerprints)
# ---------------------------------------------------------------------------

#: fingerprint geometry: non-overlapping frames of `_AFP_FRAME`
#: samples; 33 equal-width spectral bands of `_AFP_BAND_W` rfft bins
#: starting at bin 1 (DC skipped) → 32 energy-gradient bits per frame
_AFP_FRAME = 512
_AFP_BANDS = 33
_AFP_BAND_W = 7


def encode_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Encode an (n,) or (n, ch) int16 array as RIFF WAV PCM — the
    inverse of `decode_audio`'s chunk walk, for fixtures and the
    re-encode half of an audio transform loop."""
    import numpy as np
    import struct

    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    ch = s.shape[1]
    pcm = s.reshape(-1).tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, ch, sample_rate,
            sample_rate * ch * 2, ch * 2, 16,
        )
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def audio_fingerprint(waveform) -> list:
    """Per-frame 32-bit spectral fingerprints of a mono waveform in
    [-1, 1]: split into non-overlapping 512-sample frames, rfft
    magnitude-squared, 33 equal-width band energies (DC skipped),
    one bit per adjacent band pair — bit b set iff E[b] > E[b+1]
    (the spectral half of the Haitsma & Kalker 2002 fingerprint;
    the temporal difference is dropped so frames stay independent,
    which the set-overlap dedup model depends on). Returns
    [(frame_idx, fp), ...]; the tail shorter than one frame is
    dropped."""
    import numpy as np

    w = np.asarray(waveform, dtype=np.float64)
    if w.ndim == 2:
        w = w.mean(axis=1)  # mono mix
    n = (len(w) // _AFP_FRAME) * _AFP_FRAME
    if n == 0:
        raise ValueError("audio shorter than one fingerprint frame")
    frames = w[:n].reshape(-1, _AFP_FRAME)
    mag2 = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    # bands: bins [1 + b*W, 1 + (b+1)*W) — equal width, DC skipped
    bands = mag2[:, 1 : 1 + _AFP_BANDS * _AFP_BAND_W].reshape(
        -1, _AFP_BANDS, _AFP_BAND_W
    ).sum(axis=2)
    bits = bands[:, :-1] > bands[:, 1:]
    weights = 1 << np.arange(_AFP_BANDS - 2, -1, -1, dtype=np.int64)
    fps = bits.astype(np.int64) @ weights
    return list(enumerate(int(v) for v in fps))


def audio_fingerprint_df(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(id, frame_idx, fhash) per audio frame — one Arrow-batched
    pass: WAV chunk walk (`decode_audio`) then the spectral
    fingerprint. Emits the same (id, frame_idx, fhash) shape as
    `video_dhash_df`, so the set-Jaccard pair machinery is shared
    verbatim. Corrupt or codec-gated payloads yield one NULL row."""
    id_type = df.schema[id_col].dataType.simpleString()

    def columns_of(in_ids, payloads):
        ids, idxs, hashes = [], [], []
        for i, payload in zip(in_ids, payloads):
            try:
                fps = audio_fingerprint(
                    decode_audio(bytes(payload))["waveform"]
                )
                for idx, fp in fps:
                    ids.append(i)
                    idxs.append(idx)
                    hashes.append(fp)
            except MM_DECODE_ERRORS:
                ids.append(i)
                idxs.append(None)
                hashes.append(None)
        return {id_col: ids, "frame_idx": idxs, "fhash": hashes}

    return arrow_rows(
        df.select(id_col, payload_col), columns_of,
        f"{id_col} {id_type}, frame_idx int, fhash long",
    )
