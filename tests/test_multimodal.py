"""Real media decoding over Spark (SURVEY.md §2.11 multimodal):
self-encoded uncompressed fixtures (BMP, PPM, WAV PCM, Y4M) round-trip
through the native decoders, including end-to-end through the
package's Arrow row node (`sources.arrow_rows`); compressed formats stay gated behind
import-tries with the contract pinned."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from mints_wind_data_ingestion_spark.sources.multimodal import (
    decode_audio,
    decode_image,
    sample_video_frames,
)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Minimal 24-bit BI_RGB BMP writer (bottom-up rows, BGR, 4-byte
    row padding) — the inverse of _decode_bmp, for fixtures."""
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # flip + RGB→BGR
    data = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + dib + data


def encode_ppm(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    return f"P6\n# fixture\n{w} {h}\n255\n".encode() + pixels.tobytes()


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """16-bit PCM RIFF WAV writer; samples shape (n, ch) int16."""
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def encode_y4m(frames: list[np.ndarray]) -> bytes:
    """YUV4MPEG2 writer: luma planes given, chroma planes constant."""
    h, w = frames[0].shape
    out = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode()]
    for y in frames:
        out.append(b"FRAME\n")
        out.append(y.astype(np.uint8).tobytes())
        out.append(bytes([128] * (w * h // 2)))  # U+V planes, 4:2:0
    return b"".join(out)


def test_bmp_roundtrip_exact():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    got = decode_image(encode_bmp(px))
    assert (got["width"], got["height"], got["mode"]) == (7, 5, "RGB")
    assert np.array_equal(got["pixels"], px)


def test_ppm_roundtrip_exact():
    rng = np.random.default_rng(8)
    px = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    got = decode_image(encode_ppm(px))
    assert (got["width"], got["height"], got["mode"]) == (6, 4, "RGB")
    assert np.array_equal(got["pixels"], px)


def test_wav_roundtrip_exact():
    t = np.arange(800)
    mono = (np.sin(2 * np.pi * 440 * t / 8000) * 20000).astype(np.int16)
    stereo = np.stack([mono, -mono], axis=1)
    got = decode_audio(encode_wav(stereo))
    assert got["sample_rate"] == 8000
    assert got["n_channels"] == 2 and got["n_samples"] == 800
    assert np.allclose(got["waveform"] * 32768.0, stereo)


def test_y4m_frame_sampling():
    frames = [np.full((4, 6), i * 10, dtype=np.uint8) for i in range(10)]
    got = sample_video_frames(encode_y4m(frames), every_n=3)
    assert [i for i, _ in got] == [0, 3, 6, 9]
    for i, y in got:
        assert y.shape == (4, 6) and np.array_equal(y, frames[i])


def test_compressed_formats_raise_contract():
    # PNG is native since r10, baseline JPEG since r11, and FLAC since
    # r12, so damaged streams of all three raise the quarantine-class
    # ValueError; formats with no native path (MP3, MP4/H.264) still
    # dispatch to (absent) optional libs
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0....jpeg")
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError):
        decode_audio(b"fLaC....")
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x03\x00....mp3")
    with pytest.raises(NotImplementedError):
        sample_video_frames(b"\x00\x00\x00 ftypisom....")


def _png_bytes(pixels, nbits):
    """Raw PNG stream from an (h, w[, c]) array via the GRIB 5.41
    encoder's sample convention (channels packed big-endian)."""
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        _png_encode_samples,
    )

    a = np.asarray(pixels, dtype=np.int64)
    h, w = a.shape[:2]
    if a.ndim == 3:
        c = a.shape[2]
        depth = nbits // (8 * c) * 8
        shifts = depth * np.arange(c - 1, -1, -1)
        a = (a << shifts).sum(axis=2)
    return _png_encode_samples(a.reshape(-1), w, h, nbits)


def test_png_decodes_natively_all_layouts():
    """PNG joins the native formats (r10): gray 8/16-bit, sub-byte
    gray, RGB and RGBA all round-trip through the engine's own RFC
    2083 decoder — no PIL anywhere."""
    rng = np.random.RandomState(3)

    g8 = rng.randint(0, 256, (5, 7))
    out = decode_image(_png_bytes(g8, 8))
    assert (out["mode"], out["width"], out["height"]) == ("L", 7, 5)
    assert out["pixels"].dtype == np.uint8 and (out["pixels"] == g8).all()

    g16 = rng.randint(0, 65536, (4, 3))
    out = decode_image(_png_bytes(g16, 16))
    assert out["mode"] == "L" and out["pixels"].dtype == np.uint16
    assert (out["pixels"] == g16).all()

    g4 = rng.randint(0, 16, (6, 9))
    out = decode_image(_png_bytes(g4, 4))
    assert out["mode"] == "L" and (out["pixels"] == g4).all()

    rgb = rng.randint(0, 256, (4, 5, 3))
    out = decode_image(_png_bytes(rgb, 24))
    assert out["mode"] == "RGB" and out["pixels"].shape == (4, 5, 3)
    assert (out["pixels"] == rgb).all()

    rgba = rng.randint(0, 256, (3, 4, 4))
    out = decode_image(_png_bytes(rgba, 32))
    assert out["mode"] == "RGBA" and (out["pixels"] == rgba).all()


def test_png_corrupt_is_quarantine_class():
    """Every PNG corruption mode lands in MM_DECODE_ERRORS, so the
    transform UDTF converts it to a NULL row, never a task failure."""
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        MM_DECODE_ERRORS,
    )

    good = _png_bytes(np.arange(35).reshape(5, 7) % 256, 8)
    for bad in (
        good[:20],                      # truncated
        good[:30] + b"\x00" * 10,       # corrupt chunk walk
        good.replace(b"IDAT", b"IDAX", 1),  # no image data
    ):
        with pytest.raises(MM_DECODE_ERRORS):
            decode_image(bad)


def test_real_decode_through_mapinpandas(spark):
    """End-to-end: mixed real binary payloads ride a DataFrame binary
    column; the Arrow row node (`sources.arrow_rows`) dispatches on
    magic bytes and extracts REAL metadata (decoded dimensions / sample
    counts)."""
    from mints_wind_data_ingestion_spark.sources import arrow_rows

    px = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(4, 3, 3) % 251
    wav = encode_wav(np.ones((123, 1), dtype=np.int16) * 100, sample_rate=16000)
    rows = [
        (1, bytearray(encode_bmp(px))),
        (2, bytearray(encode_ppm(px))),
        (3, bytearray(wav)),
        (4, bytearray(encode_y4m([np.zeros((2, 4), dtype=np.uint8)] * 5))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    def meta(ids, payloads):
        recs = []
        for i, b in zip(ids, payloads):
            if b[:2] in (b"BM", b"P6", b"P5"):
                d = decode_image(b)
                recs.append((i, "image", d["width"], d["height"]))
            elif b[:4] == b"RIFF":
                d = decode_audio(b)
                recs.append((i, "audio", d["sample_rate"], d["n_samples"]))
            elif b.startswith(b"YUV4MPEG2"):
                fr = sample_video_frames(b, every_n=2)
                recs.append((i, "video", len(fr), fr[0][1].shape[1]))
        return {name: [r[k] for r in recs]
                for k, name in enumerate(["doc_id", "kind", "a", "b"])}

    out = {
        r.doc_id: (r.kind, r.a, r.b)
        for r in arrow_rows(
            df, meta, "doc_id long, kind string, a long, b long"
        ).collect()
    }
    assert out == {
        1: ("image", 3, 4),
        2: ("image", 3, 4),
        3: ("audio", 16000, 123),
        4: ("video", 3, 4),  # frames 0,2,4 sampled; width 4
    }


def test_resize_and_reencode_roundtrip():
    """Nearest-neighbor resize: exact index math (2x downscale of a
    checkerboard picks the half-pixel-center samples), and the BMP
    re-encode round-trips the resized pixels bit-for-bit."""
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        encode_bmp as engine_encode_bmp,
    )
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        resize_image,
    )

    px = np.arange(8 * 6 * 3, dtype=np.uint8).reshape(6, 8, 3)
    rs = resize_image(px, 4, 3)
    assert rs.shape == (3, 4, 3)
    # half-pixel centers: dst row i samples src row floor((i+.5)*2)
    np.testing.assert_array_equal(rs, px[[1, 3, 5]][:, [1, 3, 5, 7]])
    back = decode_image(engine_encode_bmp(rs))
    assert back["width"] == 4 and back["height"] == 3
    np.testing.assert_array_equal(back["pixels"], rs)
    # upscale: every source pixel appears, shape exact
    up = resize_image(rs, 8, 6)
    assert up.shape == (6, 8, 3)


def test_image_and_audio_features():
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        audio_features,
        image_features,
    )

    flat = np.full((4, 4, 3), 128, dtype=np.uint8)
    f = image_features(flat)
    assert f["channel_means"] == [128.0, 128.0, 128.0]
    assert f["pixel_std"] == 0.0
    assert f["lum_hist"][4] == 1.0  # 128 falls in bin [128,160)

    t = np.arange(4096) / 8000.0
    sine = np.sin(2 * np.pi * 440 * t).reshape(-1, 1)
    af = audio_features(sine, frame=1024)
    assert len(af["rms"]) == 4 and len(af["zcr"]) == 4
    for r in af["rms"]:  # sine RMS ≈ 1/√2
        assert abs(r - 2 ** -0.5) < 0.02
    for z in af["zcr"]:  # 440 Hz at 8 kHz → ~0.11 crossings/sample
        assert 0.08 < z < 0.14


def test_transform_images_mapinpandas(spark):
    """Executor-side decode→resize→re-encode over a binary column:
    valid BMP/PPM payloads come back resized and re-decodable; a
    corrupt payload yields a NULL row, not a task failure."""
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        transform_images,
    )

    px = np.arange(8 * 6 * 3, dtype=np.uint8).reshape(6, 8, 3)
    rows = [
        (1, bytearray(encode_bmp(px))),
        (2, bytearray(encode_ppm(px))),
        (3, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in transform_images(df, 4, 3).collect()}
    assert len(out) == 3
    for d in (1, 2):
        got = decode_image(bytes(out[d].resized))
        assert (got["width"], got["height"]) == (4, 3)
        np.testing.assert_array_equal(
            got["pixels"],
            np.ascontiguousarray(px[[1, 3, 5]][:, [1, 3, 5, 7]]),
        )
        assert out[d].pixel_std > 0
    assert out[3].resized is None and out[3].out_width is None


# ---------------------------------------------------------------------------
# image perceptual-hash dedup (r10): dHash + banded Hamming pairs
# ---------------------------------------------------------------------------


def _textured_bmp(seed: int, w: int = 24, h: int = 20, noise: int = 0):
    """Deterministic textured RGB image (integer mixing — no gradients,
    so distinct seeds give Hamming-far dHashes) with an optional tiny
    perturbation that must NOT move the hash far."""
    from mints_wind_data_ingestion_spark.sources.multimodal import encode_bmp

    yy, xx, cc = np.meshgrid(
        np.arange(h, dtype=np.uint64), np.arange(w, dtype=np.uint64),
        np.arange(3, dtype=np.uint64), indexing="ij"
    )
    # murmur-style per-pixel mixing: distinct seeds decorrelate fully
    # (a plain xor texture preserves gradient comparisons across seeds)
    v = (np.uint64(seed) * np.uint64(2654435761)
         + xx * np.uint64(40503) + yy * np.uint64(65537)
         + cc * np.uint64(97))
    v ^= v >> np.uint64(13)
    v *= np.uint64(0x5BD1E995)
    v ^= v >> np.uint64(15)
    px = (v % np.uint64(256)).astype(np.uint8)
    if noise:
        px = px.copy()
        px[h // 2, w // 2] = (px[h // 2, w // 2] + noise) % 256
    return encode_bmp(px)


def test_dhash_properties():
    """dHash is stable under a one-pixel tweak (tiny Hamming) and far
    between distinct textures; PNG and BMP encodings of the SAME
    pixels hash identically (format independence)."""
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        decode_image,
        dhash64,
    )

    a = dhash64(decode_image(_textured_bmp(1))["pixels"])
    a2 = dhash64(decode_image(_textured_bmp(1, noise=9))["pixels"])
    b = dhash64(decode_image(_textured_bmp(2))["pixels"])
    ham = lambda x, y: bin(x ^ y).count("1")
    assert ham(a, a2) <= 4
    assert ham(a, b) > 12

    # determinism: hashing the same pixels twice is identical
    px = decode_image(_textured_bmp(3))["pixels"]
    assert dhash64(px) == dhash64(px.copy())


def test_image_neardup_pairs_planted(spark):
    """Planted near-duplicate images (one-pixel perturbed copies) are
    recovered exactly by the banded join — no false pairs among the
    distinct textures, Hamming verified, recall exact for ham ≤ 7."""
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        image_dhash_df,
        image_neardup_pairs,
    )

    rows = [(i, _textured_bmp(i)) for i in range(40)]
    rows += [(1000 + i, _textured_bmp(i, noise=9)) for i in range(0, 40, 10)]
    rows.append((9999, b"\x89PNG\r\n\x1a\ncorrupt"))  # NULL dhash row
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = image_dhash_df(df)
    got = {r["doc_id"]: r["dhash"] for r in hashes.collect()}
    assert got[9999] is None and len(got) == len(rows)

    pairs = image_neardup_pairs(hashes, max_hamming=6).collect()
    want = {(i, 1000 + i) for i in range(0, 40, 10)}
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs}
    assert want <= got_pairs, f"missing planted pairs: {want - got_pairs}"
    # no distinct-texture pair sneaks in
    assert all(a in dict(rows) for a, _ in got_pairs)
    for r in pairs:
        assert r["hamming"] <= 6
        if (r["id_a"], r["id_b"]) in want:
            assert r["hamming"] <= 4
    # false pairs would connect two < 1000 ids with different seeds
    assert not any(a < 1000 and b < 1000 for a, b in got_pairs)


def test_image_neardup_guardrails(spark):
    import pytest as _pytest

    from mints_wind_data_ingestion_spark.sources.multimodal import (
        image_dhash_df,
        image_neardup_pairs,
    )

    df = spark.createDataFrame(
        [(1, _textured_bmp(1))], "doc_id long, payload binary"
    )
    h = image_dhash_df(df)
    with _pytest.raises(ValueError, match="must divide"):
        image_neardup_pairs(h, bands=7)
    with _pytest.raises(ValueError, match="exceeds the banded"):
        image_neardup_pairs(h, max_hamming=20, bands=8)
