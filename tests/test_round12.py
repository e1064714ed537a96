"""Round 12: skew-proofing the frame-hash pair joins (VERDICT r11 #2).

Real video/audio corpora are Zipfian in frame hashes — black frames,
title cards and silence hash identically across thousands of clips —
so the plain inverted-index count plan's self-equi-join fans one hot
posting list of m clips into m²/2 rows. These tests plant exactly that
corpus (10³ clips sharing one constant intro-frame hash) and pin:

1. the PPJoin prefix filter keeps the CANDIDATE set bounded (the hot
   hash sorts last in the rarity order and drops out of every prefix);
2. the result is IDENTICAL to the plain count plan — the filter is
   exact, never a recall trade;
3. the two-sided (batch × stored-corpus) gate join has the same two
   properties under a corpus-side hot key.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mints_wind_data_ingestion_spark.operators.dedup import (
    _ppjoin_rs_candidates,
    _ppjoin_self_candidates,
    jaccard_join_prefix_filtered_rs,
)
from mints_wind_data_ingestion_spark.sources.multimodal import (
    video_neardup_join,
    video_neardup_pairs,
)

HOT = 0xB1AC0  # the shared "black intro frame" hash
N_CLIPS = 1000


def _hot_key_frame_table(spark, n_clips: int = N_CLIPS):
    """(doc_id, frame_idx, fhash): every clip opens on the HOT frame
    then plays 7 unique frames — except clips 1 and 2, which share 6
    of their 7 uniques (the one planted near-dup pair: |∩| = 7 of
    |∪| = 9 → jaccard 7/9)."""
    rows = []
    for i in range(n_clips):
        rows.append((i, 0, HOT))
        for j in range(7):
            if i == 2 and j < 6:
                fh = 1_000_000 + 1 * 10_000 + j  # clip 1's frames
            else:
                fh = 1_000_000 + i * 10_000 + j
            rows.append((i, j + 1, fh))
    return spark.createDataFrame(
        rows, "doc_id long, frame_idx int, fhash long"
    )


def test_hot_key_candidates_bounded(spark):
    frames = _hot_key_frame_table(spark)
    sets = (
        frames.groupBy("doc_id")
        .agg(F.array_distinct(F.collect_set("fhash")).alias("__sh"))
        .select(
            F.col("doc_id").alias("__id"),
            "__sh",
            F.size("__sh").alias("__n"),
        )
    )
    n_cands = _ppjoin_self_candidates(sets, 0.5).count()
    # plain count plan: the hot posting list alone meets itself in
    # ~N²/2 = 499 500 join rows; the prefix filter must keep only
    # pairs meeting on RARE hashes — here just the planted pair
    assert n_cands < 50, n_cands
    assert n_cands >= 1


def test_hot_key_prefix_equals_uniform(spark):
    frames = _hot_key_frame_table(spark, n_clips=200)
    got_p = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in video_neardup_pairs(frames, method="prefix").collect()
    )
    got_u = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in video_neardup_pairs(frames, method="uniform").collect()
    )
    assert got_p == got_u == [(1, 2, round(7 / 9, 9))]


def test_hot_key_rs_candidates_bounded_and_exact(spark):
    """Corpus-side hot key: 500 stored clips all open on the HOT
    frame; a 10-clip batch also opens on it. The plain postings join
    fans 10 × 500 through the hot hash; the R-S prefix filter must
    keep candidates bounded AND return the identical hit set."""
    stored_rows = [
        (10_000 + i, [HOT] + [2_000_000 + i * 100 + j for j in range(7)])
        for i in range(500)
    ]
    batch_rows = [
        (i, [HOT] + [3_000_000 + i * 100 + j for j in range(7)])
        for i in range(10)
    ]
    # plant: batch clip 5 is a re-cut of stored clip 10_007
    batch_rows[5] = (5, [HOT] + [2_000_000 + 7 * 100 + j for j in range(6)])
    stored = spark.createDataFrame(
        stored_rows, "__oid long, __fh array<long>"
    )
    batch = spark.createDataFrame(batch_rows, "doc_id long, __fh array<long>")

    sets_n = batch.select(
        F.col("doc_id").alias("__id"),
        F.array_distinct("__fh").alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    sets_s = stored.select(
        F.col("__oid").alias("__id"),
        F.array_distinct("__fh").alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    n_cands = _ppjoin_rs_candidates(sets_n, sets_s, 0.5).count()
    assert n_cands < 50, n_cands  # plain join: ≥ 5 000 via HOT alone

    got_p = sorted(
        (r["doc_id"], r["__oid"], round(r["jaccard"], 9))
        for r in video_neardup_join(batch, stored, method="prefix").collect()
    )
    got_u = sorted(
        (r["doc_id"], r["__oid"], round(r["jaccard"], 9))
        for r in video_neardup_join(batch, stored, method="uniform").collect()
    )
    # |∩| = 6 uniques + HOT = 7; |∪| = 7 + 8 - 7 = 8
    assert got_p == got_u == [(5, 10_007, round(7 / 8, 9))]


def test_rs_duplicate_array_entries_do_not_understate_jaccard(spark):
    """ADVICE r11: an input signature ARRAY with repeated hashes must
    not inflate the set size — both size and intersection are computed
    over the de-duplicated set, in both methods."""
    batch = spark.createDataFrame(
        [(1, [7, 7, 7, 8, 9, 9])], "doc_id long, __fh array<long>"
    )
    stored = spark.createDataFrame(
        [(100, [7, 8, 9, 10])], "__oid long, __fh array<long>"
    )
    for method in ("prefix", "uniform"):
        rows = video_neardup_join(
            batch, stored, threshold=0.5, method=method
        ).collect()
        # sets {7,8,9} vs {7,8,9,10}: jaccard 3/4 — the raw-size bug
        # computed 3/(6+4-3) = 3/7 < 0.5 and dropped the pair
        assert [(r["doc_id"], r["__oid"]) for r in rows] == [(1, 100)], method
        assert rows[0]["jaccard"] == pytest.approx(3 / 4)


def test_ivfpq_matches_exact_ivf_and_prunes(spark):
    """IVFPQ (VERDICT r11 #3): the composed probe→ADC→rerank pipeline
    must (a) partition-prune its codes scan to the probed cells, and
    (b) at shortlist=30 return the IDENTICAL top-10 to the exact-
    vector IVF probe of the same cells — the PQ compression costs no
    recall beyond the coarse pruning both share."""
    import os

    from mints_wind_data_ingestion_spark.plans.registry import REGISTRY

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    ivfpq_df = REGISTRY["x_ivfpq_topk"].build(spark, sf_dir)
    plan = ivfpq_df._jdf.queryExecution().executedPlan().toString()
    assert (
        "dynamicpruning" in plan.lower()
        or "PartitionFilters: [isnotnull(cell" in plan
    )
    ivf = {
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in REGISTRY["x_sim_topk_ivf_index"].build(spark, sf_dir).collect()
    }
    ivfpq = {
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in ivfpq_df.collect()
    }
    assert ivfpq == ivf


# ---------------------------------------------------------------------------
# MJPEG-in-AVI (VERDICT r11 #4): the video dedup path meets a real
# compressed container with zero new dependencies
# ---------------------------------------------------------------------------


def _gradient_frames(n=6, h=32, w=48, seed=3):
    import numpy as np

    frames = []
    for i in range(n):
        y, x = np.mgrid[0:h, 0:w]
        frames.append(((x * (i + seed) + y * 2) % 256).astype(np.uint8))
    return frames


def test_mjpeg_avi_round_trip_and_sampling():
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.multimodal import (
        dhash64,
        encode_mjpeg_avi,
        sample_video_frames,
    )

    frames = _gradient_frames()
    avi = encode_mjpeg_avi(frames, quality=92)
    back = sample_video_frames(avi, every_n=1)
    assert [i for i, _ in back] == list(range(len(frames)))
    for (_, yb), orig in zip(back, frames):
        assert yb.shape == orig.shape
        # JPEG is lossy but the perceptual hash must survive re-encode
        assert bin(dhash64(yb) ^ dhash64(orig)).count("1") <= 2
    # arithmetic sampling decodes ONLY every Nth frame
    assert [i for i, _ in sample_video_frames(avi, every_n=3)] == [0, 3]
    # RGB frames ride the same container; the Y plane comes back
    rgb = [np.stack([f, f // 2, f // 3], axis=-1) for f in frames[:3]]
    got = sample_video_frames(encode_mjpeg_avi(rgb, quality=95), every_n=1)
    assert len(got) == 3 and got[0][1].ndim == 2


def test_mjpeg_avi_dhash_stable_across_y4m_reencode():
    """The same content hashed from the uncompressed Y4M container and
    from an MJPEG-AVI re-encode must land within a small Hamming
    distance — the property the near-dup model rests on."""
    from mints_wind_data_ingestion_spark.plans.extensions import (
        synth_video_frames,
    )
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        dhash64,
        encode_mjpeg_avi,
        encode_y4m_gray,
        sample_video_frames,
    )

    frames = synth_video_frames(40, 0)
    y4m = sample_video_frames(encode_y4m_gray(frames), every_n=1)
    avi = sample_video_frames(
        encode_mjpeg_avi(frames, quality=95), every_n=1
    )
    assert len(y4m) == len(avi)
    for (_, a), (_, b) in zip(y4m, avi):
        assert bin(dhash64(a) ^ dhash64(b)).count("1") <= 2


def test_mjpeg_avi_corrupt_quarantine(spark):
    """Corrupt AVI structures raise ValueError (the quarantine class),
    and the Arrow pass converts them to NULL evidence rows."""
    import pytest as _pytest

    from mints_wind_data_ingestion_spark.sources.multimodal import (
        encode_mjpeg_avi,
        sample_video_frames,
        video_dhash_df,
    )

    good = encode_mjpeg_avi(_gradient_frames(3), quality=90)
    # truncated movi chunk
    with _pytest.raises(ValueError):
        sample_video_frames(good[:80], every_n=1)
    # idx1 pointing nowhere: corrupt the first entry's offset field
    # (idx1 header 8 B, then ckid+flags precede the offset)
    bad = bytearray(good)
    i = bytes(bad).rindex(b"idx1")
    bad[i + 16 : i + 20] = (99999).to_bytes(4, "little")
    with _pytest.raises(ValueError):
        sample_video_frames(bytes(bad), every_n=1)

    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(good[:80]))],
        "doc_id long, payload binary",
    )
    out = video_dhash_df(df).toPandas()
    assert len(out[out.doc_id == 1]) == 3
    bad_rows = out[out.doc_id == 2]
    assert len(bad_rows) == 1 and bad_rows.fhash.isna().all()


def test_mjpeg_avi_indexless_fallback():
    """An AVI stripped of its idx1 still decodes via the sequential
    movi walk (some writers omit the index)."""
    import struct

    from mints_wind_data_ingestion_spark.sources.multimodal import (
        encode_mjpeg_avi,
        sample_video_frames,
    )

    avi = encode_mjpeg_avi(_gradient_frames(4), quality=90)
    i = avi.rindex(b"idx1")
    stripped = avi[:i]
    # fix the RIFF size field for the removed tail
    stripped = (
        stripped[:4]
        + struct.pack("<I", len(stripped) - 8)
        + stripped[8:]
    )
    got = sample_video_frames(stripped, every_n=1)
    assert [i for i, _ in got] == [0, 1, 2, 3]


def test_mjpeg_avi_through_gate_parity(spark, tmp_path):
    """Gate parity: an MJPEG-AVI corpus rides run_video_dedup_ingest
    unchanged — near-dup AVI clips are quarantined exactly like their
    Y4M twins."""
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.multimodal import (
        encode_mjpeg_avi,
    )
    from mints_wind_data_ingestion_spark.streaming.pipeline import (
        run_video_dedup_ingest,
    )

    frames = _gradient_frames(8)
    edited = list(frames)
    edited[0] = np.zeros_like(frames[0])  # replace one frame
    rows = [
        (1, bytearray(encode_mjpeg_avi(frames, quality=92))),
        (2, bytearray(encode_mjpeg_avi(edited, quality=92))),  # near-dup of 1
        (3, bytearray(encode_mjpeg_avi(_gradient_frames(8, seed=40), quality=92))),
    ]
    landing = str(tmp_path / "landing")
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    df.coalesce(1).write.parquet(landing)
    q = run_video_dedup_ingest(
        spark,
        landing,
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        "doc_id long, payload binary",
        threshold=0.5,
        quarantine_path=str(tmp_path / "quar"),
    )
    q.awaitTermination(120)
    kept = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    quar = {
        r.doc_id: r.reason
        for r in spark.read.parquet(str(tmp_path / "quar")).collect()
    }
    assert kept == [1, 3]
    assert quar == {2: "batch_dup"}


# ---------------------------------------------------------------------------
# G.711 µ-law / A-law WAV (VERDICT r11 #6): audio format widening
# ---------------------------------------------------------------------------


def _two_tone(n=4096, sr=8000):
    import numpy as np

    t = np.arange(n)
    return (
        8000 * np.sin(2 * np.pi * 440 * t / sr)
        + 4000 * np.sin(2 * np.pi * 1313 * t / sr)
    ).astype(np.int16)


@pytest.mark.parametrize("law,fmt_code", [("ulaw", 7), ("alaw", 6)])
def test_g711_decode_parity(law, fmt_code):
    """G.711 companding round-trips at telephony quality (SNR well
    above 30 dB) and the format code lands in the fmt chunk."""
    import struct

    import numpy as np

    from mints_wind_data_ingestion_spark.sources.multimodal import (
        decode_audio,
        encode_wav_g711,
    )

    x = _two_tone()
    wav = encode_wav_g711(x, law=law)
    assert struct.unpack_from("<H", wav, 20)[0] == fmt_code
    d = decode_audio(wav)
    assert (d["sample_rate"], d["n_channels"], d["n_samples"]) == (8000, 1, len(x))
    orig = x.astype(np.float64) / 32768.0
    got = d["waveform"][:, 0]
    snr = 10 * np.log10(np.mean(orig**2) / np.mean((got - orig) ** 2))
    assert snr > 30, snr


@pytest.mark.parametrize("law", ["ulaw", "alaw"])
def test_g711_levels_round_trip_exactly(law):
    """A signal already on the law's 256 decode levels survives an
    encode→decode cycle bit-exactly — pins the expand tables and the
    nearest-level encoder against each other."""
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.multimodal import (
        _g711_table,
        decode_audio,
        encode_wav_g711,
    )

    levels = _g711_table(law)  # all 256 decode levels, one of each
    wav = encode_wav_g711(levels, law=law)
    back = decode_audio(wav)["waveform"][:, 0]
    assert np.array_equal(
        np.round(back * 32768.0).astype(np.int16), levels
    )


def test_g711_fingerprint_near_stability():
    """Across a µ-law re-encode of PCM16 content the spectral
    fingerprint stays within the Haitsma-Kalker match band (bit error
    rate < 1/3 per frame) — companding noise may flip near-tie band
    comparisons, so EXACT set dedup holds within one law (bit-equal
    decode), while cross-law matching needs the banded-Hamming path."""
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        audio_fingerprint,
        decode_audio,
        encode_wav_g711,
        encode_wav_pcm16,
    )

    x = _two_tone()
    fp_pcm = dict(
        audio_fingerprint(decode_audio(encode_wav_pcm16(x))["waveform"])
    )
    for law in ("ulaw", "alaw"):
        fp_g = dict(
            audio_fingerprint(
                decode_audio(encode_wav_g711(x, law=law))["waveform"]
            )
        )
        assert fp_g.keys() == fp_pcm.keys()
        # BER ≤ 0.375 per frame (Haitsma-Kalker matches at ≤ 0.35 on
        # average; this two-tone fixture is adversarial — most bands
        # are noise floor, so companding noise flips near-tie bits)
        for i in fp_pcm:
            assert bin(fp_pcm[i] ^ fp_g[i]).count("1") <= 12, (law, i)


def test_g711_bad_bits_quarantined():
    import pytest as _pytest

    from mints_wind_data_ingestion_spark.sources.multimodal import (
        decode_audio,
        encode_wav_g711,
    )

    wav = bytearray(encode_wav_g711(_two_tone(), law="ulaw"))
    wav[34] = 16  # claim 16-bit G.711 — invalid
    with _pytest.raises(ValueError):
        decode_audio(bytes(wav))


def test_g711_through_audio_gate(spark, tmp_path):
    """Gate parity: a µ-law corpus rides run_audio_dedup_ingest
    unchanged — an edited sibling companded under the SAME law shares
    its unedited segments bit-exactly, so the frame-set model catches
    it exactly as it does for PCM."""
    from mints_wind_data_ingestion_spark.plans.extensions import (
        synth_audio_segments,
    )
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        encode_wav_g711,
    )
    from mints_wind_data_ingestion_spark.streaming.pipeline import (
        run_audio_dedup_ingest,
    )

    base = synth_audio_segments(10, 0)
    sib = synth_audio_segments(10, 1)  # edited sibling (2 segments differ)
    other = synth_audio_segments(77, 0)
    rows = [
        (1, bytearray(encode_wav_g711(base, law="ulaw"))),
        (2, bytearray(encode_wav_g711(sib, law="ulaw"))),
        (3, bytearray(encode_wav_g711(other, law="ulaw"))),
    ]
    landing = str(tmp_path / "landing")
    spark.createDataFrame(rows, "doc_id long, payload binary").coalesce(
        1
    ).write.parquet(landing)
    q = run_audio_dedup_ingest(
        spark,
        landing,
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        "doc_id long, payload binary",
        threshold=0.5,
        quarantine_path=str(tmp_path / "quar"),
    )
    q.awaitTermination(120)
    kept = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    quar = {
        r.doc_id: r.reason
        for r in spark.read.parquet(str(tmp_path / "quar")).collect()
    }
    assert kept == [1, 3]
    assert quar == {2: "batch_dup"}


# ---------------------------------------------------------------------------
# FLAC (r12): lossless audio, zero dependencies
# ---------------------------------------------------------------------------


def test_flac_round_trip_matrix():
    """Bit-exact encode→decode across the encoder's subframe types:
    constant runs, tonal content (fixed predictors), and full-range
    noise (verbatim), mono and stereo, short last frame."""
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.flaccodec import (
        decode_flac,
        encode_flac,
    )

    rng = np.random.default_rng(9)
    t = np.arange(9000)
    tone = (6000 * np.sin(2 * np.pi * 440 * t / 8000)).astype(np.int16)
    noise = rng.integers(-32768, 32767, 9000, dtype=np.int16)
    const = np.full(9000, -123, dtype=np.int16)
    stereo = np.stack([tone, noise], axis=1)
    for sig, bs in [(tone, 4096), (noise, 1000), (const, 4096),
                    (stereo, 777)]:
        f = encode_flac(sig, 8000, block_size=bs)
        d = decode_flac(f)
        back = np.round(d["waveform"] * 32768).astype(np.int16)
        if sig.ndim == 1:
            back = back[:, 0]
        assert np.array_equal(back, sig), (sig.shape, bs)
        assert d["sample_rate"] == 8000
    # tonal content must actually compress under the fixed predictors
    assert len(encode_flac(tone, 8000)) < 0.8 * tone.nbytes


def test_flac_corruption_quarantined():
    import numpy as np
    import pytest as _pytest

    from mints_wind_data_ingestion_spark.sources.flaccodec import (
        decode_flac,
        encode_flac,
    )

    x = (3000 * np.sin(np.arange(5000) / 7)).astype(np.int16)
    good = encode_flac(x, 8000)
    for mutate in (
        lambda b: b[:3],                                   # bad magic
        lambda b: b[:40],                                  # truncated
        lambda b: b[: len(b) // 2] + b"\xff" + b[len(b) // 2 + 1 :],
    ):
        with _pytest.raises(ValueError):
            decode_flac(bytes(mutate(bytearray(good))))


def test_flac_fingerprints_exact_vs_wav(spark):
    """FLAC is lossless, so the fingerprint-set dedup model survives a
    WAV→FLAC re-encode EXACTLY (the property the G.711 companded path
    only approximates) — and the gate treats a FLAC near-dup of a WAV
    clip as a duplicate."""
    from mints_wind_data_ingestion_spark.plans.extensions import (
        synth_audio_segments,
    )
    from mints_wind_data_ingestion_spark.sources.flaccodec import encode_flac
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        audio_fingerprint,
        decode_audio,
        encode_wav_pcm16,
    )

    x = synth_audio_segments(30, 0)
    fp_wav = audio_fingerprint(decode_audio(encode_wav_pcm16(x))["waveform"])
    fp_flac = audio_fingerprint(decode_audio(encode_flac(x))["waveform"])
    assert fp_wav == fp_flac

    # cross-container gate: WAV clip stored, FLAC twin arrives later
    from mints_wind_data_ingestion_spark.sources.multimodal import (
        audio_fingerprint_df,
        video_neardup_join,
    )
    import pyspark.sql.functions as F

    both = spark.createDataFrame(
        [
            (1, bytearray(encode_wav_pcm16(x))),
            (2, bytearray(encode_flac(x))),
        ],
        "doc_id long, payload binary",
    )
    sigs = (
        audio_fingerprint_df(both)
        .filter(F.col("fhash").isNotNull())
        .groupBy("doc_id")
        .agg(F.collect_set("fhash").alias("__fh"))
    )
    new = sigs.filter(F.col("doc_id") == 2)
    stored = sigs.filter(F.col("doc_id") == 1).select(
        F.col("doc_id").alias("__oid"), "__fh"
    )
    hits = video_neardup_join(new, stored).collect()
    assert len(hits) == 1 and hits[0]["jaccard"] == 1.0


def test_png_encode_round_trip(spark):
    """encode_png (r12): lossless stdlib PNG out, read back through
    the engine's own RFC 2083 decoder — pixels AND dHash exact; the
    transform pipeline gains the 'png' output format."""
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.multimodal import (
        decode_image,
        dhash64,
        encode_png,
        synth_bmp_corpus,
        transform_images,
        with_payload,
    )

    rng = np.random.default_rng(4)
    gray = rng.integers(0, 256, (13, 17), dtype=np.uint8)
    rgb = rng.integers(0, 256, (9, 21, 3), dtype=np.uint8)
    for px in (gray, rgb):
        back = decode_image(encode_png(px))["pixels"]
        assert np.array_equal(back, px)
        assert dhash64(back) == dhash64(px)

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    out = transform_images(
        synth_bmp_corpus(docs), 8, 8, out_format="png"
    ).collect()
    assert len(out) == 8
    for r in out:
        img = decode_image(bytes(r.resized))
        assert (img["width"], img["height"]) == (8, 8)
        assert bytes(r.resized)[:8] == b"\x89PNG\r\n\x1a\n"


def test_managed_cache_replacement_semantics(spark):
    """managed_cache (VERDICT r11 #5): identical re-builds REPLACE the
    prior cache entry (self-keyed on the plan's semantic hash);
    distinct plans coexist; explicit (owner, slot) keys replace within
    the slot."""
    from mints_wind_data_ingestion_spark.caching import managed_cache

    jsc = spark.sparkContext._jsc.sc()

    def n_persistent() -> int:
        return jsc.getPersistentRDDs().size()

    spark.catalog.clearCache()
    base = n_persistent()
    # identical plan re-cached 3×: one live entry
    for _ in range(3):
        managed_cache(spark.range(100).selectExpr("id * 2 AS v")).count()
    assert n_persistent() == base + 1
    # a DIFFERENT plan coexists
    managed_cache(spark.range(50).selectExpr("id * 3 AS w")).count()
    assert n_persistent() == base + 2
    # explicit slot: second build evicts the first
    a = managed_cache(spark.range(10), "t", "slot")
    a.count()
    grew = n_persistent()
    b = managed_cache(spark.range(20), "t", "slot")
    b.count()
    assert n_persistent() == grew  # replaced, not stacked
    spark.catalog.clearCache()


def test_prefix_rs_function_direct(spark):
    """jaccard_join_prefix_filtered_rs with custom column names."""
    new = spark.createDataFrame(
        [("a", [1, 2, 3, 4])], "nid string, sig array<int>"
    )
    stored = spark.createDataFrame(
        [("x", [1, 2, 3, 9]), ("y", [50, 60, 70, 80])],
        "sid string, sig array<int>",
    )
    rows = jaccard_join_prefix_filtered_rs(
        new, stored, "nid", "sid", "sig", 0.5
    ).collect()
    assert [(r.nid, r.sid) for r in rows] == [("a", "x")]
    assert rows[0].jaccard == pytest.approx(3 / 5)
