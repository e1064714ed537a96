"""Round 13: collapsing identical-fingerprint hot clusters before the
banded Hamming self-joins (VERDICT r12 "What's wrong" #1).

A real crawl carries thousands-to-millions of byte-identical payloads
— blank thumbnails, tracking pixels, default avatars, templated stub
pages — that all hash to ONE fingerprint (dHash 0 for a blank image;
one SimHash for boilerplate-identical text). Banding every row would
push m²/2 candidate rows × bands through the shuffle per hot cluster
before the Hamming verify. These tests plant exactly that corpus
(10³ identical fingerprints) and pin:

1. the CANDIDATE stage (`banded_fp_pairs`, which joins only DISTINCT
   fingerprints) stays bounded — zero rows for a pure identical
   cluster, a handful under mixed near-dups;
2. the pair OUTPUT is identical to the naive row-banded plan — the
   collapse is an execution rewrite, never a semantics change;
3. the two-sided (batch × stored-index) join has the same properties
   under a stored-side hot cluster.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mints_wind_data_ingestion_spark.operators.dedup import (
    banded_fp_pairs,
    banded_hamming_pairs,
)
from mints_wind_data_ingestion_spark.sources.multimodal import (
    image_neardup_join,
    image_neardup_pairs,
)

N_BLANK = 1000  # the planted identical-dHash hot cluster


def _blank_cluster_hashes(spark, n=N_BLANK, extras=()):
    """(doc_id, dhash): n byte-identical blank images (dhash 0) plus
    optional (id, dhash) extras."""
    rows = [(i, 0) for i in range(n)] + [tuple(e) for e in extras]
    return spark.createDataFrame(rows, "doc_id long, dhash long")


def _naive_banded_pairs(hashes, bands=8, max_hamming=6):
    """The pre-r13 row-banded reference plan, kept here as the
    semantics oracle for the collapsed rewrite."""
    width = 64 // bands
    mask = (1 << width) - 1
    banded = hashes.filter(F.col("dhash").isNotNull()).select(
        "doc_id",
        "dhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("dhash"), j * width)
                    .bitwiseAND(F.lit(mask))
                    for j in range(bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.dhash").bitwiseXOR(F.col("b.dhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def test_identical_cluster_candidates_bounded(spark):
    """10³ identical blank images: the candidate band-join over
    DISTINCT fingerprints must see ONE representative — zero candidate
    rows — where the row-banded plan would shuffle 8 × 499 500."""
    hashes = _blank_cluster_hashes(spark)
    reps = hashes.select(F.col("dhash").alias("fp")).distinct()
    n_cands = banded_fp_pairs(reps, "fp", 64, 8, 6).count()
    assert n_cands == 0


def test_identical_cluster_pairs_complete(spark):
    """The pair OUTPUT still enumerates the full cluster — m(m−1)/2
    hamming-0 rows, generated by one membership self-join proportional
    to the answer (smaller m here keeps the collect cheap)."""
    m = 80
    got = image_neardup_pairs(
        _blank_cluster_hashes(spark, n=m), cache=False
    ).collect()
    assert len(got) == m * (m - 1) // 2
    assert all(r.hamming == 0 and r.id_a < r.id_b for r in got)


def test_mixed_cluster_matches_naive_plan(spark):
    """Hot cluster + planted near-dups + background: collapsed output
    == the naive row-banded plan, row for row."""
    extras = [
        (5000, 0b1011),          # hamming 3 from the blank cluster
        (5001, 0b1011),          # identical to 5000
        (5002, -1),              # far from everything near 0
        (5003, -1 ^ 0b11),       # hamming 2 from 5002
        (5004, 1 << 40),         # hamming 1 from cluster
    ]
    hashes = _blank_cluster_hashes(spark, n=50, extras=extras)
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in image_neardup_pairs(hashes, cache=False).collect()
    )
    want = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in _naive_banded_pairs(hashes).collect()
    )
    assert got == want
    # sanity: the cross-cluster expansion really fired (near-dups of
    # the hot fingerprint pair with EVERY member)
    assert (5000, 5001, 0) in got
    # every blank member (50) plus 5000/5001 (0b1011 ⊕ 1<<40 = 4 bits)
    assert sum(1 for a, b, h in got if b == 5004) == 52


def test_simhash_identical_cluster_collapsed(spark):
    """Same property through the 60-bit/6-band SimHash geometry."""
    fp = spark.createDataFrame(
        [(i, 12345) for i in range(300)] + [(900, 12345 ^ 0b101)],
        "doc_id long, simhash long",
    )
    reps = fp.select(F.col("simhash").alias("fp")).distinct()
    assert banded_fp_pairs(reps, "fp", 60, 6, 5).count() == 1
    pairs = banded_hamming_pairs(fp, "doc_id", "simhash", 60, 6, 5)
    n = pairs.count()
    # 300 choose 2 identical + 300 cross pairs to doc 900 (hamming 2)
    assert n == 300 * 299 // 2 + 300
    assert pairs.filter((F.col("id_b") == 900) & (F.col("hamming") == 2)).count() == 300


def test_two_sided_stored_hot_cluster(spark):
    """Stored-side hot cluster: 500 stored blanks collapse to one
    representative; a 3-image batch (one blank, one near, one far)
    expands to exactly the right hits."""
    stored = spark.createDataFrame(
        [(10_000 + i, 0) for i in range(500)] + [(99_000, 1 << 20)],
        "stored_id long, dhash long",
    )
    new = spark.createDataFrame(
        [(1, 0), (2, 0b11), (3, -1)], "doc_id long, dhash long"
    )
    got = image_neardup_join(new, stored, max_hamming=6).collect()
    by_new = {}
    for r in got:
        by_new.setdefault(r.doc_id, []).append((r.stored_id, r.hamming))
    # batch blank hits all 500 stored blanks at 0 and the 1<<20 one at 1
    assert len(by_new[1]) == 501
    assert sum(1 for s, h in by_new[1] if h == 0) == 500
    # near-blank (hamming 2) hits the cluster and the 1<<20 (hamming 3)
    assert len(by_new[2]) == 501
    assert all(h in (2, 3) for _, h in by_new[2])
    assert 3 not in by_new


def test_null_fingerprints_drop_out(spark):
    hashes = spark.createDataFrame(
        [(1, 0), (2, 0), (3, None)], "doc_id long, dhash long"
    )
    got = image_neardup_pairs(hashes, cache=False).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 0)]


# ---------------------------------------------------------------------------
# skew-adaptive exact Jaccard join (VERDICT r12 "What's wrong" #2)
# ---------------------------------------------------------------------------


def _boilerplate_corpus(spark, n=2500, header_tokens=12):
    """Every document opens on the SAME boilerplate header (hot
    shingles with df = n) followed by unique content — the corpus the
    plain count plan's self-join explodes on. Docs 1 and 2 share
    their content too (the planted near-dup pair)."""
    header = " ".join(f"boiler{k}" for k in range(header_tokens))
    rows = []
    for i in range(n):
        body = " ".join(f"w{i}x{j}" for j in range(20))
        if i == 2:
            body = " ".join(f"w1x{j}" for j in range(19)) + " tail2"
        rows.append((i, f"{header} {body}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_adaptive_routes_boilerplate_to_prefix(spark):
    from mints_wind_data_ingestion_spark.functions.text import (
        shingle_docs_pandas,
    )
    from mints_wind_data_ingestion_spark.operators.dedup import (
        jaccard_join_adaptive,
    )

    docs = _boilerplate_corpus(spark)
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="sh")
    out = jaccard_join_adaptive(with_sh, "doc_id", "sh", 0.5, cache=False)
    assert out.windflow_jaccard_method == "prefix"
    got = [(r.id_a, r.id_b) for r in out.collect()]
    assert got == [(1, 2)]


def test_adaptive_routes_uniform_to_count_plan(spark):
    from mints_wind_data_ingestion_spark.functions.text import (
        shingle_docs_pandas,
    )
    from mints_wind_data_ingestion_spark.operators.dedup import (
        jaccard_join_adaptive,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"u{i}x{j}" for j in range(25))) for i in range(200)]
        + [(900, " ".join(f"u7x{j}" for j in range(24)) + " t")],
        "doc_id long, text string",
    )
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="sh")
    out = jaccard_join_adaptive(with_sh, "doc_id", "sh", 0.5, cache=False)
    assert out.windflow_jaccard_method == "uniform"
    assert [(r.id_a, r.id_b) for r in out.collect()] == [(7, 900)]


def test_adaptive_plans_agree_on_boilerplate(spark):
    """The dispatch is an execution choice only: both physical plans
    return identical rows on the corpus that triggers the routing."""
    from mints_wind_data_ingestion_spark.functions.text import (
        shingle_docs_pandas,
    )
    from mints_wind_data_ingestion_spark.operators.dedup import (
        jaccard_join_prefix_filtered,
        jaccard_similarity_join,
    )

    docs = _boilerplate_corpus(spark, n=120)
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="sh")
    a = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_similarity_join(
            with_sh, "doc_id", "sh", 0.5, cache=False
        ).collect()
    )
    b = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_join_prefix_filtered(
            with_sh, "doc_id", "sh", 0.5, cache=False
        ).collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# r13 hardening batch: FLAC rate bound, AVI stream-0 contract,
# managed-cache dead-app sweep, ANN probe-pull cap (ADVICE r12 +
# VERDICT r12 #5/#7)
# ---------------------------------------------------------------------------


def test_encode_flac_rejects_16bit_overflow_rate():
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.flaccodec import (
        decode_flac,
        encode_flac,
    )

    samples = (np.arange(256) % 7 - 3).astype("int16")
    with pytest.raises(ValueError, match="sample_rate"):
        encode_flac(samples, sample_rate=65536)
    with pytest.raises(ValueError, match="sample_rate"):
        encode_flac(samples, sample_rate=96000)
    # the top VALID rate still round-trips
    dec = decode_flac(encode_flac(samples, sample_rate=65535))
    assert dec["sample_rate"] == 65535
    got = (dec["waveform"][:, 0] * 32768.0).round().astype("int16")
    assert list(got) == list(samples)


def test_avi_two_video_streams_takes_stream0_only():
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.multimodal import (
        _sample_avi_mjpeg_frames,
        encode_mjpeg_avi,
    )

    frames = [
        np.full((16, 16), 40 * (i + 1), dtype=np.uint8) for i in range(4)
    ]
    payload = bytearray(encode_mjpeg_avi(frames))
    # relabel frame 1's chunk (movi occurrence #1) and its idx1 entry
    # (occurrence #1 after the movi ones) as stream 01 — a second
    # interleaved video stream
    pos, occ = [], 0
    start = 0
    while True:
        i = payload.find(b"00dc", start)
        if i < 0:
            break
        pos.append(i)
        start = i + 4
    assert len(pos) == 8  # 4 movi chunks + 4 idx entries
    for i in (pos[1], pos[4 + 1]):
        payload[i:i + 4] = b"01dc"

    got = _sample_avi_mjpeg_frames(bytes(payload), 1)
    # stream 0 now has 3 frames; indices renumber over stream-0 chunks
    assert [idx for idx, _y in got] == [0, 1, 2]
    means = [int(y.mean()) for _idx, y in got]
    # frame 1 (mean ~80) belongs to stream 1 and must be absent
    assert abs(means[0] - 40) <= 2
    assert abs(means[1] - 120) <= 2
    assert abs(means[2] - 160) <= 2


def test_managed_cache_sweeps_dead_application_keys(spark):
    from mints_wind_data_ingestion_spark import caching

    df = spark.range(3)
    caching._store[("app-dead-123", "cache", "x", "")] = df
    out = caching.managed_cache(spark.range(5), owner="r13-sweep")
    try:
        live_app = spark.sparkContext.applicationId
        assert ("app-dead-123", "cache", "x", "") not in caching._store
        assert (live_app, "cache", "r13-sweep", "") in caching._store
    finally:
        out.unpersist()
        caching._store.pop((spark.sparkContext.applicationId, "cache", "r13-sweep", ""), None)


def test_pq_probe_pull_cap_fails_loud(spark, monkeypatch):
    import numpy as np

    from mints_wind_data_ingestion_spark.operators import similarity

    monkeypatch.setattr(similarity, "PQ_PROBE_CAP", 4)
    probes = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="PQ_PROBE_CAP"):
        similarity._pull_probes_bounded(probes, "vec_id", "embedding")
    # at the cap: fine, sorted by id
    ok = similarity._pull_probes_bounded(
        probes.limit(4), "vec_id", "embedding"
    )
    assert list(ok["vec_id"]) == sorted(ok["vec_id"])


# ---------------------------------------------------------------------------
# MinHash-LSH identical-set collapse (r13 — the hot-cluster doctrine
# applied to the remaining banded family member)
# ---------------------------------------------------------------------------


def _minhash_corpus(spark, n_dups=60):
    """n_dups byte-identical docs (one shingle-set cluster), a planted
    high-jaccard near-dup pair (9000, 9001), and unique background."""
    dup_text = "the same boiler plate page body here " * 3
    rows = [(i, dup_text) for i in range(n_dups)]
    rows += [
        (9000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (9001, "alpha beta gamma delta epsilon zeta eta theta iota kapXa"),
    ]
    rows += [
        (10_000 + i, f"unique document number {i} " + " ".join(
            f"tok{i}x{j}" for j in range(12)))
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_collapse_matches_exact_join(spark):
    from mints_wind_data_ingestion_spark.functions.text import (
        shingle_docs_pandas,
    )
    from mints_wind_data_ingestion_spark.operators.dedup import (
        jaccard_similarity_join,
        minhash_dedup_pairs,
    )

    docs = _minhash_corpus(spark)
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="sh")
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_dedup_pairs(
            with_sh, "doc_id", "sh", threshold=0.5
        ).collect()
    )
    want = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_similarity_join(
            with_sh, "doc_id", "sh", threshold=0.5, cache=False
        ).collect()
    )
    assert got == want
    # the cluster's within pairs are all there at jaccard 1
    n_dups = 60
    assert sum(1 for a, b, j in got if j == 1.0) == n_dups * (n_dups - 1) // 2
    assert any((a, b) == (9000, 9001) for a, b, _j in got)


def test_minhash_collapse_route_memoized(spark):
    from mints_wind_data_ingestion_spark.functions.text import (
        shingle_docs_pandas,
    )
    from mints_wind_data_ingestion_spark import caching
    from mints_wind_data_ingestion_spark.operators import dedup

    docs = _minhash_corpus(spark, n_dups=40)
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="sh")
    dedup.minhash_dedup_pairs(with_sh, "doc_id", "sh", 0.5).count()
    app = spark.sparkContext.applicationId
    assert any(
        k[0] == app and k[-1] == "minhash_collapse" and v is True
        for k, v in caching._store.items()
    )


def test_minhash_no_dups_keeps_prior_plan(spark):
    from mints_wind_data_ingestion_spark.functions.text import (
        shingle_docs_pandas,
    )
    from mints_wind_data_ingestion_spark import caching
    from mints_wind_data_ingestion_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, " ".join(f"only{i}w{j}" for j in range(12)))
         for i in range(40)]
        + [(900, " ".join(f"only7w{j}" for j in range(11)) + " zz")],
        "doc_id long, text string",
    )
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="sh")
    out = dedup.minhash_dedup_pairs(with_sh, "doc_id", "sh", 0.5)
    got = [(r.id_a, r.id_b) for r in out.collect()]
    assert got == [(7, 900)]
    app = spark.sparkContext.applicationId
    assert any(
        k[0] == app and k[-1] == "minhash_collapse" and v is False
        for k, v in caching._store.items()
    )
