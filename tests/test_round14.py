"""Round 14 hardening: adaptive-route data-version keys (VERDICT r13
"What's wrong" #3 / ADVICE r13), the shared-posting prefix route, and
the duplicate-(id, fingerprint) input contract on the banded Hamming
collapse paths (ADVICE r13).

The staleness hole these tests close: the adaptive-route memo once keyed
on (applicationId, plan semanticHash) alone, assuming same plan ⇒ same
data. An in-place overwrite of the same parquet path keeps the plan
hash while the skew profile flips — the memo would pin the count plan
on a now-Zipf corpus, re-introducing the quadratic blowup the feature
exists to avoid. The fix folds the input files' data version
(`caching.data_version`: count + md5 of names, sizes and mtimes) into
the key, so overwrites and appends both change it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mints_wind_data_ingestion_spark.caching import data_version
from mints_wind_data_ingestion_spark.operators import dedup
from mints_wind_data_ingestion_spark.operators.dedup import (
    banded_hamming_join_rs,
    banded_hamming_pairs,
    jaccard_join_adaptive,
    jaccard_similarity_join,
)


def _uniform_shingled(spark, n=50):
    rows = [(i, [f"u{i}x{j}" for j in range(20)]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, sh array<string>")


def _boiler_shingled(spark, n=60):
    """Shared 10-shingle boilerplate head + unique tail; docs 1/2 are
    the planted near-dup pair."""
    rows = []
    for i in range(n):
        tail = [f"w{i}x{j}" for j in range(10)]
        if i == 2:
            tail = [f"w1x{j}" for j in range(9)] + ["tail2"]
        rows.append((i, [f"boiler{k}" for k in range(10)] + tail))
    return spark.createDataFrame(rows, "doc_id long, sh array<string>")


def _data_fingerprint(df):
    """The route key's data part, with an in-memory source's `""` read
    as the "nofiles" sentinel the assertions below were written for."""
    return data_version(df) or "nofiles"


def test_data_fingerprint_file_vs_memory(spark, tmp_path):
    mem = spark.createDataFrame([(1,)], "a long")
    assert _data_fingerprint(mem) == "nofiles"
    p = str(tmp_path / "t")
    mem.write.mode("overwrite").parquet(p)
    fp1 = _data_fingerprint(spark.read.parquet(p))
    spark.createDataFrame([(2,)], "a long").write.mode(
        "overwrite"
    ).parquet(p)
    fp2 = _data_fingerprint(spark.read.parquet(p))
    assert fp1 != "nofiles" and fp2 != "nofiles" and fp1 != fp2


def test_adaptive_reroutes_after_inplace_overwrite(spark, tmp_path):
    """The r13 hole in data: same path, same plan, flipped skew
    profile. The route must recompute, not pin the stale choice."""
    p = str(tmp_path / "corpus")
    _uniform_shingled(spark).write.mode("overwrite").parquet(p)
    out1 = jaccard_join_adaptive(
        spark.read.parquet(p), "doc_id", "sh", 0.5,
        cache=False, blowup_cap=8.0, vol_floor=1000,
    )
    assert out1.windflow_jaccard_method == "uniform"

    _boiler_shingled(spark).write.mode("overwrite").parquet(p)
    out2 = jaccard_join_adaptive(
        spark.read.parquet(p), "doc_id", "sh", 0.5,
        cache=False, blowup_cap=8.0, vol_floor=1000,
    )
    assert out2.windflow_jaccard_method == "prefix"
    assert [(r.id_a, r.id_b) for r in out2.collect()] == [(1, 2)]


def test_adaptive_prefix_route_reads_shared_posting(spark):
    """ADVICE r13: the prefix route must consume the same posting the
    stats ran over (hashed-domain PPJoin), not re-derive raw sets —
    and its rows must match the count plan exactly."""
    docs = _boiler_shingled(spark, n=80)
    adaptive = jaccard_join_adaptive(
        docs, "doc_id", "sh", 0.5,
        cache=False, blowup_cap=8.0, vol_floor=1000,
    )
    assert adaptive.windflow_jaccard_method == "prefix"
    count_plan = jaccard_similarity_join(
        docs, "doc_id", "sh", 0.5, cache=False
    )
    a = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9)) for r in adaptive.collect()
    )
    b = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9)) for r in count_plan.collect()
    )
    assert a == b and a


def test_banded_hamming_collapse_dedups_member_rows(spark):
    """ADVICE r13: duplicate (id, fp) input rows must not duplicate
    output pairs on the collapsed path (the direct path's terminal
    .distinct() already absorbed them)."""
    n = dedup._MINHASH_COLLAPSE_MIN + 4
    rows = [(i, 0) for i in range(n)] * 2  # every row ingested twice
    fps = spark.createDataFrame(rows, "doc_id long, dhash long")
    out = banded_hamming_pairs(fps, "doc_id", "dhash", 64, 8, 6).collect()
    pairs = [(r.id_a, r.id_b) for r in out]
    assert len(pairs) == len(set(pairs)) == n * (n - 1) // 2
    assert all(r.hamming == 0 for r in out)


def test_banded_hamming_rs_dedups_member_rows(spark):
    new = spark.createDataFrame(
        [(1, 5), (1, 5), (2, 5)], "nid long, nfp long"
    )
    sto = spark.createDataFrame(
        [(10, 5), (10, 5), (11, 7)], "sid long, sfp long"
    )
    out = banded_hamming_join_rs(
        new, sto, "nid", "sid", "nfp", "sfp", 64, 8, 2
    ).collect()
    pairs = sorted((r.nid, r.sid) for r in out)
    assert pairs == [(1, 10), (1, 11), (2, 10), (2, 11)]
    assert len(pairs) == len(set(pairs))


def test_banded_hamming_rs_unique_input_unchanged(spark):
    """The dedup is a no-op on already-unique member tables — the
    normal incremental-dedup contract stays bit-identical."""
    new = spark.createDataFrame([(1, 0), (2, 3)], "nid long, nfp long")
    sto = spark.createDataFrame([(9, 0), (8, 1)], "sid long, sfp long")
    out = sorted(
        (r.nid, r.sid, r.hamming)
        for r in banded_hamming_join_rs(
            new, sto, "nid", "sid", "nfp", "sfp", 64, 8, 2
        ).collect()
    )
    assert out == [(1, 8, 1), (1, 9, 0), (2, 8, 1), (2, 9, 2)]


def test_lzw_guard_rejects_overlong_code_stream(spark=None):
    """The 4096-entry table cap must also keep REJECTING genuinely
    out-of-range codes (the fail-loud class is unchanged)."""
    import pytest

    from mints_wind_data_ingestion_spark.sources.gifcodec import _lzw_decode

    # code 5 with an empty table region: first code out of range
    with pytest.raises(ValueError, match="out of range|beyond table"):
        _lzw_decode(bytes([0xFF, 0xFF, 0xFF]), 2, 100)
