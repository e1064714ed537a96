"""Recall / property tests for the approximate (non-oracle) extension
operators — the pytest complement to the DuckDB differential gate
(SURVEY.md §5; plans/extensions.py docstrings promise these)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mints_wind_data_ingestion_spark.plans import REGISTRY


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


@pytest.fixture(scope="module")
def exact_jaccard_pairs(spark, sf_dir):
    return _pairs(REGISTRY["x_dedup_jaccard"].build(spark, sf_dir))


def test_minhash_full_recall_on_planted_dups(spark, sf_dir, exact_jaccard_pairs):
    """x_dedup_minhash carries the exact-Jaccard oracle, which is only
    valid if LSH recall is 1.0 on this data — pin that here."""
    lsh = _pairs(REGISTRY["x_dedup_minhash"].build(spark, sf_dir))
    assert lsh == exact_jaccard_pairs


def test_minhash_threshold_is_exact(spark, sf_dir):
    """Verification restores precision: every reported jaccard ≥ 0.5."""
    rows = REGISTRY["x_dedup_minhash"].build(spark, sf_dir).collect()
    assert rows, "expected planted near-dup pairs in testdata"
    assert all(r.jaccard >= 0.5 for r in rows)


def test_simhash_catches_planted_near_dups(spark, sf_dir, exact_jaccard_pairs):
    """SimHash banding (6×10 bits, hamming ≤ 5 guaranteed) must recover
    a large majority of the planted near-dup pairs (j ≥ 0.9 ⇒ tiny
    hamming)."""
    sh = _pairs(REGISTRY["x_dedup_simhash"].build(spark, sf_dir))
    assert exact_jaccard_pairs, "expected planted near-dup pairs in testdata"
    recall = len(sh & exact_jaccard_pairs) / len(exact_jaccard_pairs)
    assert recall >= 0.8, f"simhash recall {recall:.2f} over planted pairs"


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    """Hyperplane-LSH top-k must recover a meaningful fraction of the
    exact neighbors. These embeddings are near-uniform (true neighbors
    at wide angles — the hard case), so the bound is deliberately
    modest; clustered real-world data does far better."""
    bf = REGISTRY["x_sim_topk_bruteforce"].build(spark, sf_dir)
    lsh = REGISTRY["x_sim_topk_lsh"].build(spark, sf_dir)
    bfp = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    lshp = {(r.query_id, r.neighbor_id) for r in lsh.collect()}
    recall = len(bfp & lshp) / len(bfp)
    assert recall >= 0.5, f"LSH top-k recall {recall:.2f}"


def test_lsh_topk_sims_are_exact(spark, sf_dir):
    """LSH approximates the candidate set, never the similarity: every
    (query, neighbor) pair LSH reports must carry the same cosine the
    brute-force path computes."""
    bf = REGISTRY["x_sim_topk_bruteforce"].build(spark, sf_dir)
    lsh = REGISTRY["x_sim_topk_lsh"].build(spark, sf_dir)
    joined = lsh.alias("l").join(
        bf.alias("b"),
        (F.col("l.query_id") == F.col("b.query_id"))
        & (F.col("l.neighbor_id") == F.col("b.neighbor_id")),
    )
    mismatches = joined.filter(
        F.col("l.cosine_sim") != F.col("b.cosine_sim")
    ).count()
    assert mismatches == 0


def test_exact_dedup_is_lossless(spark, sf_dir):
    """Exact dedup must preserve every distinct text and the total
    multiplicity."""
    from mints_wind_data_ingestion_spark.plans.registry import tables

    docs = REGISTRY["x_dedup_exact"].build(spark, sf_dir)
    raw = tables(spark, sf_dir)["documents"]
    agg = docs.agg(
        F.count(F.lit(1)).alias("groups"), F.sum("copies").alias("total")
    ).collect()[0]
    assert agg.total == raw.count()
    assert agg.groups == raw.select("text").distinct().count()


def test_approx_distinct_error_bound(spark, sf_dir):
    """x_approx_distinct promises ≤5% relative error vs the exact
    column (HLL++ at rsd=0.02). The query now emits the contract as a
    boolean the driver oracle asserts; the raw estimate is re-derived
    here so the numeric bound stays pinned too."""
    rows = REGISTRY["x_approx_distinct"].build(spark, sf_dir).collect()
    assert rows
    assert all(r.approx_within_5pct for r in rows)
    from mints_wind_data_ingestion_spark.plans.registry import tables

    ev = tables(spark, sf_dir)["events"]
    raw = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    ).collect()
    for r in raw:
        assert abs(r.approx_users - r.exact_users) / r.exact_users <= 0.05


def test_blockwise_cosine_is_distributed_and_block_invariant(spark, sf_dir):
    """The exact all-pairs cosine kernel must be fully distributed
    (VERDICT r1 #1): the physical plan is a grouped applyInPandas over
    hash-assigned block pairs — no driver collect, no corpus broadcast
    — and the emitted pair set is invariant under the block count
    (n_blocks=1 degenerates to one in-memory matmul; n_blocks=8 splits
    the same pair space across 36 independent dgemm tasks)."""
    from mints_wind_data_ingestion_spark.operators.similarity import (
        cosine_pairs_blockwise,
    )
    from mints_wind_data_ingestion_spark.plans.registry import tables

    emb = tables(spark, sf_dir)["embeddings"]
    one = cosine_pairs_blockwise(emb, threshold=0.4, n_blocks=1)
    many = cosine_pairs_blockwise(emb, threshold=0.4, n_blocks=8)

    plan = many._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "Broadcast" not in plan  # corpus never driver-collected/broadcast

    def rows(df):
        return {(r.id_a, r.id_b, r.cosine_sim) for r in df.collect()}

    r1, r8 = rows(one), rows(many)
    assert r1, "expected planted near-dup pairs in testdata"
    assert r1 == r8


def test_ivf_trainer_sample_has_no_global_sort(spark, sf_dir):
    """The IVF trainer's driver pull is a hash sample (VERDICT r1 #9):
    bounded rows, and the scan that feeds it contains no Sort/
    TakeOrderedAndProject — sampling must not order the corpus."""
    from mints_wind_data_ingestion_spark.plans.registry import tables

    emb = tables(spark, sf_dir)["embeddings"]
    n = emb.count()
    sample_plan = emb.filter(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(max(1, -(-n // 512)))) == 0
    )
    plan = sample_plan._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in plan and "TakeOrdered" not in plan

    import inspect

    from mints_wind_data_ingestion_spark.operators import similarity

    src = inspect.getsource(similarity.train_ivf_centroids)
    assert "orderBy" not in src and "limit(" not in src


def test_ivf_topk_recall_and_exact_sims(spark, sf_dir):
    """IVF (16 cells, probe 8 → ~50% of the corpus scanned) must beat
    the modest LSH bound on this near-uniform data, and its reported
    similarities must be exactly the brute-force values."""
    bf = REGISTRY["x_sim_topk_bruteforce"].build(spark, sf_dir)
    ivf = REGISTRY["x_sim_topk_ivf"].build(spark, sf_dir)
    bfp = {(r.query_id, r.neighbor_id): r.cosine_sim for r in bf.collect()}
    ivfp = {(r.query_id, r.neighbor_id): r.cosine_sim for r in ivf.collect()}
    hits = set(bfp) & set(ivfp)
    assert len(hits) / len(bfp) >= 0.5
    assert all(bfp[k] == ivfp[k] for k in hits)


def test_ivf_index_persists_and_prunes(spark, sf_dir, tmp_path):
    """Index lifecycle: build_ivf_index writes centroids + a
    cell-partitioned inverted file; topk_ivf_indexed returns EXACTLY
    the in-session topk_ivf results for the same quantizer, and its
    scan is dynamically pruned to the probed cells (the partition
    filter appears as dynamicpruning in the plan)."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.operators.similarity import (
        build_ivf_index,
        topk_ivf,
        topk_ivf_indexed,
        train_ivf_centroids,
    )
    from mints_wind_data_ingestion_spark.plans.registry import tables

    emb = tables(spark, sf_dir)["embeddings"]
    idx = str(tmp_path / "ivf_index")
    build_ivf_index(emb, idx, n_cells=8, iters=4)

    probes = emb.filter(F.col("vec_id") < 6)
    got = topk_ivf_indexed(spark, idx, probes, k=5, nprobe=3)

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(cell" in plan

    centroids = train_ivf_centroids(emb, n_cells=8, iters=4)
    expect = topk_ivf(probes, emb, k=5, centroids=centroids, nprobe=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))


def test_index_read_skips_memo_when_marker_stat_fails(spark, tmp_path, monkeypatch):
    """The index-read memo is keyed on the marker's mtime nonce. When
    the marker can be read but not stat'ed there is no nonce, so the
    read must go uncached rather than memoize under a constant key
    that a same-content rebuild could never invalidate."""
    from mints_wind_data_ingestion_spark import caching
    from mints_wind_data_ingestion_spark.operators import similarity as sim

    def memo_keys(path):
        return [k for k in caching._store if k[2] == path]

    def index_at(name):
        path = str(tmp_path / name)
        spark.range(3).write.parquet(f"{path}/cells")
        with open(f"{path}/_INDEX_META.json", "w") as fh:
            fh.write('{"n_cells": 1}')
        return path

    # control: a marked, stat-able index memoizes its read handle
    ok = index_at("ok")
    assert sim._read_index_parquet(spark, ok, "cells").count() == 3
    assert len(memo_keys(ok)) == 1

    real_fs = sim._hadoop_fs

    class StatFails:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def getFileStatus(self, path):
            raise OSError("stat failed")

    def fs_without_stat(spark_, path_str):
        fs, jpath = real_fs(spark_, path_str)
        return StatFails(fs), jpath

    monkeypatch.setattr(sim, "_hadoop_fs", fs_without_stat)
    bad = index_at("bad")
    assert sim._marker_stamp(spark, f"{bad}/_INDEX_META.json") is None
    assert sim._read_index_parquet(spark, bad, "cells").count() == 3
    assert memo_keys(bad) == []


def test_multiprobe_lsh_beats_single_probe_with_fewer_tables(spark, sf_dir):
    """Multi-probe economy: 1-flip probing over a 3-table index must
    reach at least the recall of single-probe over the same 3 tables
    (strict superset of candidates), and approach the 8-table recall —
    the memory-for-query-fanout trade. Similarities stay exact."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.operators.similarity import (
        topk_bruteforce,
        topk_lsh,
    )
    from mints_wind_data_ingestion_spark.plans.registry import tables as load

    emb = load(spark, sf_dir)["embeddings"]
    probes = emb.filter(F.col("vec_id") < 8)
    bf = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in topk_bruteforce(probes, emb, k=10).collect()
    }

    def recall(df):
        got = {(r.query_id, r.neighbor_id): r.cosine_sim for r in df.collect()}
        hits = set(bf) & set(got)
        assert all(bf[p] == got[p] for p in hits)  # exact rerank
        return len(hits) / len(bf)

    single = recall(topk_lsh(probes, emb, k=10, dim=64, bits=6, tables=4))
    multi = recall(
        topk_lsh(probes, emb, k=10, dim=64, bits=6, tables=4, multiprobe=True)
    )
    # measured at sf0.001: single 0.20, multi 0.69 — multi-probe over 4
    # tables also beats SINGLE-probe over 16 tables (0.59) with a
    # quarter of the index entries
    assert multi >= single
    assert multi >= 0.5


def test_decontaminate_flags_cross_split_near_dups(spark, sf_dir):
    """Every planted near-dup pair that straddles the train/eval split
    must flag its eval member as contaminated (j >= 0.9 on 3-shingles
    implies long shared runs >> 8 tokens), and every flagged doc must
    genuinely share a word-8-gram with some train doc (no false
    positives — recomputed naively here)."""
    from mints_wind_data_ingestion_spark.operators.sampling import hash_bucket

    out = {r.doc_id: r.contaminated
           for r in REGISTRY["x_decontaminate"].build(spark, sf_dir).collect()}
    docs = REGISTRY["x_dedup_exact"].build  # noqa: F841  (module import warm)
    from mints_wind_data_ingestion_spark.plans.registry import tables

    rows = tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", (hash_bucket(F.col("doc_id")) < "cccccc").alias("is_train")
    ).collect()
    split = {r.doc_id: r.is_train for r in rows}
    grams = {
        r.doc_id: {
            " ".join(t) for t in zip(*[r.text.split()[i:] for i in range(8)])
        }
        for r in rows
    }
    train_grams = set().union(
        *[g for d, g in grams.items() if split[d]]
    )
    # ground truth per eval doc
    for d, g in grams.items():
        if split[d]:
            continue
        assert out[d] == bool(g & train_grams), f"doc {d} mislabelled"
    # the check is non-vacuous: the corpus plants cross-split overlap
    assert any(out.values())


def test_quality_model_distills_heuristic_gate(spark, sf_dir):
    """Model-based quality scoring (functions.ml): distill the
    quantile-threshold quality gate (x_quality_filter's kept set) into
    a logistic scorer over the stopword features — trained on a 70%
    hash split of the weak labels, it must recover the gate on the
    held-out 30% with high accuracy (the fastText-classifier pattern:
    heuristic labels in, calibrated distributed scorer out). The lang
    metadata label is deliberately NOT the target — this corpus's
    labels are only weakly text-correlated (lang-ID accuracy ~0.37,
    x_lang_confusion), so no honest model can learn them."""
    from mints_wind_data_ingestion_spark.functions.ml import (
        score_quality,
        train_quality_model,
    )
    from mints_wind_data_ingestion_spark.functions.text import stopword_ratio
    from mints_wind_data_ingestion_spark.operators.sampling import hash_bucket
    from mints_wind_data_ingestion_spark.plans.registry import tables

    kept = {
        r.doc_id
        for r in REGISTRY["x_quality_filter"].build(spark, sf_dir)
        .select("doc_id").collect()
    }
    docs = tables(spark, sf_dir)["documents"]
    feats = docs.select(
        "doc_id",
        *[stopword_ratio("text", lg).alias(f"s_{lg}")
          for lg in ("de", "en", "es", "fr")],
        (hash_bucket(F.col("doc_id")) < "b33333").alias("is_train"),  # ~70%
    ).withColumn(
        "label",
        F.col("doc_id").isin(list(kept)).cast("double"),
    )
    cols = ["s_de", "s_en", "s_es", "s_fr"]
    bundle = train_quality_model(feats.filter("is_train"), cols)
    held = score_quality(bundle, feats.filter(~F.col("is_train")))
    agg = held.select(
        ((F.col("quality_prob") > 0.5).cast("double") == F.col("label"))
        .cast("long").alias("ok")
    ).agg(F.avg("ok").alias("acc"), F.count(F.lit(1)).alias("n")).collect()[0]
    assert agg.n > 50
    assert agg.acc >= 0.9, f"held-out accuracy {agg.acc:.3f}"


from tests.conftest import ref_levenshtein as _lev  # noqa: E402


def test_editdist_dedup_hand_computed(spark):
    """editdist_dedup_pairs on a hand-built corpus: the near-dup pair
    survives with the exact Wagner-Fischer distance; a far pair
    sharing a rare shingle is rejected by the relative threshold; docs
    related only through an over-cap (hot) shingle never pair."""
    from mints_wind_data_ingestion_spark.operators.dedup import (
        editdist_dedup_pairs,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    near = base.replace("echo", "zulu")          # one word swapped
    far = "alpha bravo charlie delta echo " + " ".join(
        f"w{i}" for i in range(20)
    )                                            # shares the rare leading 5-gram, big distance
    hot = "same same same same same same same"   # its only shingle is over-cap
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)]
        + [(10 + i, hot) for i in range(5)],     # df("same"×5) = 5 > cap 3
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in editdist_dedup_pairs(
            docs, "doc_id", "text",
            shingle_n=5, max_rel_dist=0.2, rare_cap=3,
        ).collect()
    }
    exp = _lev(base, near)
    assert exp <= 0.2 * max(len(base), len(near))
    assert got == {(1, 2): exp}


def test_editdist_catches_planted_near_dups(spark, sf_dir, exact_jaccard_pairs):
    """On the graded corpus the rare-5-gram blocking plus the 20%
    relative Levenshtein verify recovers EXACTLY the planted near-dup
    set (the same pairs the exact Jaccard join reports) — recall 1 and
    precision 1 on this data, pinned so a corpus regeneration that
    breaks the blocking assumption fails loudly."""
    ed = _pairs(REGISTRY["x_dedup_editdist"].build(spark, sf_dir))
    assert exact_jaccard_pairs, "expected planted near-dup pairs in testdata"
    assert ed == exact_jaccard_pairs


# ---------------------------------------------------------------------------
# repetition_features: arrow engine == expr engine (differential pin)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

# The divergence surface between the two engines is tokenization: the
# expr path splits via Java regex \s+ (ASCII-only without
# UNICODE_CHARACTER_CLASS) after a 0x20-only trim; the Arrow path
# re-implements both in Python, where the naive choices (str.split(),
# re \s) are Unicode-wide. Fuzz the exact alphabet where those
# disagree: ASCII whitespace, Unicode whitespace (NBSP, thin space,
# ideographic space, line separator), and repeated words that exercise
# the top-gram tiebreak and dup-gram sums.
_WS_ALPHABET = st.sampled_from(
    [" ", "\t", "\n", "\x0b", "\f", "\r",        # Java \s (ASCII)
     "\xa0", " ", "　", " ", " ",  # Unicode-only WS
     "a", "b", "ab", "aa", "汉", "é"]
)
_TEXTS = st.lists(_WS_ALPHABET, min_size=0, max_size=30).map("".join)


@settings(deadline=None, max_examples=12)
@given(texts=st.lists(_TEXTS, min_size=1, max_size=6))
def test_repetition_arrow_matches_expr_whitespace_fuzz(spark, texts):
    """Both repetition_features engines must be BIT-IDENTICAL on texts
    mixing ASCII and Unicode whitespace (the r9 Arrow rewrite's
    documented contract, operators/quality.py). Empty and NULL docs
    ride along in every example."""
    from mints_wind_data_ingestion_spark.operators.quality import (
        repetition_features,
    )

    rows = [(i, t) for i, t in enumerate(texts)] + [(98, ""), (99, None)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    arrow = sorted(
        map(tuple, repetition_features(docs, engine="arrow").collect())
    )
    expr = sorted(
        map(tuple, repetition_features(docs, engine="expr").collect())
    )
    assert arrow == expr


def test_repetition_rows_python_reference_hand_check():
    """The Arrow kernel's pure-Python scorer, checked by hand on a doc
    where trim/split/top-gram tiebreak all matter: leading 0x20s are
    trimmed, a tab separates words, NBSP does NOT."""
    from mints_wind_data_ingestion_spark.operators.quality import (
        _repetition_rows,
    )

    [r] = _repetition_rows([7], ["  x y\tx y x\xa0q  "])
    # strip(" ") == Spark trim: strips 0x20 from BOTH ends, so the
    # trailing spaces vanish entirely -> words are x y x y x\xa0q
    # (NBSP is not ASCII \s, so "x\xa0q" stays one token)
    assert r["doc_id"] == 7
    assert r["n_words"] == 5  # x y x y x\xa0q
    assert r["n_distinct"] == 3  # {x, y, x\xa0q}

    # A trailing TAB survives trim (trim strips 0x20 only), and
    # re.split — like Spark split's default limit=-1 — KEEPS the
    # trailing empty token it produces.
    [r] = _repetition_rows([8], ["  x y\tx y x\xa0q\t"])
    assert r["n_words"] == 6  # x y x y x\xa0q ''
    assert r["n_distinct"] == 4  # {x, y, x\xa0q, ''}


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup class, r10) — planted-cluster hand check
# ---------------------------------------------------------------------------


def test_semantic_dedup_planted_clusters(spark):
    """Two well-separated planted clusters: near-identical vectors
    within a cluster are flagged as duplicates and exactly the
    least-central member of each duplicate neighborhood survives;
    the singleton and the cross-cluster vectors never interact."""
    import numpy as np

    from mints_wind_data_ingestion_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.RandomState(7)
    dim = 16

    def unit(v):
        v = np.asarray(v, dtype=float)
        return v / np.linalg.norm(v)

    a = unit(rng.randn(dim))
    b = unit(rng.randn(dim) + 10 * np.where(np.arange(dim) % 2, 1, -1))
    rows = []
    # cluster A: three near-copies of a (cos ≈ 1) + one far member
    for i, eps in enumerate((0.0, 0.01, 0.02)):
        rows.append((i, unit(a + eps * rng.randn(dim)).tolist()))
    rows.append((3, unit(a + 2.0 * rng.randn(dim)).tolist()))
    # cluster B: two near-copies of b
    for i, eps in enumerate((0.0, 0.015)):
        rows.append((10 + i, unit(b + eps * rng.randn(dim)).tolist()))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    C = np.stack([a, b])  # the true cluster directions as centroids
    out = {r["vec_id"]: r for r in semantic_dedup(
        emb, C, threshold=0.95).collect()}

    assert len(out) == 6
    # near-copies flag each other; the far member and the other
    # cluster never join the neighborhood
    assert {out[i]["n_dups"] for i in (0, 1, 2)} == {2}
    assert out[3]["n_dups"] == 0 and out[3]["keep"]
    assert out[10]["n_dups"] == 1 and out[11]["n_dups"] == 1
    # exactly one survivor per duplicate neighborhood: the member with
    # the LOWEST 6dp centroid cosine (ties impossible here)
    for group in ((0, 1, 2), (10, 11)):
        cents = {i: out[i]["cent_cos"] for i in group}
        keeper = min(cents, key=lambda i: (cents[i], i))
        for i in group:
            assert out[i]["keep"] == (i == keeper)
    # cells follow the planted directions
    assert {out[i]["cell"] for i in (0, 1, 2, 3)} == {0}
    assert {out[i]["cell"] for i in (10, 11)} == {1}


def test_semantic_dedup_keep_rule_is_local_minimum(spark):
    """The documented keep rule on a hand-built chain a-b-c (a~b and
    b~c duplicates, a-c not): the least-central member of each
    PARTNER set survives — b drops (a is less central), c drops
    (b is less central), a keeps."""
    import numpy as np

    from mints_wind_data_ingestion_spark.operators.similarity import (
        semantic_dedup,
    )

    # unit circle in 2-D: angles chosen so cos(a,b) ≈ cos(b,c) ≈ .995
    # > τ but cos(a,c) ≈ .98 < τ; centroid at angle 0 orders
    # centrality c > b > a
    import math
    def at(theta):
        return [float(math.cos(theta)), float(math.sin(theta))]

    emb = spark.createDataFrame(
        [(1, at(0.30)), (2, at(0.20)), (3, at(0.10))],
        "vec_id long, embedding array<float>",
    )
    C = np.array([[1.0, 0.0], [0.0, 1.0]])
    out = {r["vec_id"]: r for r in semantic_dedup(
        emb, C, threshold=0.99).collect()}
    assert out[1]["cent_cos"] < out[2]["cent_cos"] < out[3]["cent_cos"]
    assert out[1]["n_dups"] == 1 and out[3]["n_dups"] == 1
    assert out[2]["n_dups"] == 2
    assert out[1]["keep"] and not out[2]["keep"] and not out[3]["keep"]


def test_semdedup_ingest_gates_against_index_and_batch(spark, sf_dir, tmp_path):
    """Streaming SemDeDup gate (r10): planted exact copies of stored
    vectors drop with reason 'corpus' (best match + cosine ≈ 1), the
    less-central member of a planted in-batch duplicate pair drops
    with reason 'batch', novel vectors pass, and kept ∪ quarantined
    == input."""
    import numpy as np

    from mints_wind_data_ingestion_spark.operators.similarity import (
        build_ivf_index,
    )
    from mints_wind_data_ingestion_spark.streaming.pipeline import (
        run_semdedup_ingest,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    protected = emb.filter(F.col("vec_id") % 3 != 0)
    index = str(tmp_path / "ivf")
    build_ivf_index(protected, index, n_cells=8, iters=3)

    # incoming: the other third (near-uniform → no natural dups at
    # τ=0.95) + two exact copies of stored vectors + one in-batch
    # duplicate pair (copies of an INCOMING vector, so the survivor
    # must pass the corpus check)
    stored_rows = protected.orderBy("vec_id").limit(2).collect()
    novel = emb.filter(F.col("vec_id") % 3 == 0)
    seed = novel.orderBy("vec_id").first()
    extra = spark.createDataFrame(
        [
            (10**6 + 1, stored_rows[0]["embedding"]),
            (10**6 + 2, stored_rows[1]["embedding"]),
            (10**6 + 3, seed["embedding"]),
            (10**6 + 4, seed["embedding"]),
        ],
        "vec_id long, embedding array<float>",
    )
    incoming = novel.unionByName(extra)

    landing = str(tmp_path / "landing")
    incoming.coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema
    q = run_semdedup_ingest(
        spark, landing, str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        schema, index, threshold=0.95, dim=64,
        quarantine_path=str(tmp_path / "quarantine"),
    )
    q.awaitTermination(180)
    assert q.exception() is None

    kept = {r.vec_id for r in spark.read.parquet(
        str(tmp_path / "corpus")).select("vec_id").collect()}
    quar = {r.vec_id: r for r in spark.read.parquet(
        str(tmp_path / "quarantine")).collect()}

    # the stored copies drop with corpus evidence
    for vid, src in ((10**6 + 1, stored_rows[0]), (10**6 + 2, stored_rows[1])):
        assert vid not in kept and vid in quar
        assert quar[vid]["reason"] == "corpus"
        assert quar[vid]["match_id"] == src["vec_id"]
        assert quar[vid]["cosine_sim"] > 0.999
    # the in-batch pair keeps exactly one member; same unit vector →
    # equal centrality → the smaller id survives (and the original
    # seed vector, less central or tie-smaller, interacts consistently)
    pair_kept = {10**6 + 3, 10**6 + 4} & kept
    assert len(pair_kept) <= 1
    assert {10**6 + 3, 10**6 + 4} - kept <= set(quar)
    for vid in {10**6 + 3, 10**6 + 4} - kept:
        assert quar[vid]["reason"] == "batch"
    # conservation: every incoming vector is kept or quarantined
    all_ids = {r.vec_id for r in incoming.collect()}
    assert kept | set(quar) == all_ids
    assert kept.isdisjoint(quar)
    # the bulk of the novel third passes
    assert len(kept) > 0.8 * novel.count()
