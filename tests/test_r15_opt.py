"""Round-15 optimization pins.

Every r15 rewrite must be bit-identical (or row-identical) to the r14
form it replaced — these tests inline the old behavior (or hand-derived
expected values) as the reference, the same convention as
tests/test_r14_opt.py.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# hyperplane bucket kernel ≡ literal-expression form (x_sim_topk_lsh)
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "dim,bits,tables,seed",
    [(64, 6, 8, 7), (16, 12, 3, 123)],
)
def test_hyperplane_kernel_bit_identical(spark, dim, bits, tables, seed):
    """The Arrow kernel's sequential per-dimension accumulation must
    reproduce the SQL fold's bucket ids EXACTLY — including sign
    decisions on tiny magnitudes, zero vectors, NaN and infinite
    elements, and the null / wrong-length / null-element null-fold
    semantics (bucket 0 per table)."""
    from mints_wind_data_ingestion_spark.operators.similarity import (
        hyperplane_buckets,
        hyperplane_buckets_kernel,
    )

    random.seed(seed)
    rows = [
        (i, [random.uniform(-1, 1) * (10 ** random.randint(-9, 2))
             for _ in range(dim)])
        for i in range(400)
    ]
    rows += [(400, [0.0] * dim), (401, None), (402, [1.0] * (dim // 2))]
    # SQL evaluates `NaN >= 0D` as true (all bits set), and a null
    # element nulls the fold (bucket 0)
    nan = float("nan")
    rows += [
        (403, [nan] + [1.0] * (dim - 1)),
        (404, [1.0] * (dim - 1) + [None]),
        (405, [float("inf"), float("-inf")] + [0.5] * (dim - 2)),
        (406, [nan, None] + [1.0] * (dim - 2)),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4)
    expr = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id",
            hyperplane_buckets("embedding", dim, bits, tables, seed).alias("b"),
        ).collect()
    }
    kern = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id",
            hyperplane_buckets_kernel(
                "embedding", dim, bits, tables, seed
            ).alias("b"),
        ).collect()
    }
    assert expr == kern


# --------------------------------------------------------------------------
# stupid backoff: sentinel rows replace the base left-join
# --------------------------------------------------------------------------


def test_stupid_backoff_short_docs_score_zero_and_pass(spark):
    """Docs with < 3 tokens must still emit (0, 0, pass) rows — r15
    replaced the docs-side left join with in-kernel sentinel rows, and
    this is the contract that join existed for."""
    from mints_wind_data_ingestion_spark.operators.lm import (
        stupid_backoff_perplexity,
    )

    # "a b" continues with both c and d, so P(c | a b) = 0.5 and the
    # full-doc trigram scores a strictly positive nll
    train = spark.createDataFrame(
        [(100, "a b c a b d")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "a b"), (4, "a b c"), (5, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in stupid_backoff_perplexity(
        docs, train).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    for did in (1, 2, 3, 5):
        assert rows[did].n_trigrams == 0
        assert rows[did].avg_nll_e4 == 0
        assert rows[did].lm_pass
    assert rows[4].n_trigrams == 1
    assert rows[4].avg_nll_e4 > 0


# --------------------------------------------------------------------------
# dedup verify chain: window-count sizes ≡ the r14 size-join tier
# --------------------------------------------------------------------------


def _verify_pairs_r14_reference(cands, posting, threshold, posting_b=None):
    """The r14 implementation, inlined verbatim as the reference."""
    pb_src = posting if posting_b is None else posting_b
    ids_a = cands.select(F.col("id_a").alias("__id")).distinct()
    ids_b = cands.select(F.col("id_b").alias("__id")).distinct()
    pa = (
        posting.join(F.broadcast(ids_a), "__id")
        .dropDuplicates(["__id", "__h"])
        .select(F.col("__id").alias("id_a"), "__h")
    )
    pb = (
        pb_src.join(F.broadcast(ids_b), "__id")
        .dropDuplicates(["__id", "__h"])
        .select(F.col("__id").alias("id_b"), "__h")
    )
    sizes_a = pa.groupBy("id_a").agg(F.count(F.lit(1)).alias("__n"))
    sizes_b = pb.groupBy("id_b").agg(F.count(F.lit(1)).alias("__n"))
    overlap = (
        cands.join(pa, "id_a")
        .join(pb, ["id_b", "__h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    return (
        overlap.join(sizes_a.withColumnRenamed("__n", "__na"), "id_a")
        .join(sizes_b.withColumnRenamed("__n", "__nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("__ni")
             / (F.col("__na") + F.col("__nb") - F.col("__ni"))
             ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _rows(df):
    return sorted(
        (r.id_a, r.id_b, round(r.jaccard, 12)) for r in df.collect()
    )


def test_verify_pairs_by_count_matches_r14_reference(spark):
    """Self-dedup mode: duplicate (id, h) posting rows (the dedup the
    chain guards) and non-candidate ids present."""
    from mints_wind_data_ingestion_spark.operators.dedup import (
        _verify_pairs_by_count,
    )

    random.seed(7)
    posting_rows = []
    for did in range(10):
        hs = random.sample(range(30), k=random.randint(3, 12))
        for h in hs:
            posting_rows.append((did, h))
            if random.random() < 0.3:
                posting_rows.append((did, h))  # duplicate (id, h)
    posting = spark.createDataFrame(
        posting_rows, "__id long, __h long"
    ).repartition(5)
    cands = spark.createDataFrame(
        [(0, 1), (0, 2), (3, 4), (5, 6), (7, 8)], "id_a long, id_b long"
    )
    for thr in (0.0, 0.2, 0.5):
        got = _rows(_verify_pairs_by_count(cands, posting, thr))
        want = _rows(_verify_pairs_r14_reference(cands, posting, thr))
        assert got == want, f"threshold {thr}"


def test_verify_pairs_by_count_cross_corpus_matches_r14_reference(spark):
    """Cross-corpus mode with OVERLAPPING id spaces (the ADVICE r7
    contract): id_a resolves against posting, id_b against posting_b,
    including id_a == id_b pairs."""
    from mints_wind_data_ingestion_spark.operators.dedup import (
        _verify_pairs_by_count,
    )

    pa = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10), (2, 20), (3, 30)],
        "__id long, __h long",
    )
    pb = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 99), (3, 30), (3, 31)],
        "__id long, __h long",
    )
    cands = spark.createDataFrame(
        [(1, 1), (1, 3), (2, 2), (3, 3), (2, 1)], "id_a long, id_b long"
    )
    got = _rows(_verify_pairs_by_count(cands, pa, 0.0, posting_b=pb))
    want = _rows(_verify_pairs_r14_reference(cands, pa, 0.0, posting_b=pb))
    assert got == want
    # hand check one value: pair (1, 1): A={10,11,12}, B={10,11} →
    # 2 / (3 + 2 - 2) = 2/3
    d = {(a, b): j for a, b, j in got}
    assert d[(1, 1)] == round(2 / 3, 12)
