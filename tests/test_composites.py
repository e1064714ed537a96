"""Composite driver queries (plans/composites.py): the one slot-spec
rule that derives both a tagged union's Spark plan and its DuckDB
oracle, the x_doc_transform pack part, and composite rebuilds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mints_wind_data_ingestion_spark.plans import REGISTRY, composites

#: the composites registered through `tagged_union` (pure tagged unions
#: of registered components)
PURE = {
    "a3_o1_suite", "a_distribution_suite", "a_multi_grouping",
    "f_filter_suite", "j_latest_wins_suite", "j_temporal", "q_lineitem_suite",
    "q_tpch_suite", "rel_suite", "x_doc_pipeline_suite", "x_embed_transform",
    "x_profile_sample_suite", "x_text_suite", "x_token_stats",
}
#: the composites that build their own frames (shared scans, managed
#: caches, fused passes) and project them through their spec
FUSED = {
    "x_classifier_eval", "x_dedup_pairs_suite", "x_embedding_suite",
    "x_layout_mm_suite", "x_sim_ivf_suite",
}


def test_slot_spec_projection():
    """A piece projects to its part tag, then every declared slot cast
    to its declared type — a typed NULL where the piece maps nothing;
    a nested composite's piece maps `part` through; a slot the
    declaration lacks is refused. Both engines run these same lists."""
    slots = "k1 bigint, s1/s2 string"
    assert composites._pieces(slots, [("t", "c", dict(k1="x + 1"))]) == [
        ("c", ["'t' AS part", "CAST(x + 1 AS bigint) AS k1",
               "CAST(NULL AS string) AS s1", "CAST(NULL AS string) AS s2"]),
    ]
    nested = composites._pieces(slots, [(None, "c", dict(part="part", s2="s2"))])
    assert nested[0][1][:2] == ["part AS part", "CAST(NULL AS bigint) AS k1"]
    with pytest.raises(AssertionError):
        composites._pieces(slots, [("t", "c", dict(k2="x"))])
    sql = composites._union_sql(slots, [("a", "a_cube", dict(k1="cnt")),
                                        ("b", "a_rollup", dict(s1="region_name"))])
    assert sql.count("UNION ALL") == 1
    assert sql.startswith("SELECT 'a' AS part, CAST(cnt AS bigint) AS k1")


def test_composites_share_one_slot_spec():
    """Every tagged union in composites.py comes from one slot spec:
    `_project` unions the Spark pieces and `_union_sql` the oracle
    pieces, so a hand-padded `UNION ALL` oracle or `unionByName` chain
    cannot grow back. Only the hand-written composites union by hand —
    x_doc_transform (its pack part) and x_grouped_models (its models
    oracle is a join); w_window_suite and x_text_features are wide
    passes with no union. x_sim_ivf_suite's one tagged shortlist union
    feeds its rerank; it is not a part union. The padding helpers the
    spec replaced stay gone, the pure composites register through
    `tagged_union`, and the fused ones project through `_project`."""
    import ast
    import inspect

    src = inspect.getsource(composites)
    tree = ast.parse(src)
    hits, projecting = {}, set()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            seg = ast.get_source_segment(src, node)
            n = seg.count("UNION ALL") + seg.count("unionByName")
            if n:
                hits[node.name] = n
            if "_project(" in seg:
                projecting.add(node.name)
    assert hits == {
        "_project": 1, "_union_sql": 1,
        "_dt_oracle": 1, "x_doc_transform": 1,
        "_gm_oracle": 1, "x_grouped_models": 1,
        "x_sim_ivf_suite": 1,
    }
    body = "\n".join(src.splitlines()[tree.body[0].end_lineno:])  # past the docstring
    assert body.count("UNION ALL") + body.count("unionByName") == sum(hits.values())
    # the fused composites build their own frames but project them
    # through their spec
    assert projecting == FUSED | {"_project", "tagged_union", "x_doc_transform"}

    for gone in ("_part", "_b", "_d", "_s", "_nb", "_nd", "_ns", "_nt",
                 "_nbool", "_MG_SLOTS"):
        assert not hasattr(composites, gone), gone
    wrapped = {n for n, f in vars(composites).items() if hasattr(f, "__wrapped__")}
    assert wrapped == PURE
    assert all("composite" in REGISTRY[n].tags for n in PURE)


def test_pack_part_invariants(spark, sf_dir):
    """The x_doc_transform 'pack' part must place every chunk exactly
    once, keep offsets inside the bin capacity, and lay chunks
    end-to-end per shard (each chunk's start == previous chunk's start
    + previous length, in deterministic (doc, chunk) order)."""
    from mints_wind_data_ingestion_spark.plans.composites import (
        _PACK_CAP,
        _PACK_SHARDS,
    )

    out = REGISTRY["x_doc_transform"].build(spark, sf_dir)
    chunks = {
        (r.doc_id, r.n1): r.n3  # chunk_len
        for r in out.filter(F.col("part") == "chunk").collect()
    }
    packs = [
        (r.doc_id, r.n1, r.n2, r.n3)  # doc, chunk, shard*1e6+bin, offset
        for r in out.filter(F.col("part") == "pack").collect()
    ]
    assert {(d, c) for d, c, _, _ in packs} == set(chunks)
    assert len(packs) == len(chunks)

    by_shard: dict[int, list] = {}
    for d, c, bin_enc, off in packs:
        assert 0 <= off < _PACK_CAP
        shard, bin_id = divmod(bin_enc, 1_000_000_000_000)
        assert shard == d % _PACK_SHARDS
        by_shard.setdefault(shard, []).append((d, c, bin_id, off))
    for shard, rows in by_shard.items():
        rows.sort()
        pos = 0
        for d, c, bin_id, off in rows:
            assert bin_id == pos // _PACK_CAP
            assert off == pos % _PACK_CAP
            pos += chunks[(d, c)]


def test_repeated_composite_builds_do_not_grow_cache(spark, sf_dir):
    """VERDICT r11 #5: rebuilding a mid-plan-caching composite in one
    session must REPLACE its cache entries, not stack new ones —
    managed_cache bounds live entries by distinct plan, not by build
    count."""
    import time

    jsc = spark.sparkContext._jsc.sc()

    def n_persistent() -> int:
        # managed_cache replacement unpersists asynchronously; under a
        # full-suite session the raw count can transiently show both
        # the old and new entry — poll until it stops moving (r14: the
        # equality assertion flaked on exactly that race)
        prev = -1
        for _ in range(40):
            cur = jsc.getPersistentRDDs().size()
            if cur == prev:
                return cur
            prev = cur
            time.sleep(0.25)
        return prev

    from mints_wind_data_ingestion_spark import caching

    app_id = spark.sparkContext.applicationId

    def cache_keys() -> set:
        return {
            k for k in caching._store if k[0] == app_id and k[1] == "cache"
        }

    # the persistent-RDD count is session-wide: let entries that earlier
    # tests released settle BEFORE the first build, or their late
    # releases read as this composite's live set shrinking
    n_persistent()
    counts, keys = [], []
    for _ in range(3):
        REGISTRY["x_layout_mm_suite"].build(spark, sf_dir).count()
        counts.append(n_persistent())
        keys.append(cache_keys())
    # first build establishes the steady state; rebuilds must not GROW
    # the live set (equality modulo the async-unpersist settle)
    assert counts[1] <= counts[0] and counts[2] <= counts[1], counts
    assert counts[0] - counts[2] <= 1, counts
    # and the composite's own entries are replaced, never stacked
    assert keys[0] == keys[1] == keys[2], keys
