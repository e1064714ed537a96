"""Deduplication operators — the LLM-training-pipeline extension surface
(SURVEY.md §2.11; BASELINE.json north_star).

Exact dedup, MinHash+LSH, SimHash, and n-gram Jaccard set-similarity
join over the `documents` table. Everything is built-in-function
composition (JVM-side, whole-stage codegen) — no Python UDFs anywhere,
because at 100 TB these are the hottest paths in the engine.

Scale design notes (local[32] tests, 1000-executor posture):

- MinHash signatures are ONE pass over each doc's shingle set
  (`aggregate` + element-wise `least`), not k passes — k×|shingles|
  hash evaluations fused into a single codegen'd expression.
- LSH banding turns the O(n²) pair space into an equi-join on
  (band_index, band_hash): a plain shuffle hash join that partitions by
  bucket. Only co-bucketed docs ever meet.
- The n-gram Jaccard join is the inverted-index form (explode shingles,
  equi-join on the shingle, count shared per pair): jaccard derives
  from |A∩B| and set sizes, so no pairwise array intersection is ever
  materialized. Same shape as PPJoin-style set-similarity joins.
- Skew: a shingle shared by m docs fans out m² pair rows. `prune_df`
  drops shingles above a document-frequency cap (stopword-like
  shingles carry no dedup signal but all of the skew).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import data_version, managed_cache, memo, plan_hash
from ..functions.text import char_shingles, word_shingles  # noqa: F401

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_similarity_join",
    "jaccard_join_adaptive",
    "jaccard_join_prefix_filtered",
    "jaccard_join_prefix_filtered_rs",
    "minhash_dedup_pairs",
    "minhash_dedup_pairs_against",
    "minhash_index",
    "minhash_dedup_pairs_against_index",
    "simhash64",
    "simhash_fingerprints",
    "banded_fp_pairs",
    "banded_hamming_pairs",
    "banded_hamming_join_rs",
    "editdist_dedup_pairs",
    "duplicated_window_positions",
    "duplicated_window_positions_against",
    "substring_dedup",
    "substring_excise",
    "build_window_index",
    "substring_excise_against_index",
]

#: 2^63-1 — identity for element-wise min over xxhash64 values
_LONG_MAX = (1 << 63) - 1


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative row per duplicate group (lowest id wins).

    groupBy on the content columns is a single shuffle with map-side
    partial aggregation; at scale, group on `sha2(content, 256)` instead
    so the shuffle key is 32 bytes rather than the document body.
    """
    others = [c for c in df.columns if c != id_col]
    return (
        df.groupBy(*cols)
        .agg(F.min_by(F.struct(id_col, *[c for c in others if c not in cols]),
                      F.col(id_col)).alias("__keep"),
             F.count(F.lit(1)).alias("copies"))
        .select(F.col(f"__keep.{id_col}").alias(id_col), *cols, "copies")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int = 128,
) -> DataFrame:
    """(id, signature) via the scalable explode + hash-aggregate plan.

    Each shingle is string-hashed ONCE (`xxhash64(s)`); the k-family is
    derived by re-hashing that 8-byte value with the family index
    (`xxhash64(h, i)` — fixed-width input, nanoseconds each). The k
    `min` aggregates combine map-side, so the shuffle carries one
    partial signature per (partition, doc), never the shingles.
    The family is independent and uniform; its hash values are this
    plan's own, so an index must not mix signatures built any other
    way.
    """
    posting = docs.select(
        F.col(id_col), F.explode(F.array_distinct(F.col(shingle_col))).alias("__s")
    ).select(id_col, F.xxhash64("__s").alias("__h"))
    # the k min-aggregates are ONE SQL string (array of aggregates)
    # parsed JVM-side: building them as k Column trees costs ~5 py4j
    # round-trips each (~1 s of driver time per build at k=128)
    mins_sql = (
        "array("
        + ", ".join(f"min(xxhash64(__h, {i}))" for i in range(num_hashes))
        + ") AS signature"
    )
    return posting.groupBy(id_col).agg(F.expr(mins_sql))


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str = "signature",
    bands: int = 24,
    rows_per_band: int = 6,
) -> DataFrame:
    """LSH banding: docs whose signatures agree on ALL rows of at least
    one band become a candidate pair (id_a < id_b, distinct).

    With b=24, r=6 the detection probability of a pair at jaccard j is
    1-(1-j^6)^24: ≈1.0 at j=0.9, ≈0.55 at j=0.6, ≈0.03 at j=0.3 — a
    sharp threshold around (1/b)^(1/r) ≈ 0.59. The self-join shuffles
    on (band, band_hash): only co-bucketed docs meet, never O(n²).
    """
    buckets = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda j: F.xxhash64(
                    F.slice(F.col(sig_col), j * rows_per_band + 1, rows_per_band), j
                ),
            )
        ).alias("band", "band_hash"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_similarity_join(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    cache: bool = True,
) -> DataFrame:
    """All-pairs set-similarity join: (id_a, id_b, jaccard) for every
    pair with shingle-set Jaccard ≥ threshold, id_a < id_b.

    Inverted-index count plan: explode distinct shingles → hash each
    shingle to 8 bytes (xxhash64 — the join key is a long, not the
    string; collision odds over the pair space are ~|S|²/2⁶⁴, and any
    collision would surface in the differential oracle) → self-equi-
    join on the hash → count co-occurrences per pair → jaccard =
    |A∩B| / (|A| + |B| − |A∩B|). Three shuffles, all on
    well-distributed keys; the n² pair space is never enumerated and
    no shingle ARRAY ever crosses a shuffle — only (id, n, hash)
    triples and count rows.

    This is the right plan for near-uniform shingle distributions
    (every posting list short). For skewed corpora — a Zipfian shingle
    tail where a few shingles hit millions of docs — use
    `jaccard_join_prefix_filtered`, which prunes the frequent-shingle
    fan-out exactly.
    """
    posting = _jaccard_posting(docs, id_col, shingle_col)
    # cache: the posting list is consumed by BOTH sides of the self-join;
    # without a materialization point the shingling upstream (often a
    # Python row node) executes twice. (id, n, hash) rows are ~16 B each.
    # `cache=False` for callers whose input is already materialized
    # (e.g. a streaming gate's localCheckpoint) — an internal .cache()
    # there would leak one CacheManager entry per epoch.
    if cache:
        posting = managed_cache(posting)
    return _jaccard_count_join(posting, threshold)


def _jaccard_posting(
    docs: DataFrame, id_col: str, shingle_col: str
) -> DataFrame:
    """(__id, __n, __s): the inverted-index posting table — distinct
    shingles exploded and hashed to 8-byte longs, set size carried."""
    sets = docs.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(shingle_col)).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    return sets.select(
        "__id", "__n", F.explode("__sh").alias("__raw")
    ).select("__id", "__n", F.xxhash64("__raw").alias("__s"))


def _jaccard_count_join(posting: DataFrame, threshold: float) -> DataFrame:
    """The count-plan tail of `jaccard_similarity_join` over a
    (possibly cached) posting table."""
    a, b = posting.alias("a"), posting.alias("b")
    inter = (
        a.join(b, (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__n").alias("n_a"),
            F.col("b.__n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return inter.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def jaccard_join_prefix_filtered(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    cache: bool = True,
) -> DataFrame:
    """PPJoin-style EXACT set-similarity join for SKEWED shingle
    distributions — same output as `jaccard_similarity_join`.

    1. global shingle order by (document frequency asc, shingle) —
       rare shingles first;
    2. each doc keeps only its PREFIX under that order:
       p = |x| − ⌈t·|x|⌉ + 1 elements. PPJoin theorem: two sets with
       J ≥ t must share ≥1 prefix element, so joining prefixes loses
       no qualifying pair;
    3. equi-join prefixes → candidate pairs (join keys are the RAREST
       shingles, so the Zipf-head fan-out is pruned away, not capped);
    4. exact verify on the full sets: |A∩B| / |A∪B|.

    Trade-off: two extra shuffles (df count, per-doc rank) and an
    array-carrying verify join — a net win only when the frequent-
    shingle fan-out dominates, i.e. Zipfian corpora at scale.
    """
    sets = docs.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(shingle_col)).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    # `sets` feeds the df-count, both prefix sides AND the verify —
    # four consumers; without a materialization point an expensive
    # upstream (shingling / frame-hash row node) runs four times.
    # cache=False for callers whose input is already materialized
    # (streaming gates over a localCheckpoint).
    if cache:
        sets = managed_cache(sets)
    cands = _ppjoin_self_candidates(sets, threshold)
    sa = sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    sb = sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    jac = F.size(F.array_intersect("__sh_a", "__sh_b")) / F.size(
        F.array_union("__sh_a", "__sh_b")
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


#: `jaccard_join_adaptive` switches to the prefix-filtered plan only
#: when BOTH hold for the count plan's exact candidate volume
#: Σ df(s)²: it exceeds `_JACCARD_BLOWUP_CAP` × postings (a genuine
#: Zipf head — a boilerplate cluster of m docs alone drives the ratio
#: to ~m·k/postings, thousands within a few thousand docs, while
#: near-uniform corpora sit at single digits: the sf0.1 synthetic
#: measures ratio 10.7 with maxdf 25) AND it exceeds
#: `_JACCARD_VOL_FLOOR` rows absolutely — below the floor the
#: codegen'd count join chews the candidates in well under a second,
#: whereas the prefix plan's two extra shuffles and array-carrying
#: verify measured 5.40 s vs 0.71 s on the sf0.1 synthetic corpus
#: (vol 2.8e6). Measured crossover: a 4 000-doc boilerplate corpus
#: (vol ≈ 1.6e8, ratio ≈ 1.3e3) is roughly break-even (2.45 vs
#: 2.00 s); at 16 000 docs (vol ≈ 2.6e9) the count plan did not
#: finish in 570 s while prefix held 3.1 s (SCALING.md r13).
_JACCARD_BLOWUP_CAP = 64.0
_JACCARD_VOL_FLOOR = 50_000_000

#: duplicate-set clusters at or below this size stay on the plain LSH
#: plan in `minhash_dedup_pairs` — a handful of exact copies cost a
#: handful of in-bucket pairs, while the collapse path's expansion
#: joins have real overhead. Past it, one bucket would enumerate
#: m²/2 pairs inside a single row.
_MINHASH_COLLAPSE_MIN = 16

def _route(source: DataFrame, plan: DataFrame, decide, *params):
    """Session-memoized physical-plan choice: `decide()` runs its stats
    job once per (plan, data version of `source`, params). The decision
    is a function of the input, so rebuilds over the same data skip the
    job, while an in-place overwrite or a grown table (same plan, new
    skew profile) recomputes it. Both routes of every caller return
    identical rows — the memo only pins performance."""
    key = (plan_hash(plan), data_version(source), *params)
    return memo(source.sparkSession, "route", key, decide)


def _has_hot_cluster(members: DataFrame, key_col: str) -> bool:
    """True when some `key_col` value has more than
    `_MINHASH_COLLAPSE_MIN` rows — one bounded scalar job."""
    max_m = (
        members.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.max("m").alias("mm"))
        .collect()[0]["mm"]
    ) or 0
    return max_m > _MINHASH_COLLAPSE_MIN


def jaccard_join_adaptive(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    cache: bool = True,
    blowup_cap: float = _JACCARD_BLOWUP_CAP,
    vol_floor: float = _JACCARD_VOL_FLOOR,
) -> DataFrame:
    """EXACT set-similarity join that picks its physical plan from the
    corpus's measured shingle skew (VERDICT r12 "What's wrong" #2 —
    the text default must follow the engine's own skew doctrine
    without paying the prefix filter's 5-8× overhead on uniform
    corpora).

    One aggregation over the (already-cached) posting table computes
    Σ df(s)² — the plain count plan's exact candidate-row volume — and
    the posting count. The count plan keeps the job unless the volume
    exceeds BOTH `blowup_cap` × postings (a genuine Zipf head, not
    benign shingle reuse) and `vol_floor` rows absolutely (below the
    floor the codegen'd count join is cheaper than the prefix plan's
    extra shuffles however skewed the head looks); past both, the
    PPJoin prefix filter (`jaccard_join_prefix_filtered`) prunes the
    head exactly. Both plans return identical rows, so the dispatch is
    invisible to results — the driver hashes pin that.

    Cost discipline (measured, r13): the COMPACT posting table
    (~16 B rows) is what gets cached — exactly what the count plan
    cached already — and the stats agg plus the count join both read
    it, so the uniform route pays ONE extra reduce over cached rows
    (the first cut cached the array-carrying sets table instead and
    doubled x_dedup_cluster/x_dedup_pairs_suite). Only the prefix
    route, the rare skewed case, re-derives the sets it needs for the
    verify stage. The stats pull is a bounded TWO-SCALAR collect —
    the same bounded-scalar contract as the centroid/vocab pulls.

    The chosen plan is recorded on the result as
    `df.windflow_jaccard_method` ('uniform' | 'prefix') for tests and
    plan audits.

    Laziness note (ADVICE r13): on a route-key MISS this builder runs
    the stats aggregation EAGERLY at DataFrame-construction time — a
    caller that builds but never executes the plan still pays one
    bounded job. Memoized rebuilds construct lazily.

    Both routes consume the SAME cached posting (ADVICE r13): the
    prefix route runs the PPJoin in the hashed-shingle domain
    (`_jaccard_prefix_join_from_posting`) instead of re-deriving and
    re-caching raw-string sets from `docs`, so the upstream shingling
    executes once per corpus regardless of route. Verifying on hashed
    sets carries exactly the collision contract the count plan already
    documents (~|S|²/2⁶⁴ over the pair space, surfaced by the
    differential oracle)."""
    posting = _jaccard_posting(docs, id_col, shingle_col)
    if cache:
        posting = managed_cache(posting)

    def route() -> str:
        stats = (
            posting.groupBy("__s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .agg(
                F.sum(F.col("__df") * F.col("__df")).alias("vol"),
                F.sum("__df").alias("n_postings"),
            )
            .collect()[0]
        )
        vol = stats["vol"] or 0
        n_postings = stats["n_postings"] or 0
        if vol <= blowup_cap * max(n_postings, 1) or vol <= vol_floor:
            return "uniform"
        return "prefix"

    method = _route(docs, posting, route, blowup_cap, vol_floor)
    if method == "uniform":
        out = _jaccard_count_join(posting, threshold)
        out.windflow_jaccard_method = "uniform"
    else:
        out = _jaccard_prefix_join_from_posting(posting, threshold)
        out.windflow_jaccard_method = "prefix"
    return out


def _jaccard_prefix_join_from_posting(
    posting: DataFrame, threshold: float
) -> DataFrame:
    """PPJoin prefix filter + exact verify entirely in the HASHED
    shingle domain, over the shared (__id, __n, __s) posting table —
    the prefix route of `jaccard_join_adaptive`. Same candidate
    algebra as `jaccard_join_prefix_filtered` (rarity-ordered prefix,
    equi-join, exact verify); the verify rebuilds per-doc hash sets
    with collect_list (distinct by construction — the posting is an
    array_distinct explode) so no raw-shingle re-derivation and no
    second corpus-sized cache are needed."""
    prefix_len = (
        F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    ).cast("int")
    p = posting.withColumn("__p", prefix_len)
    df_map = p.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    prefix = _prefix_of(p, df_map)
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    sets = posting.groupBy("__id", "__n").agg(
        F.collect_list("__s").alias("__sh")
    )
    sa = sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    sb = sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    jac = F.size(F.array_intersect("__sh_a", "__sh_b")) / F.size(
        F.array_union("__sh_a", "__sh_b")
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _prefix_of(posting: DataFrame, df_map: DataFrame) -> DataFrame:
    """Keep only each set's PPJoin prefix — the p = n − ⌈t·n⌉ + 1
    rarest elements under the global (document frequency asc, value
    asc) order — where `__p` (precomputed prefix length) rides
    `posting` (__id, __n, __p, __s). Elements absent from `df_map`
    count df = 0 (rarer than anything seen), keeping the order total
    and common across join sides."""
    ranked = posting.join(df_map, "__s", "left").fillna(0, ["__df"])
    w = Window.partitionBy("__id").orderBy(
        F.col("__df").asc(), F.col("__s").asc()
    )
    return ranked.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= F.col("__p")
    )


def _ppjoin_self_candidates(sets: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b) candidate pairs of the self PPJoin prefix filter —
    exposed for the planted-hot-key tests, which assert the candidate
    count stays bounded when one element hits every set (the Zipf-head
    case the plain inverted-index count plan explodes on)."""
    prefix_len = (
        F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    ).cast("int")
    posting = sets.withColumn("__p", prefix_len).select(
        "__id", "__n", "__p", F.explode("__sh").alias("__s")
    )
    # global rarity order; (df, value) is a total order → deterministic
    df_map = posting.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    prefix = _prefix_of(posting, df_map)
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def _ppjoin_rs_candidates(
    sets_n: DataFrame, sets_s: DataFrame, threshold: float
) -> DataFrame:
    """(id_a=new, id_b=stored) candidate pairs of the R-S PPJoin —
    both sides prefixed under the (stored-side df asc, value asc)
    order, new-side-only values at df = 0. Exposed for the planted
    hot-key tests (bounded candidate count when one value hits every
    stored set). Inputs are (__id, __sh, __n) set tables."""
    prefix_len = (
        F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    ).cast("int")

    def _posting(sets: DataFrame) -> DataFrame:
        return sets.withColumn("__p", prefix_len).select(
            "__id", "__n", "__p", F.explode("__sh").alias("__s")
        )

    post_s = _posting(sets_s)
    df_map = post_s.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    pa = _prefix_of(_posting(sets_n), df_map).alias("a")
    pb = _prefix_of(post_s, df_map).alias("b")
    return (
        pa.join(pb, F.col("a.__s") == F.col("b.__s"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def jaccard_join_prefix_filtered_rs(
    new: DataFrame,
    stored: DataFrame,
    id_new: str,
    id_stored: str,
    sig_col: str,
    threshold: float,
) -> DataFrame:
    """Two-sided (R-S) PPJoin: every (new, stored) pair with set
    Jaccard ≥ threshold — the EXACT skew-safe twin of the plain
    postings equi-join used by the incremental ingest gates.

    The PPJoin prefix theorem holds under ANY total order common to
    both sides, so the order here is (stored-side document frequency
    asc, value asc), with new-side-only values at df = 0: the Zipf
    head of the CORPUS (the black frame every video shares, the
    silent frame every clip ends on) sorts last and drops out of both
    prefixes, so the hot posting list never meets itself in the join.
    Cost: one df aggregation over the stored postings (the plain join
    already pays a full stored-postings pass) + the prefix equi-join
    + an array verify on surviving candidates only.

    Inputs are (id, sig_col: array) tables; output
    (id_new, id_stored, jaccard), jaccard ≥ threshold."""

    def _sets(df: DataFrame, idc: str) -> DataFrame:
        return df.select(
            F.col(idc).alias("__id"),
            F.array_distinct(F.col(sig_col)).alias("__sh"),
        ).withColumn("__n", F.size("__sh"))

    sets_n, sets_s = _sets(new, id_new), _sets(stored, id_stored)
    cands = _ppjoin_rs_candidates(sets_n, sets_s, threshold).select(
        F.col("id_a").alias(id_new), F.col("id_b").alias(id_stored)
    )
    sa = sets_n.select(F.col("__id").alias(id_new), F.col("__sh").alias("__sh_a"))
    sb = sets_s.select(
        F.col("__id").alias(id_stored), F.col("__sh").alias("__sh_b")
    )
    jac = F.size(F.array_intersect("__sh_a", "__sh_b")) / F.size(
        F.array_union("__sh_a", "__sh_b")
    )
    return (
        cands.join(sa, id_new)
        .join(sb, id_stored)
        .select(id_new, id_stored, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_band_buckets(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int,
    bands: int,
    rows_per_band: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH front half: (posting, band buckets) for one corpus.

    Signatures as `num_hashes` min-columns (explode + map-side-
    combining agg); band hashes come straight off the columns — the
    signature array is never materialized and the expensive agg runs
    exactly ONCE per corpus. `posting` is cached: it feeds the
    signature aggregate AND the count-based verify, so the shingling
    (the Arrow row node) runs once. The k min-aggregates and the band hashes
    are SQL strings parsed JVM-side in one call each — Column-operator
    construction costs a py4j round-trip per node (~1 s of driver time
    per build at k=144)."""
    sets = docs.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(shingle_col)).alias("__sh"),
    )
    posting = managed_cache(
        sets.select("__id", F.explode("__sh").alias("__s"))
        .select("__id", F.xxhash64("__s").alias("__h"))
    )
    return posting, _minhash_buckets_from_posting(
        posting, num_hashes, bands, rows_per_band
    )


def _minhash_buckets_from_posting(
    posting: DataFrame, num_hashes: int, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, band_hash) LSH buckets from a (__id, __h) posting
    table — the back half of `_minhash_band_buckets`, reusable over a
    collapsed (representatives-only) posting."""
    mins_sql = (
        "array("
        + ", ".join(f"min(xxhash64(__h, {i}))" for i in range(num_hashes))
        + ") AS __sig"
    )
    sig_cols = posting.groupBy("__id").agg(F.expr(mins_sql))
    band_sql = (
        "array("
        + ", ".join(
            "xxhash64("
            + ", ".join(
                f"__sig[{b * rows_per_band + r}]" for r in range(rows_per_band)
            )
            + f", {b})"
            for b in range(bands)
        )
        + ")"
    )
    return sig_cols.select(
        "__id", F.posexplode(F.expr(band_sql)).alias("__band", "__bh")
    )


def _verify_pairs_by_count(
    cands: DataFrame,
    posting: DataFrame,
    threshold: float,
    posting_b: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs via
    shared-hash COUNTS: postings restricted to candidate ids
    (broadcast semi-join — candidates ≪ corpus), |A∩B| per pair,
    jaccard from intersection and set sizes. No shingle ARRAY ever
    crosses a shuffle.

    `posting_b`: cross-corpus mode (ADVICE r7) — id_a sides resolve
    against `posting`, id_b sides against `posting_b`, so the two
    corpora's id spaces never merge: an id present in BOTH inputs with
    different content verifies each side against its own shingles
    (and an id_a == id_b pair measures new-doc-vs-base-doc jaccard,
    the "already ingested?" answer), instead of silently unioning the
    two docs' postings into one corrupted set."""
    pb_src = posting if posting_b is None else posting_b
    ids_a = cands.select(F.col("id_a").alias("__id")).distinct()
    ids_b = cands.select(F.col("id_b").alias("__id")).distinct()

    # r15 exchange-merging (guide §2.4; VERDICT r14 next-round #3): the
    # old chain computed each side's restricted posting TWICE (once for
    # the overlap join, once for a separate set-size aggregate) and
    # paid per side a dedup exchange on (id, h), a size exchange on id,
    # and a re-exchange for the overlap join — plus two final
    # size-joins. One explicit repartition(id) per side now serves all
    # three consumers: HashPartitioning(id) satisfies the dedup
    # aggregate's ClusteredDistribution(id, h) (subset rule), the
    # set-size window's ClusteredDistribution(id), and the overlap
    # join's id-key requirement — so |A| / |B| ride ALONG each posting
    # row as a window count and the size-join tier disappears. Verify
    # plan: 12 exchanges + 3 SMJs → 6 exchanges + 2 SMJs, and each
    # side's posting restriction executes once instead of twice.
    # Skew envelope unchanged: the window partitions by candidate id,
    # bounded by a document's distinct-shingle count.
    def _restricted(src: DataFrame, ids: DataFrame, out_id: str,
                    n_name: str) -> DataFrame:
        w = Window.partitionBy("__id")
        return (
            src.join(F.broadcast(ids), "__id")
            .repartition("__id")
            .dropDuplicates(["__id", "__h"])
            .withColumn(n_name, F.count(F.lit(1)).over(w))
            .select(F.col("__id").alias(out_id), "__h", n_name)
        )

    pa = _restricted(posting, ids_a, "id_a", "__na")
    pb = _restricted(pb_src, ids_b, "id_b", "__nb")
    overlap = (
        cands.join(pa, "id_a")
        .join(pb, ["id_b", "__h"])
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("__ni"),
            # constant within a (id_a, id_b) group — min is the
            # deterministic pick
            F.min("__na").alias("__na"),
            F.min("__nb").alias("__nb"),
        )
    )
    return (
        overlap.select(
            "id_a",
            "id_b",
            (F.col("__ni")
             / (F.col("__na") + F.col("__nb") - F.col("__ni"))
             ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    num_hashes: int = 144,
    bands: int = 24,
    rows_per_band: int = 6,
) -> DataFrame:
    """MinHash+LSH near-dup detection with exact verification:
    LSH proposes candidate pairs, a join back to the shingle sets
    computes TRUE jaccard, and only pairs ≥ threshold survive — so
    output precision is exact and only recall depends on (b, r).

    Verification cost is O(candidates), and with the band parameters
    tuned above the threshold knee, candidates ≈ true near-dup pairs.

    r13 (the hot-cluster doctrine): IDENTICAL SHINGLE SETS are
    collapsed to one representative before the LSH stage when the
    corpus carries a HOT duplicate cluster — m byte-identical
    documents share every band hash, so one bucket would hold all m
    ids and the in-bucket pair enumeration builds m²/2 structs inside
    a single row (the worst possible skew: one task, one array). Set
    identity is keyed by a map-side-combinable multiset fingerprint
    (count + two salted XOR folds of the shingle hashes — a
    collect_list/sort fingerprint measured 3.6× ledger on the sf0.1
    corpus and was replaced same-day); the routing statistic is the
    LARGEST cluster size, memoized per (plan, data version) like the
    adaptive Jaccard route, and corpora whose clusters stay ≤
    `_MINHASH_COLLAPSE_MIN` keep the exact prior plan — small dup
    clusters are harmless in-bucket and the expansion joins aren't
    free. Cluster members expand back afterward — within-cluster
    pairs at jaccard 1 (identical sets), cross pairs inheriting the
    verified representative jaccard. Collision budget: two different
    sets must agree on count AND both 64-bit XOR folds (~2⁻¹²⁸) —
    same class as the count plan's documented shingle hashing.
    """
    assert bands * rows_per_band <= num_hashes
    sets = docs.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(shingle_col)).alias("__sh"),
    )
    posting = managed_cache(
        sets.select("__id", F.explode("__sh").alias("__s"))
        .select("__id", F.xxhash64("__s").alias("__h"))
    )
    setfp = posting.groupBy("__id").agg(
        F.xxhash64(
            F.expr("bit_xor(__h)"),
            F.expr("bit_xor(xxhash64(__h, 1))"),
            F.count(F.lit(1)),
        ).alias("__sfp")
    )
    has_hot = _route(
        docs, posting, lambda: _has_hot_cluster(setfp, "__sfp"),
        "minhash_collapse",
    )
    if not has_hot:
        buckets = _minhash_buckets_from_posting(
            posting, num_hashes, bands, rows_per_band
        )
        return _lsh_pairs_from_buckets(posting, buckets, threshold)

    members = managed_cache(setfp)
    reps = members.groupBy("__sfp").agg(F.min("__id").alias("__id"))
    rposting = posting.join(reps.select("__id"), "__id", "semi")
    buckets = _minhash_buckets_from_posting(
        rposting, num_hashes, bands, rows_per_band
    )
    rep_pairs = _lsh_pairs_from_buckets(rposting, buckets, threshold)
    ra = reps.select(
        F.col("__id").alias("id_a"), F.col("__sfp").alias("__fa")
    )
    rb = reps.select(
        F.col("__id").alias("id_b"), F.col("__sfp").alias("__fb")
    )
    ma = members.select(F.col("__sfp").alias("__fa"), F.col("__id").alias("__xa"))
    mb = members.select(F.col("__sfp").alias("__fb"), F.col("__id").alias("__xb"))
    cross = (
        rep_pairs.join(ra, "id_a").join(rb, "id_b")
        .join(ma, "__fa").join(mb, "__fb")
        .select(
            F.least("__xa", "__xb").alias("id_a"),
            F.greatest("__xa", "__xb").alias("id_b"),
            "jaccard",
        )
    )
    x, y = members.alias("x"), members.alias("y")
    within = (
        x.join(
            y,
            (F.col("x.__sfp") == F.col("y.__sfp"))
            & (F.col("x.__id") < F.col("y.__id")),
        )
        .select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def _lsh_pairs_from_buckets(
    posting: DataFrame, buckets: DataFrame, threshold: float
) -> DataFrame:
    """Candidate enumeration + exact verify over (id, band, band_hash)
    buckets — the back half of `minhash_dedup_pairs`. collect_list is
    safe here because bucket cardinality ≈ near-dup cluster size once
    identical sets are collapsed upstream."""
    grouped = (
        buckets.groupBy("__band", "__bh")
        .agg(F.sort_array(F.collect_list("__id")).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("__ids"),
                    i + 2,
                    F.greatest(F.size(F.col("__ids")) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    # cache: cands feeds BOTH the pair_ids broadcast and the overlap
    # join; without a materialization point each branch would re-derive
    # the whole shingle→signature→bucket pipeline. The cached set is a
    # few (id, id) rows — near-dup pairs, not the corpus.
    cands = managed_cache(
        grouped.select(F.explode(pair_expr).alias("__p"))
        .select(F.col("__p.id_a").alias("id_a"), F.col("__p.id_b").alias("id_b"))
        .distinct()
    )
    return _verify_pairs_by_count(cands, posting, threshold)


def minhash_dedup_pairs_against(
    new_docs: DataFrame,
    base_docs: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    num_hashes: int = 144,
    bands: int = 24,
    rows_per_band: int = 6,
) -> DataFrame:
    """INCREMENTAL (cross-corpus) MinHash+LSH dedup: near-dup pairs of
    an incoming batch AGAINST an existing corpus — the production
    "don't ingest what the corpus already holds" shape, distinct from
    self-dedup. Returns (id_new, id_base, jaccard) with exact-Jaccard
    verification, so precision is 1 and only recall depends on (b, r).
    Within-batch duplicates are deliberately NOT reported — compose
    with `minhash_dedup_pairs(new_docs, ...)` for that.

    Id spaces may overlap across the two inputs: the verify resolves
    id_new against the NEW side's postings and id_base against the
    BASE side's (per-side, never a union — ADVICE r7), so an id
    present in both corpora with different content still verifies
    correctly, and a pair with id_new == id_base reports the
    new-vs-base jaccard of that id (the "already ingested?" answer).

    100 TB posture: candidates come from an EQUI-JOIN of the two
    sides' band buckets on (band, hash) — never new × base. Each
    side's signature aggregate runs once over its own corpus only; at
    steady state the base side's postings + (id, band, hash) bucket
    table are exactly what a production pipeline persists between
    batches (`minhash_index` → parquet), so the recurring cost is the
    (small) incoming batch's signatures plus one prunable join
    against the stored buckets — the persisted-index path is
    `minhash_dedup_pairs_against_index`, which this convenience
    wrapper delegates to after building the base index in-plan."""
    p_base, b_base = minhash_index(
        base_docs, id_col, shingle_col, num_hashes, bands, rows_per_band
    )
    return minhash_dedup_pairs_against_index(
        new_docs, p_base, b_base, id_col, shingle_col, threshold,
        num_hashes=num_hashes, bands=bands, rows_per_band=rows_per_band,
    )


def minhash_index(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int = 144,
    bands: int = 24,
    rows_per_band: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """(posting, buckets) for a corpus — the PERSISTABLE steady-state
    dedup artifact (r8): posting = (__id, __h) distinct-shingle
    hashes (feeds exact-Jaccard verification), buckets = (__id,
    __band, __bh) LSH band hashes (feeds candidate generation). Write
    both to parquet once per corpus; every later incoming batch joins
    against the stored tables via
    `minhash_dedup_pairs_against_index` without touching the base
    corpus text again. Band parameters are part of the artifact's
    identity — a batch checked with different (num_hashes, bands,
    rows_per_band) than the stored index produces garbage buckets, so
    persist them alongside (e.g. `<index>/posting`, `<index>/buckets`
    and a small params file next to them)."""
    assert bands * rows_per_band <= num_hashes
    return _minhash_band_buckets(
        docs, id_col, shingle_col, num_hashes, bands, rows_per_band
    )


def minhash_dedup_pairs_against_index(
    new_docs: DataFrame,
    base_posting: DataFrame,
    base_buckets: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    num_hashes: int = 144,
    bands: int = 24,
    rows_per_band: int = 6,
) -> DataFrame:
    """The steady-state incremental dedup recurrence (r8): near-dup
    pairs of an incoming batch against a PERSISTED corpus index
    (`minhash_index`, usually read back from parquet) — only the
    batch's signatures are computed; the base corpus contributes two
    stored-table joins (bucket equi-join for candidates, posting join
    for exact verify). Same output contract as
    `minhash_dedup_pairs_against`: (id_new, id_base, jaccard),
    per-side verification, overlapping id spaces allowed."""
    assert bands * rows_per_band <= num_hashes
    p_new, b_new = _minhash_band_buckets(
        new_docs, id_col, shingle_col, num_hashes, bands, rows_per_band
    )
    cands = (
        b_new.select(F.col("__id").alias("id_a"), "__band", "__bh")
        .join(
            base_buckets.select(
                F.col("__id").alias("id_b"), "__band", "__bh"
            ),
            ["__band", "__bh"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    cands = managed_cache(cands)
    verified = _verify_pairs_by_count(
        cands, p_new, threshold, posting_b=base_posting
    )
    return verified.select(
        F.col("id_a").alias("id_new"),
        F.col("id_b").alias("id_base"),
        "jaccard",
    )


def simhash64(shingles: Column) -> Column:
    """64-bit SimHash of a shingle/token array, as pure expressions.

    Classic Charikar scheme: hash each shingle to 64 bits, per bit
    position accumulate +1/-1, output bit = sign of the tally. One
    `aggregate` pass; the 64 tallies ride along as an array<int>.
    Near-duplicate docs land within a small Hamming distance.
    """
    bits = F.sequence(F.lit(0), F.lit(63))
    tallies = F.aggregate(
        shingles,
        F.array_repeat(F.lit(0), 64),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(
                bits,
                # call_function: the Python shiftright wrapper rejects a
                # Column numBits; the SQL function accepts one
                lambda i: F.when(
                    F.call_function("shiftright", F.xxhash64(s), i).bitwiseAND(
                        F.lit(1)
                    )
                    == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            ),
            lambda a, b: a + b,
        ),
    )
    return F.aggregate(
        F.zip_with(
            tallies,
            bits,
            lambda t, i: F.when(
                t > 0, F.call_function("shiftleft", F.lit(1).cast("bigint"), i)
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    hash_fn=None,
    nbits: int = 64,
) -> DataFrame:
    """(id, simhash) fingerprint table; pair docs by Hamming distance
    downstream (band the 64 bits into k equal bands and equi-join —
    pigeonhole: any pair within distance k-1 shares at least one band).

    Scalable explode + hash-aggregate plan, bit-identical to
    `simhash64` (property-tested): one string hash per shingle, then
    64 map-side-combining `sum` aggregates of the hash's bits; the
    output bit j is set iff more than half the shingle hashes set bit
    j (2·c_j > n ⟺ the ±1 tally is positive). No per-shingle array
    allocation, and the shuffle carries 66 longs per (partition, doc).

    SINGLE-PASS shape: explode_outer keeps empty/NULL-array docs as a
    null-shingle sentinel row, whose hash is masked to NULL so `sum`
    and `count` skip it — an empty array aggregates to n=0 ⇒ no bit
    set ⇒ simhash 0, a NULL array is flagged through the aggregate
    and yields simhash NULL, both exactly simhash64's semantics.
    The previous formulation restored those docs with a LEFT JOIN
    back to the input, which scanned the (often expensive — Arrow
    shingling) upstream twice and added a join; this one reads the
    input once and needs only the one groupBy exchange — the shape
    you want when the upstream is a 100 TB tokenization pass.

    `hash_fn` (shingle Column → bigint Column) defaults to xxhash64 —
    the production choice (one JVM intrinsic per shingle). Pass an
    engine-portable hash (e.g. the md5-prefix hash the registry query
    uses so its DuckDB oracle can re-derive identical fingerprints)
    together with its width `nbits` when cross-engine reproducibility
    matters more than per-shingle cost.
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    base = docs.select(F.col(id_col), F.col(shingle_col).alias("__arr"))
    # explode_outer keeps a (null-shingle) row for empty/NULL arrays;
    # masking the hash to NULL there makes count/sum skip it (xxhash64
    # would otherwise hash NULL to its seed and give every empty doc
    # the same non-zero fingerprint)
    posting = base.select(
        id_col,
        F.col("__arr").isNull().alias("__nullarr"),
        F.explode_outer(F.col("__arr")).alias("__s"),
    ).select(
        id_col,
        "__nullarr",
        F.when(F.col("__s").isNotNull(), hash_fn(F.col("__s"))).alias("__h"),
    )
    # the 64 bit-tallies and the 64-way OR are built as SQL strings
    # parsed JVM-side in ONE call each: constructing them from Column
    # operators costs a py4j round-trip per node (~550 calls, measured
    # 1.5 s of pure driver time per build at nbits=64)
    cnt_sql = (
        "array("
        + ", ".join(
            f"sum(shiftrightunsigned(__h, {j}) & CAST(1 AS BIGINT))"
            for j in range(nbits)
        )
        + ") AS __cs"
    )
    agg = posting.groupBy(id_col).agg(
        F.expr("count(__h) AS __n"),
        F.expr("first(__nullarr) AS __nullarr"),
        F.expr(cnt_sql),
    )
    sim_sql = " | ".join(
        f"(CASE WHEN 2 * __cs[{j}] > __n"
        f" THEN shiftleft(CAST(1 AS BIGINT), {j})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(nbits)
    )
    return agg.select(
        F.col(id_col),
        F.expr(
            f"CASE WHEN __nullarr THEN CAST(NULL AS BIGINT)"
            f" ELSE {sim_sql} END AS simhash"
        ),
    )


def _banded_fp(fps: DataFrame, fp_col: str, nbits: int, bands: int,
               *extra_cols: str) -> DataFrame:
    """Slice an nbits-wide integer fingerprint column into `bands`
    equal-width (band, band_val) equi-join keys, one output row per
    band. NULL fingerprints (undecodable inputs) drop out here, before
    any join."""
    width = nbits // bands
    mask = (1 << width) - 1
    return fps.filter(F.col(fp_col).isNotNull()).select(
        fp_col,
        *extra_cols,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(fp_col), j * width)
                    .bitwiseAND(F.lit(mask))
                    for j in range(bands)
                ]
            )
        ).alias("__band", "__bv"),
    )


def banded_fp_pairs(
    reps: DataFrame,
    fp_col: str,
    nbits: int,
    bands: int,
    max_hamming: int,
) -> DataFrame:
    """(__fa, __fb, hamming) over a DISTINCT-fingerprint table — the
    candidate stage of `banded_hamming_pairs`, exposed so tests can
    pin its row count under planted hot clusters. `reps` must hold one
    row per distinct fingerprint; output pairs satisfy __fa < __fb and
    hamming ∈ [1, max_hamming] (identical fingerprints never meet here
    — they are expanded membership-side, not joined)."""
    banded = _banded_fp(
        reps.select(F.col(fp_col).alias("__fp")), "__fp", nbits, bands
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bv") == F.col("b.__bv"))
            & (F.col("a.__fp") < F.col("b.__fp")),
        )
        .select(
            F.col("a.__fp").alias("__fa"),
            F.col("b.__fp").alias("__fb"),
            F.bit_count(
                F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def banded_hamming_pairs(
    fps: DataFrame,
    id_col: str,
    fp_col: str,
    nbits: int,
    bands: int,
    max_hamming: int,
) -> DataFrame:
    """All pairs (id_a, id_b, hamming) with fingerprint Hamming
    distance ≤ max_hamming, id_a < id_b — the banded self-join with
    IDENTICAL-FINGERPRINT HOT CLUSTERS COLLAPSED first (VERDICT r12
    "What's wrong" #1).

    A real crawl contains thousands-to-millions of byte-identical
    payloads (blank thumbnails, tracking pixels, default avatars) that
    all hash to the same fingerprint. Banding every ROW would push
    m²/2 candidate rows × `bands` through the shuffle for an m-member
    hot cluster before the Hamming verify. Instead:

    1. collapse to DISTINCT fingerprints (linear groupBy) and band-join
       only those — the candidate stage (`banded_fp_pairs`) is bounded
       by distinct-fingerprint collisions regardless of multiplicity;
    2. expand fingerprint pairs back to id pairs through two membership
       equi-joins (least/greatest restores the id_a < id_b order);
    3. same-fingerprint pairs (hamming 0) come from ONE membership
       self-join whose output is exactly the required pair rows —
       proportional to the answer, never 8× through the band shuffle.

    Pigeonhole recall is unchanged (max_hamming ≤ bands − 1 still
    guarantees a shared band between distinct fingerprints), and the
    output matches the naive plan row-for-row. Contract: one
    fingerprint row per id (a hash table, not a multimap).

    Corpora whose largest identical-fingerprint cluster stays ≤
    `_MINHASH_COLLAPSE_MIN` keep the DIRECT row-banded self-join: the
    collapse spends a distinct plus three membership joins that the
    direct plan doesn't have, a net loss when there is nothing hot to
    collapse (measured r13: x_dedup_pairs_suite 1.6× ledger with the
    unconditional collapse on the near-dup-free synthetic corpus).
    The routing statistic is one narrow aggregate over the
    fingerprint table, memoized per (plan, data version) like the
    adaptive Jaccard route."""
    members = fps.filter(F.col(fp_col).isNotNull()).select(
        F.col(fp_col).alias("__fp"), F.col(id_col).alias("__mid")
    )
    has_hot = _route(
        fps, members, lambda: _has_hot_cluster(members, "__fp"),
        "hamming_collapse",
    )
    if not has_hot:
        return _banded_hamming_pairs_direct(
            members, nbits, bands, max_hamming
        )
    # ADVICE r13: the collapsed path's membership-expansion joins emit
    # one output row per INPUT row pair, so duplicate (id, fp) input
    # rows would duplicate output pairs (the direct path's terminal
    # .distinct() absorbed them). Dedup the narrow member table before
    # expansion — one hash aggregate over 16 B rows.
    members = members.dropDuplicates()
    fp_pairs = banded_fp_pairs(
        members.select(F.col("__fp")).distinct(),
        "__fp", nbits, bands, max_hamming,
    )
    ma = members.select(
        F.col("__fp").alias("__fa"), F.col("__mid").alias("__xa")
    )
    mb = members.select(
        F.col("__fp").alias("__fb"), F.col("__mid").alias("__xb")
    )
    cross = (
        fp_pairs.join(ma, "__fa")
        .join(mb, "__fb")
        .select(
            F.least("__xa", "__xb").alias("id_a"),
            F.greatest("__xa", "__xb").alias("id_b"),
            "hamming",
        )
    )
    x, y = members.alias("x"), members.alias("y")
    same = (
        x.join(
            y,
            (F.col("x.__fp") == F.col("y.__fp"))
            & (F.col("x.__mid") < F.col("y.__mid")),
        )
        .select(
            F.col("x.__mid").alias("id_a"),
            F.col("y.__mid").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(same)


def _banded_hamming_pairs_direct(
    members: DataFrame, nbits: int, bands: int, max_hamming: int
) -> DataFrame:
    """The row-banded self-join over (__fp, __mid) — the right plan
    when every fingerprint is unique (no hot clusters to collapse);
    emits the identical (id_a, id_b, hamming) rows."""
    banded = _banded_fp(members, "__fp", nbits, bands, "__mid")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bv") == F.col("b.__bv"))
            & (F.col("a.__mid") < F.col("b.__mid")),
        )
        .select(
            F.col("a.__mid").alias("id_a"),
            F.col("b.__mid").alias("id_b"),
            F.bit_count(
                F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def banded_hamming_join_rs(
    new: DataFrame,
    stored: DataFrame,
    id_new: str,
    id_stored: str,
    fp_new: str,
    fp_stored: str,
    nbits: int,
    bands: int,
    max_hamming: int,
) -> DataFrame:
    """Two-sided (R-S) banded Hamming join with the same
    identical-fingerprint collapse as `banded_hamming_pairs`: every
    (new, stored) pair within `max_hamming`, as
    (id_new, id_stored, hamming). Both sides collapse to distinct
    fingerprints before banding, so a hot identical cluster in the
    persisted corpus index costs one representative in the candidate
    join however many members it has; membership joins expand the
    answer afterward, proportional to the output.

    Duplicate (id, fingerprint) input rows are deduped on the narrow
    member tables before expansion (ADVICE r13): the expansion joins
    emit one output row per input row pair, so without the dedup a
    doubly-ingested id would double its output pairs."""
    m_new = new.filter(F.col(fp_new).isNotNull()).select(
        F.col(fp_new).alias("__fa"), F.col(id_new).alias("__xa")
    ).dropDuplicates()
    m_sto = stored.filter(F.col(fp_stored).isNotNull()).select(
        F.col(fp_stored).alias("__fb"), F.col(id_stored).alias("__xb")
    ).dropDuplicates()
    a = _banded_fp(
        m_new.select(F.col("__fa").alias("__fp")).distinct(),
        "__fp", nbits, bands,
    ).withColumnRenamed("__fp", "__fa")
    b = _banded_fp(
        m_sto.select(F.col("__fb").alias("__fp")).distinct(),
        "__fp", nbits, bands,
    ).withColumnRenamed("__fp", "__fb")
    fp_pairs = (
        a.join(b, ["__band", "__bv"])
        .select(
            "__fa",
            "__fb",
            F.bit_count(
                F.col("__fa").bitwiseXOR(F.col("__fb"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return (
        fp_pairs.join(m_new, "__fa")
        .join(m_sto, "__fb")
        .select(
            F.col("__xa").alias(id_new),
            F.col("__xb").alias(id_stored),
            "hamming",
        )
    )


def editdist_dedup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 5,
    max_rel_dist: float = 0.2,
    rare_cap: int = 10,
    hash_fn=None,
) -> DataFrame:
    """Edit-distance (Levenshtein) near-dup pairs with rare-shingle
    blocking → (id_a, id_b, dist), id_a < id_b, for every candidate
    pair whose character edit distance is within `max_rel_dist` of the
    longer document's length.

    The character-level counterpart of the token-set family (Jaccard /
    MinHash / SimHash): robust to small in-place edits that barely
    move a shingle SET but shift its positions — the classic
    entity-resolution / boilerplate-variant primitive.

    Blocking (never O(n²)): a pair is a candidate iff the two docs
    share at least one RARE word n-gram shingle — one whose posting
    list has at most `rare_cap` docs. Near-duplicates share many
    shingles and, past trivial length, at least one rare one (a
    shingle shared only by the duplicate pair has df=2); a hot
    boilerplate shingle shared by millions of docs is exactly the one
    that carries no pair signal and would quadratically explode the
    pair space, so it is pruned — the standard blocking rule from the
    record-linkage literature. Recall is data-dependent (exact on any
    corpus where every near-dup pair shares ≥1 rare shingle, which
    tests pin for the planted corpus and the differential oracle
    re-derives bit-for-bit at every graded sf).

    Shingle arity matters: blocking needs RARE shingles, so pick n
    past the corpus's common-phrase length (on the graded corpus,
    3-grams yield 11 533 candidates at sf0.01 where 5-grams yield 37
    for the same 25 true pairs).

    Physical plan, scale posture:
    - the shingle pass (Arrow-vectorized shingle_docs_pandas) feeds
      ONLY the posting branch — the text-verify branches are a plain
      narrow (id, text) projection, so the shingler runs exactly once;
    - posting lists: explode distinct shingles, hash to a fixed-width
      key (`hash_fn`, default xxhash64) → the shuffle key is 8 bytes,
      not the shingle string. A hash collision merges two posting
      lists (odds ~|S|²/2⁶⁴) — it can only add a candidate (still
      Levenshtein-verified) or push a merged group past `rare_cap`;
      for bit-exact cross-engine blocking, pass a hash both engines
      compute (the graded query uses the md5-prefix bigint, the same
      convention as `simhash_fingerprints(hash_fn=...)`);
    - ONE groupBy(shingle) with collect_set(id) capped by
      `rare_cap` — pair expansion is a narrow per-group cross of at
      most rare_cap ids (≤ cap²/2 pairs per shingle), then a distinct;
    - texts join back to the (small) candidate set — AQE broadcasts
      the pair side when it fits;
    - the Levenshtein verify is JVM codegen (O(la·lb) per candidate
      only — candidates, not the pair space, bound the cost).
    """
    from ..functions.text import shingle_docs_pandas

    if not 0.0 < max_rel_dist <= 1.0:
        raise ValueError("editdist_dedup_pairs: max_rel_dist in (0, 1]")
    if rare_cap < 2:
        raise ValueError("editdist_dedup_pairs: rare_cap must be >= 2")
    if shingle_n < 1:
        raise ValueError("editdist_dedup_pairs: shingle_n must be >= 1")
    if hash_fn is None:
        hash_fn = F.xxhash64
    lean = docs.select(F.col(id_col), F.col(text_col))
    shingled = shingle_docs_pandas(lean, id_col, text_col, shingle_n, out="__sh")
    posting = shingled.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct("__sh")).alias("__raw"),
    ).select("__id", hash_fn(F.col("__raw")).alias("__s"))
    groups = (
        posting.groupBy("__s")
        .agg(F.collect_set("__id").alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= rare_cap))
    )
    pairs = (
        groups.select(F.explode("__ids").alias("id_a"), "__ids")
        .select("id_a", F.explode("__ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    ta = lean.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta")
    )
    tb = lean.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb")
    )
    dist = F.levenshtein("__ta", "__tb")
    thr = F.ceil(
        F.lit(max_rel_dist)
        * F.greatest(F.length("__ta"), F.length("__tb"))
    )
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") <= thr)
    )


def _narrow_texts(
    docs: DataFrame, id_col: str, text_col: str, min_len: int
) -> DataFrame:
    """(__id, __t) projection of docs long enough to hold one window."""
    return docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    ).filter(F.length("__t") >= min_len)


def _window_hashes(base: DataFrame, min_len: int) -> DataFrame:
    """(__id, __pos, __wh) — one row per character position, the
    length-`min_len` window hashed to 8 bytes. The explode and the
    substring+hash fold into one codegen stage, so the wide __t column
    exists only inside the stage — any exchange downstream carries
    20-byte fixed-width rows."""
    return base.select(
        "__id",
        "__t",
        F.explode(
            F.sequence(F.lit(1), F.length("__t") - F.lit(min_len - 1))
        ).alias("__pos"),
    ).select(
        "__id",
        "__pos",
        F.xxhash64(
            F.substring(F.col("__t"), F.col("__pos"), F.lit(min_len))
        ).alias("__wh"),
    )


def duplicated_window_positions(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
) -> DataFrame:
    """(id, pos) of every length-`min_len` character window whose
    substring occurs ≥ 2 times across the whole corpus (within OR
    across documents) — the primitive under substring-level exact
    dedup (the suffix-array dedup family of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    a substring of length ≥ L repeats somewhere iff every one of its
    length-L windows repeats, so the flagged-position set IS the
    duplicated-region set and merged spans recover the maximal
    repeated substrings.

    Distributed shape (never a suffix array, never doc×doc):

    1. position explode — one row per character position, O(total
       chars), the same asymptotics a suffix array pays; the document
       text never crosses an exchange (the window is hashed to 8
       bytes in the same codegen stage as the explode);
    2. per-hash multiplicity via count() OVER (PARTITION BY hash) —
       ONE exchange of fixed-width (id, pos, hash) rows on uniformly
       distributed keys, then the filter. ONE corpus pass total: the
       groupBy + join-back alternative needs either a second corpus
       scan or a corpus-sized cache, and its dup-hash build side is
       broadcast-able only at toy scale — measured 30-40% slower at
       sf0.1 in interleaved A/B, and strictly worse at 100 TB where
       the two-pass shapes don't hold;
    3. hash-collision verify: candidate positions only — join back to
       the narrow (id, text) projection, re-derive the ACTUAL
       substring, and keep positions whose substring (not just hash)
       has global multiplicity ≥ 2, so output equals the exact
       substring-multiset definition (a collision can only add a
       candidate here, never hide a true duplicate).

    Returns columns (`id_col`, pos) — pos 1-based, window
    [pos, pos + min_len - 1].
    """
    if min_len < 2:
        raise ValueError("duplicated_window_positions: min_len must be >= 2")
    base = _narrow_texts(docs, id_col, text_col, min_len)
    wins = _window_hashes(base, min_len)
    cand = (
        wins.withColumn(
            "__c", F.count(F.lit(1)).over(Window.partitionBy("__wh"))
        )
        .filter(F.col("__c") >= 2)
        .select("__id", "__pos")
    )
    # collision verify on candidates only: recompute the actual window
    # text (join back to the narrow (id, text) projection — shuffles
    # candidates, not the corpus) and re-count at substring grain
    cand_sub = cand.join(base, "__id").select(
        "__id",
        "__pos",
        F.substring(F.col("__t"), F.col("__pos"), F.lit(min_len)).alias("__sub"),
    )
    w = Window.partitionBy("__sub")
    return (
        cand_sub.withColumn("__n2", F.count(F.lit(1)).over(w))
        .filter(F.col("__n2") >= 2)
        .select(F.col("__id").alias(id_col), F.col("__pos").alias("pos"))
    )


def substring_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 60,
    keep_text: bool = True,
) -> DataFrame:
    """Substring-level exact dedup, per document (Lee et al. 2022
    ExactSubstr class, re-expressed as window/island algebra): flags
    every maximal region covered by a length-`min_len` substring that
    occurs ≥ 2 times in the corpus, and (with `keep_text`) CUTS those
    regions out — the conservative remove-all-copies policy; keeping
    one canonical occurrence is a caller-side filter on the flagged
    spans before the cut.

    Output, one row per input document:
      `id_col`, n_chars (original length), dup_windows (flagged
      length-L window positions), dup_spans (maximal merged regions),
      dup_chars (characters covered by flagged regions), and — with
      `keep_text` — kept_text (the document with flagged regions
      removed; documents with none keep their text verbatim).

    Span merging needs no interval tree: flagged windows all have
    length L, so sorted by position their ends are monotone and a
    single lag() comparison finds island breaks — two O(1)-state
    window functions per doc, then one groupBy. The cut itself is one
    codegen'd `aggregate` fold over the (tiny) per-doc span array —
    no UDF, no shuffle beyond the span groupBy.
    """
    flagged = duplicated_window_positions(docs, id_col, text_col, min_len)
    return _spans_cut_stats(docs, flagged, id_col, text_col, min_len,
                            keep_text)


def _spans_cut_stats(
    docs: DataFrame,
    flagged: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
    keep_text: bool,
) -> DataFrame:
    """Shared back half of the substring-dedup family: merge flagged
    (id, pos) windows into maximal islands, aggregate per-doc stats,
    and (optionally) cut the spans out of the text — see
    `substring_dedup` for the algebra."""
    w = Window.partitionBy(id_col).orderBy("pos")
    # island break: windows are equal-length, so the running max end
    # is just the previous pos + L - 1 — overlap iff pos - lag < L
    isl = flagged.withColumn(
        "__b",
        F.when(F.col("pos") - F.lag("pos").over(w) < min_len, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "__g",
        F.sum("__b").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy(id_col, "__g").agg(
        F.count(F.lit(1)).alias("__nw"),
        F.min("pos").alias("__s"),
        (F.max("pos") + F.lit(min_len - 1)).alias("__e"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("__nw").alias("dup_windows"),
        F.count(F.lit(1)).alias("dup_spans"),
        F.sum(F.col("__e") - F.col("__s") + 1).alias("dup_chars"),
        F.sort_array(F.collect_list(F.struct("__s", "__e"))).alias("__spans"),
    )
    out = (
        docs.select(F.col(id_col), F.col(text_col).alias("__t"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.length("__t").cast("bigint").alias("n_chars"),
            F.coalesce("dup_windows", F.lit(0)).alias("dup_windows"),
            F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
            "__t",
            "__spans",
        )
    )
    if not keep_text:
        return out.drop("__t", "__spans")
    # cut the spans: fold (acc, cursor) over the sorted span array —
    # append the gap before each span, jump the cursor past it, then
    # append the tail. substring() with a non-positive length yields
    # '' so adjacent/leading spans degrade cleanly.
    cut = F.aggregate(
        "__spans",
        F.struct(F.lit("").alias("acc"), F.lit(1).alias("cur")),
        lambda st, sp: F.struct(
            F.concat(
                st["acc"],
                F.substring(F.col("__t"), st["cur"], sp["__s"] - st["cur"]),
            ).alias("acc"),
            (sp["__e"] + F.lit(1)).alias("cur"),
        ),
        lambda st: F.concat(
            st["acc"], F.substring(F.col("__t"), st["cur"], F.length("__t"))
        ),
    )
    return out.select(
        id_col,
        "n_chars",
        "dup_windows",
        "dup_spans",
        "dup_chars",
        F.when(F.col("__spans").isNull(), F.col("__t"))
        .otherwise(cut)
        .alias("kept_text"),
    )


def duplicated_window_positions_against(
    new_docs: DataFrame,
    base_docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
) -> DataFrame:
    """(id, pos) of every length-`min_len` window of `new_docs` whose
    substring occurs ANYWHERE in `base_docs` — the cross-corpus
    primitive under excision-style decontamination (Lee et al. 2022:
    cut benchmark/eval text OUT of training documents instead of
    dropping whole documents; the span-cutting complement of the
    containment-flagging `plans.extensions.x_decontaminate`).

    Unlike the self form, multiplicity is irrelevant: ONE base
    occurrence flags the window. Shape:

    1. both sides' windows hash in one codegen stage each (the text
       never crosses an exchange);
    2. candidates = equi-join of the batch's (id, pos, hash) rows
       against the base's DISTINCT hash set — at steady state that
       distinct-hash table is the persistable artifact (like the
       minhash index), and the recurring cost is the batch explode +
       one prunable join;
    3. collision verify at substring grain: base windows are
       recomputed ONLY for hash-matched candidates (prune before the
       distinct), then candidates keep positions whose actual
       substring matches an actual base window — exact semantics, a
       collision can only add a candidate, never hide a true match.

    Returns (`id_col`, pos) in `new_docs`' id space.

    Cache lifecycle: the candidate set is `.cache()`d (it feeds both
    the base-substring prune and the verify projection) and lives
    until the caller's `spark.catalog.clearCache()` or session end —
    the minhash-candidate precedent. Callers running MANY batches in
    one session should use the per-batch shape instead
    (`substring_excise_against_index` over a persisted
    `build_window_index` — no mid-plan cache), which is also why the
    streaming gate consumes the index path. The cache also
    (correctly) self-excludes the two-sided registry query from the
    prepared-plan cache.
    """
    if min_len < 2:
        raise ValueError(
            "duplicated_window_positions_against: min_len must be >= 2"
        )
    nb = _narrow_texts(new_docs, id_col, text_col, min_len)
    bb = _narrow_texts(base_docs, id_col, text_col, min_len)
    wins_new = _window_hashes(nb, min_len)
    base_hashes = _window_hashes(bb, min_len).select("__wh").distinct()
    # cache: cand feeds BOTH the candidate-hash prune (base_subs) and
    # the verify projection — without a materialization point each
    # branch re-derives the batch explode + the base-hash join (the
    # minhash candidate-set precedent). Candidates are matched
    # positions only, a small fraction of the batch's windows.
    cand = managed_cache(wins_new.join(base_hashes, "__wh"))
    # verify: candidate substrings must equal an ACTUAL base window.
    # Base subs are derived only for hash-matched windows — the sub
    # column is computed in the scan stage, pruned by the (small)
    # candidate-hash join before anything wide crosses an exchange.
    cand_hashes = cand.select("__wh").distinct()
    cand_sub = cand.join(nb, "__id").select(
        "__id",
        "__pos",
        F.substring(F.col("__t"), F.col("__pos"), F.lit(min_len)).alias("__sub"),
    )
    base_subs = (
        bb.select(
            "__t",
            F.explode(
                F.sequence(F.lit(1), F.length("__t") - F.lit(min_len - 1))
            ).alias("__pos"),
        )
        .select(
            F.substring(F.col("__t"), F.col("__pos"), F.lit(min_len)).alias(
                "__sub"
            )
        )
        .withColumn("__wh", F.xxhash64("__sub"))
        .join(cand_hashes, "__wh")
        .select("__sub")
        .distinct()
    )
    return cand_sub.join(base_subs, "__sub").select(
        F.col("__id").alias(id_col), F.col("__pos").alias("pos")
    )


def substring_excise(
    new_docs: DataFrame,
    base_docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 60,
    keep_text: bool = True,
) -> DataFrame:
    """Excision-style decontamination: per `new_docs` document, flag
    every maximal region covered by a length-`min_len` substring that
    occurs anywhere in `base_docs`, and (with `keep_text`) CUT those
    regions out — keeping the rest of the document, where doc-level
    decontamination would discard it whole. Same output contract and
    island/cut algebra as `substring_dedup` (n_chars, dup_windows,
    dup_spans, dup_chars, kept_text), same 100 TB posture
    (`duplicated_window_positions_against`)."""
    flagged = duplicated_window_positions_against(
        new_docs, base_docs, id_col, text_col, min_len
    )
    return _spans_cut_stats(new_docs, flagged, id_col, text_col, min_len,
                            keep_text)


def build_window_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 60,
) -> DataFrame:
    """Distinct (__wh, __sub) window table of a PROTECTED corpus — the
    persistable artifact for excision-style decontamination (write to
    parquet once, reuse per batch / per stream). Carrying the actual
    substring keeps index-based excision EXACT (the verify reads the
    string from the index — no base text needed at scoring time).

    Sizing: a protected/eval corpus (the decontamination use) is
    small — benchmarks are MBs, so L× chars of distinct windows is
    still tiny next to the training corpus. Protecting a corpus so
    large that storing substrings hurts → store `__wh` only and
    accept the ~2⁻⁶⁴ per-window collision odds, or fall back to the
    two-sided `substring_excise` which verifies against live text."""
    base = _narrow_texts(docs, id_col, text_col, min_len)
    return (
        base.select(
            "__t",
            F.explode(
                F.sequence(F.lit(1), F.length("__t") - F.lit(min_len - 1))
            ).alias("__pos"),
        )
        .select(
            F.substring(F.col("__t"), F.col("__pos"), F.lit(min_len)).alias(
                "__sub"
            )
        )
        .distinct()
        .withColumn("__wh", F.xxhash64("__sub"))
    )


def substring_excise_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 60,
    keep_text: bool = True,
) -> DataFrame:
    """`substring_excise` against a PERSISTED `build_window_index`
    table (usually read back from parquet) — the steady-state
    recurrence: only the incoming batch's windows are computed; the
    protected corpus contributes two joins against the stored table
    (hash prune, then exact substring verify straight from the
    index). Same output contract as `substring_excise`. `min_len`
    must equal the index's build-time window length — part of the
    artifact's identity, persist it alongside."""
    nb = _narrow_texts(new_docs, id_col, text_col, min_len)
    cand = _window_hashes(nb, min_len).join(
        index.select("__wh").distinct(), "__wh"
    )
    flagged = (
        cand.join(nb, "__id")
        .select(
            "__id",
            "__pos",
            F.substring(F.col("__t"), F.col("__pos"), F.lit(min_len)).alias(
                "__sub"
            ),
        )
        .join(index.select("__sub").distinct(), "__sub")
        .select(F.col("__id").alias(id_col), F.col("__pos").alias("pos"))
    )
    return _spans_cut_stats(new_docs, flagged, id_col, text_col, min_len,
                            keep_text)
