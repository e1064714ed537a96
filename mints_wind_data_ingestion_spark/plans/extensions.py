"""Extension queries — the LLM-training-pipeline surface (SURVEY.md
§2.11; BASELINE.json north_star): dedup, similarity search, text
analysis, multimodal columns, over the `documents` / `embeddings`
testdata tables.

Oracle-parity notes (the driver hash-compares against DuckDB):

- Every float the queries emit comes from an EXPLICIT fold written
  identically on both sides (array-order, double accumulator, same
  init), so values are bit-identical, not approximately equal.
- Integer divisions (jaccard, ratios) are exact IEEE ops on small ints
  — identical in any engine.
- MinHash/SimHash/LSH depend on Spark's xxhash64, which DuckDB cannot
  replicate; those queries either carry no oracle (rows-only check) or
  — for the LSH+verify dedup, whose OUTPUT is exact-verified pairs —
  the exact-Jaccard oracle, valid because verification restores
  precision to 1 and pytest pins recall (tests/test_extensions.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    STOPWORDS,
    avg_word_len,
    fingerprint64,  # noqa: F401  (exact-dedup identity; exported surface)
    punct_ratio,
    shingle_docs_pandas,
    stopword_ratio,
    token_count,
    tokens,
    whitespace_ratio,
)
from ..operators.dedup import (
    exact_dedup,
    jaccard_join_adaptive,
    minhash_dedup_pairs,
    simhash_fingerprints,
    substring_dedup,
    substring_excise,
)
from ..operators.similarity import topk_bruteforce, topk_lsh
from ..sources.multimodal import extract_meta, with_payload
from ..caching import managed_cache
from .registry import REGISTRY, query, tables

# ---------------------------------------------------------------------------
# DuckDB oracle fragments (kept in lockstep with functions.text /
# operators.similarity — see module docstring on bit-stability)
# ---------------------------------------------------------------------------

#: whitespace tokenization, empties removed == functions.text.tokens
_D_TOKS = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"

#: distinct word 3-shingles == functions.text.word_shingles(n=3)
_D_SHINGLES = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(toks) - 2, 0)), "
    "i -> array_to_string(toks[i:i+2], ' ')))"
)


def _d_dot(a: str, b: str) -> str:
    """Array-order double dot product == operators.similarity.dot."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )


_D_JACCARD_PAIRS = f"""
    WITH sets AS (
        SELECT doc_id, {_D_SHINGLES} AS sh
        FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
    ),
    sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
    posting AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           n_inter / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.5
"""


#: below this much effective input per scan, the round-robin exchange
#: costs more than the single-core work it parallelizes (measured —
#: see _spread docstring). 16 MB sits ~2.4× under the smallest
#: measured-win operating point (0.59 MB × 64 ≈ 38 MB for the
#: shingle pipelines), so a modestly better-compressed corpus file
#: cannot silently flip the gate and cost those pipelines their ~2×.
_SPREAD_MIN_BYTES = 16 << 20


def _spread(
    df: DataFrame, work_factor: int = 1, by: tuple[str, ...] = ()
) -> DataFrame:
    """Spread an under-split scan across all cores — but only when the
    work is big enough to pay for the exchange.

    documents.parquet is one file → ONE input split, so a CPU-bound
    text pipeline (tokenize → shingle → hash) would otherwise run
    single-threaded regardless of cluster size. One round-robin
    shuffle of the raw rows buys full parallelism for everything
    downstream — at 100 TB that is the difference between one core
    and the cluster.

    Size-aware since r5: an interleaved A/B at sf0.1 (0.6 MB
    single-file documents scan, local[32]) measured the unconditional
    repartition SLOWER nearly everywhere — mm suite 2.13 s vs 1.21 s,
    text suite 2.05 s vs 1.63 s, minhash 3.09 s vs 2.27 s, embedding
    suite 2.15 s vs 1.70 s — because a sub-MB scan finishes on one
    core faster than the shuffle's fixed cost. The one exception was
    decontamination (0.96 s vs 1.71 s), whose 8-gram posting
    explosion multiplies downstream work ~64× past the scan bytes.
    So: spread only when `bytes × work_factor` clears a threshold,
    where `work_factor` is the caller's downstream CPU/bytes
    amplification (shingle explosion, per-pixel decode, …). Callers
    with ~1:1 downstream cost use the default; the threshold keeps
    the no-op at test scale and the full spread at cluster scale.

    Non-local schemes (s3/hdfs) conservatively spread when
    under-split — on a real store the sizes aren't one os.stat away,
    and a wrongly-skipped spread costs minutes while a wrongly-taken
    one costs milliseconds.

    `by`: hash-spread on these columns instead of round-robin. For a
    pipeline whose every downstream groupBy key set CONTAINS `by`
    (e.g. per-document features grouping on (doc_id, n, gram) then
    (doc_id)), HashPartitioning(by) satisfies each agg's clustering
    requirement, so Catalyst elides every post-explode exchange — the
    one compact-row shuffle here replaces N gram-grain shuffles of the
    exploded (many-times-larger) intermediate. Because the savings are
    per-downstream-shuffle rather than per-scan-split, a keyed spread
    skips the enough-native-splits early-out: at cluster scale a
    well-split scan still pays the keyed exchange once to avoid
    re-shuffling the explosion. Keys must hash-distribute well (unique
    ids do); one pathological giant group serializes its own
    aggregation, the same envelope as any per-key grouped map.
    """
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    files = df.inputFiles()
    if not files:
        return df  # in-memory lineage: partitioning already chosen
    if not by and len(files) >= par:
        return df  # enough native splits
    total = _local_input_bytes(files)
    # unknown size (remote store, vanished file): spread
    if total is not None and total * work_factor < _SPREAD_MIN_BYTES:
        return df
    return df.repartition(par, *by) if by else df.repartition(par)


def _local_input_bytes(files: list[str]) -> int | None:
    """Total on-disk bytes of a scan's input files, or None when any
    file is on a remote store (s3/hdfs — sizes aren't one os.stat
    away) or is gone since the scan was planned: either way callers
    must take the conservative at-scale branch. Sizing is advisory,
    so a vanished file is the scan's error to raise, not this one's."""
    from urllib.parse import unquote, urlparse

    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        try:
            total += os.path.getsize(unquote(u.path))
        except OSError:
            return None
    return total


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@query(
    "x_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, text, count(*) AS copies
    FROM documents GROUP BY text
    """,
    tags=("ext", "dedup"))
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents: one representative (lowest doc_id)
    per distinct text. Single shuffle with map-side partial agg; at
    100 TB group on sha2(text, 256) so the shuffle key is 32 bytes,
    not the document body (operators.dedup.exact_dedup docstring)."""
    docs = tables(spark, sf_dir)["documents"]
    return exact_dedup(docs.select("doc_id", "text"), cols=["text"], id_col="doc_id")


#: cross-corpus (incremental) variant of _D_JACCARD_PAIRS: the exact
#: all-pairs join restricted to incoming (doc_id % 3 = 0) × base
#: (doc_id % 3 <> 0) — no a<b order, the sides are asymmetric
_D_JACCARD_CROSS = f"""
    WITH sets AS (
        SELECT doc_id, {_D_SHINGLES} AS sh
        FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
    ),
    sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
    posting AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    inter AS (
        SELECT a.doc_id AS id_new, b.doc_id AS id_base, count(*) AS n_inter
        FROM posting a JOIN posting b ON a.s = b.s
        WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
        GROUP BY 1, 2
    )
    SELECT id_new, id_base,
           n_inter / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_new
    JOIN sizes sb ON sb.doc_id = id_base
    WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.5
"""


@query("x_dedup_incremental", oracle=_D_JACCARD_CROSS,
       tags=("ext", "dedup", "lsh", "incremental"))
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (r7): an incoming batch (doc_id % 3 == 0)
    near-dup-checked AGAINST the existing corpus (the other two
    thirds) via the cross-corpus banded MinHash join
    (operators.dedup.minhash_dedup_pairs_against) — the production
    "reject what the corpus already holds" operator, distinct from
    self-dedup: within-batch pairs are NOT reported, and the base
    side's bucket table is exactly what a steady-state pipeline
    persists between batches. Same (96, 16, 6) band curve as
    x_dedup_minhash, so recall is 1 on this data's j≥0.9 planted
    near-dups and the exact cross all-pairs join is a valid oracle;
    exact-Jaccard verification keeps precision 1."""
    from ..operators.dedup import minhash_dedup_pairs_against

    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=1)
    # split BEFORE the shingle UDTF: a filter above the row node can't
    # push through it, and each side shingles only its own rows anyway
    incoming = shingle_docs_pandas(
        docs.filter(F.col("doc_id") % 3 == 0), "doc_id", "text", 3,
        out="shingles")
    base = shingle_docs_pandas(
        docs.filter(F.col("doc_id") % 3 != 0), "doc_id", "text", 3,
        out="shingles")
    return minhash_dedup_pairs_against(
        incoming, base, "doc_id", "shingles", threshold=0.5,
        num_hashes=96, bands=16, rows_per_band=6,
    )


@query("x_dedup_jaccard", oracle=_D_JACCARD_PAIRS, tags=("ext", "dedup"))
def x_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs n-gram Jaccard set-similarity join (threshold 0.5) —
    the O(n²) pair space is never enumerated. Since r13 the plan is
    SKEW-ADAPTIVE (operators.dedup.jaccard_join_adaptive; VERDICT r12
    "What's wrong" #2): one df-statistics agg over the cached posting
    table routes near-uniform corpora to the inverted-index count
    plan and Zipf-headed corpora (shared boilerplate shingles) to the
    exact PPJoin prefix filter; both plans emit identical rows. Own
    driver slot since r8 (previously verified through
    x_dedup_pairs_suite's hash)."""
    # work_factor=64: the 3-gram shingle explosion dominates this
    # pipeline (A/B: spread-on 1.9x faster for the jaccard/cluster
    # shapes at sf0.1 — see _spread)
    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=64)
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="shingles")
    return jaccard_join_adaptive(with_sh, "doc_id", "shingles", threshold=0.5)


@query("x_dedup_minhash", oracle=_D_JACCARD_PAIRS, tags=("ext", "dedup", "lsh"))
def x_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification
    (threshold 0.5). LSH proposes candidates from banded signatures;
    the verify join restores precision to 1, so the oracle is the
    exact all-pairs join — valid iff recall is 1 on this data, which
    holds because planted near-dups sit at j≥0.9 where the (16, 6)
    band curve detects with P≈1-3e-8, verified pair-for-pair at every
    sf the driver grades (tests pin recall). 96 hashes rather than
    144: same detection power at the data's similarity knee, and the
    narrower aggregate compiles to much less generated code."""
    # work_factor=1, NOT the shingle pipelines' 64: minhash is the one
    # shingle shape where the pre-shuffle spread measured SLOWER —
    # round-6 interleaved same-window A/B: sf0.1 spread-off min 2.37 s
    # vs on 2.92 s (6 reps each), derived sf1 off 5.14 s vs on 5.38 s —
    # while jaccard/editdist re-measured 2.4-3× FASTER spread-on in the
    # same windows (they keep 64). The banded groupBy re-shuffles the
    # signatures almost immediately, so the extra exchange buys little;
    # factor 1 still spreads any genuinely big (>16 MB) single-file
    # corpus, which is the 100 TB case the gate exists for.
    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=1)
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="shingles")
    return minhash_dedup_pairs(
        with_sh, "doc_id", "shingles", threshold=0.5,
        num_hashes=96, bands=16, rows_per_band=6,
    )


#: engine-portable 60-bit shingle hash: both Spark (conv/substr/md5)
#: and DuckDB (hex-literal cast) parse the first 15 hex chars of the
#: md5 digest to the same non-negative bigint — verified equal.
_D_MD5_60 = "CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)"

_D_SIMHASH_PAIRS = f"""
    WITH sets AS (
        SELECT doc_id, {_D_SHINGLES} AS sh
        FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
    ),
    posting AS (
        SELECT doc_id, {_D_MD5_60} AS h
        FROM (SELECT doc_id, unnest(sh) AS s FROM sets)
    ),
    tallies AS (
        SELECT doc_id, j,
               sum((h >> j) & 1) AS c, count(*) AS n
        FROM posting, generate_series(0, 59) t(j)
        GROUP BY doc_id, j
    ),
    sim0 AS (
        SELECT doc_id,
               sum(CASE WHEN 2 * c > n
                        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
        FROM tallies GROUP BY doc_id
    ),
    sim AS (  -- empty-shingle docs fingerprint to 0, as in Spark
        SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN sim0 s ON s.doc_id = d.doc_id
    ),
    banded AS (
        SELECT doc_id, simhash, b AS band,
               (simhash >> (b * 10)) & 1023 AS band_val
        FROM sim, generate_series(0, 5) t(b)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
"""


def _md5_60(s):
    """60-bit shingle hash from the md5 hex prefix — engine-portable
    (DuckDB derives the identical value, _D_MD5_60), non-negative so
    signed/unsigned right shifts agree."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


@query("x_dedup_simhash", oracle=_D_SIMHASH_PAIRS, tags=("ext", "dedup", "lsh"))
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit fingerprints banded into 6×10
    bits; pairs sharing any band are exact-checked by Hamming distance.

    Own driver slot since r7 (VERDICT r6 #3: free slots go to the
    strongest folded components) — the banded-Hamming path's output is
    hash-checked directly, in addition to riding
    x_dedup_pairs_suite's composite.
    Pigeonhole: ≤5 flipped bits cannot touch all 6 bands, so every
    pair within Hamming 5 is GUARANTEED to be proposed — recall is
    exact, not probabilistic.

    The shingle hash is the md5-hex-prefix bigint (_md5_60) rather
    than production xxhash64 precisely so the WHOLE pipeline —
    shingling, per-bit majority vote, banding, Hamming verify — is
    re-derivable in DuckDB SQL: the query is value-hash-verified
    end-to-end by the driver (rows-only in rounds 1-2; VERDICT r2
    "Next round" #3). `simhash_fingerprints(hash_fn=...)` keeps
    xxhash64 as the library default for the 100 TB hot path; only the
    hash family differs, never the plan shape (banded equi-join,
    bucketed, never all-pairs)."""
    # work_factor=64: the 3-gram shingle explosion dominates this
    # pipeline (A/B: spread-on 1.9x faster for the jaccard/cluster
    # shapes at sf0.1 — see _spread)
    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=64)
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="sh0")
    return simhash_pairs_from_shingles(with_sh, shingle_col="sh0")


def simhash_pairs_from_shingles(
    with_sh: DataFrame, shingle_col: str = "sh0"
) -> DataFrame:
    """Banded-SimHash near-dup pairs from an ALREADY-SHINGLED corpus
    (doc_id + raw shingle multiset) — the x_dedup_simhash pipeline
    minus its shingle pass, so a composite that also runs the Jaccard
    join can feed both from one persisted shingling.

    Set semantics (array_distinct) mirror the oracle's list_distinct
    shingle sets — shingle_docs_pandas emits the multiset (its
    docstring's contract). The fingerprint table (one (id, long) row
    per doc) is cached because both sides of the band self-join read
    it; the upstream shingle+fingerprint pipeline runs once.

    r13 (VERDICT r12 "What's wrong" #1): the band self-join collapses
    IDENTICAL FINGERPRINTS before banding
    (operators.dedup.banded_hamming_pairs) — boilerplate-identical
    documents (empty pages, templated stubs) all SimHash to the same
    60 bits, and banding every row would shuffle m²/2 candidates × 6
    bands per hot cluster; distinct fingerprints band-join,
    membership joins expand, output row-for-row identical."""
    from ..operators.dedup import banded_hamming_pairs

    sets = with_sh.select(
        "doc_id", F.array_distinct(shingle_col).alias("sh")
    )
    fp = managed_cache(simhash_fingerprints(
        sets, "doc_id", "sh", hash_fn=_md5_60, nbits=60,
    ))
    return banded_hamming_pairs(
        fp, "doc_id", "simhash", nbits=60, bands=6, max_hamming=5
    )


#: 5-gram shingles for edit-distance blocking: in this corpus's small
#: vocabulary, 3-grams are stopword-common (rare-cap blocking yields
#: 11 533 candidates at sf0.01) while 5-grams are discriminative (37
#: candidates for the same 25 true pairs) — rarity, not length, is
#: what blocking needs.
_D_SHINGLES_5 = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(toks) - 4, 0)), "
    "i -> array_to_string(toks[i:i+4], ' ')))"
)

_D_EDITDIST_PAIRS = f"""
    WITH sets AS (
        SELECT doc_id, {_D_SHINGLES_5} AS sh
        FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
    ),
    posting AS (
        SELECT doc_id, {_D_MD5_60} AS s
        FROM (SELECT doc_id, unnest(sh) AS s FROM sets)
    ),
    rare AS (SELECT s FROM posting GROUP BY s
             HAVING count(*) BETWEEN 2 AND 10),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM posting a JOIN rare USING (s) JOIN posting b USING (s)
        WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
    FROM cand
    JOIN documents ta ON ta.doc_id = id_a
    JOIN documents tb ON tb.doc_id = id_b
    WHERE levenshtein(ta.text, tb.text)
          <= ceil(0.2 * greatest(len(ta.text), len(tb.text)))
"""


@query("x_dedup_editdist", oracle=_D_EDITDIST_PAIRS, tags=("ext", "dedup"))
def x_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own driver slot since r7 (VERDICT r6 #3) — the rare-shingle
    blocking + Levenshtein verify path carries the hard hash signal
    directly, in addition to riding x_dedup_pairs_suite's composite.

    Edit-distance (Levenshtein) near-dup pairs with rare-shingle
    blocking — the character-level member of the dedup family
    (operators.dedup.editdist_dedup_pairs): docs sharing a rare word
    5-gram are candidates; pairs within 20% relative edit distance
    survive the JVM-codegen Levenshtein verify. The blocking hash is
    the md5-prefix bigint (_md5_60) so BOTH engines derive the
    identical posting groups — even a hash collision cannot split the
    candidate sets — making the oracle exact; the library default
    stays xxhash64 for the 100 TB hot path (same convention as
    x_dedup_simhash)."""
    from ..operators.dedup import editdist_dedup_pairs

    # work_factor=64: the 5-gram shingle explosion dominates, same
    # shape as the other shingle pipelines (see _spread)
    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=64)
    return editdist_dedup_pairs(
        docs, "doc_id", "text",
        shingle_n=5, max_rel_dist=0.2, rare_cap=10, hash_fn=_md5_60,
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_D_SIM_TOPK = f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
    scored AS (
        SELECT qid AS query_id, c.vec_id AS neighbor_id,
               {_d_dot("qv", "c.embedding")}
               / (sqrt({_d_dot("qv", "qv")}) * sqrt({_d_dot("c.embedding", "c.embedding")}))
               AS cosine_sim
        FROM q, embeddings c WHERE c.vec_id <> qid
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 10
"""


@query("x_sim_topk_bruteforce", oracle=_D_SIM_TOPK, tags=("ext", "similarity"), driver=False)
def x_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for 8 probe vectors: broadcast the
    probe side across the candidate scan, one shuffle for the per-query
    top-k window (operators.similarity.topk_bruteforce). The emitted
    similarity is bit-identical to the oracle's explicit fold."""
    emb = _spread(tables(spark, sf_dir)["embeddings"])
    probes = emb.filter(F.col("vec_id") < 8)
    return topk_bruteforce(probes, emb, k=10, dim=64)


def _lsh_oracle(dim: int = 64, bits: int = 6, n_tables: int = 8,
                seed: int = 7, k: int = 10) -> str:
    """DuckDB re-derivation of the full multi-probe hyperplane-LSH
    pipeline. The hyperplanes are deterministic LCG-generated literals
    (operators.similarity._hyperplanes) — the SAME Python values are
    embedded here as a VALUES table, and every arithmetic step (array-
    order dot fold, sign bit, bucket assembly, 1-flip probing, exact
    cosine rerank) is written to be bit-identical, so the candidate
    sets and therefore the top-k agree exactly between engines."""
    from ..operators.similarity import _hyperplanes

    rows = []
    for t in range(n_tables):
        for j, w in enumerate(_hyperplanes(dim, bits, t, seed)):
            arr = ", ".join(repr(x) for x in w)
            rows.append(f"({t}, {j}, [{arr}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
    WITH hp(tbl, bit, w) AS (VALUES {values}),
    dots AS (
        SELECT e.vec_id, h.tbl, h.bit,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(generate_series(1, {dim}),
                       i -> CAST(e.embedding[i] AS DOUBLE) * h.w[i])),
                   (a, x) -> a + x) AS d
        FROM embeddings e, hp h
    ),
    buckets AS (
        SELECT vec_id, tbl,
               sum(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << bit)
                        ELSE CAST(0 AS BIGINT) END) AS bucket
        FROM dots GROUP BY vec_id, tbl
    ),
    probes AS (
        SELECT vec_id AS query_id, tbl,
               CASE WHEN f < 0 THEN bucket
                    ELSE xor(bucket, CAST(1 AS BIGINT) << f) END AS bucket
        FROM buckets, generate_series(-1, {bits - 1}) t(f)
        WHERE vec_id < 8
    ),
    pairs AS (
        SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
        FROM probes p JOIN buckets c ON c.tbl = p.tbl AND c.bucket = p.bucket
        WHERE c.vec_id <> p.query_id
    ),
    scored AS (
        SELECT p.query_id, p.neighbor_id,
               {_d_dot("q.embedding", "c.embedding")}
               / (sqrt({_d_dot("q.embedding", "q.embedding")})
                  * sqrt({_d_dot("c.embedding", "c.embedding")})) AS cosine_sim
        FROM pairs p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = p.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@query("x_sim_topk_lsh", oracle=_lsh_oracle(), tags=("ext", "similarity", "lsh"))
def x_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via multi-probe random-hyperplane LSH
    (8 tables × 6 bits, 1-flip probing), exact cosine rerank of
    co-bucketed candidates. Multi-probe reaches HIGHER recall than the
    16-table single-probe configuration it replaced (measured 0.91 vs
    0.59 at sf0.001) with HALF the index entries per vector — the
    query side fans out 7×, but queries are the tiny side.

    Value-verified end-to-end (rows-only in rounds 1-2): the
    hyperplanes are deterministic driver-side literals, so the DuckDB
    oracle (_lsh_oracle) embeds the identical constants and replays
    bucketing, probing, and rerank bit-for-bit — the driver hash now
    certifies the approximate candidate structure itself, not just
    that reported similarities are exact (pytest keeps pinning recall
    vs brute force)."""
    # _spread: the single-file embeddings scan would otherwise run the
    # (interpreted-HOF) bucket folds on one core
    emb = _spread(tables(spark, sf_dir)["embeddings"])
    probes = emb.filter(F.col("vec_id") < 8)
    return topk_lsh(
        probes, emb, k=10, dim=64, bits=6, tables=8, multiprobe=True
    )


_D_EMB_NEARDUP = f"""
    WITH n AS (
        SELECT vec_id, embedding,
               sqrt({_d_dot("embedding", "embedding")}) AS nrm
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_d_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS c
        FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(c, 6) AS cosine_sim
    FROM scored WHERE c >= 0.4
"""


@query("x_dedup_embedding", oracle=_D_EMB_NEARDUP, tags=("ext", "dedup", "similarity"), driver=False)
def x_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4): the dense
    twin of the shingle dedups — every pair of vectors whose cosine
    clears the threshold, id_a < id_b.

    Dense all-pairs scoring is BLAS, not a row join
    (operators.similarity.cosine_pairs_blockwise): rows hash into
    blocks, every block pair becomes one applyInPandas group scored by
    a single dgemm — fully distributed, nothing pulled to the driver,
    executor memory bounded by two blocks. Emitted similarities are
    rounded to 6 decimals by the blockwise contract (BLAS vs
    sequential-fold accumulation differ by ~1 ulp) and the oracle
    rounds identically.
    """
    from ..operators.similarity import cosine_pairs_blockwise

    emb = _spread(tables(spark, sf_dir)["embeddings"])
    return cosine_pairs_blockwise(
        emb, "vec_id", "embedding", threshold=0.4, round_to=6
    )


_D_GRID_STATS = """
    WITH cells AS (
        SELECT label,
               CAST(floor((i - 1) / 8) AS BIGINT) AS lat_band,
               CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, generate_series(1, 64) t(i)
    )
    SELECT label, lat_band,
           count(*) AS cell_cnt,
           min(v) AS vmin,
           max(v) AS vmax,
           sum(CAST(floor(v * 1000000) AS BIGINT)) / count(*) / 1000000 AS vavg_q
    FROM cells GROUP BY label, lat_band
"""


@query("x_grid_stats", oracle=_D_GRID_STATS, tags=("ext", "grid", "wind"), driver=False)
def x_grid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid statistics over raster arrays — SURVEY.md §2.4's implied
    consumer-side aggregation (min/max/avg per lat band for the viz
    color scale), exercised here with embeddings as stand-in 8×8
    rasters and `label` as the per-time key; the wind path is identical
    with data=65k floats and C13's lat(i) = 90 − ⌊i/360⌋.

    posexplode → hash aggregate with map-side partials: the 64×
    row multiplication never crosses a shuffle un-aggregated. The mean
    is computed over ×10⁶-quantized integers so accumulation is exact
    and order-independent (float sums would differ bit-wise between
    engines and partitionings); min/max are order-insensitive already.
    """
    emb = tables(spark, sf_dir)["embeddings"]
    cells = emb.select(
        "label", F.posexplode("embedding").alias("pos", "value")
    ).select(
        "label",
        F.floor(F.col("pos") / 8).alias("lat_band"),
        F.col("value").cast("double").alias("v"),
    )
    return cells.groupBy("label", "lat_band").agg(
        F.count(F.lit(1)).alias("cell_cnt"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        (
            F.sum(F.floor(F.col("v") * 1000000).cast("bigint"))
            / F.count(F.lit(1))
            / 1000000
        ).alias("vavg_q"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "x_text_quality",
    oracle=f"""
    WITH base AS (SELECT doc_id, n_chars, text, {_D_TOKS} AS toks FROM documents)
    SELECT doc_id, n_chars,
           len(toks) AS token_cnt,
           CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               list_reduce(list_prepend(0, list_transform(toks, t -> length(t))),
                           (a, x) -> a + x) / len(toks) END AS avg_word_len,
           length(regexp_replace(text, '[^[:punct:]]', '', 'g')) /
               length(text) AS punct_ratio,
           length(regexp_replace(text, '[^[:space:]]', '', 'g')) /
               length(text) AS ws_ratio,
           CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               len(list_filter(toks, t -> list_contains(
                   ['the','and','of','to','a','in','is','that','it','for'],
                   lower(t)))) / len(toks) END AS stopword_en
    FROM base
    """,
    tags=("ext", "text"),
 driver=False)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: token count, mean word length,
    punctuation/whitespace ratios, English stopword ratio — one narrow
    codegen'd projection, zero shuffles, zero UDFs (functions.text)."""
    docs = _spread(tables(spark, sf_dir)["documents"])
    return docs.select(
        "doc_id",
        "n_chars",
        token_count("text").alias("token_cnt"),
        avg_word_len("text").alias("avg_word_len"),
        punct_ratio("text").alias("punct_ratio"),
        whitespace_ratio("text").alias("ws_ratio"),
        stopword_ratio("text", "en").alias("stopword_en"),
    )


def _d_stop_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE "
        f"len(list_filter(toks, t -> list_contains([{words}], lower(t)))) "
        "/ len(toks) END"
    )


@query(
    "x_lang_id",
    oracle=f"""
    WITH base AS (SELECT doc_id, lang, {_D_TOKS} AS toks FROM documents),
    sc AS (
        SELECT doc_id, lang,
               {_d_stop_score("de")} AS s_de, {_d_stop_score("en")} AS s_en,
               {_d_stop_score("es")} AS s_es, {_d_stop_score("fr")} AS s_fr
        FROM base
    ),
    m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr) AS score FROM sc)
    SELECT doc_id, lang,
           CASE WHEN s_de = score THEN 'de' WHEN s_en = score THEN 'en'
                WHEN s_es = score THEN 'es' ELSE 'fr' END AS lang_pred,
           score
    FROM m
    """,
    tags=("ext", "text"),
 driver=False)
def x_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID: score each candidate language, take
    the argmax (ties → first language in 'de','en','es','fr' order).
    A production variant broadcasts a fuller stopword dimension and
    scores via one exploded join (J5 pattern); four inline score
    columns keep this entirely inside whole-stage codegen."""
    docs = _spread(tables(spark, sf_dir)["documents"])
    langs = sorted(STOPWORDS)  # de, en, es, fr
    scored = docs.select(
        "doc_id",
        "lang",
        *[stopword_ratio("text", lg).alias(f"s_{lg}") for lg in langs],
    ).withColumn("score", F.greatest(*[F.col(f"s_{lg}") for lg in langs]))
    pred = F.when(F.col("s_de") == F.col("score"), "de")
    for lg in ("en", "es"):
        pred = pred.when(F.col(f"s_{lg}") == F.col("score"), lg)
    return scored.select(
        "doc_id", "lang", pred.otherwise("fr").alias("lang_pred"), "score"
    )


@query(
    "x_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, length(text)),
                              i -> CAST(ord(text[i]) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
    FROM documents
    """,
    tags=("ext", "text"),
 driver=False)
def x_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash (base 31 mod 1e9+7) over the document's
    characters — classic content fingerprint. Arrow-vectorized
    (functions.text.rolling_fingerprint): the expression-fold twin is
    value-identical but interpreted per character; the mod-Horner
    unroll is exact in int64 — identical integer arithmetic on both
    engines either way."""
    from ..functions.text import rolling_fingerprint

    docs = _spread(tables(spark, sf_dir)["documents"])
    return docs.select(
        "doc_id", rolling_fingerprint("text").alias("fingerprint")
    )


@query(
    "x_token_topk",
    oracle=f"""
    SELECT tok AS token, count(*) AS cnt
    FROM (SELECT unnest({_D_TOKS}) AS tok FROM documents)
    GROUP BY 1 ORDER BY cnt DESC, token ASC LIMIT 20
    """,
    tags=("ext", "text"),
 driver=False)
def x_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-20: explode → hash-aggregate (partial
    map-side) → TakeOrderedAndProject. The (cnt, token) tiebreak makes
    the top-20 set unique, so the order-insensitive hash is stable."""
    docs = _spread(tables(spark, sf_dir)["documents"])
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(20)
    )


# fixed retrieval workload: 3 queries over the corpus vocabulary; the
# terms are literals so the oracle can embed them (engine-free) and the
# broadcast term filter is a plan constant
_BM25_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (1, ("hash", "join")),
    (2, ("fast", "vector", "scan")),
    (3, ("window", "agg", "stream")),
)
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 10
#: the workload as (query_id, term) rows — the single source the
#: oracles' VALUES lists, the table-variant's input DataFrame, and
#: the IN-list prune all derive from
_BM25_QROWS = [
    (qid, t) for qid, ts in _BM25_QUERIES for t in sorted(set(ts))
]


def _bm25_oracle(decimal_sum: bool = False) -> str:
    """Engine-free BM25 oracle over the fixed workload. `decimal_sum`
    mirrors the table-variant's DECIMAL(28,12) per-(query, doc)
    reduction; False mirrors the constant-term variant's double
    chain (both agree to 1e-6 on this workload — pytest pins it)."""
    vals = ", ".join(f"({qid}, '{t}')" for qid, t in _BM25_QROWS)
    terms = ", ".join(sorted({f"'{t}'" for _, t in _BM25_QROWS}))
    term_score = f"""
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                   * tf * ({_BM25_K1} + 1)
                   / (tf + {_BM25_K1}
                      * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))"""
    if decimal_sum:
        qsum = f"CAST(SUM(CAST({term_score} AS DECIMAL(28,12))) AS DOUBLE)"
    else:
        qsum = f"SUM({term_score})"
    return f"""
    WITH q(query_id, term) AS (VALUES {vals}),
    base AS (SELECT doc_id, len({_D_TOKS}) AS dl,
                    list_filter({_D_TOKS}, t -> t IN ({terms})) AS qtoks
             FROM documents),
    stats AS (SELECT count(*) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM base),
    tf AS (SELECT doc_id, dl, tok AS term, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(qtoks) AS tok FROM base)
           GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               CAST(ROUND({qsum} * 1000000) AS BIGINT) AS score_e6
        FROM q JOIN tf USING (term) JOIN dfreq USING (term), stats
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score_e6, rnk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY score_e6 DESC, doc_id ASC) AS rnk
          FROM scored)
    WHERE rnk <= {_BM25_TOPK}
    """


def _bm25_salt_buckets(raw) -> int:
    """Size gate shared by both BM25 queries: below ~256 MB a query's
    matched set is at most a few million rows — one reducer ranks that
    faster than the pruning window's extra stage costs (A/B at sf0.1:
    1.25 s vs 1.47 s). Above it (or on a remote store) the salted
    two-phase path is mandatory: Window.partitionBy(query_id) alone
    would funnel every matching document of a query through one
    task."""
    nbytes = _local_input_bytes(raw.inputFiles())
    return 1 if nbytes is not None and nbytes < (256 << 20) else 32


@query("x_bm25_topk", oracle=_bm25_oracle(), tags=("ext", "text", "retrieval"))
def x_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query for a fixed 3-query workload — lexical
    retrieval over `documents` (operators.retrieval.bm25_topk: one
    term-pruned corpus pass, broadcast df/idf, salted two-phase
    top-k). Scores ride the hash as round(score·1e6) bigints; ties
    rank by doc_id, so the result set is fully deterministic.

    Driver-verified since r7 (VERDICT r6 #5): the constant-term path
    previously rode x_text_suite's composite hash; with free driver
    slots the strongest retrieval operator carries the hard signal on
    BOTH paths (this one and x_bm25_table) independently."""
    from ..operators.retrieval import bm25_topk

    # work_factor: ~17 codegen'd regex scans per row (8 terms × 2
    # passes + dl) ≫ scan bytes — interleaved A/B at sf0.1 measured
    # the spread 1.11 s vs 1.69 s unspread (min of 4)
    raw = tables(spark, sf_dir)["documents"]
    docs = _spread(raw, work_factor=32)
    return bm25_topk(
        docs, _BM25_QUERIES, k1=_BM25_K1, b=_BM25_B, k=_BM25_TOPK,
        salt_buckets=_bm25_salt_buckets(raw),
    )


@query("x_bm25_table", oracle=_bm25_oracle(decimal_sum=True),
       tags=("ext", "text", "retrieval"))
def x_bm25_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 via the posting-join path (bm25_topk_table): the
    query workload arrives as a (query_id, term) DataFrame rather than
    plan constants — the shape that scales to thousands of queries
    with a fixed-size plan. The per-(query, doc) score sums through
    DECIMAL(28,12) so the shuffle-ordered term partials reduce
    deterministically (registry determinism contract). Runs the same
    fixed workload as x_bm25_topk; pytest pins the two paths equal.

    Driver-verified since r6 (VERDICT r5 #1): its own slot (27th) so
    the posting-join path's output is hash-checked directly, not just
    through the pytest mirror's path-equality differential."""
    from ..operators.retrieval import bm25_topk_table

    raw = tables(spark, sf_dir)["documents"]
    docs = _spread(raw, work_factor=32)
    qdf = spark.createDataFrame(_BM25_QROWS, "query_id long, term string")
    return bm25_topk_table(
        docs, qdf, k1=_BM25_K1, b=_BM25_B, k=_BM25_TOPK,
        salt_buckets=_bm25_salt_buckets(raw),
    )


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@query(
    "x_mm_decode",
    oracle="""
    WITH codes AS (
        SELECT doc_id, octet_length(encode(text)) AS n_bytes,
               CAST(ord(text[1]) AS INT) AS first_byte,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(text)),
                                  i -> CAST(ord(text[i]) AS BIGINT))),
                   (a, x) -> a + x) % 65521 AS checksum
        FROM documents
    )
    SELECT doc_id, n_bytes, first_byte, checksum,
           CAST(16 + checksum % 32 AS INT) AS width,
           CAST(16 + first_byte % 32 AS INT) AS height
    FROM codes
    """,
    tags=("ext", "multimodal"))
def x_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own driver slot since r7 (VERDICT r6 #3) — the multimodal
    decode UDTF's output is hash-checked directly, in addition to
    riding x_layout_mm_suite's composite.

    Multimodal metadata extraction: binary payload column →
    the Arrow row node's 'decode' → typed metadata struct
    (sources.multimodal). The decode here is the deterministic
    byte-stats fake (real image/audio decoders are stubbed — not in
    this container), but the plumbing (binary column, Arrow batch
    shape, UDTF schema, executor-side projection) is the production
    path, and the oracle checks the real per-byte arithmetic."""
    docs = _spread(tables(spark, sf_dir)["documents"])
    return extract_meta(with_payload(docs, "text"), id_col="doc_id")


@query(
    "x_token_bpe",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
               AS bpe_cnt,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS ws_cnt
    FROM documents
    """,
    tags=("ext", "text", "tokens"),
 driver=False)
def x_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (north-star text surface): whitespace
    tokens and a BPE-ish pre-tokenizer regex (letter runs | digit runs
    | single non-alnum symbol — the split shape GPT-2-family BPE
    applies before merges). Pure regexp_extract_all, codegen'd; the
    pattern uses only constructs with identical semantics in Java
    regex and RE2, so the oracle is exact."""
    docs = _spread(tables(spark, sf_dir)["documents"])
    bpe = F.regexp_extract_all(
        F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), F.lit(0)
    )
    return docs.select(
        "doc_id",
        F.size(bpe).alias("bpe_cnt"),
        token_count("text").alias("ws_cnt"),
    )


_D_MM_TRANSFORM = """
    WITH d AS (
        SELECT doc_id, 16 + doc_id % 13 AS w, 16 + (doc_id * 3) % 11 AS h
        FROM documents WHERE doc_id % 5 = 0
    ),
    cell AS (
        SELECT doc_id, w, h,
               least(CAST(floor((i + 0.5) * h / 8.0) AS BIGINT), h - 1) AS sy,
               least(CAST(floor((j + 0.5) * w / 8.0) AS BIGINT), w - 1) AS sx
        FROM d,
             LATERAL unnest(generate_series(0, 7)) AS a(i),
             LATERAL unnest(generate_series(0, 7)) AS b(j)
    ),
    px AS (
        SELECT doc_id, c.c AS c,
               (doc_id * 7 + sx * 3 + sy * 5 + c.c * 11) % 256 AS v
        FROM cell, LATERAL unnest(generate_series(0, 2)) AS c(c)
    )
    SELECT doc_id,
           CAST(8 AS INT) AS out_width, CAST(8 AS INT) AS out_height,
           CAST(floor(CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS DOUBLE)
                      / 64.0 * 1e6 + 0.5) AS BIGINT) AS mean_r_e6,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST(sum(v * v) AS BIGINT) AS px_sumsq
    FROM px GROUP BY doc_id
"""


@query("x_mm_transform", oracle=_D_MM_TRANSFORM, tags=("ext", "multimodal"), driver=False)
def x_mm_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full media-transform pipeline, driver-verified end-to-end:
    synthesize a REAL 24-bit BMP per document (closed-form pixels,
    varied dimensions), then decode → nearest-neighbor resize to 8×8 →
    feature-extract → re-encode (sources.multimodal.transform_images),
    then DECODE THE RE-ENCODED payload and emit exact integer pixel
    moments (resized_pixel_moments). Because the synth pixels are a
    pure function of doc_id, the oracle recomputes the resized moments
    in closed form — any bit wrong anywhere in the two codec passes,
    the half-pixel-center resize grid, or the feature means breaks the
    hash. Three chained Arrow row-node passes, narrow end-to-end:
    the 100 TB shape is a binaryFile scan in place of the synth."""
    from ..sources.multimodal import (
        resized_pixel_moments,
        synth_bmp_corpus,
        transform_images,
    )

    # deterministic 1-in-5 subset: the pipeline's coverage is
    # per-pixel-function, not per-doc — a fifth of the corpus pins the
    # same code paths at a fifth of the (Python codec) cost
    docs = _spread(
        tables(spark, sf_dir)["documents"]
        .select("doc_id").filter(F.col("doc_id") % 5 == 0)
    )
    tr = transform_images(synth_bmp_corpus(docs), 8, 8)
    mom = resized_pixel_moments(tr)
    return mom.select(
        "doc_id", "out_width", "out_height",
        F.floor(F.col("mean_r") * F.lit(1e6) + F.lit(0.5)).cast("long")
        .alias("mean_r_e6"),
        "px_sum", "px_sumsq",
    )


def _bpe_oracle(sf_dir: str, n_merges: int = 24) -> str:
    """DuckDB replay of the full trained-BPE corpus encode, with the
    merge sequence re-derived ENGINE-FREE from the parquet
    (functions.bpe.bpe_merges_local — the ivf_centroids_local move).

    The per-word merge application uses greedy leftmost
    non-overlapping pair replacement; wrapping every symbol as
    chr(1)·sym·chr(2) makes one `replace()` pass over the wrapped
    string EXACTLY that operation (each match consumes its own
    delimiters, so adjacent matches never share characters, and SQL
    replace scans left-to-right continuing after each replacement —
    the same walk apply_merges_py does). A recursive CTE steps the
    distinct-word table through the merges in training order; docs
    then join their word sequence back and aggregate in order."""
    from ..functions.bpe import bpe_merges_local

    merges = bpe_merges_local(sf_dir, n_merges)

    def esc(s: str) -> str:
        return s.replace("'", "''")

    if merges:
        values = ", ".join(
            f"({i}, '{esc(a)}', '{esc(b)}')" for i, (a, b) in enumerate(merges)
        )
        mm_cte = f"""
    m(idx, a, b) AS (VALUES {values}),
    mm AS (
        SELECT idx,
               chr(1)||a||chr(2)||chr(1)||b||chr(2) AS pat,
               chr(1)||a||b||chr(2) AS rep
        FROM m
    ),"""
    else:
        mm_cte = """
    mm(idx, pat, rep) AS (SELECT 0, '', '' WHERE FALSE),"""
    return f"""
    WITH RECURSIVE{mm_cte}
    docs_w AS (
        SELECT doc_id, i AS pos, lower(ws[i]) AS word
        FROM (SELECT doc_id, {_D_TOKS} AS ws FROM documents),
             LATERAL unnest(generate_series(1, len(ws))) AS t(i)
    ),
    words AS (SELECT DISTINCT word FROM docs_w),
    enc AS (
        SELECT word, 0 AS step,
               list_aggregate(
                   list_transform(generate_series(1, len(word)),
                                  i -> chr(1)||word[i]||chr(2)),
                   'string_agg', '')
               || chr(1) || '</w>' || chr(2) AS s
        FROM words
        UNION ALL
        SELECT e.word, e.step + 1, replace(e.s, mm.pat, mm.rep)
        FROM enc e JOIN mm ON mm.idx = e.step
    ),
    wtoks AS (
        SELECT word,
               CAST(len(s) - len(replace(s, chr(1), '')) AS BIGINT) AS n_toks,
               replace(replace(replace(s, chr(2)||chr(1), ' '),
                               chr(1), ''), chr(2), '') AS toks
        FROM enc WHERE step = {len(merges)}
    ),
    per_doc AS (
        SELECT d.doc_id,
               CAST(sum(w.n_toks) AS BIGINT) AS n_bpe_tokens,
               string_agg(w.toks, ' ' ORDER BY d.pos) AS bpe_text
        FROM docs_w d JOIN wtoks w USING (word)
        GROUP BY d.doc_id
    )
    SELECT doc_id,
           coalesce(p.n_bpe_tokens, 0) AS n_bpe_tokens,
           coalesce(p.bpe_text, '') AS bpe_text
    FROM documents LEFT JOIN per_doc p USING (doc_id)
    """


@query("x_bpe_encode", oracle=_bpe_oracle, tags=("ext", "text", "bpe"))
def x_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-BPE corpus tokenization end-to-end: learn 24 merges
    from the corpus's word-frequency table (train_bpe_merges_auto —
    the vocab-sized iteration state collapses to one bounded pull
    under the size gate, the CC local-solve posture; at 100 TB vocabs
    the distributed per-round loop runs instead), then encode EVERY
    document with the learned merges in one Arrow row-node
    pass (functions.bpe.encode_corpus). Emits per doc the BPE token
    count and the full space-joined token string, so the driver hash
    pins every merge application bit-for-bit. The oracle re-derives
    the merges engine-free and replays the encode in pure SQL."""
    from ..functions.bpe import (
        encode_corpus,
        train_bpe_merges_auto,
        word_frequencies,
    )

    docs = _spread(tables(spark, sf_dir)["documents"])
    merges = train_bpe_merges_auto(word_frequencies(docs), n_merges=24)
    enc = encode_corpus(docs, merges, id_col="doc_id", text_col="text")
    return enc.select(
        "doc_id",
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.concat_ws(" ", F.col("bpe_tokens")).alias("bpe_text"),
    )


@query(
    "x_approx_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
    tags=("ext", "sketch"),
    driver=False,
)
def x_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct users per event type next to
    the exact count — the sketch path for 100 TB cardinality work
    (one pass, fixed memory, mergeable across partitions; exact
    count(DISTINCT) is a two-phase shuffle of every distinct value).

    HLL estimates are implementation-specific, so the raw estimate
    cannot be hash-compared against DuckDB. Instead the query emits the
    sketch's accuracy CONTRACT as data: `approx_within_5pct` is
    computed from the estimate against the exact count, and the oracle
    asserts it is TRUE for every group — the driver hash now fails if
    the sketch ever drifts past its tolerance (plus the exact counts
    are value-checked as before). The raw estimate is pinned separately
    by pytest (≤5% relative error, tests/test_extensions.py)."""
    ev = tables(spark, sf_dir)["events"]
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    rel_err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")
    return agg.select(
        "event_type", "exact_users", (rel_err <= F.lit(0.05)).alias("approx_within_5pct")
    )


@query(
    "x_approx_quantiles",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    exact AS (
        SELECT event_type,
               CAST(floor(min(CASE WHEN rn >= ceil(0.50 * n) THEN value END)
                          * 1e6 + 0.5) AS BIGINT) AS p50_e6,
               CAST(floor(min(CASE WHEN rn >= ceil(0.90 * n) THEN value END)
                          * 1e6 + 0.5) AS BIGINT) AS p90_e6,
               CAST(floor(min(CASE WHEN rn >= ceil(0.99 * n) THEN value END)
                          * 1e6 + 0.5) AS BIGINT) AS p99_e6
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, p50_e6, p90_e6, p99_e6,
           TRUE AS sketch_within_rank_err
    FROM exact
    """,
    tags=("ext", "sketch"),
    driver=False,
)
def x_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile SKETCH next to exact percentiles — the one-pass
    fixed-memory mergeable path for 100 TB distribution work
    (percentile_approx = Greenwald-Khanna; exact percentiles are a
    full sort per group). Sketch outputs are implementation-specific,
    so (the x_approx_distinct move) the query emits the sketch's
    accuracy CONTRACT as data: with accuracy=1000 the returned value's
    RANK must lie within n/1000 of the target rank — the driver hash
    fails if the sketch ever drifts. Exact p50/p90/p99 (e6-quantized)
    are value-checked directly against DuckDB's rank-based derivation."""
    ev = tables(spark, sf_dir)["events"]
    appr = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 1000).alias("approx"),
        F.count(F.lit(1)).alias("n"),
    )
    # exact discrete percentiles the scalable way — rank window, not a
    # per-group collected array (a_percentiles_disc's shape)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def disc(p: float) -> F.Column:
        return F.min(
            F.when(F.col("rn") >= F.ceil(F.lit(p) * F.col("n")), F.col("value"))
        )

    exact = r.groupBy("event_type").agg(
        F.floor(disc(0.5) * F.lit(1e6) + F.lit(0.5)).alias("p50_e6"),
        F.floor(disc(0.9) * F.lit(1e6) + F.lit(0.5)).alias("p90_e6"),
        F.floor(disc(0.99) * F.lit(1e6) + F.lit(0.5)).alias("p99_e6"),
    )
    # sketch contract: rank(approx value) within n/accuracy of the
    # target rank — one broadcast join + conditional counts
    ranks = (
        ev.join(F.broadcast(appr), "event_type")
        .groupBy("event_type")
        .agg(
            *[
                F.sum(
                    (F.col("value") <= F.element_at(F.col("approx"), i + 1))
                    .cast("long")
                ).alias(f"r{i}")
                for i in range(3)
            ],
            F.first("n").alias("n"),
        )
    )
    checks = [
        F.abs(F.col(f"r{i}") - F.ceil(F.lit(p) * F.col("n")))
        <= F.col("n") / F.lit(1000) + F.lit(1)
        for i, p in enumerate((0.5, 0.9, 0.99))
    ]
    ok = checks[0] & checks[1] & checks[2]
    return exact.join(
        ranks.select("event_type", ok.alias("sketch_within_rank_err")),
        "event_type",
    )


def _ivf_oracle(
    sf_dir: str,
    n_cells: int = 16,
    iters: int = 5,
    nprobe: int = 8,
    k: int = 10,
) -> str:
    """DuckDB re-derivation of the full IVF pipeline, with the TRAINED
    centroids embedded as literals — the LSH oracle's hyperplane-
    literal move, extended to data-derived constants (lazy oracle,
    resolved per sf_dir). `ivf_centroids_local` recomputes the Spark
    trainer's exact numpy output from the parquet alone; assignment
    then replays as rank-1 over dot products (the argmax is invariant
    to the query-side normalization the numpy path applies, so the
    raw-embedding dot gives the same order; ties break on cell id —
    the trainer's stable argsort guarantees the same total order)."""
    from ..operators.similarity import ivf_centroids_local

    C = ivf_centroids_local(sf_dir, n_cells=n_cells, iters=iters)
    rows = []
    for c in range(n_cells):
        arr = ", ".join(repr(float(x)) for x in C[c])
        rows.append(f"({c}, [{arr}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
    WITH cent(cell, w) AS (VALUES {values}),
    cd AS (
        SELECT vec_id AS neighbor_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_d_dot("e.embedding", "c.w")} DESC, c.cell ASC
                   ) AS rn
            FROM embeddings e, cent c
        ) WHERE rn = 1
    ),
    qp AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_d_dot("e.embedding", "c.w")} DESC, c.cell ASC
                   ) AS rn
            FROM embeddings e, cent c WHERE e.vec_id < 8
        ) WHERE rn <= {nprobe}
    ),
    pairs AS (
        SELECT DISTINCT q.query_id, cd.neighbor_id
        FROM qp q JOIN cd ON cd.cell = q.cell
        WHERE cd.neighbor_id <> q.query_id
    ),
    scored AS (
        SELECT p.query_id, p.neighbor_id,
               {_d_dot("q.embedding", "c.embedding")}
               / (sqrt({_d_dot("q.embedding", "q.embedding")})
                  * sqrt({_d_dot("c.embedding", "c.embedding")})) AS cosine_sim
        FROM pairs p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = p.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS INT) AS rank FROM scored
    ) WHERE rank <= {k}
    """


def _ivf_index_path(sf_dir: str) -> str:
    """Deterministic per-sf on-disk index location, shared by the
    persisted-index query and the x_sim_ivf_suite composite (so the
    index-once/query-many contract holds across both)."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"windflow_ivf_{tag}")


@query("x_sim_topk_ivf", oracle=_ivf_oracle, tags=("ext", "similarity", "ivf"), driver=False)
def x_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via an IVF index (16 coarse cells, probe 8):
    deterministic k-means quantizer trained driver-side on a bounded
    sample, Arrow-batched cell assignment (dense scoring is numpy, same
    rationale as the blockwise dedup), equi-join on cell, exact cosine
    rerank. The third ANN strategy next to brute force (exact baseline)
    and hyperplane LSH — IVF trades a small training step for
    data-adaptive cells, which beats data-oblivious hyperplanes when
    the corpus is clustered.

    Value-verified end-to-end since round 4 (rows-only before): the
    trainer is deterministic (hash sample, linspace seeds, fixed Lloyd
    iterations, stable tie order), so `ivf_centroids_local` recomputes
    the identical centroids from the parquet alone and `_ivf_oracle`
    embeds them as literals — DuckDB replays assignment → probe →
    rerank bit-for-bit, exactly the pattern x_sim_topk_lsh set with
    its hyperplane literals. pytest keeps pinning recall vs the exact
    brute-force top-k (tests/test_extensions.py)."""
    from ..operators.similarity import topk_ivf, train_ivf_centroids

    emb = _spread(tables(spark, sf_dir)["embeddings"])
    centroids = train_ivf_centroids(emb, n_cells=16, iters=5)
    probes = emb.filter(F.col("vec_id") < 8)
    return topk_ivf(probes, emb, k=10, centroids=centroids, nprobe=8, dim=64)


_GRIB_NX, _GRIB_NY = 12, 6
_GRIB_REFS = ["2020-08-12T00:00:00.000Z", "2020-08-12T06:00:00.000Z",
              "2020-08-12T12:00:00.000Z"]

_GRIB_ENDS = ["2020-08-12T06:00:00.000Z", "2020-08-12T12:00:00.000Z",
              "2020-08-12T18:00:00.000Z"]

_D_GRIB_STATS = f"""
    WITH w AS (
        SELECT t.t AS t, p.p AS p, i.i AS i,
               (i.i * 7 + t.t * 13 + p.p * 29) % 3800 AS v_e2,
               CAST(NULL AS INT) AS stat,
               CAST(NULL AS VARCHAR) AS interval_end,
               CAST(NULL AS INT) AS prob,
               CAST(NULL AS BIGINT) AS prob_lo_e2
        FROM unnest(generate_series(0, 2)) AS t(t),
             unnest([2, 3]) AS p(p),
             unnest(generate_series(0, {_GRIB_NX * _GRIB_NY - 1})) AS i(i)
    ),
    a AS (
        SELECT t.t AS t, 8 AS p, i.i AS i,
               (i.i * 11 + t.t * 17) % 5500 AS v_e2,
               1 AS stat,
               CASE t.t WHEN 0 THEN '{_GRIB_ENDS[0]}'
                        WHEN 1 THEN '{_GRIB_ENDS[1]}'
                        ELSE '{_GRIB_ENDS[2]}' END AS interval_end,
               CAST(NULL AS INT) AS prob,
               CAST(NULL AS BIGINT) AS prob_lo_e2
        FROM unnest(generate_series(0, 2)) AS t(t),
             unnest(generate_series(0, {_GRIB_NX * _GRIB_NY - 1})) AS i(i)
    ),
    pr AS (
        SELECT t.t AS t, 8 AS p, i.i AS i,
               (i.i * 5 + t.t * 23) % 10100 AS v_e2,
               1 AS stat,
               CASE t.t WHEN 0 THEN '{_GRIB_ENDS[0]}'
                        WHEN 1 THEN '{_GRIB_ENDS[1]}'
                        ELSE '{_GRIB_ENDS[2]}' END AS interval_end,
               3 AS prob,
               CAST(127 AS BIGINT) AS prob_lo_e2
        FROM unnest(generate_series(0, 2)) AS t(t),
             unnest(generate_series(0, {_GRIB_NX * _GRIB_NY - 1})) AS i(i)
    ),
    g AS (SELECT * FROM w UNION ALL SELECT * FROM a
          UNION ALL SELECT * FROM pr)
    SELECT CASE t WHEN 0 THEN '{_GRIB_REFS[0]}'
                  WHEN 1 THEN '{_GRIB_REFS[1]}'
                  ELSE '{_GRIB_REFS[2]}' END AS ref_time,
           CAST(p AS INT) AS param,
           stat,
           interval_end,
           prob,
           prob_lo_e2,
           90.0 - (i // {_GRIB_NX}) AS lat,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(v_e2) AS BIGINT) AS vmin_e2,
           CAST(max(v_e2) AS BIGINT) AS vmax_e2,
           CAST(sum(v_e2) AS BIGINT) AS vsum_e2
    FROM g GROUP BY t, p, stat, interval_end, prob, prob_lo_e2,
                    i // {_GRIB_NX}
"""


@query("x_grib_decode_stats", oracle=_D_GRIB_STATS, tags=("ext", "grib", "S2"))
def x_grib_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 codec driver-verified end-to-end (S2, previously
    pytest-only): closed-form 0.01-quantized wind fields (3 run
    timestamps × U/V) are encoded as REAL template-5.3 complex-packed
    spatial-differenced GRIB2 binary (the packing actual NOAA pgrb2
    files use), the binary rows are decoded executor-side by the
    Arrow-batched pure-numpy WMO codec, and the decoded grids
    aggregate to per-(refTime, param, latitude-band) statistics — the
    x_grid_stats-class consumer shape. The oracle recomputes every
    statistic from the closed-form field, so a single wrong bit in
    complex packing, spatial-difference integration, header decode
    (refTime/param ride the output), or the grid row math breaks the
    hash. 2dp values at decimal_scale=2 make the codec round-trip
    exact, not approximate.

    r6 folds in the interval-statistics breadth: each run also carries
    a template-4.8 ACCUMULATION record (6 h interval starting at the
    run time) packed as template-5.4 raw IEEE floats, so the 4.8
    header parse (statisticalProcess + computed interval end) and the
    IEEE decode ride the same hash — `stat`/`interval_end` are NULL
    for the point-in-time wind records, exactly as in the typed
    WIND_HEADER. IEEE float32 is exact to ≪ half a centivalue for
    |v| < 55, so round(v*100) reproduces the closed-form ints.

    r8 folds in the probability breadth: each run also carries a
    template-4.9 probability-of-precipitation record (P(6 h APCP >
    1.27 mm), member t of 31) — the table-4.9 type, the exact
    sign-magnitude threshold, and the +13-shifted interval block all
    ride the hash via the prob/prob_lo_e2 group discriminators (NULL
    for every other record, as in the typed WIND_HEADER)."""
    from datetime import datetime, timezone

    from ..functions.wind import cell_lat
    from ..sources.grib import decode_binary_df
    from ..sources.grib2codec import decode_grib2_bytes, encode_grib2_message

    nx, ny = _GRIB_NX, _GRIB_NY
    blobs = []
    for t in range(3):
        ref = datetime(2020, 8, 12, 6 * t, tzinfo=timezone.utc)
        for p in (2, 3):
            vals = [((i * 7 + t * 13 + p * 29) % 3800) / 100.0
                    for i in range(nx * ny)]
            # V rides PNG packing (5.41; r6): both packings quantize
            # through the identical float32-ref rint, so the decoded
            # values — and the oracle — are unchanged while the PNG
            # decode path joins the driver hash
            blobs.append(
                (str(t), encode_grib2_message(
                    vals, parameter_number=p, ref_time=ref, nx=nx, ny=ny,
                    packing="complex_diff" if p == 2 else "png",
                ))
            )
        accum = [((i * 11 + t * 17) % 5500) / 100.0 for i in range(nx * ny)]
        blobs.append(
            (str(t), encode_grib2_message(
                accum, parameter_number=8, parameter_category=1,
                ref_time=ref, forecast_hours=0, nx=nx, ny=ny,
                interval_hours=6, statistical_process=1, packing="ieee",
            ))
        )
        # r8: a template-4.9 probability-of-precipitation record per
        # run (P(6 h APCP > 1.27 mm), member t of 31) — the 4.9
        # header parse (probability type + exact sign-magnitude
        # threshold + shifted interval block) rides the same hash;
        # prob/prob_lo discriminate its groups from the 4.8 record's
        pop = [((i * 5 + t * 23) % 10100) / 100.0 for i in range(nx * ny)]
        blobs.append(
            (str(t), encode_grib2_message(
                pop, parameter_number=8, parameter_category=1,
                ref_time=ref, forecast_hours=0, nx=nx, ny=ny,
                interval_hours=6, statistical_process=1,
                packing="simple",
                probability=dict(number=t, total=31, type=3,
                                 lower=1.27, upper=None),
            ))
        )
    decoded = decode_binary_df(
        spark.createDataFrame(blobs, "path string, content binary"),
        decoder=decode_grib2_bytes,
    )
    h = F.col("header")
    cells = decoded.select(
        h.refTime.alias("ref_time"),
        h.parameterNumber.alias("param"),
        h.statisticalProcess.alias("stat"),
        h.intervalEnd.alias("interval_end"),
        h.probabilityType.alias("prob"),
        F.round(h.probabilityLowerLimit * 100).cast("bigint")
        .alias("prob_lo_e2"),
        F.posexplode("data").alias("idx", "v"),
    ).select(
        "ref_time", "param", "stat", "interval_end", "prob", "prob_lo_e2",
        cell_lat(F.col("idx"), nx=nx).alias("lat"),
        F.round(F.col("v").cast("double") * 100).cast("bigint").alias("v_e2"),
    )
    return cells.groupBy(
        "ref_time", "param", "stat", "interval_end", "prob", "prob_lo_e2",
        "lat",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v_e2").alias("vmin_e2"),
        F.max("v_e2").alias("vmax_e2"),
        F.sum("v_e2").alias("vsum_e2"),
    )


def _repetition_oracle(sf_dir: str) -> str:
    from ..operators.quality import DUP_NS, GOPHER_THRESHOLDS_E6, TOP_NS

    gram_sel = "\n      UNION ALL ".join(
        f"SELECT doc_id, {n} AS n, "
        f"array_to_string(ws[i.i : i.i + {n - 1}], ' ') AS gram\n"
        f"      FROM b2, unnest(generate_series(1, len(ws) - {n - 1})) AS i(i)"
        for n in (*TOP_NS, *DUP_NS)
    )
    top_cols = "\n".join(
        f"             CAST(round(coalesce(t{n}.c * length(t{n}.gram), 0)"
        f" * 1000000.0 / n_chars) AS BIGINT) AS top{n}_char_e6,"
        for n in TOP_NS
    )
    dup_cols = "\n".join(
        f"             CAST(round(coalesce(d{n}.s, 0) * 1000000.0 / n_chars)"
        f" AS BIGINT) AS dup{n}_char_e6,"
        for n in DUP_NS
    ).rstrip(",")
    top_joins = "\n".join(
        f"      LEFT JOIN top t{n} ON t{n}.doc_id = b2.doc_id"
        f" AND t{n}.n = {n} AND t{n}.rn = 1"
        for n in TOP_NS
    )
    dup_joins = "\n".join(
        f"      LEFT JOIN dup d{n} ON d{n}.ddoc = b2.doc_id AND d{n}.dn = {n}"
        for n in DUP_NS
    )
    th = GOPHER_THRESHOLDS_E6
    gate = " AND ".join(
        [f"top{n}_char_e6 <= {th[f'top{n}']}" for n in TOP_NS]
        + [f"dup{n}_char_e6 <= {th[f'dup{n}']}" for n in DUP_NS]
    )
    return rf"""
    WITH b AS (SELECT doc_id,
                      greatest(length(coalesce(text, '')), 1) AS n_chars,
                      string_split_regex(trim(coalesce(text, '')), '\s+') AS ws
               FROM documents),
    b2 AS (SELECT doc_id, n_chars, len(ws) AS n_words,
                  len(list_distinct(ws)) AS n_distinct, ws FROM b),
    g AS (
      {gram_sel}
    ),
    c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
    top AS (SELECT doc_id, n, c, gram,
                   row_number() OVER (PARTITION BY doc_id, n
                                      ORDER BY c DESC, gram DESC) AS rn
            FROM c WHERE n IN {tuple(TOP_NS)}),
    dup AS (SELECT doc_id AS ddoc, n AS dn, sum(c * length(gram)) AS s
            FROM c WHERE n IN {tuple(DUP_NS)} AND c > 1 GROUP BY 1, 2),
    e AS (
      SELECT b2.doc_id,
             CAST(n_words AS BIGINT) AS n_words,
             CAST(round((n_words - n_distinct) * 1000000.0 / n_words)
                  AS BIGINT) AS word_rep_e6,
{top_cols}
{dup_cols}
      FROM b2
{top_joins}
{dup_joins}
    )
    SELECT e.*, ({gate}) AS gopher_pass
    FROM e
"""


_RESAMPLE_STEP_US = 21_600_000_000  # 6 h

_D_RESAMPLE = f"""
    WITH obs0 AS (
        SELECT user_id AS k, epoch_us(ts) AS ts_us, value AS v,
               event_id AS rid
        FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    obs AS (SELECT k, ts_us, arg_max(v, rid) AS v FROM obs0 GROUP BY 1, 2),
    ticks AS (
        SELECT k, unnest(generate_series(start, hi,
                                         {_RESAMPLE_STEP_US})) AS ts_us
        FROM (SELECT k,
                     -(min(ts_us) // -{_RESAMPLE_STEP_US})
                       * {_RESAMPLE_STEP_US} AS start,
                     max(ts_us) AS hi
              FROM obs GROUP BY k)
    ),
    merged AS (
        SELECT k, ts_us, v, 1 AS is_obs FROM obs
        UNION ALL
        SELECT k, ts_us, NULL AS v, 0 AS is_obs FROM ticks
    ),
    br AS (
        SELECT k, ts_us, is_obs,
               last_value(v IGNORE NULLS) OVER w AS prev_v,
               last_value(CASE WHEN is_obs = 1 THEN ts_us END
                          IGNORE NULLS) OVER w AS prev_ts,
               last_value(v IGNORE NULLS) OVER wr AS next_v,
               last_value(CASE WHEN is_obs = 1 THEN ts_us END
                          IGNORE NULLS) OVER wr AS next_ts
        FROM merged
        WINDOW w AS (PARTITION BY k ORDER BY ts_us ASC, is_obs DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wr AS (PARTITION BY k ORDER BY ts_us DESC, is_obs DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT k AS user_id, ts_us,
           CAST(round(
               CASE WHEN next_ts = prev_ts THEN prev_v
                    ELSE prev_v + (next_v - prev_v)
                         * (CAST(ts_us - prev_ts AS DOUBLE)
                            / CAST(next_ts - prev_ts AS DOUBLE)) END
               * 1000000.0) AS BIGINT) AS v_e6
    FROM br
    WHERE is_obs = 0 AND prev_ts IS NOT NULL AND next_ts IS NOT NULL
"""


@query("x_resample_interpolate", oracle=_D_RESAMPLE,
       tags=("ext", "timeseries", "resample"))
def x_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear interpolation of event values onto the
    6-hourly epoch-aligned grid (operators.resample.
    resample_interpolate) — the gap-fill/regularization step a
    sensor/observation pipeline runs before windowed analytics
    (TimescaleDB's time_bucket_gapfill + interpolate, pandas
    resample().interpolate(), as distributed window algebra: one
    union of obs and per-key ticks, two running windows attach the
    bracketing observations, codegen'd interpolation — no range join,
    no per-tick probe). Ticks outside a key's observed support are
    dropped (no extrapolation); exact-hit ticks return the
    observation; duplicate timestamps collapse latest-wins by
    event_id first, so the window order is total and the hash
    stable."""
    from ..operators.resample import resample_interpolate

    ev = tables(spark, sf_dir)["events"]
    return resample_interpolate(
        ev, key_col="user_id", ts_col="ts", val_col="value",
        id_col="event_id", step_us=_RESAMPLE_STEP_US,
    )


_D_LM_PERPLEXITY = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                           x -> x <> '') AS tk
        FROM documents
    ),
    train AS (SELECT tk FROM toks WHERE doc_id % 3 <> 0),
    tb AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
           FROM train, unnest(generate_series(1, len(tk) - 1)) AS g(i)),
    big AS (SELECT w1, w2, count(*) AS c12 FROM tb GROUP BY 1, 2),
    pre AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY 1),
    voc AS (SELECT count(DISTINCT w) AS v
            FROM (SELECT unnest(tk) AS w FROM train)),
    dbg AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
            FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)),
    scored AS (
        SELECT d.doc_id,
               CAST(round(-ln((coalesce(b.c12, 0) + 0.1)
                              / (coalesce(p.c1, 0) + 0.1 * voc.v))
                          * 1000000.0) AS BIGINT) AS nll_e6
        FROM dbg d
        LEFT JOIN big b ON b.w1 = d.w1 AND b.w2 = d.w2
        LEFT JOIN pre p ON p.w1 = d.w1
        CROSS JOIN voc
    ),
    agg AS (
        SELECT t.doc_id,
               count(s.nll_e6) AS n_bigrams,
               CAST(round(CAST(coalesce(sum(s.nll_e6), 0) AS DOUBLE)
                          / greatest(count(s.nll_e6), 1) / 100.0)
                    AS BIGINT) AS avg_nll_e4
        FROM toks t LEFT JOIN scored s ON s.doc_id = t.doc_id
        GROUP BY 1
    )
    SELECT doc_id, n_bigrams, avg_nll_e4,
           avg_nll_e4 <= 34500 AS lm_pass
    FROM agg
"""


@query("x_lm_perplexity", oracle=_D_LM_PERPLEXITY,
       tags=("ext", "text", "quality", "lm"))
def x_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-class LM perplexity quality filter (r7): an add-k bigram
    model trained on the reference corpus (doc_id % 3 != 0 — the same
    base split the incremental-dedup story persists) scores EVERY
    document; high average negative log-likelihood → low quality
    (operators.lm.bigram_perplexity). The model is a count TABLE, not
    a driver object — training is one bigram groupBy (prefix counts
    derive from it, no second corpus pass) and scoring is one explode
    + two left joins, so the whole filter is shuffle-native at 100 TB.
    Per-bigram ln P quantizes to e6 BEFORE the document sum, so the
    score is bit-stable under any partitioning (the BM25 precedent
    pins Spark/DuckDB ln() parity)."""
    from ..operators.lm import bigram_perplexity

    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=8)
    train = docs.filter(F.col("doc_id") % 3 != 0)
    # gate at the corpus's ~90th nll percentile (34.5 ke4 ≈ ppl 31.8)
    # so lm_pass actually separates this corpus's tail — the operator's
    # default (80 ke4 ≈ ppl 3000) is the public CCNet-scale cutoff
    return bigram_perplexity(docs, train, add_k=0.1, gate_nll_e4=34_500)


@query("x_quality_repetition", oracle=_repetition_oracle,
       tags=("ext", "text", "quality"))
def x_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher A1 repetition table over the documents table
    (operators.quality.repetition_features): most-frequent 2/3/4-gram
    character coverage, duplicate 5..10-gram coverage, word repetition
    ratio, and the published pass thresholds — the repetition half of
    an LLM curation pipeline's quality stage, next to x_text_suite's
    length/punct/stopword features. One explode + two map-side-
    combinable aggs, join-free (doc-functional columns ride the group
    keys); the exact-integer micro-unit encoding makes the DuckDB
    replay hash-stable.

    work_factor=64, same class as the shingle pipelines: the gram
    explode amplifies downstream CPU far past the scan bytes, and the
    single-file sf0.1 scan single-threads it without the pre-shuffle
    spread — interleaved same-window A/B (6 reps/arm): spread ON
    0.82 s min / 0.88 med vs OFF 2.21 min / 2.39 med (~2.7×).

    Round-robin spread (r10, reverting r9's by=("doc_id",) per ADVICE):
    the keyed spread's rationale — eliding the expr engine's gram-grain
    exchanges — died when repetition_features defaulted to the ARROW
    engine (one Arrow row-node pass, no downstream groupBy: there is
    nothing to elide), while the keyed path skips _spread's
    enough-native-splits early-out and would force a pointless exchange
    on well-split scans at cluster scale. Interleaved same-window A/B
    under the arrow engine (5 reps/arm, sf0.1): keyed 0.631 s min /
    0.653 med vs round-robin 0.619 min / 0.676 med — identical, as
    both arms shuffle the same compact doc rows here; the early-out
    is the structural difference."""
    from ..operators.quality import repetition_features

    return repetition_features(
        _spread(tables(spark, sf_dir)["documents"], work_factor=64)
    )


# three projected grids: a tangent Lambert cone (HRRR-like,
# latin1 == latin2) and a secant cone (NAM-like) — the two algebraic
# branches of the cone constant n — plus a polar stereographic grid
# (Alaska-like, template 3.20; r6)
_LAMBERT_GRIDS = [
    dict(g=0, kind="lambert", nx=9, ny=6, la1=21.138, lo1=237.28,
         laD=38.5, loV=262.5, latin1=38.5, latin2=38.5,
         dx=3000.0, dy=3000.0, packing="complex_diff"),
    dict(g=1, kind="lambert", nx=8, ny=5, la1=12.19, lo1=226.541,
         laD=25.0, loV=265.0, latin1=25.0, latin2=47.0,
         dx=12191.0, dy=12191.0, packing="ieee"),
    dict(g=2, kind="polar", nx=7, ny=5, la1=44.0, lo1=195.0,
         laD=60.0, loV=210.0, latin1=None, latin2=None,
         dx=11250.0, dy=11250.0, packing="simple"),
    dict(g=3, kind="mercator", nx=6, ny=4, la1=5.0, lo1=140.0,
         laD=20.0, loV=None, latin1=None, latin2=None,
         dx=8000.0, dy=8000.0, packing="complex"),
    # regular Gaussian lat/lon (template 3.40; r7): N=3 → 6 quadrature
    # parallels; la1/laD derive from the quadrature (None here), dx is
    # the uniform longitude step in DEGREES (gridUnits "degrees")
    dict(g=4, kind="gaussian", nx=8, ny=6, la1=None, lo1=0.0,
         laD=None, loV=None, latin1=None, latin2=None,
         dx=45.0, dy=None, packing="complex_diff1", n_gauss=3),
]


def _lambert_oracle_sql() -> str:
    """Closed-form DuckDB replay of the projected-grid suite: per grid,
    recompute the projection constants and the columnar inverse in SQL
    (same Snyder spherical formulas — conic for 3.30, azimuthal for
    3.20), plus the closed-form field. The Gaussian grid's quadrature
    latitudes are pure math (roots of P_{2N}) computed once here in
    Python and embedded as an exact-repr list literal — the identical
    doubles the Spark plan carries, so the 1e-4° rounding agrees."""
    parts = []
    for spec in _LAMBERT_GRIDS:
        la_d_sql = (spec["laD"] if spec["laD"] is not None
                    else "CAST(NULL AS DOUBLE)")
        lo_v_sql = (spec["loV"] if spec["loV"] is not None
                    else "CAST(NULL AS DOUBLE)")
        common = (
            f"SELECT {spec['g']} AS g, i.i AS idx,\n"
            f"           {la_d_sql} AS la_d, {lo_v_sql} AS lo_v,\n"
            f"           {spec['latin1'] if spec['latin1'] is not None else 'CAST(NULL AS DOUBLE)'} AS lat1,\n"
            f"           {spec['latin2'] if spec['latin2'] is not None else 'CAST(NULL AS DOUBLE)'} AS lat2,\n"
            f"           {spec['dx']} AS dx_m,\n"
            f"           ((i.i * 5 + {spec['g']} * 23) % 2600) AS v_e2,\n"
        )
        cells = (
            f"    FROM unnest(generate_series(0, "
            f"{spec['nx'] * spec['ny'] - 1})) AS i(i),\n"
        )
        if spec["kind"] == "lambert":
            t = "tan(pi()/4 + radians({v})/2)"
            p1, p2 = spec["latin1"], spec["latin2"]
            if p1 == p2:
                n_sql = f"sin(radians({p1}))"
            else:
                n_sql = (
                    f"ln(cos(radians({p1}))/cos(radians({p2})))"
                    f" / ln(({t.format(v=p2)})/({t.format(v=p1)}))"
                )
            parts.append(common + (
                "           CAST(round(degrees(2 * atan(pow(6371229.0 * c.rf"
                " / sqrt(xy.x*xy.x + (c.rho0-xy.y)*(c.rho0-xy.y)), 1.0/c.n))"
                " - pi()/2) * 10000) AS BIGINT) AS lat_e4,\n"
                f"           CAST(round((((degrees(radians({spec['loV']})"
                " + atan2(xy.x, c.rho0 - xy.y) / c.n) % 360) + 360) % 360)"
                " * 10000) AS BIGINT) AS lon_e4\n"
            ) + cells + f"""         (SELECT n, rf,
                 6371229.0 * rf / pow({t.format(v=spec['laD'])}, n) AS rho0,
                 6371229.0 * rf / pow({t.format(v=spec['la1'])}, n)
                   * sin(n * (radians({spec['lo1']}) - radians({spec['loV']}))) AS x1,
                 6371229.0 * rf / pow({t.format(v=spec['laD'])}, n) -
                 6371229.0 * rf / pow({t.format(v=spec['la1'])}, n)
                   * cos(n * (radians({spec['lo1']}) - radians({spec['loV']}))) AS y1
          FROM (SELECT ({n_sql}) AS n,
                       cos(radians({p1})) * pow({t.format(v=p1)}, ({n_sql})) / ({n_sql}) AS rf)
         ) AS c,
         LATERAL (SELECT c.x1 + (i.i % {spec['nx']}) * {spec['dx']} AS x,
                         c.y1 + (i.i // {spec['nx']}) * {spec['dy']} AS y) AS xy""")
        elif spec["kind"] == "mercator":
            parts.append(common + (
                "           CAST(round(degrees(2.0 * atan(exp(xy.y / c.k))"
                " - pi()/2) * 10000) AS BIGINT) AS lat_e4,\n"
                "           CAST(round((((degrees(xy.x / c.k) % 360) + 360)"
                " % 360) * 10000) AS BIGINT) AS lon_e4\n"
            ) + cells + f"""         (SELECT k,
                 k * radians({spec['lo1']}) AS x1,
                 k * ln(tan(pi()/4 + radians({spec['la1']})/2)) AS y1
          FROM (SELECT 6371229.0 * cos(radians({spec['laD']})) AS k)
         ) AS c,
         LATERAL (SELECT c.x1 + (i.i % {spec['nx']}) * {spec['dx']} AS x,
                         c.y1 + (i.i // {spec['nx']}) * {spec['dy']} AS y) AS xy""")
        elif spec["kind"] == "gaussian":
            # exact-repr quadrature latitudes — the same doubles the
            # Spark plan embeds via gaussian_cell_latlon, so rounding
            # to 1e-4° can never disagree
            from ..sources.grib2codec import gaussian_latitudes

            # CAST('…' AS DOUBLE): a bare high-precision literal parses
            # as DECIMAL in DuckDB (overflows the *10000, and a
            # decimal→double hop could round differently); the string
            # path is the correctly-rounded double parser — identical
            # bits to the Python float the Spark plan embeds
            lat_list = ", ".join(
                f"CAST('{float(v)!r}' AS DOUBLE)"
                for v in gaussian_latitudes(spec["n_gauss"])
            )
            parts.append(common + (
                f"           CAST(round(list_extract([{lat_list}],"
                f" CAST(i.i // {spec['nx']} AS INT) + 1) * 10000)"
                " AS BIGINT) AS lat_e4,\n"
                f"           CAST(round(((({spec['lo1']}"
                f" + (i.i % {spec['nx']}) * {spec['dx']}) % 360) + 360)"
                " % 360 * 10000) AS BIGINT) AS lon_e4\n"
                f"    FROM unnest(generate_series(0, "
                f"{spec['nx'] * spec['ny'] - 1})) AS i(i)"))
        else:  # polar stereographic, north aspect (p = 1)
            parts.append(common + (
                "           CAST(round(1.0 * degrees(pi()/2 - 2 *"
                " atan(sqrt(xy.x*xy.x + xy.y*xy.y) / c.c)) * 10000)"
                " AS BIGINT) AS lat_e4,\n"
                f"           CAST(round(((({spec['loV']}"
                " + degrees(atan2(xy.x, -xy.y))) % 360) + 360) % 360"
                " * 10000) AS BIGINT) AS lon_e4\n"
            ) + cells + f"""         (SELECT c,
                 c * tan(pi()/4 - radians({spec['la1']})/2) *
                   sin(radians({spec['lo1']}) - radians({spec['loV']})) AS x1,
                 -(c * tan(pi()/4 - radians({spec['la1']})/2)) *
                   cos(radians({spec['lo1']}) - radians({spec['loV']})) AS y1
          FROM (SELECT 6371229.0 * (1 + sin(radians({spec['laD']}))) AS c)
         ) AS c,
         LATERAL (SELECT c.x1 + (i.i % {spec['nx']}) * {spec['dx']} AS x,
                         c.y1 + (i.i // {spec['nx']}) * {spec['dy']} AS y) AS xy""")
    union = "\n    UNION ALL\n    ".join(parts)
    return f"""
    SELECT g, idx, la_d, lo_v, lat1, lat2, dx_m, lat_e4, lon_e4,
           CAST(v_e2 AS BIGINT) AS v_e2
    FROM ({union})
"""


@query("x_grib_lambert", oracle=_lambert_oracle_sql(),
       tags=("ext", "grib", "S2", "C13"))
def x_grib_lambert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected/non-uniform NOAA grids (templates 3.30 Lambert
    conformal — HRRR/NAM — 3.20 polar stereographic — Alaska — 3.10
    Mercator — tropical — and 3.40 regular Gaussian — the
    spectral-era NCEP/ECMWF family; r7) driver-verified end-to-end:
    five closed-form fields — a tangent-cone grid (latin1 == latin2,
    complex-diff packed), a secant-cone grid (IEEE packed), a polar
    stereographic grid (simple packed), a Mercator grid (complex
    packed), and a Gaussian grid (first-order complex-diff packed;
    rows at the Gauss-Legendre quadrature latitudes) — are encoded as
    REAL GRIB2 binary, decoded executor-side by the Arrow UDTF, and
    every cell is mapped to (lat, lon) by the matching columnar
    inverse projection (`functions.wind.lambert_cell_latlon` /
    `polar_cell_latlon` / `mercator_cell_latlon` /
    `gaussian_cell_latlon` — pure codegen'd expressions, no UDF; the
    Gaussian latitudes ship as a plan-literal array). Output pins the
    projection header fields
    (laD/loV/latin1/latin2/dx straight from the typed header struct;
    NULL exactly per each template's nullability), the
    inverse-projected coordinates at 1e-4° (≈11 m — far above the
    ~1e-12° cross-engine trig divergence, far below any formula
    error), and the decoded values; the DuckDB oracle recomputes the
    projection constants and all three inverses from the same public
    formulas in SQL. A wrong cone branch, a swapped octet in the
    3.10/3.20/3.30 parse, or a degree/metre mix-up anywhere breaks the
    hash."""
    from datetime import datetime, timezone

    from ..functions.wind import (
        gaussian_cell_latlon,
        lambert_cell_latlon,
        mercator_cell_latlon,
        polar_cell_latlon,
    )
    from ..sources.grib import decode_binary_df
    from ..sources.grib2codec import decode_grib2_bytes, encode_grib2_message

    ref = datetime(2020, 8, 12, 6, tzinfo=timezone.utc)
    blobs = []
    for spec in _LAMBERT_GRIDS:
        vals = [((i * 5 + spec["g"] * 23) % 2600) / 100.0
                for i in range(spec["nx"] * spec["ny"])]
        if spec["kind"] == "lambert":
            proj = dict(lambert={k: spec[k] for k in
                                 ("laD", "loV", "latin1", "latin2",
                                  "dx", "dy")})
        elif spec["kind"] == "mercator":
            proj = dict(mercator={k: spec[k] for k in ("laD", "dx", "dy")})
        elif spec["kind"] == "gaussian":
            # la1/la2 derive from the quadrature inside the encoder;
            # dx is the uniform longitude step (degrees, top-level)
            proj = dict(gaussian_n=spec["n_gauss"], dx=spec["dx"])
        else:
            proj = dict(polar={k: spec[k] for k in
                               ("laD", "loV", "dx", "dy")})
        blobs.append((str(spec["g"]), encode_grib2_message(
            vals, parameter_number=2, ref_time=ref,
            nx=spec["nx"], ny=spec["ny"],
            la1=spec["la1"] if spec["la1"] is not None else 90.0,
            lo1=spec["lo1"],
            # projected grids scan +x/+y (64, NOAA convention); the
            # Gaussian grid scans rows N→S (0 — +j would put la1 at
            # the SOUTH end, and both the values layout and the
            # inverse mapping here are north-first)
            scan_mode=0 if spec["kind"] == "gaussian" else 64,
            packing=spec["packing"], **proj,
        )))
    h = F.col("header")
    decoded = decode_binary_df(
        spark.createDataFrame(blobs, "path string, content binary"),
        decoder=decode_grib2_bytes,
    ).select(
        F.col("source_path").cast("int").alias("g"),
        h.laD.alias("la_d"), h.loV.alias("lo_v"), h.latin1.alias("lat1"),
        h.latin2.alias("lat2"), h.dx.alias("dx_m"), "data",
    )
    # ONE decode pass for all grids: the per-grid inverse projections
    # are constant-parameterized expressions over idx, so a CASE on g
    # selects the right one per row — a filter/union per grid would
    # duplicate the createDataFrame scan + decode UDTF into every
    # branch (3× the decode work for the same rows)
    lat_case = lon_case = None
    for spec in _LAMBERT_GRIDS:
        if spec["kind"] == "lambert":
            lat, lon = lambert_cell_latlon(
                F.col("idx"), nx=spec["nx"], la1=spec["la1"],
                lo1=spec["lo1"], laD=spec["laD"], loV=spec["loV"],
                latin1=spec["latin1"], latin2=spec["latin2"],
                dx=spec["dx"], dy=spec["dy"],
            )
        elif spec["kind"] == "mercator":
            lat, lon = mercator_cell_latlon(
                F.col("idx"), nx=spec["nx"], la1=spec["la1"],
                lo1=spec["lo1"], laD=spec["laD"],
                dx=spec["dx"], dy=spec["dy"],
            )
        elif spec["kind"] == "gaussian":
            lat, lon = gaussian_cell_latlon(
                F.col("idx"), nx=spec["nx"], n=spec["n_gauss"],
                lo1=spec["lo1"], dx=spec["dx"],
            )
        else:
            lat, lon = polar_cell_latlon(
                F.col("idx"), nx=spec["nx"], la1=spec["la1"],
                lo1=spec["lo1"], laD=spec["laD"], loV=spec["loV"],
                dx=spec["dx"], dy=spec["dy"],
            )
        cond = F.col("g") == spec["g"]
        lat_case = F.when(cond, lat) if lat_case is None else lat_case.when(cond, lat)
        lon_case = F.when(cond, lon) if lon_case is None else lon_case.when(cond, lon)
    return (
        decoded.select("g", "la_d", "lo_v", "lat1", "lat2", "dx_m",
                       F.posexplode("data").alias("idx", "v"))
        .select(
            "g", "idx", "la_d", "lo_v", "lat1", "lat2", "dx_m",
            F.round(lat_case * 10000).cast("bigint").alias("lat_e4"),
            F.round(lon_case * 10000).cast("bigint").alias("lon_e4"),
            F.round(F.col("v").cast("double") * 100).cast("bigint")
            .alias("v_e2"),
        )
    )


# GEFS-like ensemble workload (template 4.1): 2 runs × 5 members on a
# 12×7 lat/lon grid; member types per WMO table 4.6 (control + 2
# positive + 2 negative perturbations), each member packed differently
# so five packing paths ride the ensemble hash
_ENS_NX, _ENS_NY, _ENS_T, _ENS_M = 12, 7, 2, 5
_ENS_PACKINGS = ["complex_diff", "ieee", "png", "simple", "complex_diff1"]


def _ens_type(m: int) -> int:
    return 0 if m == 0 else (2 if m % 2 == 0 else 3)


def _ens_pdt(m: int) -> int:
    # the last member is an ACCUMULATION member (template 4.11 — the
    # 4.1 ensemble triple + the 4.8 interval block; the GEFS ensemble
    # precipitation shape, r8); the rest are point-in-time 4.1
    return 11 if m == _ENS_M - 1 else 1


def _ensemble_oracle_sql() -> str:
    """Closed-form DuckDB replay: the member field is exact 2dp ints,
    so every sum/spread is exact integer arithmetic; the per-member
    type/size columns are the WMO-table literals the header parse must
    reproduce."""
    n = _ENS_NX * _ENS_NY
    mem_sums = ",\n           ".join(
        f"CAST(sum(CASE WHEN m = {k} THEN v_e2 END) AS BIGINT)"
        f" AS mem{k}_sum_e2" for k in range(_ENS_M)
    )
    tys = ",\n           ".join(
        f"CAST({_ens_type(k)} AS INT) AS ty{k}" for k in range(_ENS_M)
    )
    pdts = ",\n           ".join(
        f"CAST({_ens_pdt(k)} AS INT) AS pdt{k}" for k in range(_ENS_M)
    )
    return f"""
    WITH cells AS (
        SELECT t.t, m.m, i.i AS idx,
               CAST((i.i * 7 + m.m * 31 + t.t * 13) % 2600 AS BIGINT) AS v_e2
        FROM unnest(generate_series(0, {_ENS_T - 1})) AS t(t),
             unnest(generate_series(0, {_ENS_M - 1})) AS m(m),
             unnest(generate_series(0, {n - 1})) AS i(i)
    ),
    per_cell AS (
        SELECT t, idx, max(v_e2) - min(v_e2) AS spread
        FROM cells GROUP BY 1, 2
    ),
    mem AS (
        SELECT t, idx // {_ENS_NX} AS band, count(DISTINCT idx) AS n_cells,
           {mem_sums}
        FROM cells GROUP BY 1, 2
    ),
    sp AS (
        SELECT t, idx // {_ENS_NX} AS band,
               CAST(sum(spread) AS BIGINT) AS spread_e2
        FROM per_cell GROUP BY 1, 2
    )
    SELECT CAST(mem.t AS INT) AS t, CAST(mem.band AS BIGINT) AS band,
           n_cells,
           {", ".join(f"mem{k}_sum_e2" for k in range(_ENS_M))},
           {tys},
           {pdts},
           CAST({_ENS_M} AS INT) AS ens_size,
           CAST(6 AS INT) AS accum_ivl_hours,
           spread_e2
    FROM mem JOIN sp ON sp.t = mem.t AND sp.band = mem.band
    """


@query("x_grib_ensemble", oracle=_ensemble_oracle_sql(),
       tags=("ext", "grib", "S2", "ensemble"))
def x_grib_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble product templates 4.1 + 4.11 driver-verified
    end-to-end (r7; 4.11 r8): two GEFS-shaped runs — 5 members each
    (control + perturbed, WMO table 4.6 types; the LAST member is a
    template-4.11 accumulation member, the GEFS ensemble-precipitation
    shape, its template id and 6 h interval both hash-load-bearing),
    every member packed with a DIFFERENT section-5
    template (5.3², 5.4, 5.41, 5.0) — are encoded as real multi-message
    GRIB2 files, decoded executor-side by the Arrow UDTF, and reduced
    to per-(run, latitude-band) ensemble statistics: per-member sums,
    per-member type/size (STRAIGHT FROM THE 4.1 HEADER PARSE — a
    swapped ensemble octet breaks the hash), and the summed per-cell
    cross-member spread (the J2-class zip-across-members shape: one
    pivot-style groupBy(run, cell), one band agg — no self-join). The
    oracle replays the closed-form field, so values, the member
    pivot, and the header identity are all hash-load-bearing."""
    from datetime import datetime, timezone

    from ..sources.grib import decode_binary_df
    from ..sources.grib2codec import (
        decode_grib2_bytes,
        encode_grib2_file,
        encode_grib2_message,
    )

    nx, ny = _ENS_NX, _ENS_NY
    blobs = []
    for t in range(_ENS_T):
        ref = datetime(2020, 8, 12, 6 * t, tzinfo=timezone.utc)
        msgs = [
            encode_grib2_message(
                [((i * 7 + m * 31 + t * 13) % 2600) / 100.0
                 for i in range(nx * ny)],
                parameter_number=2, ref_time=ref, nx=nx, ny=ny,
                packing=_ENS_PACKINGS[m],
                ensemble=dict(type=_ens_type(m), number=m, size=_ENS_M),
                # the last member is a template-4.11 accumulation
                # member (6 h interval, WMO 4.10 process 1) — same
                # field values, three extra-plus-shifted header blocks
                **(dict(interval_hours=6, statistical_process=1)
                   if _ens_pdt(m) == 11 else {}),
            )
            for m in range(_ENS_M)
        ]
        blobs.append((str(t), encode_grib2_file(msgs)))
    decoded = decode_binary_df(
        spark.createDataFrame(blobs, "path string, content binary"),
        decoder=decode_grib2_bytes,
    )
    h = F.col("header")
    cells = decoded.select(
        F.col("source_path").cast("int").alias("t"),
        h.perturbationNumber.alias("m"),
        h.ensembleType.alias("ens_type"),
        h.ensembleSize.alias("ens_size"),
        h.productDefinitionTemplate.alias("pdt"),
        h.intervalHours.alias("ivl"),
        F.posexplode("data").alias("idx", "v"),
    ).select(
        "t", "m", "ens_type", "ens_size", "pdt", "ivl", "idx",
        F.round(F.col("v").cast("double") * 100).cast("bigint").alias("v_e2"),
    )
    # member pivot per (run, cell): 5 rows → 1; the cross-member
    # spread exists only at cell grain, so this level is inherent —
    # keys are (t, idx), perfectly distributed, map-side combinable
    per_cell = cells.groupBy("t", "idx").agg(
        *[F.max(F.when(F.col("m") == k, F.col("v_e2"))).alias(f"s{k}")
          for k in range(_ENS_M)],
        *[F.max(F.when(F.col("m") == k, F.col("ens_type")))
          .alias(f"ty{k}") for k in range(_ENS_M)],
        *[F.max(F.when(F.col("m") == k, F.col("pdt")))
          .alias(f"pdt{k}") for k in range(_ENS_M)],
        F.max("ens_size").alias("ens_size"),
        # only the 4.11 member carries an interval — max skips nulls,
        # so this IS that member's accumulation window
        F.max("ivl").alias("ivl"),
        (F.max("v_e2") - F.min("v_e2")).alias("spread"),
    )
    return per_cell.groupBy(
        "t", (F.col("idx") / F.lit(_ENS_NX)).cast("bigint").alias("band")
    ).agg(
        F.count(F.lit(1)).alias("n_cells"),
        *[F.sum(f"s{k}").alias(f"mem{k}_sum_e2") for k in range(_ENS_M)],
        *[F.max(f"ty{k}").alias(f"ty{k}") for k in range(_ENS_M)],
        *[F.max(f"pdt{k}").alias(f"pdt{k}") for k in range(_ENS_M)],
        F.max("ens_size").alias("ens_size"),
        F.max("ivl").alias("accum_ivl_hours"),
        F.sum("spread").alias("spread_e2"),
    )


# reduced (thinned) Gaussian workload (r8): an octahedral-ish N=4
# O-grid — 8 quadrature rows, per-row widths thinning toward the poles
_RG_COUNTS = [6, 10, 14, 18, 18, 14, 10, 6]


def _reduced_oracle_sql() -> str:
    """Closed-form replay: the row table (count, global offset, exact-
    repr quadrature latitude) is a VALUES literal; points derive per
    row, values are exact 2dp ints, longitudes the same 360/cnt
    float64 arithmetic numpy runs."""
    from ..sources.grib2codec import gaussian_latitudes

    lats = gaussian_latitudes(len(_RG_COUNTS) // 2)
    offs, acc = [], 0
    for c in _RG_COUNTS:
        offs.append(acc)
        acc += c
    rows = ", ".join(
        f"({j}, {c}, {o}, CAST('{float(lats[j])!r}' AS DOUBLE))"
        for j, (c, o) in enumerate(zip(_RG_COUNTS, offs))
    )
    return f"""
    WITH rows AS (SELECT * FROM (VALUES {rows}) AS t(j, cnt, off, lat)),
    pts AS (
        SELECT lat, cnt, ((off + u.i) * 7) % 2600 AS v_e2,
               u.i * (360.0 / cnt) AS lon
        FROM rows, LATERAL unnest(generate_series(0, cnt - 1)) AS u(i)
    )
    SELECT CAST(round(lat * 10000) AS BIGINT) AS lat_e4,
           CAST({len(_RG_COUNTS) // 2} AS INT) AS n_gauss,
           CAST(count(*) AS BIGINT) AS n_pts,
           CAST(sum(v_e2) AS BIGINT) AS sum_v_e2,
           CAST(round(min(lon) * 10000) AS BIGINT) AS lon_min_e4,
           CAST(round(max(lon) * 10000) AS BIGINT) AS lon_max_e4
    FROM pts GROUP BY 1
    """


@query("x_grib_reduced", oracle=_reduced_oracle_sql(),
       tags=("ext", "grib", "S2", "gaussian", "reduced"))
def x_grib_reduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduced (thinned) Gaussian grid driver-verified end-to-end
    (r8): an octahedral-ish N=4 O-grid — Ni missing, 8 per-row widths
    in section 3's optional list — is encoded as a real GRIB2 message
    (complex packing), decoded executor-side by the Arrow UDTF with
    per-point (lat, lon) attached IN the same pass via
    `reduced_gaussian_latlon` (the documented scale path for
    non-uniform rows: np.repeat + per-row aranges, no per-cell search
    expression), and reduced to per-quadrature-row stats: point count
    (the thinning itself — a swapped width breaks the hash), exact
    value sums, and the row's min/max longitude (the per-row 360/Ni
    spacing). The oracle replays rows from a VALUES literal carrying
    the exact-repr quadrature doubles, so header parse, list parse,
    value layout, AND the lat/lon mapping are all hash-load-bearing.

    The one x_grib_* query with its own UDTF rather than
    `sources.grib.decode_binary_df`: it emits per-POINT rows with the
    reduced-grid (lat, lon) attached in the decode pass, which a
    per-record decode node followed by column expressions cannot do
    without a per-row width search."""
    from datetime import datetime, timezone

    import numpy as np

    from ..sources import arrow_rows
    from ..sources.grib2codec import (
        decode_grib2_bytes,
        encode_grib2_message,
        reduced_gaussian_latlon,
    )

    counts = _RG_COUNTS
    n_gauss = len(counts) // 2
    vals = [((i * 7) % 2600) / 100.0 for i in range(sum(counts))]
    msg = encode_grib2_message(
        vals, parameter_number=2,
        ref_time=datetime(2020, 8, 12, 6, tzinfo=timezone.utc),
        nx=0, ny=len(counts), gaussian_n=n_gauss,
        gaussian_reduced=counts, scan_mode=0, packing="complex_diff",
    )
    bdf = spark.createDataFrame([(0, msg)], "g int, blob binary")

    def decode(blobs):
        cols = {"n_gauss": [], "lat": [], "lon": [], "v": []}
        for b in blobs:
            for rec in decode_grib2_bytes(bytes(b)):
                h = rec["header"]
                lat, lon = reduced_gaussian_latlon(
                    h["reducedPoints"], lo1=h["lo1"]
                )
                cols["n_gauss"].append(
                    np.full(lat.size, h["gaussianN"], dtype=np.int32))
                cols["lat"].append(lat)
                cols["lon"].append(lon)
                cols["v"].append(np.asarray(rec["data"], dtype=np.float64))
        return {k: np.concatenate(v) if v else v for k, v in cols.items()}

    pts = arrow_rows(
        bdf.select("blob"), decode,
        "n_gauss int, lat double, lon double, v double",
    )
    return pts.groupBy(
        F.round(F.col("lat") * 10000).cast("bigint").alias("lat_e4")
    ).agg(
        F.max("n_gauss").alias("n_gauss"),
        F.count(F.lit(1)).alias("n_pts"),
        F.sum(F.round(F.col("v") * 100).cast("bigint")).alias("sum_v_e2"),
        F.round(F.min("lon") * 10000).cast("bigint").alias("lon_min_e4"),
        F.round(F.max("lon") * 10000).cast("bigint").alias("lon_max_e4"),
    )


def _ivf_index_oracle(sf_dir: str) -> str:
    return _ivf_oracle(sf_dir, n_cells=16, iters=5, nprobe=4, k=10)


@query("x_sim_topk_ivf_index", oracle=_ivf_index_oracle,
       tags=("ext", "similarity", "ivf"))
def x_sim_topk_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index IVF variant, driver-verified: build (or
    refresh) an on-disk inverted file — trained centroids + the corpus
    parquet PARTITIONED BY cell (operators.similarity.build_ivf_index)
    — then answer the standard probe set by reading back through the
    index (topk_ivf_indexed), where partition pruning turns the probe
    join into a scan of exactly the probed cells' directories. Same
    deterministic trainer as x_sim_topk_ivf, so the lazy oracle embeds
    the centroids as literals and DuckDB replays assignment → probe →
    rerank bit-for-bit (nprobe=4 exercises real pruning: most cell
    directories stay unread). Index location is a deterministic
    per-sf temp dir; the rebuild is idempotent (overwrite), and its
    cost is the honest index-build half of the index-once/query-many
    contract."""
    from ..operators.similarity import build_ivf_index, topk_ivf_indexed

    emb = _spread(tables(spark, sf_dir)["embeddings"])
    idx = _ivf_index_path(sf_dir)
    build_ivf_index(emb, idx, n_cells=16, iters=5)
    probes = emb.filter(F.col("vec_id") < 8)
    return topk_ivf_indexed(spark, idx, probes, k=10, nprobe=4, dim=64)


# ---------------------------------------------------------------------------
# dedup clustering — pairs → connected components → keep-list
# ---------------------------------------------------------------------------

_D_DEDUP_CLUSTERS = f"""
    WITH RECURSIVE sets AS (
        SELECT doc_id, {_D_SHINGLES} AS sh
        FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
    ),
    sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
    posting AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
        SELECT doc_id AS src, doc_id AS node FROM documents
        UNION
        SELECT r.src, e.v AS node FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT doc_id, cluster_id, is_representative,
           CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 6)
                     < 'cccccc' THEN 'train'
                WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 6)
                     < 'e66666' THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT src AS doc_id,
               min(node) AS cluster_id,
               (src = min(node)) AS is_representative
        FROM reach GROUP BY src
    )
"""


@query("x_dedup_cluster",
       # lazy: composes _D_DEDUP_CLUSTERS with the r14 pagerank part
       # (defined later in the module)
       oracle=lambda sf_dir: _dedup_cluster_oracle(),
       tags=("ext", "dedup", "graph"))
def x_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTERING: near-dup pairs (exact n-gram Jaccard >= 0.5,
    the x_dedup_jaccard pair set) -> connected components via
    alternating large-star/small-star (O(log^2 n) shuffle rounds,
    operators.graph) -> one row per document with its cluster id
    (component minimum) and whether it is the kept representative.
    `filter(is_representative)` is the corpus keep-list — the step
    that turns pair detection into an actual deduplicated dataset.
    The DuckDB oracle computes the transitive closure with a
    recursive CTE, so the differential check covers the full
    pairs -> components -> representative pipeline.

    r5 adds the LEAKAGE-SAFE train/val/test split on the same
    lineage: the 80/10/10 assignment hashes the CLUSTER id, not the
    doc id, so a near-duplicate pair can never straddle train and
    eval — the contamination a doc-id split silently commits whenever
    near-dups exist (the reason dedup must run BEFORE splitting). A
    narrow projection off the component table: no extra shuffle, and
    the whole composition stays inside the one differential hash."""
    from ..operators.graph import dedup_clusters
    from ..operators.sampling import split_col

    # work_factor=64: the 3-gram shingle explosion dominates this
    # pipeline (A/B: spread-on 1.9x faster for the jaccard/cluster
    # shapes at sf0.1 — see _spread)
    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=64)
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="shingles")
    pairs = jaccard_join_adaptive(with_sh, "doc_id", "shingles", threshold=0.5)
    clusters = dedup_clusters(
        docs.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
    )
    cl = clusters.withColumn("split", split_col(F.col("cluster_id")))
    # r14 fold: the link-graph PageRank part (x_pagerank) rides this
    # suite's hash — rank in the cluster_id slot, degrees in split
    pr = REGISTRY["x_pagerank"].build(spark, sf_dir).select(
        "doc_id",
        F.col("rank_e").alias("cluster_id"),
        (F.col("out_deg") > 0).alias("is_representative"),
        F.concat(
            F.lit("pr:"), F.col("out_deg"), F.lit(":"), F.col("in_deg")
        ).alias("split"),
    )
    return cl.unionByName(pr)


# ---------------------------------------------------------------------------
# deterministic sampling — corpus curation / domain mixing
# ---------------------------------------------------------------------------

_D_SAMPLE_HASH = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)"

_D_MIXTURE = f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_D_SAMPLE_HASH} <
      CASE lang
        WHEN 'en' THEN 'gggggg'
        WHEN 'de' THEN 'c00000'
        WHEN 'fr' THEN '800000'
        WHEN 'es' THEN '600000'
        WHEN 'zh' THEN '400000'
      END
"""

_D_STRATIFIED = f"""
    SELECT source, doc_id, sample_rank
    FROM (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_D_SAMPLE_HASH}, doc_id
               ) AS sample_rank
        FROM documents
    )
    WHERE sample_rank <= 3
"""


@query("x_sample_mixture", oracle=_D_MIXTURE, tags=("ext", "sampling"), driver=False)
def x_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture resampling (operators.sampling.mixture_sample):
    keep en at 100%, de 75%, fr 50%, es 37.5%, zh 25% — membership a
    pure function of md5(doc_id), so the sample is identical across
    runs, partitionings, and engines (the oracle re-derives it). A
    shuffle-free narrow filter: the 100 TB shape for corpus
    rebalancing (plan pinned Exchange-free in tests/test_plans.py)."""
    from ..operators.sampling import mixture_sample

    docs = tables(spark, sf_dir)["documents"]
    rates = {"en": 1.0, "de": 0.75, "fr": 0.5, "es": 0.375, "zh": 0.25}
    return mixture_sample(docs, "lang", "doc_id", rates).select(
        "doc_id", "lang", "source"
    )


@query("x_sample_stratified", oracle=_D_STRATIFIED, tags=("ext", "sampling"), driver=False)
def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-3-docs-per-source stratified sample
    (operators.sampling.stratified_sample_exact): deterministic
    (hash, id) order within each stratum, row_number cutoff. One
    shuffle on the stratum key — the audit/eval-split shape; for
    corpus-scale resampling use the rate-based mixture instead."""
    from ..operators.sampling import stratified_sample_exact

    docs = tables(spark, sf_dir)["documents"]
    return stratified_sample_exact(docs, ["source"], "doc_id", 3).select(
        "source", "doc_id", "sample_rank"
    )


# ---------------------------------------------------------------------------
# dataset profiling + embedding quantization
# ---------------------------------------------------------------------------

_D_PROFILE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS col_name,
           count(*) - count({c}) AS n_null,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM documents
    """
    for c in ("doc_id", "text", "lang", "source", "n_chars")
)

#: left fold with explicit double init == pyspark F.aggregate
_D_ABS_MAX = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), "
    "(acc, x) -> greatest(acc, x))"
)

_D_QUANTIZE = f"""
    WITH scaled AS (
        SELECT vec_id, embedding,
               greatest({_D_ABS_MAX}, 1e-12) / 127.0 AS scale
        FROM embeddings
    ),
    qd AS (
        SELECT vec_id, embedding, scale,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS q
        FROM scaled
    )
    SELECT vec_id,
           CAST(floor(scale * 1e9 + 0.5) AS BIGINT) AS scale_e9,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(q, v -> abs(v))), (a, b) -> a + b) AS q_l1,
           CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(embedding)),
                   i -> (CAST(embedding[i] AS DOUBLE) - q[i] * scale)
                      * (CAST(embedding[i] AS DOUBLE) - q[i] * scale))),
               (acc, v) -> acc + v) * 1e12 + 0.5) AS BIGINT) AS err_e12
    FROM qd
"""


@query("x_profile_columns", oracle=_D_PROFILE, tags=("ext", "profile"), driver=False)
def x_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile of `documents` (operators.profile):
    per-column nulls, exact distincts, min/max — all five columns'
    statistics from ONE scan (Catalyst plans the multi-distinct as one
    Expand), unpivoted map-side with stack. The oracle recomputes each
    column independently; matching it certifies the fused plan."""
    from ..operators.profile import profile_columns

    docs = tables(spark, sf_dir)["documents"]
    return profile_columns(docs, ["doc_id", "text", "lang", "source", "n_chars"])


@query("x_embed_quantize", oracle=_D_QUANTIZE, tags=("ext", "similarity"),
       driver=False)
def x_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (operators.similarity.quantize_int8):
    per-vector symmetric scale, half-up rounding, plus the exact
    reconstruction error — entirely JVM-side array expressions (no
    UDF, no shuffle; the 100 TB shape is a streaming map over the
    scan). Emitted as integer-quantized scalars (scale·1e9, Σ|q|,
    err·1e12) so the differential hash pins every value bit-for-bit."""
    from ..operators.similarity import dequant_sq_error, quantize_int8

    emb = tables(spark, sf_dir)["embeddings"]
    scale, q = quantize_int8(F.col("embedding"))
    emb2 = emb.select("vec_id", "embedding", scale.alias("scale"), q.alias("q"))
    err = dequant_sq_error(F.col("embedding"), F.col("q"), F.col("scale"))
    return emb2.select(
        "vec_id",
        F.floor(F.col("scale") * F.lit(1e9) + F.lit(0.5)).alias("scale_e9"),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda a, v: a + F.abs(v)
        ).alias("q_l1"),
        F.floor(err * F.lit(1e12) + F.lit(0.5)).alias("err_e12"),
    )


# ---------------------------------------------------------------------------
# PII redaction + context-window chunking
# ---------------------------------------------------------------------------

#: deterministic synthetic contact block derived from doc_id — the
#: corpus itself is PII-free word soup, so both engines append the
#: same constructed email/phone/IP to exercise the scrubber for real
_D_CONTACT = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.org or ' || CAST(doc_id % 900 + 100 AS VARCHAR)"
    " || '-555-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')"
    " || ' ip 192.168.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)"
)

_D_PII = rf"""
    WITH enriched AS (SELECT doc_id, {_D_CONTACT} AS raw FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS n_emails,
           len(regexp_extract_all(raw, '[0-9]{{3}}-555-[0-9]{{4}}')) AS n_phones,
           len(regexp_extract_all(raw, '([0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}')) AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '[0-9]{{3}}-555-[0-9]{{4}}', '<PHONE>', 'g'),
             '([0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}', '<IP>', 'g') AS redacted
    FROM enriched
"""

_D_CHUNKS = f"""
    WITH base AS (
        SELECT doc_id, toks, len(toks) AS n
        FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
    ),
    st AS (
        SELECT doc_id, toks, n,
               unnest(generate_series(0, ((n - 1) // 15) * 15, 15)) AS chunk_start
        FROM base
    )
    SELECT doc_id,
           chunk_start // 15 AS chunk_id,
           chunk_start,
           len(toks[chunk_start + 1 : least(chunk_start + 20, n)]) AS chunk_len,
           array_to_string(toks[chunk_start + 1 : least(chunk_start + 20, n)], ' ')
             AS chunk_text
    FROM st
"""


@query("x_pii_redact", oracle=_D_PII, tags=("ext", "text"), driver=False)
def x_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions.text.redact_pii): emails, phone
    numbers, IPv4 addresses replaced by typed placeholders, plus
    per-kind match counts. The corpus is PII-free by construction, so
    a deterministic contact block derived from doc_id is appended
    FIRST (identically in the oracle) — the differential hash then
    certifies the scrubber on text that actually contains PII at
    varying positions. Patterns are dialect-portable (no lookaround),
    the whole query is a codegen'd regexp chain: no shuffle, no UDF."""
    from ..functions.text import pii_count, redact_pii

    docs = tables(spark, sf_dir)["documents"]
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or "),
        (F.col("doc_id") % 900 + 100).cast("string"),
        F.lit("-555-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" ip 192.168."), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), ((F.col("doc_id") * 3) % 256).cast("string"),
    )
    enriched = docs.select("doc_id", raw.alias("raw"))
    return enriched.select(
        "doc_id",
        pii_count(F.col("raw"), "email").alias("n_emails"),
        pii_count(F.col("raw"), "phone").alias("n_phones"),
        pii_count(F.col("raw"), "ipv4").alias("n_ips"),
        redact_pii(F.col("raw")).alias("redacted"),
    )


@query("x_doc_chunks", oracle=_D_CHUNKS, tags=("ext", "text"), driver=False)
def x_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into 20-token
    windows with stride 15 (25% overlap) — the batch-prep step that
    turns a corpus into model-sized training samples. Chunk starts are
    a generated sequence posexploded map-side; the slice/join are
    array expressions — one narrow pass, rows fan out ~n_tokens/15×
    with no shuffle, so the plan streams at any scale."""
    docs = tables(spark, sf_dir)["documents"]
    toked = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).withColumn("n", F.size("toks"))
    chunks = toked.select(
        "doc_id", "toks",
        F.posexplode(
            F.sequence(F.lit(0), F.expr("((n - 1) div 15) * 15"), F.lit(15))
        ).alias("chunk_id", "chunk_start"),
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        F.size(F.slice("toks", F.col("chunk_start") + 1, F.lit(20))).alias("chunk_len"),
        F.array_join(
            F.slice("toks", F.col("chunk_start") + 1, F.lit(20)), " "
        ).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# quantile-threshold corpus curation
# ---------------------------------------------------------------------------

_D_QUALITY_FILTER = f"""
    WITH scored AS (
        SELECT doc_id,
               {_d_stop_score('en').replace('toks', f'({_D_TOKS})')} AS score
        FROM documents
    ),
    counts AS (
        SELECT score, count(*) AS c FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score,
               sum(c) OVER (ORDER BY score
                            ROWS UNBOUNDED PRECEDING) AS cum_n,
               sum(c) OVER () AS n
        FROM counts
    ),
    thr AS (
        SELECT min(score) AS threshold FROM cum
        WHERE cum_n >= ceil(0.25 * n)
    )
    SELECT doc_id, score, threshold
    FROM scored, thr
    WHERE score >= threshold
"""


@query("x_quality_filter", oracle=_D_QUALITY_FILTER, tags=("ext", "text", "sampling"), driver=False)
def x_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold corpus curation: drop the bottom quartile of
    documents by quality score (English stopword ratio — the classic
    web-junk signal). The p25 cutoff is computed on the DISTINCT-score
    histogram (scores are small rationals, so the cumulative pass
    touches ~dozens of rows, not the corpus), then broadcast back as a
    1-row dimension — no global sort of the corpus, no second full
    shuffle. The same shape scales to any percentile rule a data-mix
    recipe needs."""
    docs = _spread(tables(spark, sf_dir)["documents"])
    scored = docs.select(
        "doc_id", stopword_ratio("text", "en").alias("score")
    )
    counts = scored.groupBy("score").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = counts.select(
        "score",
        F.sum("c").over(wc).alias("cum_n"),
        F.sum("c").over(wall).alias("n"),
    )
    thr = cum.filter(
        F.col("cum_n") >= F.ceil(F.lit(0.25) * F.col("n"))
    ).agg(F.min("score").alias("threshold"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("score") >= F.col("threshold"))
        .select("doc_id", "score", "threshold")
    )


# ---------------------------------------------------------------------------
# end-to-end curation pipeline (flagship composition)
# ---------------------------------------------------------------------------

_D_CURATION = f"""
    WITH RECURSIVE en_docs AS (
        SELECT doc_id, text FROM documents WHERE lang = 'en'
    ),
    uniq AS (  -- exact dedup: keep lowest doc_id per identical text
        SELECT min(doc_id) AS doc_id, text FROM en_docs GROUP BY text
    ),
    sets AS (
        SELECT doc_id, {_D_SHINGLES} AS sh
        FROM (SELECT doc_id, {_D_TOKS} AS toks FROM uniq)
    ),
    sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
    posting AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
        SELECT doc_id AS src, doc_id AS node FROM uniq
        UNION
        SELECT r.src, e.v AS node FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (
        SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src
    ),
    kept AS (  -- near-dup keep-list ∩ deterministic 90% sample
        SELECT u.doc_id, u.text
        FROM uniq u JOIN comp c ON c.doc_id = u.doc_id
        WHERE c.doc_id = c.cluster_id
          AND substr(md5(CAST(u.doc_id AS VARCHAR)), 1, 6) < 'e66666'
    ),
    toked AS (
        SELECT doc_id, {_D_TOKS} AS toks FROM kept
    ),
    st AS (
        SELECT doc_id, toks, len(toks) AS n,
               unnest(generate_series(0, ((len(toks) - 1) // 15) * 15, 15))
                 AS chunk_start
        FROM toked
    )
    SELECT doc_id, chunk_start // 15 AS chunk_id,
           array_to_string(toks[chunk_start + 1 : least(chunk_start + 20, n)], ' ')
             AS chunk_text
    FROM st
"""


@query("x_curation_pipeline", oracle=_D_CURATION, tags=("ext", "pipeline"))
def x_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation pipeline, composed from this
    engine's operators as ONE declarative plan: language filter →
    exact dedup (min-id per identical text) → near-dup clustering
    (exact Jaccard ≥ 0.5 pairs → connected components → one
    representative per cluster) → deterministic 90% hash sample →
    20-token/stride-15 context-window chunking. What a training-data
    team actually runs nightly — here differentially verified
    END-TO-END by a single recursive-CTE oracle, so a regression in
    any stage (or in how stages compose) flips the hash.

    Scale: every stage is the bucketed/broadcast shape its standalone
    query pins (skew-adaptive exact pair join — r13, the count plan
    for uniform corpora, the PPJoin prefix filter past the measured
    blowup cap, since the exact-dedup stage ahead removes identical
    documents but NOT shared-boilerplate hot shingles —
    log-round CC, broadcast
    component table, shuffle-free sample + chunk fan-out); the corpus
    crosses a shuffle only where a stage's semantics require it.
    Own driver slot since r8 (the flagship LLM-curation story was
    previously verified through x_doc_pipeline_suite's hash)."""
    from ..operators.dedup import exact_dedup
    from ..operators.graph import dedup_clusters
    from ..operators.sampling import hash_sample

    docs = _spread(tables(spark, sf_dir)["documents"])
    en = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    # persisted: the deduped corpus is consumed TWICE — eagerly by the
    # near-dup pair/CC stage (dedup_clusters checkpoints its edges)
    # and lazily by the kept/chunk tail — and recomputing it means a
    # second full-text groupBy shuffle. A real curation pipeline
    # materializes this stage boundary (staging table); in-session
    # MEMORY_AND_DISK persist is the same decision.
    uniq = managed_cache(
        exact_dedup(en, cols=["text"], id_col="doc_id")
        .select("doc_id", "text")
    )
    with_sh = shingle_docs_pandas(uniq, "doc_id", "text", 3, out="shingles")
    pairs = jaccard_join_adaptive(with_sh, "doc_id", "shingles", threshold=0.5)
    clusters = dedup_clusters(
        uniq.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
    )
    reps = clusters.filter(F.col("is_representative")).select("doc_id")
    kept = hash_sample(
        uniq.join(F.broadcast(reps), "doc_id"), id_col="doc_id", rate=0.9
    )
    toked = kept.select("doc_id", tokens(F.col("text")).alias("toks")).withColumn(
        "n", F.size("toks")
    )
    chunks = toked.select(
        "doc_id", "toks", "n",
        F.posexplode(
            F.sequence(F.lit(0), F.expr("((n - 1) div 15) * 15"), F.lit(15))
        ).alias("chunk_id", "chunk_start"),
    )
    return chunks.select(
        "doc_id", "chunk_id",
        F.array_join(
            F.slice("toks", F.col("chunk_start") + 1, F.lit(20)), " "
        ).alias("chunk_text"),
    )


_D_SPLIT = f"""
    SELECT doc_id,
           CASE WHEN {_D_SAMPLE_HASH} < 'cccccc' THEN 'train'
                WHEN {_D_SAMPLE_HASH} < 'e66666' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
"""

_D_OVERSAMPLE = f"""
    SELECT doc_id, lang, copy_no
    FROM (
        SELECT doc_id, lang,
               CASE lang WHEN 'zh' THEN 4 WHEN 'es' THEN 2 ELSE 1 END AS reps
        FROM documents
    ), LATERAL unnest(generate_series(1, reps)) AS t(copy_no)
"""


@query("x_split_assign", oracle=_D_SPLIT, tags=("ext", "sampling"), driver=False)
def x_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10 by md5 hash
    ranges): every engine, run, and partitioning assigns each document
    the same split — the property that makes eval sets stable across
    pipeline reruns (a random split silently leaks eval docs into
    training whenever the corpus is re-ingested). Shuffle-free narrow
    projection; thresholds are hex-range boundaries (0xcccccc/16^6 =
    0.8, 0xe66666/16^6 = 0.9)."""
    from ..operators.sampling import split_col

    docs = tables(spark, sf_dir)["documents"]
    return docs.select("doc_id", split_col(F.col("doc_id")).alias("split"))


@query("x_oversample", oracle=_D_OVERSAMPLE, tags=("ext", "sampling"), driver=False)
def x_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing by deterministic oversampling: minority
    languages replicate (zh ×4, es ×2) via a generated copy sequence —
    the up-sampling complement to x_sample_mixture's down-sampling.
    posexplode of a sequence is a map-side Generate: rows fan out with
    no shuffle and copy_no keeps replicas distinguishable (so a
    downstream shuffle/trainer sees distinct rows, not silent dups)."""
    docs = tables(spark, sf_dir)["documents"]
    reps = (
        F.when(F.col("lang") == "zh", 4)
        .when(F.col("lang") == "es", 2)
        .otherwise(1)
    )
    return docs.select(
        "doc_id", "lang",
        F.explode(F.sequence(F.lit(1), reps)).alias("copy_no"),
    )


_D_NEGATIVES = f"""
    WITH ranked AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY {_D_SAMPLE_HASH}, doc_id) - 1 AS rnk,
               count(*) OVER () AS n
        FROM documents
    ),
    fanout AS (
        SELECT doc_id AS anchor_id, rnk, n,
               unnest([1, 2, 3]) AS neg_no
        FROM ranked
    ),
    probed AS (
        SELECT anchor_id, neg_no,
               (rnk + neg_no * 2654435761) % n AS neg_rnk
        FROM fanout
    )
    SELECT p.anchor_id, p.neg_no, r.doc_id AS negative_id
    FROM probed p JOIN ranked r ON r.rnk = p.neg_rnk
    WHERE r.doc_id <> p.anchor_id
"""


@query("x_negative_pairs", oracle=_D_NEGATIVES, tags=("ext", "sampling"), driver=False)
def x_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (the contrastive-training
    complement to the near-dup POSITIVE pairs of x_dedup_jaccard):
    each anchor draws 3 pseudo-random partners by jumping a
    Fibonacci-hash stride around the hash-ordered rank ring —
    reproducible across runs/engines, uniform, and self-pairs
    excluded. One window pass assigns ranks, one equi-join resolves
    ranks back to ids. At corpus scale the dense-rank ring is replaced
    by direct hash-mod jumps over the id space (no global window);
    this formulation keeps the oracle exact."""
    docs = tables(spark, sf_dir)["documents"]
    from ..operators.sampling import hash_bucket

    w = Window.orderBy(hash_bucket(F.col("doc_id")), F.col("doc_id"))
    ranked = docs.select(
        "doc_id",
        (F.row_number().over(w) - 1).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    probed = ranked.select(
        F.col("doc_id").alias("anchor_id"), "rnk", "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("neg_no"),
    ).select(
        "anchor_id", "neg_no",
        ((F.col("rnk") + F.col("neg_no") * F.lit(2654435761)) % F.col("n")).alias(
            "neg_rnk"
        ),
    )
    return (
        probed.join(
            ranked.select(F.col("rnk").alias("neg_rnk"),
                          F.col("doc_id").alias("negative_id")),
            "neg_rnk",
        )
        .filter(F.col("negative_id") != F.col("anchor_id"))
        .select("anchor_id", "neg_no", "negative_id")
    )


_D_EMB_CLUSTERS = f"""
    WITH RECURSIVE n AS (
        SELECT vec_id, embedding,
               sqrt({_d_dot("embedding", "embedding")}) AS nrm
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE {_d_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4
    ),
    e AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
        SELECT vec_id AS src, vec_id AS node FROM embeddings
        UNION
        SELECT r.src, e.v AS node FROM reach r JOIN e ON e.u = r.node
    )
    SELECT src AS vec_id,
           min(node) AS cluster_id,
           (src = min(node)) AS is_representative
    FROM reach GROUP BY src
"""


@query("x_embed_cluster", oracle=_D_EMB_CLUSTERS, tags=("ext", "dedup", "graph"), driver=False)
def x_embed_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup clustering: the dense twin of
    x_dedup_cluster — blockwise-BLAS cosine pairs (≥ 0.4) become
    edges, connected components (operators.graph) collapse transitive
    near-duplicate chains (A≈B≈C with A·C below threshold still
    cluster), one representative kept per cluster. The semantic-dedup
    step of an embedding-based curation pipeline, differentially
    verified end-to-end by the recursive-CTE oracle."""
    from ..operators.graph import dedup_clusters
    from ..operators.similarity import cosine_pairs_blockwise

    emb = _spread(tables(spark, sf_dir)["embeddings"])
    pairs = cosine_pairs_blockwise(emb, threshold=0.4)
    return dedup_clusters(
        emb.select("vec_id"), pairs.select("id_a", "id_b"), id_col="vec_id"
    )


_D_LANG_CONFUSION = f"""
    WITH base AS (SELECT doc_id, lang, {_D_TOKS} AS toks FROM documents),
    sc AS (
        SELECT doc_id, lang,
               {_d_stop_score("de")} AS s_de, {_d_stop_score("en")} AS s_en,
               {_d_stop_score("es")} AS s_es, {_d_stop_score("fr")} AS s_fr
        FROM base
    ),
    m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr) AS score FROM sc),
    pred AS (
        SELECT lang,
               CASE WHEN s_de = score THEN 'de' WHEN s_en = score THEN 'en'
                    WHEN s_es = score THEN 'es' ELSE 'fr' END AS lang_pred
        FROM m
    )
    SELECT lang, lang_pred, count(*) AS n
    FROM pred GROUP BY lang, lang_pred
"""

_D_LABEL_CENTROIDS = """
    WITH exploded AS (
        SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT label, pos,
           CAST(floor(CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
                      / count(*) * 1e6 + 0.5) AS BIGINT) AS centroid_e6,
           count(*) AS n_vecs
    FROM exploded GROUP BY label, pos
"""


@query("x_lang_confusion", oracle=_D_LANG_CONFUSION, tags=("ext", "text"), driver=False)
def x_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the confusion matrix of the
    stopword language-ID against the corpus's metadata labels —
    (truth, prediction, count). The eval step of any heuristic-filter
    rollout at corpus scale: one narrow scoring projection (all
    codegen, x_lang_id's expressions) plus one small aggregate; no
    per-class jobs."""
    docs = _spread(tables(spark, sf_dir)["documents"])
    langs = sorted(STOPWORDS)
    # argmax over stopword-hit RATIOS equals argmax over hit COUNTS
    # (the token-count denominator is shared), so score with 4
    # regexp_count expressions instead of stopword_ratio's tokenize →
    # lower → filter HOF chain: higher-order array functions are
    # CodegenFallback (interpreted per token), measured ~1 s warm /
    # ~4 s with codegen for 5 000 docs at sf0.1 vs ~0.3 s for this
    # fully-codegen'd form. The pattern reproduces exact
    # whitespace-token equality: a stopword counts iff bounded by
    # start/whitespace on both sides of lower(text) (lookarounds don't
    # consume, so consecutive stopword tokens all match).
    def pat(lg: str) -> str:
        return (
            r"(?<=\s|^)(?:" + "|".join(STOPWORDS[lg]) + r")(?=\s|$)"
        )

    scored = docs.select(
        "lang",
        *[
            F.regexp_count(F.lower("text"), F.lit(pat(lg))).alias(f"s_{lg}")
            for lg in langs
        ],
    ).withColumn("score", F.greatest(*[F.col(f"s_{lg}") for lg in langs]))
    pred = F.when(F.col("s_de") == F.col("score"), "de")
    for lg in ("en", "es"):
        pred = pred.when(F.col(f"s_{lg}") == F.col("score"), lg)
    return (
        scored.select("lang", pred.otherwise("fr").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def centroid_sums(emb: DataFrame) -> DataFrame:
    """(label, pos, sum_d, n_vecs) — the exact per-class per-dimension
    DECIMAL sums both centroid consumers derive from: posexplode to
    (label, dim, value), one map-side-combining aggregate. DECIMAL
    accumulation makes the sums identical under any partitioning.
    Shared by x_label_centroids, x_nearest_centroid, and the
    x_classifier_eval composite (which computes it ONCE)."""
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label", (F.col("pos0") + 1).alias("pos"),
        F.col("val").cast("double").alias("val"),
    )
    return exploded.groupBy("label", "pos").agg(
        F.sum(F.col("val").cast("decimal(28,12)")).alias("sum_d"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def quantized_centroids(cent: DataFrame) -> DataFrame:
    """x_label_centroids' output shape from the shared sums."""
    return cent.select(
        "label", "pos",
        F.floor(
            (F.col("sum_d").cast("double") / F.col("n_vecs"))
            * F.lit(1e6) + F.lit(0.5)
        ).alias("centroid_e6"),
        "n_vecs",
    )


def confusion_from_centroids(emb: DataFrame, cent_rows) -> DataFrame:
    """Nearest-centroid confusion matrix scored by an Arrow-vectorized
    pandas UDF carrying the trained prototype matrix in its closure —
    the broadcast-model pattern a 100 TB classifier eval actually uses.

    `cent_rows` is the collected (label, pos, sum_d, n_vecs) table — a
    bounded labels×dims pull (the prototype matrix IS the model). A
    previous incarnation embedded the dots as plan literals (one
    64-term SQL expression per label); correct, but the labels×dims
    expression tree cost ~1.2 s of driver parse/analysis plus ~1 s of
    Janino codegen PER RUN — pure fixed overhead that grows with the
    model, not the data. The UDF form ships the matrix once per
    executor, scores each Arrow batch with two numpy ops, and keeps
    the plan a narrow scan → project → tiny final aggregate.

    Numerics are pinned to the oracle's explicit left-associated
    double dot (_d_dot): the accumulation loop adds term p for every
    (row, label) at step p, so each dot is (((0+t₁)+t₂)+…) vs the
    SQL's ((t₁+t₂)+…) — bit-identical except a possible -0.0→+0.0 on
    the first term, which cannot change any comparison. argmax takes
    the FIRST maximum over ascending labels = smallest label on ties,
    matching the oracle's ORDER BY dot DESC, label ASC."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    by_label: dict[str, dict[int, float]] = {}
    for r in cent_rows:
        by_label.setdefault(r["label"], {})[r["pos"]] = (
            float(r["sum_d"]) / r["n_vecs"]
        )
    labels = sorted(by_label)
    dims = sorted(next(iter(by_label.values())))
    # D×L weight matrix, column l = centroid of labels[l]
    W = np.array(
        [[by_label[lb][p] for lb in labels] for p in dims],
        dtype=np.float64,
    )
    label_dtype = emb.schema["label"].dataType.simpleString()

    def _pred(vecs):  # Arrow batch of embedding arrays → pred labels
        out = []
        vals, rows = [], []
        for i, v in enumerate(vecs):
            if v is not None and len(v) >= len(dims):
                rows.append(i)
                vals.append(v)
            out.append(None)
        if rows:
            E = np.array([np.asarray(v, dtype=np.float64) for v in vals])
            acc = np.zeros((E.shape[0], W.shape[1]))
            for p in range(W.shape[0]):
                # term-by-term accumulation: same IEEE order per
                # (row, label) as the oracle's left-associated sum
                acc += E[:, p : p + 1] * W[p][None, :]
            idx = np.argmax(acc, axis=1)  # first max = smallest label
            for i, j in zip(rows, idx):
                out[i] = labels[j]
        return pd.Series(out, dtype="object")

    pred = pandas_udf(_pred, label_dtype)
    return (
        emb.select(
            F.col("label").alias("true_label"),
            pred(F.col("embedding")).alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("x_label_centroids", oracle=_D_LABEL_CENTROIDS, tags=("ext", "similarity"), driver=False)
def x_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (the prototype vectors of a
    nearest-centroid classifier / the class means a clustering-quality
    audit compares against) — see centroid_sums for the aggregation
    contract. Output quantized e6 per coordinate."""
    emb = tables(spark, sf_dir)["embeddings"]
    return quantized_centroids(centroid_sums(emb))


_D_NEAREST_CENTROID = f"""
    WITH exploded AS (
        SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    cent AS (
        SELECT label, pos,
               CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
        FROM exploded GROUP BY label, pos
    ),
    cw AS (
        SELECT label AS cand_label, list(c ORDER BY pos) AS w
        FROM cent GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.label AS true_label, c.cand_label,
               {_d_dot("e.embedding", "c.w")} AS dot_d
        FROM embeddings e CROSS JOIN cw c
    ),
    best AS (
        SELECT vec_id, true_label, cand_label,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY dot_d DESC, cand_label ASC) AS rn
        FROM scored
    )
    SELECT true_label, cand_label AS pred_label, count(*) AS n
    FROM best WHERE rn = 1
    GROUP BY true_label, pred_label
"""


@query("x_nearest_centroid", oracle=_D_NEAREST_CENTROID, tags=("ext", "similarity"), driver=False)
def x_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification audit: assign every vector to
    its highest-dot-product class centroid and tabulate (truth,
    prediction) — the clustering-quality / embedding-sanity check run
    after any representation change. The centroid matrix is a bounded
    labels×dims pull embedded as plan literals; scoring is one narrow
    zip_with pass (see confusion_from_centroids — exact decimal dots,
    ties break on label order, no shuffle beyond the tiny final
    tabulation)."""
    emb = tables(spark, sf_dir)["embeddings"]
    return confusion_from_centroids(emb, centroid_sums(emb).collect())


_D_ZIPF = f"""
    WITH freq AS (
        SELECT tok, count(*) AS cnt
        FROM (SELECT unnest({_D_TOKS}) AS tok FROM documents)
        GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT 100
    ),
    ranked AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS DOUBLE)) AS x,
               ln(CAST(cnt AS DOUBLE)) AS y
        FROM freq
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        FROM ranked
    )
    SELECT CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5)
                AS BIGINT) AS zipf_slope_e6,
           CAST(n AS BIGINT) AS n_tokens
    FROM s
"""


@query("x_token_zipf", oracle=_D_ZIPF, tags=("ext", "text"), driver=False)
def x_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the top-100 token frequencies: OLS slope of
    ln(freq) vs ln(rank) — the corpus-health statistic (natural text
    ≈ −1; templated/boilerplate corpora deviate hard). Frequencies
    from one hash aggregate + heap top-100; the regression is four
    DECIMAL sums over 100 rows (order-proof, unlike a double fold),
    closed-form slope quantized e6."""
    docs = _spread(tables(spark, sf_dir)["documents"])
    freq = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(100)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranked = freq.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(28,12)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,12)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).cast("double").alias("sxx"),
    )
    return s.select(
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * F.lit(1e6) + F.lit(0.5)
        ).alias("zipf_slope_e6"),
        F.col("n").cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination — train/eval n-gram containment
# ---------------------------------------------------------------------------

#: distinct word-8-gram shingles of `toks` (decontamination granularity)
_D_SHINGLES8 = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(toks) - 7, 0)), "
    "i -> array_to_string(toks[i:i+7], ' ')))"
)

_D_DECONTAM = f"""
    WITH sets AS (
        SELECT doc_id, {_D_SHINGLES8} AS sh,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < 'cccccc' AS is_train
        FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
    ),
    train_grams AS (
        SELECT DISTINCT {_D_MD5_60.replace("md5(s)", "md5(g)")} AS h
        FROM (SELECT unnest(sh) AS g FROM sets WHERE is_train)
    ),
    eval_posting AS (
        SELECT doc_id, {_D_MD5_60.replace("md5(s)", "md5(g)")} AS h
        FROM (SELECT doc_id, unnest(sh) AS g FROM sets WHERE NOT is_train)
    ),
    hits AS (
        SELECT p.doc_id, count(*) AS n
        FROM eval_posting p JOIN train_grams t ON t.h = p.h
        GROUP BY p.doc_id
    )
    SELECT s.doc_id,
           coalesce(h.n, 0) AS n_shared_8grams,
           coalesce(h.n, 0) > 0 AS contaminated
    FROM sets s LEFT JOIN hits h ON h.doc_id = s.doc_id
    WHERE NOT s.is_train
"""


@query("x_decontaminate", oracle=_D_DECONTAM, tags=("ext", "dedup", "text"))
def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-pipeline gate that
    keeps eval data out of the training set: deterministically split
    the corpus 80/20 (the x_split_assign hash rule), then flag every
    EVAL document sharing any word-8-gram with ANY train document
    (the n-gram-containment rule used for public-benchmark overlap
    scrubbing), with the count of distinct shared 8-grams.

    Plan shape (100 TB): distinct train grams form an inverted index
    keyed by an 8-byte engine-portable hash (_md5_60 — at scale the
    64-bit key IS the shuffle key, never the gram text); the eval
    posting list equi-joins it and aggregates per doc — never an
    eval×train document cross join. One shuffle per side + one
    map-side-combining count; the left join back restores clean docs
    with n=0. Hash collisions in the 60-bit space only ever err
    CONSERVATIVE (a false shared-gram flags a clean doc, never the
    reverse) — the right failure direction for a contamination gate;
    at ~10¹² distinct grams the expected collision count is ~10⁵,
    i.e. a vanishing over-drop rate."""
    from ..operators.sampling import hash_bucket

    # work_factor=64: the word-8-gram posting explosion multiplies
    # downstream bytes/CPU ~64× past the scan (eight words per gram ×
    # ~every token a gram start), so even a sub-MB corpus saturates
    # one core — the A/B that sized _spread measured spreading 1.8×
    # FASTER here (0.96 s vs 1.71 s) while every ~1:1-cost pipeline
    # measured it slower.
    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=64)
    # ONE shingle pass over the whole corpus: the split flag is a pure
    # function of doc_id, so both sides ride one posting list instead
    # of shingling the corpus once per branch (the Arrow shingler is
    # the dominant cost; the row node can't column-prune, so every
    # extra consumer of the shingled lineage re-runs it in full).
    with_sh = shingle_docs_pandas(docs, "doc_id", "text", 8, out="sh0").select(
        "doc_id", F.array_distinct("sh0").alias("sh"),
        (hash_bucket(F.col("doc_id")) < "cccccc").alias("is_train"),
    )
    gram_h = _md5_60(F.col("g"))
    posting = with_sh.select(
        "doc_id", "is_train", F.explode("sh").alias("g")
    ).select("doc_id", "is_train", gram_h.alias("h"))
    # gram-side aggregation replaces the distinct + equi-join pair:
    # one shuffle on h marks each gram train-seen and carries its eval
    # doc list; exploding the flagged lists and counting per doc is
    # row-for-row what joining the eval posting against distinct train
    # grams produced (hash-collided grams inside one doc contribute
    # one list element per colliding gram, exactly like the join's
    # fan-out), so values are identical at one fewer shuffle and two
    # fewer corpus shingles.
    per_gram = posting.groupBy("h").agg(
        F.max("is_train").alias("has_train"),
        F.collect_list(
            F.when(~F.col("is_train"), F.col("doc_id"))
        ).alias("eval_docs"),
    )
    hits = (
        per_gram.filter("has_train")
        .select(F.explode("eval_docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the eval id list never needs the shingles — the split rule reads
    # only doc_id, so it comes straight off the narrow documents scan
    eval_ids = docs.select("doc_id").filter(
        ~(hash_bucket(F.col("doc_id")) < "cccccc")
    )
    return (
        eval_ids
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_shared_8grams"),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# embedding standardization (whitening prep)
# ---------------------------------------------------------------------------

_D_STANDARDIZE = """
    WITH exploded AS (
        SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    stats AS (
        SELECT pos,
               CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mu,
               sqrt(greatest(
                   CAST(sum(CAST(val * val AS DECIMAL(28,12))) AS DOUBLE) / count(*)
                   - (CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / count(*))
                     * (CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / count(*)),
                   0.0)) AS sigma
        FROM exploded GROUP BY pos
    ),
    z AS (
        SELECT e.vec_id,
               CASE WHEN s.sigma = 0 THEN 0.0
                    ELSE (e.val - s.mu) / s.sigma END AS z
        FROM exploded e JOIN stats s ON s.pos = e.pos
    )
    SELECT vec_id,
           CAST(floor(CAST(sum(CAST(z * z AS DECIMAL(28,12))) AS DOUBLE)
                      * 1e6 + 0.5) AS BIGINT) AS znorm2_e6,
           CAST(floor(max(z) * 1e6 + 0.5) AS BIGINT) AS zmax_e6
    FROM z GROUP BY vec_id
"""


@query("x_embed_standardize", oracle=_D_STANDARDIZE,
       tags=("ext", "similarity"), driver=False)
def x_embed_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (z-scoring) of the embedding
    corpus — the whitening-prep step before PCA/indexing when feature
    scales drift across encoder versions. Per-dim μ/σ come from ONE
    exploded aggregate (DECIMAL sums → partitioning-proof), broadcast
    back onto the cells; the per-vector outputs (Σz² and max z,
    e6-quantized through DECIMAL so accumulation order cannot flip the
    hash) summarize the standardized vectors for the differential
    check. Two shuffles total (dim stats + per-vec regroup); the stats
    table is dims-sized — broadcast at any corpus scale."""
    emb = tables(spark, sf_dir)["embeddings"]
    exploded = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"),
        F.col("val").cast("double").alias("val"),
    )
    mu = F.sum(F.col("val").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1))
    ex2 = (
        F.sum((F.col("val") * F.col("val")).cast("decimal(28,12)")).cast("double")
        / F.count(F.lit(1))
    )
    stats = exploded.groupBy("pos").agg(
        mu.alias("mu"),
        F.sqrt(F.greatest(ex2 - mu * mu, F.lit(0.0))).alias("sigma"),
    )
    z = (
        exploded.join(F.broadcast(stats), "pos")
        .select(
            "vec_id",
            F.when(F.col("sigma") == 0, F.lit(0.0))
            .otherwise((F.col("val") - F.col("mu")) / F.col("sigma"))
            .alias("z"),
        )
    )
    return z.groupBy("vec_id").agg(
        F.floor(
            F.sum((F.col("z") * F.col("z")).cast("decimal(28,12)")).cast("double")
            * F.lit(1e6) + F.lit(0.5)
        ).alias("znorm2_e6"),
        F.floor(F.max("z") * F.lit(1e6) + F.lit(0.5)).alias("zmax_e6"),
    )


# ---------------------------------------------------------------------------
# column correlation matrix (profiling / feature-drift audits)
# ---------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount")

#: hi/lo split point for exact int64 moment sums (see x_column_corr)
_CORR_SPLIT = 1 << 21

_CORR_KEY = {"l_quantity": "q", "l_extendedprice": "p", "l_discount": "d"}

_D_CORR_PAIRS = [
    (a, b, _CORR_KEY[a], _CORR_KEY[b])
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1:]
]


def _d_corr_final(n: str, sab: str, sa: str, sb: str, saa: str, sbb: str) -> str:
    """Final Pearson formula over exact integer moments — identical
    double op order on both engines (decimal/hugeint exact until the
    three casts, then IEEE divide/sqrt)."""
    return (
        f"CAST(floor(CAST({n} * {sab} - {sa} * {sb} AS DOUBLE)"
        f" / (sqrt(CAST({n} * {saa} - {sa} * {sa} AS DOUBLE))"
        f" * sqrt(CAST({n} * {sbb} - {sb} * {sb} AS DOUBLE)))"
        f" * 1e6 + 0.5) AS BIGINT)"
    )


_D_CORR = (
    """
    WITH i AS (
        SELECT CAST(round(l_quantity * 100) AS BIGINT) AS vq,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS vp,
               CAST(round(l_discount * 100) AS BIGINT) AS vd
        FROM lineitem
    ),
    s AS (
        SELECT count(*) AS n,
               sum(vq) AS sq, sum(vp) AS sp, sum(vd) AS sd,
               sum(vq*vp) AS sqp, sum(vq*vd) AS sqd, sum(vp*vd) AS spd,
               sum(vq*vq) AS sqq, sum(vp*vp) AS spp, sum(vd*vd) AS sdd
        FROM i
    )
    """
    + "\nUNION ALL\n".join(
        f"SELECT '{a}~{b}' AS pair, "
        + _d_corr_final("n", f"s{ka}{kb}", f"s{ka}", f"s{kb}",
                        f"s{ka}{ka}", f"s{kb}{kb}")
        + " AS corr_e6 FROM s"
        for a, b, ka, kb in _D_CORR_PAIRS
    )
)


@query("x_column_corr", oracle=_D_CORR, tags=("ext", "profile"), driver=False)
def x_column_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of lineitem's numeric measures in
    ONE scan — the feature-drift / redundancy audit a profiling pass
    adds next to per-column stats.

    Exactness without decimal aggregation: the measures are 2-decimal
    fixed-point, so quantizing to integer "cents" loses nothing and
    correlation is scale-invariant. All moments are then EXACT integer
    sums — and integer sums are partitioning-proof for free. The only
    wrinkle is int64 range: Σp² reaches ~1e14·rows, so each product is
    hi/lo split at 2^21 and the two halves summed separately (both
    stay under 2^62 up to ~1e11 rows; beyond that widen the split to
    three limbs). The halves recombine in DECIMAL on the final
    single-row, and the closed-form corr runs in IEEE double from
    identical exact inputs on both engines. Result: 13 codegen'd long
    sums instead of 10 BigDecimal aggregations — measured 7× faster at
    sf0.1 — with the same bit-stable e6 output contract."""
    li = tables(spark, sf_dir)["lineitem"]
    ints = li.select(
        F.round(F.col("l_quantity") * 100).cast("long").alias("vq"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("vp"),
        F.round(F.col("l_discount") * 100).cast("long").alias("vd"),
    )
    mask = _CORR_SPLIT - 1
    aggs = [F.count(F.lit(1)).alias("n")]
    for k in ("q", "p", "d"):
        aggs.append(F.sum(f"v{k}").alias(f"s{k}"))
    prods = [("qp",), ("qd",), ("pd",), ("qq",), ("pp",), ("dd",)]
    for (nm,) in prods:
        prod = F.col(f"v{nm[0]}") * F.col(f"v{nm[1]}")
        aggs.append(F.sum(prod.bitwiseAND(F.lit(mask))).alias(f"lo_{nm}"))
        aggs.append(F.sum(F.shiftright(prod, 21)).alias(f"hi_{nm}"))
    s = ints.agg(*aggs)

    def dec(c) -> F.Column:
        return c.cast("decimal(38,0)")

    recon = {nm: (dec(F.col(f"lo_{nm}"))
                  + dec(F.col(f"hi_{nm}")) * F.lit(_CORR_SPLIT))
             for (nm,) in prods}
    n = dec(F.col("n"))
    sums = {k: dec(F.col(f"s{k}")) for k in ("q", "p", "d")}
    outs = []
    for a, b, ka, kb in _D_CORR_PAIRS:
        num = (n * recon[ka + kb] - sums[ka] * sums[kb]).cast("double")
        d1 = (n * recon[ka + ka] - sums[ka] * sums[ka]).cast("double")
        d2 = (n * recon[kb + kb] - sums[kb] * sums[kb]).cast("double")
        corr = num / (F.sqrt(d1) * F.sqrt(d2))
        outs.append(
            F.struct(
                F.lit(f"{a}~{b}").alias("pair"),
                F.floor(corr * F.lit(1e6) + F.lit(0.5)).cast("long")
                .alias("corr_e6"),
            )
        )
    return s.select(F.explode(F.array(*outs)).alias("r")).select(
        "r.pair", "r.corr_e6"
    )


# ---------------------------------------------------------------------------
# Z-order layout statistics (operators.layout under the hash gate)
# ---------------------------------------------------------------------------

_ZBITS = 8  # per-dimension quantization width for the driver check


def _d_zq(col: str, mn: str, mx: str) -> str:
    return (
        f"greatest(CAST(0 AS BIGINT), least(CAST({(1 << _ZBITS) - 1} AS BIGINT), "
        f"CAST(floor((CAST({col} AS DOUBLE) - {mn}) / "
        f"(CASE WHEN {mx} - {mn} > 0 THEN {mx} - {mn} ELSE 1.0 END) "
        f"* {(1 << _ZBITS) - 1}) AS BIGINT)))"
    )


_D_ZORDER = f"""
    WITH b AS (
        SELECT CAST(min(user_id) AS DOUBLE) AS mnu, CAST(max(user_id) AS DOUBLE) AS mxu,
               CAST(min(value) AS DOUBLE) AS mnv, CAST(max(value) AS DOUBLE) AS mxv
        FROM events
    ),
    q AS (
        SELECT {_d_zq("user_id", "mnu", "mxu")} AS qu,
               {_d_zq("value", "mnv", "mxv")} AS qv
        FROM events, b
    ),
    z AS (
        SELECT qu, qv,
               {" + ".join(
                   f"(((qu >> {j}) & 1) << {2 * j})"
                   f" + (((qv >> {j}) & 1) << {2 * j + 1})"
                   for j in range(_ZBITS)
               )} AS zval
        FROM q
    )
    SELECT zval >> {_ZBITS} AS z_bucket,
           count(*) AS n,
           min(qu) AS qu_min, max(qu) AS qu_max,
           min(qv) AS qv_min, max(qv) AS qv_max
    FROM z GROUP BY 1
"""


@query("x_zorder_stats", oracle=_D_ZORDER, tags=("ext", "layout"), driver=False)
def x_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout statistics over events: quantize
    (user_id, value) to 8 bits each against broadcast corpus bounds,
    interleave into the 16-bit z-value (operators.layout.zvalue — the
    clustering key zorder_write sorts files by), and aggregate per
    coarse z-bucket (top 8 bits). The per-bucket quantized min/max of
    BOTH dims is the locality structure multi-dimensional data
    skipping relies on — hash-verified here against a DuckDB
    re-derivation of the identical quantize + interleave arithmetic,
    so the layout operator's key math sits under the driver gate, not
    just pytest."""
    from ..operators.layout import _quantize, zvalue

    ev = tables(spark, sf_dir)["events"]
    bounds = ev.agg(
        F.min("user_id").cast("double").alias("mnu"),
        F.max("user_id").cast("double").alias("mxu"),
        F.min("value").cast("double").alias("mnv"),
        F.max("value").cast("double").alias("mxv"),
    )
    q = ev.crossJoin(F.broadcast(bounds)).select(
        _quantize(F.col("user_id"), F.col("mnu"), F.col("mxu"), _ZBITS).alias("qu"),
        _quantize(F.col("value"), F.col("mnv"), F.col("mxv"), _ZBITS).alias("qv"),
    )
    z = q.select(
        "qu", "qv", zvalue([F.col("qu"), F.col("qv")], _ZBITS).alias("zval")
    )
    return z.groupBy(
        F.shiftrightunsigned("zval", _ZBITS).alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("qu").alias("qu_min"), F.max("qu").alias("qu_max"),
        F.min("qv").alias("qv_min"), F.max("qv").alias("qv_max"),
    )


# substring-level exact dedup (Lee et al. 2022 ExactSubstr class):
# the DuckDB replay is the same window/island algebra — position
# explode, global substring-multiplicity filter, lag-based island
# merge, and a string_agg reconstruction of the cut text. Exact-int
# stats plus an md5 over the reconstructed text make the CUT itself
# (not just the flagging) hash-load-bearing.
_D_SUBSTR = """
WITH docs AS (SELECT doc_id, text FROM documents),
w AS (
    SELECT d.doc_id, t.i AS pos,
           substring(d.text, CAST(t.i AS INT), 60) AS s
    FROM docs d,
         LATERAL unnest(generate_series(1, length(d.text) - 59)) AS t(i)
),
dupw AS (
    SELECT doc_id, pos FROM w
    WHERE s IN (SELECT s FROM w GROUP BY s HAVING count(*) >= 2)
),
brk AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     < 60
                THEN 0 ELSE 1 END AS b
    FROM dupw
),
isl AS (
    SELECT doc_id, pos,
           sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM brk
),
sp AS (
    SELECT doc_id, g, count(*) AS nw, min(pos) AS s, max(pos) + 59 AS e
    FROM isl GROUP BY 1, 2
),
perdoc AS (
    SELECT doc_id, CAST(sum(nw) AS BIGINT) AS dup_windows,
           CAST(count(*) AS BIGINT) AS dup_spans,
           CAST(sum(e - s + 1) AS BIGINT) AS dup_chars
    FROM sp GROUP BY 1
),
spg AS (
    SELECT doc_id, s, e,
           coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
    FROM sp
),
kept AS (
    SELECT spg.doc_id,
           concat(
             coalesce(string_agg(
               CASE WHEN spg.s - spg.pe - 1 > 0
                    THEN substring(d.text, CAST(spg.pe + 1 AS INT),
                                   CAST(spg.s - spg.pe - 1 AS INT))
                    ELSE '' END, '' ORDER BY spg.s), ''),
             substring(d.text, CAST(max(spg.e) + 1 AS INT))
           ) AS kept_text
    FROM spg JOIN docs d USING (doc_id)
    GROUP BY spg.doc_id, d.text
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       coalesce(p.dup_windows, 0) AS dup_windows,
       coalesce(p.dup_spans, 0) AS dup_spans,
       coalesce(p.dup_chars, 0) AS dup_chars,
       md5(coalesce(k.kept_text, d.text)) AS kept_md5
FROM docs d
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN kept k USING (doc_id)
"""


@query("x_dedup_substring", oracle=_D_SUBSTR,
       tags=("ext", "dedup", "substring"))
def x_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level EXACT dedup (r8) — the suffix-array dedup
    family of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), the one public LLM-dedup class the
    engine didn't yet carry: doc-level exact/near-dup dedup can't see
    a 60-char license header or boilerplate paragraph repeated inside
    otherwise-distinct documents; this operator flags every region
    covered by a length-60 substring occurring ≥ 2 times ANYWHERE in
    the corpus (within or across docs) and cuts it out.

    Spark shape (operators.dedup.substring_dedup): position explode →
    per-hash multiplicity as count() OVER (PARTITION BY window_hash)
    — ONE corpus pass, one exchange of 20-byte fixed-width rows, the
    text never crosses an exchange → collision verify at substring
    grain over candidates only → lag/island merge (two O(1)-state
    windows per doc) → codegen'd `aggregate` fold that cuts the
    spans. Never a suffix array, never doc×doc; O(total chars) rows,
    the same asymptotics the suffix-array formulation pays, on
    uniform keys throughout.

    Hash-load-bearing: per-doc window/span/char counts AND the md5 of
    the reconstructed (cut) text — the oracle rebuilds the kept text
    via string_agg over the same islands, so a one-character slip in
    the span algebra or the fold breaks the row hash."""
    # position explode ≈ 60× downstream work per scanned byte (one
    # window row + a 60-char substring hash per character): spread the
    # single-file scan before the generate (interleaved A/B at sf0.1:
    # the explode+hash stage alone 1.76 s → 0.34 s on local[32])
    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=64)
    out = substring_dedup(docs, "doc_id", "text", min_len=60)
    return out.select(
        "doc_id",
        "n_chars",
        "dup_windows",
        "dup_spans",
        "dup_chars",
        F.md5(F.encode("kept_text", "UTF-8")).alias("kept_md5"),
    )


# cross-corpus substring excision: the DuckDB replay flags new-side
# windows present anywhere in the base side, then runs the same
# island/cut algebra as _D_SUBSTR. The %3 split mirrors
# x_dedup_incremental's incoming-vs-corpus convention.
_D_SUBSTR_X = """
WITH newdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
base AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
wn AS (
    SELECT d.doc_id, t.i AS pos,
           substring(d.text, CAST(t.i AS INT), 60) AS s
    FROM newdocs d,
         LATERAL unnest(generate_series(1, length(d.text) - 59)) AS t(i)
),
wb AS (
    SELECT DISTINCT substring(d.text, CAST(t.i AS INT), 60) AS s
    FROM base d,
         LATERAL unnest(generate_series(1, length(d.text) - 59)) AS t(i)
),
dupw AS (SELECT doc_id, pos FROM wn WHERE s IN (SELECT s FROM wb)),
brk AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     < 60
                THEN 0 ELSE 1 END AS b
    FROM dupw
),
isl AS (
    SELECT doc_id, pos,
           sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM brk
),
sp AS (
    SELECT doc_id, g, count(*) AS nw, min(pos) AS s, max(pos) + 59 AS e
    FROM isl GROUP BY 1, 2
),
perdoc AS (
    SELECT doc_id, CAST(sum(nw) AS BIGINT) AS dup_windows,
           CAST(count(*) AS BIGINT) AS dup_spans,
           CAST(sum(e - s + 1) AS BIGINT) AS dup_chars
    FROM sp GROUP BY 1
),
spg AS (
    SELECT doc_id, s, e,
           coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
    FROM sp
),
kept AS (
    SELECT spg.doc_id,
           concat(
             coalesce(string_agg(
               CASE WHEN spg.s - spg.pe - 1 > 0
                    THEN substring(d.text, CAST(spg.pe + 1 AS INT),
                                   CAST(spg.s - spg.pe - 1 AS INT))
                    ELSE '' END, '' ORDER BY spg.s), ''),
             substring(d.text, CAST(max(spg.e) + 1 AS INT))
           ) AS kept_text
    FROM spg JOIN newdocs d USING (doc_id)
    GROUP BY spg.doc_id, d.text
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       coalesce(p.dup_windows, 0) AS dup_windows,
       coalesce(p.dup_spans, 0) AS dup_spans,
       coalesce(p.dup_chars, 0) AS dup_chars,
       md5(coalesce(k.kept_text, d.text)) AS kept_md5
FROM newdocs d
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN kept k USING (doc_id)
"""


@query("x_substring_excise", oracle=_D_SUBSTR_X,
       tags=("ext", "dedup", "substring", "decontaminate"))
def x_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excision-style cross-corpus decontamination (r8) — the
    span-cutting complement of x_decontaminate's doc-level
    containment flagging, after Lee et al. 2022: an incoming batch
    (doc_id % 3 == 0) has every region covered by a 60-char substring
    that occurs ANYWHERE in the protected corpus (the other two
    thirds) flagged and CUT, keeping the rest of each document.
    Multiplicity is irrelevant here — one base occurrence flags a
    window — which makes the base side's distinct window-hash table
    the persistable steady-state artifact (the substring analogue of
    the minhash bucket index).

    Spark shape (operators.dedup.substring_excise): both sides'
    windows hash in one codegen stage each; candidates come from the
    batch's rows equi-joined against the base's distinct hashes;
    collision verify recomputes base substrings ONLY for hash-matched
    windows. Stats + the md5 of the cut text ride the same island/cut
    algebra — and the oracle replays all of it, so the cross-corpus
    flagging AND the excision are hash-load-bearing."""
    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=64)
    out = substring_excise(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        "doc_id", "text", min_len=60,
    )
    return out.select(
        "doc_id",
        "n_chars",
        "dup_windows",
        "dup_spans",
        "dup_chars",
        F.md5(F.encode("kept_text", "UTF-8")).alias("kept_md5"),
    )


# stupid-backoff trigram LM: the DuckDB replay builds the same three
# count tables and evaluates the identical CASE chain with the same
# float-op ordering, so every branch's -ln S quantizes identically.
_D_LM_BACKOFF = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                           x -> x <> '') AS tk
        FROM documents
    ),
    train AS (SELECT tk FROM toks WHERE doc_id % 3 <> 0),
    uni AS (SELECT w, count(*) AS c1
            FROM (SELECT unnest(tk) AS w FROM train) GROUP BY 1),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tokens,
                   count(*) AS v FROM uni),
    bi AS (SELECT tk[i] || ' ' || tk[i + 1] AS bg, count(*) AS c12
           FROM train, unnest(generate_series(1, len(tk) - 1)) AS g(i)
           GROUP BY 1),
    tri AS (SELECT tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS tg,
                   count(*) AS c123
            FROM train, unnest(generate_series(1, len(tk) - 2)) AS g(i)
            GROUP BY 1),
    dtg AS (
        SELECT doc_id,
               tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS tg,
               tk[i] || ' ' || tk[i + 1] AS ctx,
               tk[i + 1] || ' ' || tk[i + 2] AS suf,
               tk[i + 1] AS w2, tk[i + 2] AS w3
        FROM toks, unnest(generate_series(1, len(tk) - 2)) AS g(i)
    ),
    scored AS (
        SELECT d.doc_id,
               CAST(round(-ln(
                   CASE WHEN coalesce(t.c123, 0) > 0
                        THEN CAST(t.c123 AS DOUBLE) / bc.c12
                        WHEN coalesce(bs.c12, 0) > 0
                        THEN 0.4 * (CAST(bs.c12 AS DOUBLE) / u2.c1)
                        ELSE 0.4 * 0.4 * ((coalesce(u3.c1, 0) + 0.1)
                             / (tot.n_tokens + 0.1 * tot.v)) END
               ) * 1000000.0) AS BIGINT) AS nll_e6
        FROM dtg d
        LEFT JOIN tri t ON t.tg = d.tg
        LEFT JOIN bi bc ON bc.bg = d.ctx
        LEFT JOIN bi bs ON bs.bg = d.suf
        LEFT JOIN uni u2 ON u2.w = d.w2
        LEFT JOIN uni u3 ON u3.w = d.w3
        CROSS JOIN tot
    ),
    agg AS (
        SELECT t.doc_id,
               count(s.nll_e6) AS n_trigrams,
               CAST(round(CAST(coalesce(sum(s.nll_e6), 0) AS DOUBLE)
                          / greatest(count(s.nll_e6), 1) / 100.0)
                    AS BIGINT) AS avg_nll_e4
        FROM toks t LEFT JOIN scored s ON s.doc_id = t.doc_id
        GROUP BY 1
    )
    SELECT doc_id, n_trigrams, avg_nll_e4,
           avg_nll_e4 <= 36000 AS lm_pass
    FROM agg
"""


@query("x_lm_backoff", oracle=_D_LM_BACKOFF,
       tags=("ext", "text", "quality", "lm"))
def x_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff TRIGRAM LM quality filter (r8) — Brants et al.
    2007 ("Large Language Models in Machine Translation"), the
    smoothing scheme DESIGNED for distributed LMs: no discounting or
    normalization pass, just raw relative frequencies with a fixed
    α=0.4 backoff through trigram → bigram → add-k unigram floor.
    The trigram big brother of x_lm_perplexity's CCNet bigram filter:
    same %3 reference-corpus split, but context-sensitive two words
    back, so word-SALAD that preserves unigram/bigram statistics
    still scores badly.

    Spark shape (operators.lm.stupid_backoff_perplexity): the model
    is THREE count tables + a 1-row totals aggregate (one tagged
    Arrow pass builds all of them); scoring is one Arrow trigram pass
    + FIVE left equi-joins (trigram, context bigram, suffix bigram,
    two unigrams) + a broadcast of totals — no driver model object,
    shuffle-native, exactly the plan Brants' MapReduce formulation
    distributes. Per-position -ln S quantizes to e6 before the doc
    mean (bit-stable under any partitioning); the oracle replays the
    identical CASE chain with the same float-op ordering."""
    from ..operators.lm import stupid_backoff_perplexity

    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=8)
    train = docs.filter(F.col("doc_id") % 3 != 0)
    # gate at the corpus's ~90th nll percentile (36 ke4 ≈ ppl 36.6)
    # so lm_pass separates this corpus's tail at every graded sf;
    # 80 ke4 stays the public-scale default in the operator
    return stupid_backoff_perplexity(
        docs, train, alpha=0.4, add_k=0.1, gate_nll_e4=36_000,
    )


# DSIR importance resampling: the DuckDB replay builds both bigram
# models, quantizes each side's -ln P to e6 per bigram before the
# subtraction, and derives the Gumbel noise from the engine-portable
# md5-prefix uniform — every float op in the same order as the plan.
_D_DSIR = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                           x -> x <> '') AS tk
        FROM documents
    ),
    tt AS (SELECT tk FROM toks WHERE doc_id % 7 = 0),
    rr AS (SELECT tk FROM toks WHERE doc_id % 7 <> 0),
    bt AS (SELECT tk[i] || ' ' || tk[i + 1] AS bg, count(*) AS c12
           FROM tt, unnest(generate_series(1, len(tk) - 1)) AS g(i)
           GROUP BY 1),
    pt AS (SELECT split_part(bg, ' ', 1) AS w1,
                  CAST(sum(c12) AS BIGINT) AS c1 FROM bt GROUP BY 1),
    vt AS (SELECT count(DISTINCT w) AS v
           FROM (SELECT unnest(tk) AS w FROM tt)),
    br AS (SELECT tk[i] || ' ' || tk[i + 1] AS bg, count(*) AS c12
           FROM rr, unnest(generate_series(1, len(tk) - 1)) AS g(i)
           GROUP BY 1),
    pr AS (SELECT split_part(bg, ' ', 1) AS w1,
                  CAST(sum(c12) AS BIGINT) AS c1 FROM br GROUP BY 1),
    vr AS (SELECT count(DISTINCT w) AS v
           FROM (SELECT unnest(tk) AS w FROM rr)),
    dbg AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg,
                   tk[i] AS w1
            FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)),
    scored AS (
        SELECT d.doc_id,
               CAST(round(-ln((coalesce(br.c12, 0) + 0.1)
                              / (coalesce(pr.c1, 0) + 0.1 * vr.v))
                          * 1000000.0) AS BIGINT)
             - CAST(round(-ln((coalesce(bt.c12, 0) + 0.1)
                              / (coalesce(pt.c1, 0) + 0.1 * vt.v))
                          * 1000000.0) AS BIGINT) AS lw_e6
        FROM dbg d
        LEFT JOIN bt ON bt.bg = d.bg
        LEFT JOIN pt ON pt.w1 = d.w1
        LEFT JOIN br ON br.bg = d.bg
        LEFT JOIN pr ON pr.w1 = d.w1
        CROSS JOIN vt CROSS JOIN vr
    ),
    agg AS (
        SELECT t.doc_id, count(s.lw_e6) AS n_bigrams,
               CAST(coalesce(sum(s.lw_e6), 0) AS BIGINT) AS logw_e6
        FROM toks t LEFT JOIN scored s ON s.doc_id = t.doc_id
        GROUP BY 1
    ),
    gum AS (
        SELECT doc_id, n_bigrams, logw_e6,
               logw_e6 + CAST(round(-ln(-ln(
                   (CAST(CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                        AS BIGINT) AS DOUBLE) + 0.5)
                   / 281474976710656.0)) * 1000000.0) AS BIGINT) AS g_e6
        FROM agg
    )
    SELECT doc_id, n_bigrams, logw_e6, g_e6,
           CAST(row_number() OVER (ORDER BY g_e6 DESC, doc_id ASC)
                AS INT) AS rank
    FROM gum ORDER BY g_e6 DESC, doc_id ASC LIMIT 100
"""


@query("x_dsir_sample", oracle=_D_DSIR,
       tags=("ext", "sampling", "lm", "dsir"))
def x_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-class importance resampling (r8) — Xie et al. 2023 ("Data
    Selection for Language Models via Importance Resampling"): select
    the training documents whose n-gram statistics look most like a
    TARGET distribution. log w(x) = ln p_target(x) − ln p_raw(x)
    under two add-k bigram models (target = the doc_id % 7 == 0
    slice standing in for a curated reference; raw = the rest), then
    Gumbel top-k — adding Gumbel(0,1) noise to the log-weights and
    taking the k largest IS sampling without replacement
    proportionally to w(x), as one shuffle-free expression per doc.

    Fully deterministic and engine-portable: the Gumbel uniform
    derives from the md5-prefix bigint (the sampling-suite
    convention), each model's -ln P quantizes to e6 per bigram before
    the subtraction, and the top-k has a unique tiebreak — so DuckDB
    replays selection bit-for-bit. Plan shape: one bigram explode of
    the candidates + four stored-count-table joins + one broadcast
    vocab row (operators.lm.dsir_logweights), then a
    TakeOrderedAndProject — no driver model object, no global sort
    materialization."""
    from ..operators.lm import dsir_logweights

    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=8)
    target = docs.filter(F.col("doc_id") % 7 == 0)
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    lw = dsir_logweights(docs, target, raw)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(281474976710656.0)
    g = (
        F.col("logw_e6")
        + F.round(-F.log(-F.log(u)) * F.lit(1_000_000.0)).cast("bigint")
    ).alias("g_e6")
    top = (
        lw.select("doc_id", "n_bigrams", "logw_e6", g)
        .orderBy(F.col("g_e6").desc(), F.col("doc_id").asc())
        .limit(100)
    )
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("g_e6").desc(), F.col("doc_id").asc())
        ),
    )


# DSIR over HASHED n-gram buckets (r10, VERDICT r8 #7 / r9 #3): the
# DuckDB replay re-derives the identical md5-prefix buckets, builds
# both bucket models, quantizes each side's -ln P to e6 PER BUCKET
# before the subtraction (so the delta is integer the moment it exists),
# and falls back to the smoothing-only constant for buckets unseen in
# both corpora — every float op in the same order as the Spark plan.
_DSIR_B = 1024  # small enough that buckets genuinely collide at sf0.01
_D_DSIR_BUCKETS = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                           x -> x <> '') AS tk
        FROM documents
    ),
    gt AS (
        SELECT unnest(tk) AS g FROM toks WHERE doc_id % 7 = 0
        UNION ALL
        SELECT tk[i] || ' ' || tk[i + 1]
        FROM toks, unnest(generate_series(1, len(tk) - 1)) AS s(i)
        WHERE doc_id % 7 = 0
    ),
    gr AS (
        SELECT unnest(tk) AS g FROM toks WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT tk[i] || ' ' || tk[i + 1]
        FROM toks, unnest(generate_series(1, len(tk) - 1)) AS s(i)
        WHERE doc_id % 7 <> 0
    ),
    bt AS (SELECT CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)
                  % 1024 AS b, count(*) AS ct FROM gt GROUP BY 1),
    br AS (SELECT CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)
                  % 1024 AS b, count(*) AS cr FROM gr GROUP BY 1),
    tot AS (SELECT
        (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) FROM bt) AS tt,
        (SELECT CAST(coalesce(sum(cr), 0) AS DOUBLE) FROM br) AS tr),
    delta AS (
        SELECT coalesce(bt.b, br.b) AS b,
               CAST(round(-ln((coalesce(br.cr, 0) + 0.1)
                              / (tr + 0.1 * 1024)) * 1000000.0) AS BIGINT)
             - CAST(round(-ln((coalesce(bt.ct, 0) + 0.1)
                              / (tt + 0.1 * 1024)) * 1000000.0) AS BIGINT)
               AS d_e6
        FROM bt FULL JOIN br ON bt.b = br.b CROSS JOIN tot
    ),
    dg AS (
        SELECT doc_id, unnest(tk) AS g FROM toks
        UNION ALL
        SELECT doc_id, tk[i] || ' ' || tk[i + 1]
        FROM toks, unnest(generate_series(1, len(tk) - 1)) AS s(i)
    ),
    scored AS (
        SELECT dg.doc_id,
               coalesce(d.d_e6,
                   CAST(round(-ln(0.1 / (tr + 0.1 * 1024)) * 1000000.0)
                        AS BIGINT)
                 - CAST(round(-ln(0.1 / (tt + 0.1 * 1024)) * 1000000.0)
                        AS BIGINT)) AS lw_e6
        FROM dg CROSS JOIN tot
        LEFT JOIN delta d
          ON d.b = CAST(concat('0x', substr(md5(dg.g), 1, 15)) AS BIGINT)
                   % 1024
    )
    SELECT t.doc_id,
           count(s.lw_e6) AS n_grams,
           CAST(coalesce(sum(s.lw_e6), 0) AS BIGINT) AS logw_e6
    FROM (SELECT doc_id FROM documents) t
    LEFT JOIN scored s ON s.doc_id = t.doc_id
    GROUP BY 1
"""


@query("x_dsir_buckets", oracle=_D_DSIR_BUCKETS,
       tags=("ext", "sampling", "lm", "dsir"))
def x_dsir_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR log-weights over HASHED n-gram bucket features (r10) —
    the variant Xie et al. 2023 productionize: unigram+bigram
    occurrences hashed into B buckets, log w(x) summed from the two
    add-k multinomial bucket models (target = doc_id % 7 == 0, raw =
    the rest, matching x_dsir_sample's split).

    Why this is the 100 TB DSIR path (operators.lm.
    dsir_bucket_logweights): the whole trained model is ONE ≤B-row
    per-bucket delta table that BROADCASTS — scoring is one Arrow gram
    pass + a broadcast join + a single groupBy(doc_id) shuffle,
    versus the raw-bigram variant's four shuffle joins against
    unbounded vocabulary tables. The bucket hash here is the
    md5-prefix bigint (x_dedup_simhash portability convention) so
    DuckDB derives identical buckets; the library default stays
    xxhash64 for production. B=1024 keeps buckets genuinely colliding
    at the graded sf, exercising the hash-collision semantics."""
    from ..operators.lm import dsir_bucket_logweights_split

    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=8)
    # split form (r12): target/raw are a filter split of the scored
    # corpus itself, so ONE cached gram pass feeds training AND
    # scoring — bit-identical to the general three-corpus form
    # (equivalence pinned at two sfs), at half the Arrow gram work
    return dsir_bucket_logweights_split(
        docs, F.col("doc_id") % 7 == 0, hash_buckets=_DSIR_B, add_k=0.1,
        hash_fn=_md5_60,
    )


def _semdedup_oracle(sf_dir: str, n_cells: int = 16, iters: int = 5,
                     tau: float = 0.4) -> str:
    """DuckDB re-derivation of the SemDeDup pipeline with the TRAINED
    centroids embedded as literals (the _ivf_oracle lazy-oracle move):
    rank-1 assignment over centroid dots, within-cell pair cosines and
    the centroid cosine both rounded to 6 decimals (the blockwise
    BLAS-vs-fold convention _D_EMB_NEARDUP pins), and the
    keep-least-central rule as a NOT EXISTS over the rounded values."""
    from ..operators.similarity import ivf_centroids_local

    C = ivf_centroids_local(sf_dir, n_cells=n_cells, iters=iters)
    rows = []
    for c in range(n_cells):
        arr = ", ".join(repr(float(x)) for x in C[c])
        rows.append(f"({c}, [{arr}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
    WITH cent(cell, w) AS (VALUES {values}),
    asg AS (
        SELECT vec_id, cell, embedding FROM (
            SELECT e.vec_id, c.cell, e.embedding,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_d_dot("e.embedding", "c.w")} DESC,
                                c.cell ASC) AS rn
            FROM embeddings e, cent c
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT a.vec_id, a.cell, a.embedding,
               round({_d_dot("a.embedding", "c.w")}
                     / sqrt({_d_dot("a.embedding", "a.embedding")}),
                     6) AS cent_cos
        FROM asg a JOIN cent c ON c.cell = a.cell
    ),
    pairs AS (
        SELECT x.vec_id AS ia, y.vec_id AS ib
        FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id <> y.vec_id
        WHERE round({_d_dot("x.embedding", "y.embedding")}
                    / (sqrt({_d_dot("x.embedding", "x.embedding")})
                       * sqrt({_d_dot("y.embedding", "y.embedding")})),
                    6) >= {tau}
    )
    SELECT s.vec_id, s.cell, s.cent_cos,
           (SELECT count(*) FROM pairs p WHERE p.ia = s.vec_id)
               AS n_dups,
           NOT EXISTS (
               SELECT 1 FROM pairs p JOIN scored u ON u.vec_id = p.ib
               WHERE p.ia = s.vec_id
                 AND (u.cent_cos < s.cent_cos
                      OR (u.cent_cos = s.cent_cos
                          AND u.vec_id < s.vec_id))
           ) AS keep
    FROM scored s
    """


@query("x_semdedup", oracle=_semdedup_oracle,
       tags=("ext", "dedup", "similarity", "semdedup"))
def x_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-class semantic deduplication (r10 — Abbas et al. 2023):
    the embedding-space member of the dedup family the shingle/simhash
    operators can't see (paraphrases and re-encodings share no
    n-grams). Assign every embedding to its nearest k-means cell
    (the same deterministic trainer the IVF index uses), score all
    pairs WITHIN each cell, and keep each duplicate neighborhood's
    least-central member (operators.similarity.semantic_dedup).

    100 TB posture — the paper's own decomposition: the coarse
    quantizer bounds every pairwise block to one cell, so O(N²) never
    materializes across cells; per cell the work is one dgemm inside
    one applyInPandas group (zero joins, one exchange on the cell
    key), and n_cells is the executor-memory knob. Hash-load-bearing:
    assignment, 6dp centroid/pair cosines, dup counts AND the
    keep-least-central verdicts all cross the driver hash; the lazy
    oracle replays the whole pipeline over the exact trained-centroid
    literals."""
    from ..operators.similarity import semantic_dedup, train_ivf_centroids

    emb = _spread(tables(spark, sf_dir)["embeddings"])
    C = train_ivf_centroids(emb, n_cells=16, iters=5)
    return semantic_dedup(emb, C, threshold=0.4)


def _quality_probe_oracle(sf_dir: str) -> str:
    """DuckDB replay of the linear-probe scoring with the TRAINED
    model embedded as exact-repr literals (the IVF trained-centroid
    convention): `linear_probe_local` recomputes the Spark trainer's
    bit-identical weights from the parquet alone (shared feature SQL,
    exact integer sufficient statistics, the same pure-Python GD
    loop), so the margin expression below is the identical
    left-associated double arithmetic the Spark plan runs."""
    from ..operators.classifier import (
        PROBE_FEATURE_SQL,
        PROBE_FEATURES,
        linear_probe_local,
    )

    m = linear_probe_local(sf_dir)
    terms = [f"({m['w'][0]!r}) * 1.0"]
    for i, name in enumerate(PROBE_FEATURES):
        terms.append(
            f"({m['w'][i + 1]!r}) * (({name} - ({m['mu'][i]!r}))"
            f" / ({m['sigma'][i]!r}))"
        )
    margin = " + ".join(terms)
    return f"""
    WITH f AS ({PROBE_FEATURE_SQL}),
    scored AS (SELECT doc_id, y, {margin} AS margin FROM f)
    SELECT doc_id, y,
           CAST(round(margin * 1000000.0) AS BIGINT) AS margin_e6,
           margin >= 0.5 AS pred
    FROM scored
    """


@query("x_quality_probe", oracle=_quality_probe_oracle,
       tags=("ext", "text", "classifier"))
def x_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-probe quality classifier, trained AND scored at corpus
    scale (r10 — operators.classifier): distill the English-stopword
    curation signal (the rule x_quality_filter thresholds) into a
    ridge linear model over cheap text statistics — the
    fastText-classifier stage of public LLM curation recipes, built
    from exact integer sufficient statistics.

    Plan shape — the classic distributed linear model: training is
    TWO narrow corpus passes ending in map-side-combinable aggs whose
    results are bounded driver pulls (11 + 27 integers — the model's
    sufficient statistics; the x_classifier_eval collected-centroids
    class), the fixed-iteration GD loop runs driver-side on those
    exact integers, and scoring is one more narrow codegen projection.
    At 100 TB: three scans, no shuffle wider than agg partials.

    Hash-load-bearing: per-document margins (e6), predictions and
    labels all cross the driver hash; the lazy oracle re-derives the
    bit-identical weights engine-free (exact-integer statistics +
    the same pure-Python solver) and replays the identical
    left-associated margin arithmetic. On this synthetic corpus the
    probe only edges past the base rate (~87% vs ~86% — the testdata's
    text statistics are near-uncorrelated by construction); the
    learnability of the MACHINERY is pinned separately by the planted
    test in tests/test_classifier.py."""
    from ..operators.classifier import (
        probe_features,
        score_linear_probe,
        train_linear_probe,
    )

    # cache the (doc_id + 6 ints) feature table: moments agg, products
    # agg and the scoring projection would otherwise each re-run the
    # interpreted-HOF feature extraction — interleaved same-window A/B
    # at sf0.1 (5 reps/arm): cached 0.99 s min / 1.06 med vs uncached
    # 1.67 min / 1.72 med. Mid-plan cache → prepared-plan-cache
    # self-exclusion, the LM-trainer precedent.
    feats = managed_cache(probe_features(
        _spread(tables(spark, sf_dir)["documents"])
    ))
    model = train_linear_probe(feats)
    return score_linear_probe(feats, model)


_IMG_W, _IMG_H = 24, 20
_IMG_SIB_OFFSET = 10_000_000
_IMG_MAX_HAMMING = 6


def synth_image_pixels(i: int, sib: int):
    """The deterministic murmur-mixed RGB texture for document id `i`
    (`sib=1` is the one-pixel-perturbed near-duplicate sibling staged
    for every 20th id) — the image-dedup corpus DEFINITION, shared by
    the Spark corpus generator and the engine-free local replica so
    both hash identical images."""
    import numpy as np

    u64 = np.uint64
    w, h = _IMG_W, _IMG_H
    yy, xx, cc = np.meshgrid(
        np.arange(h, dtype=np.uint64),
        np.arange(w, dtype=np.uint64),
        np.arange(3, dtype=np.uint64), indexing="ij",
    )
    v = (u64(i) * u64(2654435761) + xx * u64(40503)
         + yy * u64(65537) + cc * u64(97))
    v ^= v >> u64(13)
    v *= u64(0x5BD1E995)
    v ^= v >> u64(15)
    px = (v % u64(256)).astype(np.uint8)
    if i % 4 == 2 or i % 8 == 3:
        # GIF ids (r13) and palette-WebP ids (r14): grayscale texture
        # (R = G = B = the channel-0 values) so the 256-entry palette
        # encodes it LOSSLESSLY and the decode-skipping replica stays
        # container-blind — the PNG/FLAC convention. Part of the
        # corpus DEFINITION: the Spark generator and the replica both
        # call this.
        px = np.repeat(px[:, :, :1], 3, axis=2)
    if sib:
        px = px.copy()
        px[h // 2, w // 2] = (px[h // 2, w // 2] + 9) % 256
    return px


def _dhash_replica(px) -> int:
    """Independent pure-Python re-derivation of the 64-bit dHash —
    its OWN luminance, half-pixel-center 9×8 nearest-neighbor resize
    and MSB-first bit packing (it calls nothing from
    sources.multimodal), returned as the signed-bigint
    reinterpretation the engine emits. Because the replica hashes the
    generator's pixels directly while the engine round-trips them
    through encode_bmp → decode_image → resize_image → dhash64, a
    hash match verifies the BMP codec, the resize kernel AND the bit
    assembly, not just the banded join."""
    h, w = px.shape[:2]
    lum = [
        [
            (int(px[r][c][0]) * 299 + int(px[r][c][1]) * 587
             + int(px[r][c][2]) * 114) // 1000
            for c in range(w)
        ]
        for r in range(h)
    ]
    rows = [min(int((r + 0.5) * h / 8), h - 1) for r in range(8)]
    cols = [min(int((c + 0.5) * w / 9), w - 1) for c in range(9)]
    out = 0
    for r in rows:
        for ci in range(8):
            out = (out << 1) | int(lum[r][cols[ci]] > lum[r][cols[ci + 1]])
    return out - (1 << 64) if out >= (1 << 63) else out


def image_dhash_local(sf_dir: str) -> dict[int, int]:
    """Recompute the x_image_dhash table WITHOUT Spark — DuckDB reads
    the document ids, `synth_image_pixels` regenerates the corpus and
    `_dhash_replica` hashes it. Used to embed the dhash bits as
    oracle literals (the linear_probe_local / ivf_centroids_local
    convention) and as the pytest parity target."""
    import os

    import duckdb

    con = duckdb.connect()
    ids = [
        int(r[0]) for r in con.sql(
            f"SELECT doc_id FROM "
            f"'{os.path.join(sf_dir, 'documents.parquet')}'"
        ).fetchall()
    ]
    out = {}
    for i in ids:
        for sib in (0, 1) if i % 20 == 0 else (0,):
            out[i + sib * _IMG_SIB_OFFSET] = _dhash_replica(
                synth_image_pixels(i, sib)
            )
    return out


def image_pairs_local(
    sf_dir: str, max_hamming: int = _IMG_MAX_HAMMING
) -> list[tuple[int, int, int]]:
    """Ground-truth near-duplicate pairs by BRUTE FORCE over the
    replica hash table (exact all-pairs Hamming — the O(n²) the
    distributed banded join exists to avoid, affordable here because
    oracles resolve at verification scale). Pins the banded join's
    pigeonhole recall claim against an implementation with no bands
    at all."""
    import numpy as np

    hs = image_dhash_local(sf_dir)
    ids = np.array(sorted(hs), dtype=np.int64)
    raw = np.array([hs[int(i)] for i in ids], dtype=np.int64)
    bits = np.unpackbits(
        raw.view(np.uint8).reshape(len(ids), 8), axis=1
    ).astype(np.float32)
    # hamming(a, b) = Σ xor bits; exact in float32 (≤64 sums of 0/1)
    d = bits @ (1.0 - bits.T) + (1.0 - bits) @ bits.T
    ai, bi = np.nonzero(np.triu(d <= max_hamming, k=1))
    return [
        (int(ids[a]), int(ids[b]), int(round(float(d[a, b]))))
        for a, b in zip(ai, bi)
    ]


def _image_dhash_oracle(sf_dir: str) -> str:
    rows = ",".join(
        f"({k},{v})" for k, v in sorted(image_dhash_local(sf_dir).items())
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(dhash AS BIGINT) AS dhash
    FROM (VALUES {rows}) AS t(doc_id, dhash)
    """


def _image_pairs_oracle(sf_dir: str) -> str:
    pairs = image_pairs_local(sf_dir)
    if not pairs:
        return ("SELECT CAST(NULL AS BIGINT) AS id_a, "
                "CAST(NULL AS BIGINT) AS id_b, "
                "CAST(NULL AS INT) AS hamming WHERE 1 = 0")
    rows = ",".join(f"({a},{b},{h})" for a, b, h in pairs)
    return f"""
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(hamming AS INT) AS hamming
    FROM (VALUES {rows}) AS t(id_a, id_b, hamming)
    """


def _image_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) — one deterministic textured BMP per document
    id plus the perturbed sibling for every 20th id, generated
    executor-side in one Arrow pass (no driver materialization; at
    corpus scale the payload column would simply BE the input)."""
    from ..sources import arrow_rows
    from ..sources.gifcodec import encode_gif
    from ..sources.multimodal import encode_bmp, encode_png
    from ..sources.tiffcodec import encode_tiff
    from ..sources.webpcodec import encode_webp

    # spread the bare ids wide first: the parquet scan arrives as ONE
    # split, and the per-id synth+encode+decode work is ~KBs per
    # 8-byte id — exactly the high-work_factor case _spread exists for
    ids = _spread(
        tables(spark, sf_dir)["documents"].select("doc_id"),
        work_factor=256,
    )

    def enc_tiff_lzw(px):
        return encode_tiff(px, compression="lzw", predictor=True)

    def enc_webp_pal(px):
        # grayscale textures always fit the 256-entry palette —
        # exercises the color-indexing + bundling decode path
        return encode_webp(px, use_palette=True)

    def enc_webp_sg(px):
        return encode_webp(px, subtract_green=True, cache_bits=6)

    def gen(doc_ids):
        out_ids, payloads = [], []
        for i in doc_ids:
            for sib in (0, 1) if i % 20 == 0 else (0,):
                out_ids.append(i + sib * _IMG_SIB_OFFSET)
                # every 4th image ships as PNG (r12), every 4th+2
                # as GIF (r13, grayscale texture → lossless
                # palette), every 8th+1 as LZW+predictor TIFF
                # (r13), and — r14 — every 8th+3 as palette-coded
                # lossless WebP with every 8th+7 as
                # subtract-green + color-cache WebP: all the
                # containers are exact, so the decode-skipping
                # replica oracle stays container-blind and the
                # RFC 2083 + GIF89a + TIFF 6.0 + VP8L decode
                # paths are driver-hash-load-bearing (the FLAC
                # move)
                enc = (encode_png if i % 4 == 0
                       else encode_gif if i % 4 == 2
                       else enc_tiff_lzw if i % 8 == 1
                       else enc_webp_pal if i % 8 == 3
                       else enc_webp_sg if i % 8 == 7
                       else encode_bmp)
                payloads.append(enc(synth_image_pixels(i, sib)))
        return {"doc_id": out_ids, "payload": payloads}

    return arrow_rows(ids, gen, "doc_id long, payload binary")


@query("x_image_dhash", oracle=_image_dhash_oracle,
       tags=("ext", "multimodal", "dedup"), driver=False)
def x_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image perceptual-hash TABLE (r11): decode → integer ITU-R
    601 luminance → half-pixel-center 9×8 resize → 64-bit dHash, one
    Arrow-batched pass (sources.multimodal.image_dhash_df). Every
    hash bit is driver-verified: the lazy oracle embeds the
    engine-free replica's hashes (`image_dhash_local` — own decode-
    skipping luminance/resize/bit code), so a drift anywhere in the
    BMP round-trip, the resize grid or the bit order flips the hash.
    Folded into x_layout_mm_suite's composite for the driver gate."""
    from ..sources.multimodal import image_dhash_df

    return image_dhash_df(_image_corpus(spark, sf_dir))


@query("x_image_dedup", oracle=_image_pairs_oracle,
       tags=("ext", "multimodal", "dedup"), driver=False)
def x_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual-hash dedup (r10) — the LAION-class multimodal
    dedup stage: decode → 64-bit dHash (integer ITU-R 601 luminance,
    half-pixel-center 9×8 resize, horizontal-gradient bits) → banded
    Hamming pairs (sources.multimodal.image_neardup_pairs; pigeonhole
    recall exact for Hamming ≤ bands-1, the x_dedup_simhash shape —
    never O(n²)).

    Corpus: a deterministic murmur-mixed textured BMP per document id
    plus a one-pixel-perturbed sibling for every 20th id — real binary
    images through the real decode path, with planted near-dups whose
    recovery is pinned by tests/test_multimodal.py. Hash-verified
    since r11 (VERDICT r10 #1): the lazy oracle embeds BRUTE-FORCE
    all-pairs Hamming ground truth from the engine-free replica
    (`image_pairs_local`), so the banded join's exact-recall claim is
    itself driver-hashed; the pairs also ride x_layout_mm_suite's
    composite."""
    from ..sources.multimodal import image_neardup_pairs

    return image_neardup_pairs(
        REGISTRY["x_image_dhash"].build(spark, sf_dir),
        max_hamming=_IMG_MAX_HAMMING,
    )


# ---------------------------------------------------------------------------
# video near-dup (r11) — frame-sampled perceptual signatures, the third
# modality of the dedup family (text shingles / image dHash / video
# frame-hash sets). Same verification architecture as the image pair:
# a shared deterministic corpus DEFINITION, an engine-free replica, and
# lazy VALUES-literal oracles riding x_layout_mm_suite's composite.
# ---------------------------------------------------------------------------

_VID_SIB_OFFSET = 20_000_000
_VID_W, _VID_H, _VID_FRAMES = 24, 20, 8
_VID_JACCARD_T = 0.5
#: sibling videos replace these frame indices with fresh content —
#: the edited/re-cut near-duplicate model (6 of 8 frames shared:
#: jaccard = 6 / (8 + 8 - 6) = 0.6 ≥ threshold)
_VID_EDIT_FRAMES = (2, 5)


def synth_video_frames(i: int, sib: int) -> list:
    """The deterministic gray frame sequence for video id `i` (one
    video per 10th document id; `sib=1` is the two-frames-replaced
    edited sibling staged for every 40th id) — the video-dedup corpus
    DEFINITION, shared by the Spark generator and the engine-free
    replica so both hash identical frames."""
    import numpy as np

    u64 = np.uint64
    w, h = _VID_W, _VID_H
    yy, xx = np.meshgrid(
        np.arange(h, dtype=np.uint64),
        np.arange(w, dtype=np.uint64), indexing="ij",
    )
    frames = []
    for f in range(_VID_FRAMES):
        seed = i + 999_983 if (sib and f in _VID_EDIT_FRAMES) else i
        v = (u64(seed) * u64(2654435761) + u64(f) * u64(1299709)
             + xx * u64(40503) + yy * u64(65537))
        v ^= v >> u64(13)
        v *= u64(0x5BD1E995)
        v ^= v >> u64(15)
        frames.append((v % u64(256)).astype(np.uint8))
    return frames


def _video_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) — one deterministic Y4M clip per 10th document
    id plus the edited sibling for every 40th, generated executor-side
    in one Arrow pass (at corpus scale the payload column would simply
    BE the input, e.g. a binaryFile scan)."""
    from ..sources import arrow_rows
    from ..sources.gifcodec import encode_gif_frames
    from ..sources.multimodal import encode_y4m_gray

    ids = _spread(
        tables(spark, sf_dir)["documents"].select("doc_id").filter(
            F.col("doc_id") % 10 == 0
        ),
        work_factor=256,
    )

    def gen(doc_ids):
        out_ids, payloads = [], []
        for i in doc_ids:
            for sib in (0, 1) if i % 40 == 0 else (0,):
                out_ids.append(i + sib * _VID_SIB_OFFSET)
                # every 4th clip ships as ANIMATED GIF (r13):
                # gray frames palette-encode losslessly, so the
                # decode-skipping replica stays container-blind
                # and the GIF89a animation walk becomes
                # driver-hash-load-bearing (the PNG/FLAC move;
                # MJPEG-AVI is lossy and stays test-pinned only)
                enc = (encode_gif_frames if i % 40 == 10
                       else encode_y4m_gray)
                payloads.append(enc(synth_video_frames(i, sib)))
        return {"doc_id": out_ids, "payload": payloads}

    return arrow_rows(ids, gen, "doc_id long, payload binary")


def _dhash_replica_gray(px) -> int:
    """`_dhash_replica` for a single-channel frame: own resize grid
    and bit packing, no luminance mix (the Y plane IS luminance)."""
    h, w = len(px), len(px[0])
    rows = [min(int((r + 0.5) * h / 8), h - 1) for r in range(8)]
    cols = [min(int((c + 0.5) * w / 9), w - 1) for c in range(9)]
    out = 0
    for r in rows:
        for ci in range(8):
            out = (out << 1) | int(
                int(px[r][cols[ci]]) > int(px[r][cols[ci + 1]])
            )
    return out - (1 << 64) if out >= (1 << 63) else out


def video_frames_local(sf_dir: str) -> dict[tuple[int, int], int]:
    """Recompute the x_video_sig table WITHOUT Spark: DuckDB reads the
    document ids, `synth_video_frames` regenerates the clips and
    `_dhash_replica_gray` hashes each frame. The engine path
    round-trips the same frames through encode_y4m_gray →
    sample_video_frames → dhash64, so a hash match verifies the Y4M
    container walk and the hash kernel, not just the join."""
    import os

    import duckdb

    con = duckdb.connect()
    ids = [
        int(r[0]) for r in con.sql(
            f"SELECT doc_id FROM "
            f"'{os.path.join(sf_dir, 'documents.parquet')}' "
            f"WHERE doc_id % 10 = 0"
        ).fetchall()
    ]
    out = {}
    for i in ids:
        for sib in (0, 1) if i % 40 == 0 else (0,):
            for f, px in enumerate(synth_video_frames(i, sib)):
                out[(i + sib * _VID_SIB_OFFSET, f)] = _dhash_replica_gray(px)
    return out


def video_pairs_local(
    sf_dir: str, threshold: float = _VID_JACCARD_T
) -> list[tuple[int, int, float]]:
    """Brute-force ground-truth video pairs: exact Jaccard over the
    replica frame-hash SETS for every pair (the O(n²) the inverted-
    index join avoids; affordable at verification scale)."""
    sets: dict[int, set] = {}
    for (vid, _f), fh in video_frames_local(sf_dir).items():
        sets.setdefault(vid, set()).add(fh)
    vids = sorted(sets)
    out = []
    for ai in range(len(vids)):
        for bi in range(ai + 1, len(vids)):
            a, b = vids[ai], vids[bi]
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= threshold:
                out.append((a, b, j))
    return out


def _video_sig_oracle(sf_dir: str) -> str:
    rows = ",".join(
        f"({vid},{f},{fh})"
        for (vid, f), fh in sorted(video_frames_local(sf_dir).items())
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(fhash AS BIGINT) AS fhash
    FROM (VALUES {rows}) AS t(doc_id, frame_idx, fhash)
    """


def _video_pairs_oracle(sf_dir: str) -> str:
    pairs = video_pairs_local(sf_dir)
    if not pairs:
        return ("SELECT CAST(NULL AS BIGINT) AS id_a, "
                "CAST(NULL AS BIGINT) AS id_b, "
                "CAST(NULL AS DOUBLE) AS jaccard WHERE 1 = 0")
    rows = ",".join(f"({a},{b},{j!r})" for a, b, j in pairs)
    return f"""
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(jaccard AS DOUBLE) AS jaccard
    FROM (VALUES {rows}) AS t(id_a, id_b, jaccard)
    """


@query("x_video_sig", oracle=_video_sig_oracle,
       tags=("ext", "multimodal", "dedup"), driver=False)
def x_video_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video perceptual-signature TABLE (r11): Y4M container walk
    (arithmetic frame seeking — only sampled frames decode) → 64-bit
    dHash of each sampled Y plane, one Arrow-batched pass
    (sources.multimodal.video_dhash_df). Every frame-hash bit is
    verified against the engine-free replica (`video_frames_local`)
    via the lazy VALUES oracle; folded into x_layout_mm_suite for the
    driver gate."""
    from ..sources.multimodal import video_dhash_df

    return video_dhash_df(_video_corpus(spark, sf_dir), every_n=1)


@query("x_video_dedup", oracle=_video_pairs_oracle,
       tags=("ext", "multimodal", "dedup"), driver=False)
def x_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs (r11): frame-hash SET Jaccard ≥ 0.5 over
    the sampled-frame signatures — physically the text dedup engine's
    inverted-index count plan (operators.dedup.jaccard_similarity_join)
    with frame hashes as shingles; the n² pair space is never
    enumerated. Corpus: one deterministic clip per 10th document id
    plus a two-frames-replaced edited sibling for every 40th (exact
    expected jaccard 0.6). The lazy oracle embeds brute-force
    all-pairs ground truth (`video_pairs_local`)."""
    from ..sources.multimodal import video_neardup_pairs

    return video_neardup_pairs(
        REGISTRY["x_video_sig"].build(spark, sf_dir),
        threshold=_VID_JACCARD_T,
    )


# ---------------------------------------------------------------------------
# audio fingerprint near-dup (late r11) — the fourth modality. Same
# architecture: shared corpus definition, engine-free replica, lazy
# VALUES oracles riding x_layout_mm_suite.
# ---------------------------------------------------------------------------

_AUD_SIB_OFFSET = 30_000_000
_AUD_SEGMENTS = 8
_AUD_SEG_SAMPLES = 512  # == multimodal._AFP_FRAME: segments align with frames
_AUD_EDIT_SEGMENTS = (2, 5)
_AUD_JACCARD_T = 0.5


def _aud_freq(seed: int, seg: int) -> int:
    v = (seed * 2654435761 + seg * 1299709) % (1 << 64)
    v ^= v >> 13
    v = (v * 0x5BD1E995) % (1 << 64)
    v ^= v >> 15
    return 200 + v % 1800  # Hz, well inside the 8 kHz Nyquist


def synth_audio_segments(i: int, sib: int):
    """The deterministic int16 waveform for audio id `i` (one clip per
    doc_id % 10 == 5; `sib=1` replaces two segments — the edited
    sibling, staged for every doc_id % 40 == 5) — the audio-dedup
    corpus DEFINITION shared by the Spark generator and the replica.
    Each 512-sample segment is a two-harmonic tone with its own
    id-and-segment-derived fundamental; segments align exactly with
    fingerprint frames, so an edit changes only its own frame."""
    import numpy as np

    t = np.arange(_AUD_SEG_SAMPLES, dtype=np.float64) / 8000.0
    segs = []
    for s in range(_AUD_SEGMENTS):
        seed = i + 999_983 if (sib and s in _AUD_EDIT_SEGMENTS) else i
        f = float(_aud_freq(seed, s))
        w = 0.6 * np.sin(2 * np.pi * f * t) + 0.3 * np.sin(
            2 * np.pi * 2 * f * t
        )
        segs.append(np.round(w * 20000.0).astype("<i2"))
    return np.concatenate(segs)


def _audio_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) — one deterministic WAV clip per matching
    document id plus the edited sibling, generated executor-side in
    one Arrow pass."""
    from ..sources import arrow_rows
    from ..sources.flaccodec import encode_flac
    from ..sources.multimodal import encode_wav_pcm16

    ids = _spread(
        tables(spark, sf_dir)["documents"].select("doc_id").filter(
            F.col("doc_id") % 10 == 5
        ),
        work_factor=256,
    )

    def gen(doc_ids):
        out_ids, payloads = [], []
        for i in doc_ids:
            for sib in (0, 1) if i % 40 == 5 else (0,):
                out_ids.append(i + sib * _AUD_SIB_OFFSET)
                # every 4th clip ships as FLAC (r12): the codec is
                # LOSSLESS, so the replica oracle (which derives
                # fingerprints from the synth samples directly) is
                # container-blind — the swap makes the native FLAC
                # decode path driver-hash-load-bearing for free
                enc = (
                    encode_flac if (i // 10) % 4 == 0
                    else encode_wav_pcm16
                )
                payloads.append(enc(synth_audio_segments(i, sib)))
        return {"doc_id": out_ids, "payload": payloads}

    return arrow_rows(ids, gen, "doc_id long, payload binary")


def _afp_replica(wave_i16) -> list:
    """Independent re-derivation of the 32-bit spectral fingerprints:
    own int16→[-1,1] normalization (decode_audio's convention), frame
    split, rfft band energies and gradient-bit packing — it calls
    nothing from sources.multimodal, so a match also verifies the WAV
    round trip and the kernel's geometry constants."""
    import numpy as np

    w = np.asarray(wave_i16, dtype=np.float64) / 32768.0
    frames = w[: (len(w) // 512) * 512].reshape(-1, 512)
    mag2 = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    bands = mag2[:, 1 : 1 + 33 * 7].reshape(-1, 33, 7).sum(axis=2)
    out = []
    for fi in range(bands.shape[0]):
        fp = 0
        for b in range(32):
            fp = (fp << 1) | int(bands[fi, b] > bands[fi, b + 1])
        out.append((fi, fp))
    return out


def audio_frames_local(sf_dir: str) -> dict[tuple[int, int], int]:
    """Recompute the x_audio_sig table WITHOUT Spark (the
    video_frames_local convention)."""
    import os

    import duckdb

    con = duckdb.connect()
    ids = [
        int(r[0]) for r in con.sql(
            f"SELECT doc_id FROM "
            f"'{os.path.join(sf_dir, 'documents.parquet')}' "
            f"WHERE doc_id % 10 = 5"
        ).fetchall()
    ]
    out = {}
    for i in ids:
        for sib in (0, 1) if i % 40 == 5 else (0,):
            for fi, fp in _afp_replica(synth_audio_segments(i, sib)):
                out[(i + sib * _AUD_SIB_OFFSET, fi)] = fp
    return out


def audio_pairs_local(
    sf_dir: str, threshold: float = _AUD_JACCARD_T
) -> list[tuple[int, int, float]]:
    """Brute-force ground-truth audio pairs: exact Jaccard over the
    replica fingerprint SETS for every pair."""
    sets: dict[int, set] = {}
    for (aid, _f), fp in audio_frames_local(sf_dir).items():
        sets.setdefault(aid, set()).add(fp)
    aids = sorted(sets)
    out = []
    for x in range(len(aids)):
        for y in range(x + 1, len(aids)):
            a, b = aids[x], aids[y]
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= threshold:
                out.append((a, b, j))
    return out


def _audio_sig_oracle(sf_dir: str) -> str:
    rows = ",".join(
        f"({aid},{f},{fp})"
        for (aid, f), fp in sorted(audio_frames_local(sf_dir).items())
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(fhash AS BIGINT) AS fhash
    FROM (VALUES {rows}) AS t(doc_id, frame_idx, fhash)
    """


def _audio_pairs_oracle(sf_dir: str) -> str:
    pairs = audio_pairs_local(sf_dir)
    if not pairs:
        return ("SELECT CAST(NULL AS BIGINT) AS id_a, "
                "CAST(NULL AS BIGINT) AS id_b, "
                "CAST(NULL AS DOUBLE) AS jaccard WHERE 1 = 0")
    rows = ",".join(f"({a},{b},{j!r})" for a, b, j in pairs)
    return f"""
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(jaccard AS DOUBLE) AS jaccard
    FROM (VALUES {rows}) AS t(id_a, id_b, jaccard)
    """


@query("x_audio_sig", oracle=_audio_sig_oracle,
       tags=("ext", "multimodal", "dedup"), driver=False)
def x_audio_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio fingerprint TABLE (late r11): WAV chunk walk →
    per-frame 32-bit spectral fingerprints (band-energy gradient bits,
    the spectral half of Haitsma & Kalker 2002), one Arrow-batched
    pass (sources.multimodal.audio_fingerprint_df). Every fingerprint
    bit is verified against the engine-free replica
    (`audio_frames_local`) via the lazy VALUES oracle; folded into
    x_layout_mm_suite for the driver gate."""
    from ..sources.multimodal import audio_fingerprint_df

    return audio_fingerprint_df(_audio_corpus(spark, sf_dir))


@query("x_audio_dedup", oracle=_audio_pairs_oracle,
       tags=("ext", "multimodal", "dedup"), driver=False)
def x_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs (late r11): fingerprint-set Jaccard ≥ 0.5
    — the identical inverted-index plan the video pairs ride
    (sources.multimodal.video_neardup_pairs works verbatim on the
    shared (id, frame_idx, fhash) shape); the n² pair space is never
    enumerated. Corpus: one deterministic two-harmonic clip per
    matching document id plus a two-segments-replaced edited sibling
    (expected jaccard 0.6). Lazy oracle embeds brute-force ground
    truth (`audio_pairs_local`)."""
    from ..sources.multimodal import video_neardup_pairs

    return video_neardup_pairs(
        REGISTRY["x_audio_sig"].build(spark, sf_dir),
        threshold=_AUD_JACCARD_T,
    )


# ---------------------------------------------------------------------------
# product quantization (late r11) — the compression leg of the ANN
# stack (Jégou et al. 2011). Verification: the trainer and the replica
# share the deterministic _pq_lloyd core (the ivf_centroids_local
# convention); the codes table is literal-hashed; the top-k query's
# ADC SHORTLIST is replica-derived literals and the exact-cosine
# rerank runs in matching SQL on both engines.
# ---------------------------------------------------------------------------

_PQ_M, _PQ_KS, _PQ_ITERS = 16, 256, 5
_PQ_K, _PQ_SHORTLIST = 10, 30


def pq_codes_local(sf_dir: str):
    """(vec_id-sorted) code matrix from the pyarrow replica."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from ..operators.similarity import _pq_assign, pq_local

    books = pq_local(sf_dir, m=_PQ_M, ks=_PQ_KS, iters=_PQ_ITERS)
    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    ).to_pandas().sort_values("vec_id", ignore_index=True)
    X = np.array(t["embedding"].tolist(), dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    return t["vec_id"].to_numpy(), X, _pq_assign(X, books), books


def pq_shortlist_local(sf_dir: str) -> list[tuple[int, int]]:
    """Replica ADC shortlist: for each probe (vec_id < 8), the
    `_PQ_SHORTLIST` highest approximate-inner-product neighbors
    (ties → lower id), self excluded — the same total order
    topk_pq's window pins."""
    import numpy as np

    from ..operators.similarity import _pq_lut

    vids, X, codes, books = pq_codes_local(sf_dir)
    probe_mask = vids < 8
    lut = _pq_lut(X[probe_mask], books)
    out = []
    for qi, qid in enumerate(vids[probe_mask]):
        scores = np.zeros(len(vids), dtype=np.float64)
        for s in range(_PQ_M):
            scores += lut[qi, s, :][codes[:, s]]
        keep = vids != qid
        order = np.lexsort((vids[keep], -scores[keep]))
        for nid in vids[keep][order[:_PQ_SHORTLIST]]:
            out.append((int(qid), int(nid)))
    return out


def _pq_codes_oracle(sf_dir: str) -> str:
    vids, _X, codes, _books = pq_codes_local(sf_dir)
    rows = ",".join(
        f"({int(v)},{s},{int(codes[i, s])})"
        for i, v in enumerate(vids)
        for s in range(_PQ_M)
    )
    return f"""
    SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(sub AS INT) AS sub,
           CAST(code AS INT) AS code
    FROM (VALUES {rows}) AS t(vec_id, sub, code)
    """


def _pq_topk_oracle(sf_dir: str) -> str:
    rows = ",".join(f"({a},{b})" for a, b in pq_shortlist_local(sf_dir))
    return f"""
    WITH short(query_id, neighbor_id) AS (VALUES {rows}),
    scored AS (
        SELECT s.query_id, s.neighbor_id,
               {_d_dot("q.embedding", "c.embedding")}
               / (sqrt({_d_dot("q.embedding", "q.embedding")})
                  * sqrt({_d_dot("c.embedding", "c.embedding")})) AS cosine_sim
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {_PQ_K}
    """


def _pq_index_path(sf_dir: str) -> str:
    """Deterministic per-sf codebook location (the _ivf_index_path
    convention) shared by the standalone PQ entries and the
    x_sim_ivf_suite composite — index-once/query-many."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"windflow_pq_{tag}")


def _pq_books(spark: SparkSession, sf_dir: str):
    from ..operators.similarity import build_pq_books

    return build_pq_books(
        tables(spark, sf_dir)["embeddings"], _pq_index_path(sf_dir),
        m=_PQ_M, ks=_PQ_KS, iters=_PQ_ITERS,
    )


@query("x_pq_codes", oracle=_pq_codes_oracle,
       tags=("ext", "similarity"), driver=False)
def x_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ code TABLE: deterministic per-subspace k-means codebooks
    (m=16 × ks=256 over 64-dim → 16 bytes/vector, 16× vs float32) and
    one Arrow-batched encode pass; exploded to (vec_id, sub, code) so
    every code crosses the driver hash. The lazy oracle embeds the
    pyarrow replica's codes (shared _pq_lloyd/_pq_assign core — the
    ivf_centroids_local convention). Folded into x_sim_ivf_suite."""
    from ..operators.similarity import pq_encode

    emb = tables(spark, sf_dir)["embeddings"]
    codes = pq_encode(emb, _pq_books(spark, sf_dir))
    return codes.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )


@query("x_pq_topk", oracle=_pq_topk_oracle,
       tags=("ext", "similarity"), driver=False)
def x_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k with exact rerank (operators.similarity.
    topk_pq_rerank — the FAISS refine pattern): the 16-byte-code scan
    proposes a 30-deep shortlist per probe, exact cosine re-ranks to
    k=10; measured recall@10 = 1.0 on the test corpus (vs 0.62
    unreranked). Same output schema as every ANN entry. The lazy
    oracle embeds the replica-derived ADC shortlist and re-ranks it
    with the same explicit-fold cosine SQL, so the whole pipeline —
    training, encoding, LUT scoring, tie order, rerank — is
    hash-load-bearing. Folded into x_sim_ivf_suite."""
    from ..operators.similarity import pq_encode, topk_pq_rerank

    emb = _spread(tables(spark, sf_dir)["embeddings"])
    books = _pq_books(spark, sf_dir)
    codes = pq_encode(emb, books)
    probes = emb.filter(F.col("vec_id") < 8)
    return topk_pq_rerank(
        probes, codes, emb, books,
        k=_PQ_K, shortlist=_PQ_SHORTLIST, dim=64,
    )


# ---------------------------------------------------------------------------
# IVFPQ (r12, VERDICT r11 #3) — the composed production shape: the
# coarse quantizer prunes the scan to nprobe/n_cells of the corpus,
# PQ compresses what remains to m bytes/vector, exact rerank refines.
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 4


def ivfpq_shortlist_local(sf_dir: str) -> list[tuple[int, int]]:
    """Replica IVFPQ ADC shortlist: cell-assign every vector to its
    nearest trained centroid (the `_assign_cells_pandas` float64
    normalize + stable-argsort order), probe each query's
    `_IVFPQ_NPROBE` nearest cells, ADC-score ONLY vectors in probed
    cells, take the `_PQ_SHORTLIST` best (ties → lower id), self
    excluded — the exact pair set `topk_ivfpq`'s window pins before
    its rerank."""
    import numpy as np

    from ..operators.similarity import _pq_lut, ivf_centroids_local

    C = ivf_centroids_local(sf_dir, n_cells=16, iters=5)
    vids, X, codes, books = pq_codes_local(sf_dir)  # X already normalized
    S = X @ np.asarray(C, dtype=np.float64).T
    order = np.argsort(-S, axis=1, kind="stable")
    cell = order[:, 0]
    probe_mask = vids < 8
    probe_cells = order[probe_mask, :_IVFPQ_NPROBE]
    lut = _pq_lut(X[probe_mask], books)
    out = []
    for qi, qid in enumerate(vids[probe_mask]):
        in_probed = np.isin(cell, probe_cells[qi]) & (vids != qid)
        scores = np.zeros(in_probed.sum(), dtype=np.float64)
        sub = codes[in_probed]
        for s in range(_PQ_M):
            scores += lut[qi, s, :][sub[:, s]]
        sub_ids = vids[in_probed]
        pick = np.lexsort((sub_ids, -scores))[:_PQ_SHORTLIST]
        for nid in sub_ids[pick]:
            out.append((int(qid), int(nid)))
    return out


def _ivfpq_topk_oracle(sf_dir: str) -> str:
    rows = ",".join(f"({a},{b})" for a, b in ivfpq_shortlist_local(sf_dir))
    return f"""
    WITH short(query_id, neighbor_id) AS (VALUES {rows}),
    scored AS (
        SELECT s.query_id, s.neighbor_id,
               {_d_dot("q.embedding", "c.embedding")}
               / (sqrt({_d_dot("q.embedding", "q.embedding")})
                  * sqrt({_d_dot("c.embedding", "c.embedding")})) AS cosine_sim
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {_PQ_K}
    """


@query("x_ivfpq_topk", oracle=_ivfpq_topk_oracle,
       tags=("ext", "similarity", "ivf"), driver=False)
def x_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ top-k (r12, VERDICT r11 #3 — the FAISS IVFPQ production
    shape): the persisted IVF index gains a cell-partitioned PQ codes
    table (operators.similarity.build_ivfpq_codes); queries probe
    nprobe=4 of 16 cells, the ADC gather-sum reads ONLY the probed
    cells' code directories (partition pruning — the scan fraction
    drops to ~nprobe/n_cells of the COMPRESSED corpus), and the
    30-deep shortlist re-ranks exactly. The lazy oracle replays
    assignment → probe → cell-restricted ADC → tie order in the
    pyarrow replica and re-ranks the embedded shortlist with the
    explicit-fold cosine SQL, so coarse quantizer, codebooks,
    pruning, and LUT scoring are all hash-load-bearing. Folded into
    x_sim_ivf_suite."""
    from ..operators.similarity import (
        build_ivf_index,
        build_ivfpq_codes,
        topk_ivfpq,
    )

    emb = _spread(tables(spark, sf_dir)["embeddings"])
    idx = _ivf_index_path(sf_dir)
    build_ivf_index(emb, idx, n_cells=16, iters=5)
    books = _pq_books(spark, sf_dir)
    build_ivfpq_codes(spark, idx, books)
    probes = emb.filter(F.col("vec_id") < 8)
    return topk_ivfpq(
        spark, idx, probes, books, emb,
        k=_PQ_K, nprobe=_IVFPQ_NPROBE, shortlist=_PQ_SHORTLIST, dim=64,
    )


# ---------------------------------------------------------------------------
# x_warc_ingest — WARC/WET container ingestion, the CommonCrawl first
# mile (r14, VERDICT r13 "What's missing" #1). Folded into
# x_doc_pipeline_suite for the driver gate.
# ---------------------------------------------------------------------------

#: WET corpus layout: documents sharded into this many .wet.gz files
#: (doc_id % _WET_FILES), one gzip member per record — the CommonCrawl
#: convention the scanner is built for.
_WET_FILES = 8


def _wet_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(path, content) — the documents table serialized as WET files,
    built executor-side per shard in one Arrow pass (at corpus scale
    the .wet.gz files ARE the input; here the engine's own
    deterministic encoder closes the loop, the x_grib_decode_stats /
    image-corpus recipe). Every shard containing a doc_id ≡ 3
    (mod 97) gets one TRUNCATED gzip member appended at EOF, so the
    typed-quarantine path is driver-hash-load-bearing too — planted
    at the END because a mid-stream gzip fault rightly quarantines
    the remainder of the file.

    r14b: shards 5/6/7 ship as `.wet.zst` / `.wet.xz` / `.wet.bz2`
    (one whole-stream member each) — the NATIVE RFC 8878 zstd decode
    (FSE sequence tables + Huffman literals under `seq_mode='fse'`)
    and the stdlib xz/bz2 walks are hash-load-bearing exactly like
    the gzip path. Truncations are planted only on the gzip shards
    0-4: a single-member container rightly loses its whole file to
    one corrupt frame, which would take records out of the hash."""
    import pandas as pd

    from ..sources.warc import _gzip_member, encode_wet

    docs = (
        tables(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .withColumn("__file", F.col("doc_id") % _WET_FILES)
    )

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import bz2
        import lzma

        from ..sources.zstdcodec import compress_zstd

        import html as html_mod

        pdf = pdf.sort_values("doc_id")
        fno = int(pdf["__file"].iloc[0])
        recs = []
        for i, t in zip(pdf["doc_id"], pdf["text"]):
            i, t = int(i), str(t)
            recs.append(
                {
                    "target_uri": f"https://example.org/doc/{i}",
                    "text": t,
                    "record_id": f"<urn:uuid:doc-{i}>",
                }
            )
            if i % 11 == 4:
                # r14c: every 11th doc ALSO ships as a raw-WARC
                # `response` record — HTTP framing wrapping HTML with
                # the doc text in <pre> (identity-preserving modulo
                # the extractor's outer strip), so the native HTTP
                # parse + HTML extraction is driver-hash-load-bearing
                page = (
                    "<html><head><title>d</title><script>x&&y<"
                    "</script></head><body><pre>"
                    + html_mod.escape(t)
                    + "</pre></body></html>"
                )
                if i % 22 == 4:
                    # r14d: every other response record ships its
                    # body Content-Encoding'd — real crawls store
                    # responses as-received, so the native
                    # content-decoding step (functions/html.py
                    # _decode_content) is driver-hash-load-bearing:
                    # skip it and these rows extract NULL/garbage.
                    # r14h: alternate gzip / br so the native
                    # RFC 7932 brotli decode is under the hash too
                    if i % 44 == 4:
                        import gzip as gzip_mod

                        enc = gzip_mod.compress(page.encode("utf-8"))
                        coding = b"gzip"
                    else:
                        from ..sources.brotlicodec import (
                            compress_brotli,
                        )

                        enc = compress_brotli(page.encode("utf-8"))
                        coding = b"br"
                    http = (
                        b"HTTP/1.1 200 OK\r\nContent-Type: "
                        b"text/html; charset=utf-8\r\n"
                        b"Content-Encoding: " + coding + b"\r\n\r\n"
                        + enc
                    )
                else:
                    http = (
                        "HTTP/1.1 200 OK\r\nContent-Type: "
                        "text/html; charset=utf-8\r\n\r\n" + page
                    ).encode("utf-8")
                recs.append(
                    {
                        "target_uri": f"https://example.org/doc/{i}",
                        "text": http,
                        "record_id": f"<urn:uuid:resp-{i}>",
                        "warc_type": "response",
                        "content_type": "application/http; msgtype=response",
                    }
                )
        if fno == 5:
            blob = compress_zstd(
                encode_wet(recs, compress=False), seq_mode="fse"
            )
            ext = "zst"
        elif fno == 6:
            blob = lzma.compress(
                encode_wet(recs, compress=False), format=lzma.FORMAT_XZ
            )
            ext = "xz"
        elif fno == 7:
            blob = bz2.compress(encode_wet(recs, compress=False))
            ext = "bz2"
        else:
            blob = encode_wet(recs)
            ext = "gz"
            if ((pdf["doc_id"] % 97) == 3).any():
                blob += _gzip_member(b"planted-truncation")[:8]
        return pd.DataFrame(
            {"path": [f"mem://wet/{fno:02d}.wet.{ext}"], "content": [blob]}
        )

    return docs.groupBy("__file").applyInPandas(
        build, "path string, content binary"
    )


def _warc_oracle() -> str:
    # the engine extracts these stats from text that round-tripped
    # through encode → gzip → member walk → WARC parse → UTF-8 decode;
    # the oracle computes them straight off `documents` — equality IS
    # the end-to-end ingestion check. n1 uses the WARC header's
    # Content-Length on the engine side vs octet_length(text) here, so
    # the header/block framing is load-bearing, not just the payload.
    return f"""
    SELECT 'warc' AS part, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(strlen(text) AS BIGINT) AS n1,
           CAST(length(text) - length(replace(text, chr(10), ''))
                + 1 AS BIGINT) AS n2,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                END AS BIGINT) AS n3,
           text AS txt
    FROM documents
    UNION ALL
    SELECT 'warc_html' AS part, CAST(doc_id AS BIGINT),
           CAST(strlen(trim(text, chr(10) || ' ')) AS BIGINT),
           CAST(length(trim(text, chr(10) || ' '))
                - length(replace(trim(text, chr(10) || ' '),
                                 chr(10), '')) + 1 AS BIGINT),
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                END AS BIGINT),
           trim(text, chr(10) || ' ')
    FROM documents WHERE doc_id % 11 = 4
    UNION ALL
    SELECT 'warc_err', CAST(NULL AS BIGINT), CAST(1 AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           'gzip: truncated member at offset #'
    FROM (SELECT DISTINCT doc_id % {_WET_FILES}
          FROM documents
          WHERE doc_id % 97 = 3 AND doc_id % {_WET_FILES} <= 4)
    """


@query("x_warc_ingest", oracle=_warc_oracle(),
       tags=("ext", "text", "source"), driver=False)
def x_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET ingestion e2e (r14): documents → deterministic WET
    shards (one gzip member per record, CommonCrawl layout) →
    `sources.warc.scan_wet_df` (binary → member walk → WARC record
    parse → typed quarantine) → per-record text stats. Every byte of
    extracted text plus the WARC-header-derived Content-Length rides
    the driver hash, and the planted truncated members surface as
    'warc_err' rows (digit-normalized error text) — the quarantine
    contract is hash-load-bearing exactly like the GRIB scan."""
    from ..sources.warc import scan_wet_df

    scanned = scan_wet_df(_wet_corpus(spark, sf_dir))
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    is_resp = F.col("warc_type") == "response"
    stats = scanned.filter("error IS NULL").select(
        F.when(is_resp, F.lit("warc_html"))
        .otherwise(F.lit("warc")).alias("part"),
        F.regexp_extract("target_uri", "doc/([0-9]+)$", 1)
        .cast("bigint").alias("doc_id"),
        # conversion rows pin the WARC header's Content-Length against
        # the oracle's byte count; response rows carry the EXTRACTED
        # text's bytes (their Content-Length covers HTTP+HTML framing)
        F.when(is_resp, F.octet_length("text"))
        .otherwise(F.col("content_length"))
        .cast("bigint").alias("n1"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "\n", ""))
            + 1
        ).cast("bigint").alias("n2"),
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(toks).cast("bigint").alias("n3"),
        F.col("text").alias("txt"),
    )
    errs = scanned.filter("error IS NOT NULL").select(
        F.lit("warc_err").alias("part"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.lit(1).cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.regexp_replace("error", "[0-9]+", "#").alias("txt"),
    )
    return stats.unionByName(errs)


# ---------------------------------------------------------------------------
# x_pagerank — link-graph quality prior (r14f). Folded into
# x_dedup_cluster (the graph suite) for the driver gate.
# ---------------------------------------------------------------------------

#: power-method iterations for the driver-verified fixed-point; the
#: oracle unrolls the same count
_PR_ITERS = 5

#: rank unit = 1/_PR_SCALE (see operators.graph.page_rank — exact
#: BIGINT arithmetic is what makes a hash-exact SQL oracle possible)
_PR_SCALE = 10**12


def _pr_edge_sql() -> str:
    """The deterministic link graph, SQL side: doc i fans out to
    (i*7 + j*13) mod N for j = 1..(i mod 4) — so i ≡ 0 (mod 4) docs
    are DANGLING — plus every i ≡ 0 (mod 3) doc links the hub N//2
    (the in-degree skew of a real web graph); self-loops dropped,
    duplicates collapsed."""
    return """
    n AS (SELECT COUNT(*) AS nn FROM documents),
    e AS (
        SELECT DISTINCT s, t FROM (
            SELECT doc_id AS s,
                   (doc_id * 7 + j * 13) % n.nn AS t
            FROM (SELECT doc_id,
                         unnest(generate_series(1, CAST(doc_id % 4 AS BIGINT)))
                         AS j
                  FROM documents) CROSS JOIN n
            UNION ALL
            SELECT doc_id AS s, n.nn // 2 AS t
            FROM documents CROSS JOIN n WHERE doc_id % 3 = 0
        ) WHERE s <> t
    ),
    od AS (SELECT s, COUNT(*) AS odc FROM e GROUP BY s)"""


def _pagerank_oracle() -> str:
    parts = [
        "WITH" + _pr_edge_sql() + ",",
        f"""
    r0 AS (SELECT doc_id AS id, {_PR_SCALE} // n.nn AS r
           FROM documents CROSS JOIN n)""",
    ]
    prev = "r0"
    for k in range(1, _PR_ITERS + 1):
        parts.append(f""",
    r{k} AS (
        SELECT d.doc_id AS id,
               (15 * ({_PR_SCALE} // n.nn)) // 100
               + (85 * (COALESCE(a.agg, 0) + (dg.dang // n.nn))) // 100
               AS r
        FROM documents d
        CROSS JOIN n
        CROSS JOIN (SELECT COALESCE(SUM(p.r), 0) AS dang
                    FROM {prev} p LEFT JOIN od ON od.s = p.id
                    WHERE od.s IS NULL) dg
        LEFT JOIN (SELECT e.t, SUM(p.r // od.odc) AS agg
                   FROM e JOIN {prev} p ON e.s = p.id
                   JOIN od ON od.s = e.s
                   GROUP BY e.t) a ON a.t = d.doc_id
    )""")
        prev = f"r{k}"
    parts.append(f"""
    SELECT d.doc_id AS doc_id, CAST({prev}.r AS BIGINT) AS rank_e,
           CAST(COALESCE(od.odc, 0) AS BIGINT) AS out_deg,
           CAST(COALESCE(idg.idc, 0) AS BIGINT) AS in_deg
    FROM documents d
    JOIN {prev} ON {prev}.id = d.doc_id
    LEFT JOIN od ON od.s = d.doc_id
    LEFT JOIN (SELECT t, COUNT(*) AS idc FROM e GROUP BY t) idg
           ON idg.t = d.doc_id""")
    return "".join(parts)


def _pr_edges(spark: SparkSession, sf_dir: str):
    """The deterministic link graph, Spark side — must stay in
    lockstep with _pr_edge_sql. Note the explicit empty-array guard:
    Spark's sequence(1, 0) yields a DESCENDING [1, 0] where DuckDB's
    generate_series(1, 0) is empty."""
    docs = tables(spark, sf_dir)["documents"].select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    base = docs.crossJoin(F.broadcast(cnt))
    fanout = (
        base.select(
            "doc_id",
            "nn",
            F.explode(
                F.when(
                    F.col("doc_id") % 4 > 0,
                    F.sequence(F.lit(1).cast("long"), F.col("doc_id") % 4),
                ).otherwise(F.array().cast("array<long>"))
            ).alias("j"),
        )
        .select(
            F.col("doc_id").alias("s"),
            ((F.col("doc_id") * 7 + F.col("j") * 13) % F.col("nn")).alias("t"),
        )
    )
    hub = base.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("s"), F.expr("nn div 2").alias("t")
    )
    return (
        fanout.unionByName(hub).filter(F.col("s") != F.col("t")).distinct(),
        docs,
    )


@query("x_pagerank", oracle=_pagerank_oracle(),
       tags=("ext", "graph"), driver=False)
def x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank (r14): a deterministic web-shaped link
    graph over `documents` (fan-out by doc id, dangling nodes, one
    in-degree hub) ranked by `operators.graph.page_rank` — 5
    power-method iterations in EXACT scaled-BIGINT arithmetic, so the
    unrolled-SQL oracle reproduces every rank bit-for-bit (a float
    PageRank could never hash-match across engines). The link-level
    quality prior of crawl curation pipelines."""
    from ..operators.graph import page_rank

    edges, docs = _pr_edges(spark, sf_dir)
    return page_rank(
        docs, edges, id_col="doc_id", src="s", dst="t",
        iterations=_PR_ITERS, scale=_PR_SCALE,
    )


def _dedup_cluster_oracle() -> str:
    """x_dedup_cluster's composed oracle: the recursive-CTE cluster
    closure plus the harmonized PageRank part (rank in the cluster_id
    slot, degrees packed into split) — both as parenthesized
    WITH-subqueries so the union needs no shared CTE scope."""
    return f"""
    SELECT * FROM ({_D_DEDUP_CLUSTERS})
    UNION ALL
    SELECT doc_id, rank_e AS cluster_id,
           out_deg > 0 AS is_representative,
           'pr:' || out_deg || ':' || in_deg AS split
    FROM ({_pagerank_oracle()})
    """


# ---------------------------------------------------------------------------
# x_cdx_select — cc-index (CDXJ) selection, the step BEFORE WARC
# ingestion in a real crawl pipeline (r14j). Folded into
# x_doc_pipeline_suite for the driver gate.
# ---------------------------------------------------------------------------

#: cc-index shard count for the fixture corpus (shard 3 ships PLAIN
#: .cdxj so the uncompressed path rides the hash too)
_CDX_FILES = 4


def _cdx_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(path, content) — a deterministic cc-index over `documents`:
    one capture per doc (two for doc_id ≡ 0 mod 3, so latest-capture
    selection is load-bearing), urlkeys SURT-computed from raw URLs
    that exercise every canonicalization rule (www + default port +
    double-slash + trailing-slash + tracking params + unsorted
    query), and one planted malformed line per doc_id ≡ 7 mod 89
    (non-14-digit timestamp → typed quarantine row)."""
    import pandas as pd

    from ..functions.url import surt
    from ..sources.cdxj import encode_cdxj
    from ..sources.warc import _gzip_member

    docs = (
        tables(spark, sf_dir)["documents"]
        .select("doc_id")
        .withColumn("__file", F.col("doc_id") % _CDX_FILES)
    )

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        fno = int(pdf["__file"].iloc[0])
        caps = []
        bad = b""
        for i in sorted(int(x) for x in pdf["doc_id"]):
            url = (
                f"https://www.example.org:443/doc/{i}//x/"
                "?utm_source=t&b=2&a=1"
            )
            key = surt(url)
            base = 20260101000000 + (i % 97)
            caps.append(
                {
                    "urlkey": key, "ts": str(base), "url": url,
                    "status": "200", "mime": "text/html",
                    "digest": f"sha1:{i:040d}",
                    "filename": f"crawl-{fno:02d}.warc.gz",
                    "offset": i * 1000 + 7, "length": 900 + i % 50,
                }
            )
            if i % 3 == 0:
                caps.append(
                    {
                        "urlkey": key, "ts": str(base + 5), "url": url,
                        "status": "200", "mime": "text/html",
                        "digest": f"sha1:{i:040d}",
                        "filename": f"crawl-{fno:02d}.warc.gz",
                        "offset": i * 1000 + 20, "length": 900 + i % 50,
                    }
                )
            if i % 89 == 7:
                bad += b"org,corrupt)/x 2026 {bad\n"
        if fno == 3:  # the uncompressed-index path, hash-load-bearing
            blob = encode_cdxj(caps, compress=False) + bad
            ext = "cdxj"
        else:
            blob = encode_cdxj(caps)
            if bad:
                blob += _gzip_member(bad)
            ext = "cdxj.gz"
        return pd.DataFrame(
            {"path": [f"mem://cdx/{fno:02d}.{ext}"], "content": [blob]}
        )

    return docs.groupBy("__file").applyInPandas(
        build, "path string, content binary"
    )


def _cdx_oracle() -> str:
    return """
    SELECT 'cdx' AS part, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(20260101000000 + (doc_id % 97)
                + CASE WHEN doc_id % 3 = 0 THEN 5 ELSE 0 END
                AS BIGINT) AS n1,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END
                AS BIGINT) AS n2,
           CAST(doc_id * 1000
                + CASE WHEN doc_id % 3 = 0 THEN 20 ELSE 7 END
                AS BIGINT) AS n3,
           'org,example)/doc/' || doc_id || '/x?a=1&b=2' AS txt
    FROM documents
    UNION ALL
    SELECT 'cdx_err', CAST(NULL AS BIGINT), CAST(1 AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           'cdxj: bad timestamp ''#'''
    FROM documents WHERE doc_id % 89 = 7
    """


@query("x_cdx_select", oracle=_cdx_oracle(),
       tags=("ext", "text", "source"), driver=False)
def x_cdx_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cc-index SELECTION e2e (r14): documents → deterministic CDXJ
    shards (sorted urlkeys, gzip + one plain shard) →
    `sources.cdxj.scan_cdxj_df` → latest-capture-per-urlkey (the
    reference's A1 latest-wins argmax, applied to the crawl index)
    with the group key RECOMPUTED from each capture's raw URL by the
    codegen'd `surt_col` — so SURT + the full URL canonicalization
    chain (www/port/tracking/sort) ride the driver hash against the
    oracle's literal key construction. Malformed index lines surface
    as digit-normalized 'cdx_err' quarantine rows."""
    from ..functions.url import surt_col
    from ..sources.cdxj import scan_cdxj_df

    # one corpus-synthesis + scan feeds both the selection and the
    # quarantine branch (managed: re-builds replace, apps sweep)
    scanned = managed_cache(
        scan_cdxj_df(_cdx_corpus(spark, sf_dir)), owner="x_cdx_select"
    )
    good = scanned.filter("error IS NULL").withColumn(
        "__key", surt_col(F.col("url"))
    )
    latest = good.groupBy("__key").agg(
        F.max(F.col("ts").cast("bigint")).alias("n1"),
        F.count(F.lit(1)).cast("bigint").alias("n2"),
        F.max_by("warc_offset", F.col("ts")).cast("bigint").alias("n3"),
    )
    sel = latest.select(
        F.lit("cdx").alias("part"),
        F.regexp_extract("__key", r"doc/([0-9]+)", 1)
        .cast("bigint").alias("doc_id"),
        "n1", "n2", "n3",
        F.col("__key").alias("txt"),
    )
    errs = scanned.filter("error IS NOT NULL").select(
        F.lit("cdx_err").alias("part"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.lit(1).cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.regexp_replace("error", "[0-9]+", "#").alias("txt"),
    )
    return sel.unionByName(errs)


# ---------------------------------------------------------------------------
# x_linkgraph_rank — HTML link extraction feeding PageRank (r14k).
# pytest-differential surface (driver cap full): the extracted graph
# is constructed to equal x_pagerank's synthetic one, so the SAME
# unrolled-SQL oracle verifies the whole extract→resolve→rank chain —
# any extraction slip (a script-embedded href counted, a fragment
# kept, a relative resolution error) flips the rank table.
# ---------------------------------------------------------------------------


def _link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url, page): one HTML page per doc whose REAL `<a
    href>` set encodes the x_pagerank edge formula — relative hrefs
    (resolved against the page URL), a duplicate link every 5th doc
    (the edge-distinct must collapse it), and distractors that must
    NOT become edges: a script-embedded anchor, a fragment-only href,
    a mailto:, and a dropped-subtree (template) anchor."""
    from ..sources import arrow_rows

    docs = tables(spark, sf_dir)["documents"].select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    base = docs.crossJoin(F.broadcast(cnt))

    def build(doc_ids, nns):
        pages = []
        for i, nn in zip(doc_ids, nns):
            hrefs = [
                f"/doc/{(i * 7 + j * 13) % nn}"
                for j in range(1, (i % 4) + 1)
            ]
            if i % 3 == 0:
                hrefs.append(f"/doc/{nn // 2}")
            if i % 5 == 0 and hrefs:
                hrefs.append(hrefs[0])  # duplicate: distinct-collapsed
            body = "".join(
                f'<a href="{h}">l</a>' for h in hrefs
            )
            pages.append(
                "<html><head><script>var x = '<a href=\"/doc/999\">'"
                "</script></head><body>"
                '<a href="#top">t</a><a href="mailto:x@y.z">m</a>'
                "<template><a href=\"/doc/1\">no</a></template>"
                + body
                + "</body></html>"
            )
        urls = [f"https://example.org/doc/{i}" for i in doc_ids]
        return {"doc_id": doc_ids, "url": urls, "page": pages}

    return arrow_rows(base, build, "doc_id long, url string, page string")


@query("x_linkgraph_rank", oracle=_pagerank_oracle(),
       tags=("ext", "graph", "text"), driver=False)
def x_linkgraph_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-shaped link-graph ranking e2e (r14): HTML pages →
    `functions.html.extract_links` (base/fragment/scheme rules,
    dropped subtrees) → RFC 3986 resolution against each page's URL →
    doc-id edges → `operators.graph.page_rank`. The page corpus
    encodes x_pagerank's exact edge formula, so the unrolled
    exact-integer SQL oracle replays every rank bit-for-bit through
    the extraction chain."""
    from ..functions.html import extract_links
    from ..operators.graph import page_rank
    from ..sources import arrow_rows

    pages = _link_pages(spark, sf_dir)

    def edges_of(ids, urls, pages):
        s, t = [], []
        for i, url, page in zip(ids, urls, pages):
            for link in extract_links(str(page), str(url)):
                if link.startswith("https://example.org/doc/"):
                    s.append(i)
                    t.append(int(link.rsplit("/", 1)[1]))
        return {"s": s, "t": t}

    edges = (
        arrow_rows(pages, edges_of, "s long, t long")
        .filter(F.col("s") != F.col("t"))
        .distinct()
    )
    docs = tables(spark, sf_dir)["documents"].select("doc_id")
    return page_rank(
        docs, edges, id_col="doc_id", src="s", dst="t",
        iterations=_PR_ITERS, scale=_PR_SCALE,
    )


# ---------------------------------------------------------------------------
# x_robots_filter — robots.txt politeness filter (r14l). Pytest-
# differential surface (driver cap full), the linkgraph posture.
# ---------------------------------------------------------------------------

#: the politeness file under test — exercises group selection
#: (specific token / longest prefix / * fallback), the wildcard and
#: $-anchor matchers, and longest-match precedence
_ROBOTS_TXT = """
User-agent: otherbot
Disallow: /

User-agent: windflow
Disallow: /doc/
Allow: /doc/*0
Allow: /doc/17$
Disallow: /priv*

User-agent: *
Disallow:
"""


@query("x_robots_filter", oracle="""
    -- /doc/*0 is UNanchored: it matches any path containing a '0'
    -- after the /doc/ prefix; /doc/17$ is the exact-id escape hatch
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           '/doc/' || doc_id AS path,
           (instr(CAST(doc_id AS VARCHAR), '0') > 0 OR doc_id = 17)
               AS allow_windflow,
           FALSE AS allow_otherbot,
           TRUE AS allow_unknown
    FROM documents
""", tags=("ext", "text"), driver=False)
def x_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt evaluation over the corpus URL space (r14,
    functions/robots — RFC 9309 group selection, wildcard/$ patterns,
    longest-match precedence, Allow-wins ties): every doc path judged
    for three agents against a fixed politeness file; the closed-form
    oracle states the intended decisions, so a matcher or precedence
    slip flips the hash. Scale shape: the parsed ruleset is a
    broadcast-sized Python object evaluated in one Arrow pass — per
    ~host rulesets at crawl scale ride a broadcast join keyed on
    host."""
    from ..functions.robots import parse_robots, robots_allowed
    from ..sources import arrow_rows

    rules = parse_robots(_ROBOTS_TXT)
    docs = tables(spark, sf_dir)["documents"].select("doc_id")

    def judge(ids):
        paths = [f"/doc/{i}" for i in ids]
        return {
            "doc_id": ids,
            "path": paths,
            "allow_windflow": [
                robots_allowed(rules, "windflow/1.0", p) for p in paths
            ],
            "allow_otherbot": [
                robots_allowed(rules, "otherbot", p) for p in paths
            ],
            "allow_unknown": [
                robots_allowed(rules, "somebody", p) for p in paths
            ],
        }

    return arrow_rows(
        docs,
        judge,
        "doc_id long, path string, allow_windflow boolean,"
        " allow_otherbot boolean, allow_unknown boolean",
    )


# ---------------------------------------------------------------------------
# x_sitemap_frontier — sitemap/sitemap-index discovery (r14m), the
# half robots.txt's Sitemap: lines point at. Pytest-differential
# surface (driver cap full).
# ---------------------------------------------------------------------------


def _sitemap_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(path, content): a sitemap INDEX naming three child sitemaps;
    child k carries the doc_id ≡ k (mod 3) URLs (child 2 gzip'd, the
    sitemap.xml.gz convention), child 1 plants one entry without
    <loc>, and a fourth file is malformed XML — both quarantine
    classes load-bearing."""
    import pandas as pd

    from ..sources.cdxj import encode_sitemap

    docs = (
        tables(spark, sf_dir)["documents"]
        .select("doc_id")
        .withColumn("__file", F.col("doc_id") % 3)
    )

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        fno = int(pdf["__file"].iloc[0])
        entries = [
            {
                "loc": f"https://example.org/doc/{i}",
                "lastmod": f"2026-01-{(i % 28) + 1:02d}",
                "priority": f"0.{i % 10}",
            }
            for i in sorted(int(x) for x in pdf["doc_id"])
        ]
        blob = encode_sitemap(entries, compress=(fno == 2))
        if fno == 1:
            # an entry with an empty <loc>: one typed error row
            blob = blob.replace(
                b"</urlset>",
                b"  <url><loc> </loc></url>\n</urlset>",
            )
        ext = "xml.gz" if fno == 2 else "xml"
        return pd.DataFrame(
            {
                "path": [f"mem://sitemaps/sitemap-{fno}.{ext}"],
                "content": [blob],
            }
        )

    children = docs.groupBy("__file").applyInPandas(
        build, "path string, content binary"
    )

    idx = encode_sitemap(
        [{"loc": f"https://example.org/sitemap-{k}.xml"} for k in range(3)],
        index=True,
    )
    extras = spark.createDataFrame(
        [("mem://sitemaps/index.xml", idx),
         ("mem://sitemaps/broken.xml", b"<urlset><url><loc>x")],
        "path string, content binary",
    )
    return children.unionByName(extras)


@query("x_sitemap_frontier", oracle="""
    SELECT 'url' AS kind, CAST(doc_id AS BIGINT) AS doc_id,
           'https://example.org/doc/' || doc_id AS loc,
           '2026-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
               AS lastmod,
           '0.' || (doc_id % 10) AS priority
    FROM documents
    UNION ALL
    SELECT 'sitemap', CAST(k AS BIGINT),
           'https://example.org/sitemap-' || k || '.xml',
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM (SELECT unnest(generate_series(0, 2)) AS k)
    UNION ALL
    SELECT 'err', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), 'sitemap: entry without <loc>'
    UNION ALL
    SELECT 'err', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR),
           'sitemap: no element found: line #, column #'
""", tags=("ext", "text", "source"), driver=False)
def x_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery e2e (r14): documents → sitemap-index + three
    child sitemaps (one gzip'd) → `sources.cdxj.scan_sitemap_df` →
    url entries (loc/lastmod/priority per doc), the index's child
    pointers, and both quarantine classes (entry without <loc>,
    malformed XML — digit-normalized) under one differential hash.
    The frontier loop a crawler runs is scan index → fetch children →
    scan urls; here both levels land in one binary scan."""
    from ..sources.cdxj import scan_sitemap_df

    scanned = managed_cache(
        scan_sitemap_df(_sitemap_corpus(spark, sf_dir)),
        owner="x_sitemap_frontier",
    )
    urls = scanned.filter("error IS NULL AND kind = 'url'").select(
        F.lit("url").alias("kind"),
        F.regexp_extract("loc", r"doc/([0-9]+)$", 1)
        .cast("bigint").alias("doc_id"),
        "loc", "lastmod", "priority",
    )
    children = scanned.filter(
        "error IS NULL AND kind = 'sitemap'"
    ).select(
        F.lit("sitemap").alias("kind"),
        F.regexp_extract("loc", r"sitemap-([0-9]+)", 1)
        .cast("bigint").alias("doc_id"),
        "loc",
        F.lit(None).cast("string").alias("lastmod"),
        F.lit(None).cast("string").alias("priority"),
    )
    errs = scanned.filter("error IS NOT NULL").select(
        F.lit("err").alias("kind"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.lit(None).cast("string").alias("loc"),
        F.lit(None).cast("string").alias("lastmod"),
        F.regexp_replace("error", "[0-9]+", "#").alias("priority"),
    )
    return urls.unionByName(children).unionByName(errs)


# ---------------------------------------------------------------------------
# x_recrawl_set — the frontier decision (r14n): which URLs need
# refetching? sitemap lastmod vs cc-index latest capture. Pytest-
# differential surface (driver cap full).
# ---------------------------------------------------------------------------


@query("x_recrawl_set", oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           'org,example)/doc/' || doc_id || '/x?a=1&b=2' AS urlkey,
           '2026-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
               AS lastmod,
           CAST(20260101000000 + (doc_id % 97)
                + CASE WHEN doc_id % 3 = 0 THEN 5 ELSE 0 END
                AS BIGINT) AS latest_ts,
           (doc_id % 28 <> 0) AS refetch
    FROM documents
""", tags=("ext", "text"), driver=False)
def x_recrawl_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frontier decision a recrawl loop runs (r14): join the
    sitemap's declared lastmod against the cc-index's latest capture
    per URL and flag what changed since it was last fetched —
    composed entirely from the two discovery queries' outputs (one
    broadcast join, both sides already hash-verified). refetch =
    sitemap lastmod date strictly after the capture's date."""
    sm = (
        REGISTRY["x_sitemap_frontier"].build(spark, sf_dir)
        .filter("kind = 'url'")
        .select("doc_id", "lastmod")
    )
    cdx = (
        REGISTRY["x_cdx_select"].build(spark, sf_dir)
        .filter("part = 'cdx'")
        .select(
            "doc_id",
            F.col("n1").alias("latest_ts"),
            F.col("txt").alias("urlkey"),
        )
    )
    return (
        cdx.join(F.broadcast(sm), "doc_id")
        .select(
            "doc_id", "urlkey", "lastmod", "latest_ts",
            (
                F.regexp_replace("lastmod", "-", "")
                > F.substring(F.col("latest_ts").cast("string"), 1, 8)
            ).alias("refetch"),
        )
    )
