"""N-gram language-model perplexity scoring — the CCNet-class quality
filter (Wenzek et al. 2020: a small LM trained on a clean reference
corpus scores candidate documents; high perplexity → low quality).

From-scratch and fully distributed: the "model" is a bigram count
TABLE (a DataFrame — at 100 TB it is exactly the artifact a pipeline
persists and re-joins per batch, like the dedup signature table), and
scoring is one explode + two aggregate-derived joins — no per-row
Python, no driver-side model object:

- train: word 2-shingles ("w1 w2" strings — the Arrow-vectorized bulk
  shingler, the repo's measured fast path) → groupBy count. The
  prefix (context) counts DERIVE from the bigram table by a second
  agg over substring_index (c(w1) = Σ c("w1 ·")), so one corpus pass
  builds both; the vocabulary size is one more map-side-combined
  distinct-count.
- score: add-k smoothed conditional P(w2|w1) = (c12 + k)/(c1 + k·V),
  joined per document bigram on the pair STRING. Unseen contexts fall
  back to the uniform k/(k·V) = 1/V automatically through the left
  joins — no special UNK machinery, no row can produce log(0).

Determinism contract (registry rules): each bigram's ln P quantizes
to an e6 BIGINT BEFORE the per-document sum, so accumulation order
cannot perturb low bits; the document score is the exact integer mean
re-rounded to e4 (avg negative log-likelihood — the monotone
equivalent of perplexity, ppl = exp(nll)). ln() itself is the same
correctly-rounded libm call in Spark and DuckDB — the BM25 idf oracle
has pinned that parity across rounds.

No counterpart in the reference (a 278-LoC cron ETL); semantics follow
the public CCNet paper.

Scale shape: the bigram explode is ~1× token count (narrower than the
shingle pipelines' 9×); the score joins key on the bigram string /
its prefix — natural-language skew on common bigrams is bounded by
the JOIN being build-side-small per key (counts, not postings), and
AQE handles the residual. The model table is O(distinct bigrams) —
broadcast-able for reference corpora up to ~10M bigrams,
shuffle-joined beyond. NULL text behaves as empty (pre-coalesced
before the shingler, whose worker tokenizes with str.split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import managed_cache
from ..sources import arrow_rows

__all__ = [
    "train_bigram_counts",
    "score_perplexity",
    "bigram_perplexity",
    "persist_bigram_model",
    "load_bigram_model",
    "train_backoff_counts",
    "score_stupid_backoff",
    "stupid_backoff_perplexity",
    "dsir_logweights",
    "dsir_bucket_logweights",
    "dsir_bucket_logweights_split",
    "train_dsir_bucket_model",
    "score_dsir_buckets",
    "persist_dsir_bucket_model",
    "load_dsir_bucket_model",
]


def _nn(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """NULL text behaves as empty before the shingler (its worker
    tokenizes with str.split, which would raise on None)."""
    return df.select(
        id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )


def _tagged_grams(
    docs: DataFrame, text_col: str, max_order: int = 2
) -> DataFrame:
    """ONE Arrow pass over the corpus emitting (kind, gram) rows —
    kind 1 = token, kind 2 = "w1 w2" bigram, kind 3 = "w1 w2 w3"
    trigram (emitted up to `max_order`; ONE tokenizer serves both the
    bigram and the backoff trainer so tokenization can never diverge
    between them — r8 review). The vectorized bulk-shingler pattern
    (functions.text.shingle_docs_pandas — the expression-form HOFs
    are CodegenFallback, interpreted per element, ~7× slower at
    sf0.1), widened to tag every gram order so a trainer never
    re-tokenizes the corpus for the vocabulary."""

    def columns_of(texts):
        kinds: list[int] = []
        grams: list[str] = []
        for t in texts:
            toks = (t or "").split()
            kinds.extend([1] * len(toks))
            grams.extend(toks)
            if max_order >= 2 and len(toks) > 1:
                kinds.extend([2] * (len(toks) - 1))
                grams.extend(
                    a + " " + b for a, b in zip(toks, toks[1:])
                )
            if max_order >= 3 and len(toks) > 2:
                kinds.extend([3] * (len(toks) - 2))
                grams.extend(
                    a + " " + b + " " + c
                    for a, b, c in zip(toks, toks[1:], toks[2:])
                )
        return {"kind": kinds, "gram": grams}

    return arrow_rows(docs.select(text_col), columns_of, "kind int, gram string")


def train_bigram_counts(
    train_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bigram counts keyed by the "w1 w2" string, prefix counts keyed
    by w1, 1-row vocab size) for the reference corpus — the
    persistable LM artifact, built from ONE corpus pass: the tagged
    Arrow tokenizer emits tokens and bigram strings together, one
    (kind, gram) groupBy counts both (cached — big, pre and vocab all
    read the materialized counts, so the text is tokenized exactly
    once; r7 review replaced a second shingler pass). The "w1 w2"
    string IS the pair key (tokens contain no whitespace); prefix
    counts derive from the bigram table (c(w1) = Σ c("w1 ·") via
    substring_index); V counts the distinct kind-1 grams.

    Cache lifecycle follows the minhash-posting precedent: the counts
    cache lives until the caller's `spark.catalog.clearCache()` (the
    bench/driver clear per query) or session end — a long-lived
    session scoring many batches WANTS the trained model resident;
    callers that don't should unpersist/clearCache after scoring. The
    mid-plan cache also self-excludes the query from the prepared-plan
    cache (registry InMemoryRelation detection) — correct, since a
    reused handle after clearCache would silently retokenize the
    corpus per consumer."""
    return _train_bigram_tables(train_docs, id_col, text_col)[1:]


def _train_bigram_tables(
    train_docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(counts, big, pre, vocab) — counts is the cached one-pass gram
    table the three derived views read; exposed so persist-time
    callers can unpersist exactly it rather than the whole catalog."""
    counts = managed_cache(
        _tagged_grams(_nn(train_docs, id_col, text_col), text_col)
        .groupBy("kind", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = counts.filter(F.col("kind") == 2).select(
        F.col("gram").alias("bg"), F.col("c").alias("c12")
    )
    pre = big.groupBy(
        F.substring_index("bg", " ", 1).alias("w1")
    ).agg(F.sum("c12").alias("c1"))
    vocab = (
        counts.filter(F.col("kind") == 1)
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return counts, big, pre, vocab


def score_perplexity(
    docs: DataFrame,
    big: DataFrame,
    pre: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.1,
    gate_nll_e4: int = 80_000,
) -> DataFrame:
    """Per-document (doc_id, n_bigrams, avg_nll_e4, lm_pass) under the
    add-k bigram model. avg_nll_e4 = round(mean of per-bigram
    round(-ln P · 1e6) / 100): integer-exact given the per-bigram
    quantization, so the result is bit-stable under any partitioning.
    Documents with no bigrams (empty/one token) score 0 and pass —
    length gates are a different filter's job (x_text_suite).
    `gate_nll_e4` is the CCNet-style cutoff: nll 8.0 ≈ ppl 3000.
    Document ids must be unique: the output has one row per DISTINCT
    doc_id, so documents sharing an id score as one document."""
    from ..functions.text import shingle_docs_pandas

    add_k = float(add_k)
    dbg = shingle_docs_pandas(
        _nn(docs, id_col, text_col), id_col, text_col, 2, out="__bg"
    ).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer("__bg").alias("bg"),
    )
    scored = (
        dbg.join(big, ["bg"], "left")
        .join(
            pre,
            F.substring_index(dbg["bg"], " ", 1) == pre["w1"],
            "left",
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.when(
                F.col("bg").isNull(), F.lit(None).cast("bigint")
            ).otherwise(
                F.round(
                    -F.log(
                        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(add_k))
                        / (F.coalesce(F.col("c1"), F.lit(0))
                           + F.lit(add_k) * F.col("v"))
                    ) * F.lit(1_000_000.0)
                ).cast("bigint")
            ).alias("nll_e6"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.count("nll_e6").alias("n_bigrams"),
        F.round(
            F.coalesce(F.sum("nll_e6"), F.lit(0))
            / F.greatest(F.count("nll_e6"), F.lit(1)) / F.lit(100.0)
        ).cast("bigint").alias("avg_nll_e4"),
    )
    return out.withColumn(
        "lm_pass", F.col("avg_nll_e4") <= F.lit(gate_nll_e4)
    )


def persist_bigram_model(
    train_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Train on `train_docs` and materialize the LM as parquet under
    `path` ({bigrams, prefixes, vocab} subdirs) — the persistable
    artifact the module docstring promises: at 100 TB the reference
    corpus is tokenized ONCE, and every scoring batch (including the
    streaming LM gate, `streaming.pipeline.run_lm_gate_ingest`)
    re-joins the stored counts instead of retraining. The derived
    prefix/vocab tables are stored too: they cost a scan of the
    bigram table per LOAD otherwise, and the gate loads per stream
    start, not per batch."""
    counts, big, pre, vocab = _train_bigram_tables(
        train_docs, id_col, text_col
    )
    big.write.mode("overwrite").parquet(f"{path}/bigrams")
    pre.write.mode("overwrite").parquet(f"{path}/prefixes")
    vocab.write.mode("overwrite").parquet(f"{path}/vocab")
    # drop ONLY the trainer's counts cache — a blanket clearCache()
    # would nuke every unrelated cached DataFrame in the session
    # (ADVICE-class r8 review finding)
    counts.unpersist()


def load_bigram_model(
    spark, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bigrams, prefixes, vocab) back from `persist_bigram_model`'s
    layout — ready for `score_perplexity`."""
    return (
        spark.read.parquet(f"{path}/bigrams"),
        spark.read.parquet(f"{path}/prefixes"),
        spark.read.parquet(f"{path}/vocab"),
    )


def bigram_perplexity(
    docs: DataFrame,
    train_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.1,
    gate_nll_e4: int = 80_000,
) -> DataFrame:
    """Train on `train_docs`, score `docs` — the CCNet shape (LM on a
    clean reference corpus, scores for the candidate corpus)."""
    big, pre, vocab = train_bigram_counts(train_docs, id_col, text_col)
    return score_perplexity(
        docs, big, pre, vocab, id_col=id_col, text_col=text_col,
        add_k=add_k, gate_nll_e4=gate_nll_e4,
    )


def train_backoff_counts(
    train_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(trigram, bigram, unigram, totals) count tables for the STUPID
    BACKOFF trigram LM (Brants et al. 2007, "Large Language Models in
    Machine Translation" — the scheme DESIGNED for MapReduce-scale
    distribution: no discounting pass, no normalization, score mass
    handled by a fixed backoff factor). One corpus pass tags all
    three gram orders (cached); the three tables filter it, and
    `totals` is a 1-row (n_tokens, v) aggregate. All four are plain
    DataFrames — persist to parquet for the train-once/score-many
    regime exactly like `persist_bigram_model`."""
    counts = managed_cache(
        _tagged_grams(_nn(train_docs, id_col, text_col), text_col,
                      max_order=3)
        .groupBy("kind", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tri = counts.filter(F.col("kind") == 3).select(
        F.col("gram").alias("tg"), F.col("c").alias("c123")
    )
    bi = counts.filter(F.col("kind") == 2).select(
        F.col("gram").alias("bg"), F.col("c").alias("c12")
    )
    uni = counts.filter(F.col("kind") == 1).select(
        F.col("gram").alias("w"), F.col("c").alias("c1")
    )
    totals = counts.filter(F.col("kind") == 1).agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("v")
    )
    return tri, bi, uni, totals


def score_stupid_backoff(
    docs: DataFrame,
    tri: DataFrame,
    bi: DataFrame,
    uni: DataFrame,
    totals: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    add_k: float = 0.1,
    gate_nll_e4: int = 80_000,
) -> DataFrame:
    """Per-document (doc_id, n_trigrams, avg_nll_e4, lm_pass) under
    stupid backoff:

        S(w3|w1 w2) = c123/c12        if the trigram was seen
                    = α·S(w3|w2)      else
        S(w3|w2)    = c23/c2          if the bigram was seen
                    = α·S(w3)         else
        S(w3)       = (c3 + k)/(N + k·V)

    (the unigram floor is add-k rather than Brants' raw c3/N so an
    unseen token keeps ln finite — the one deviation, documented).
    Scoring is ONE Arrow trigram pass over the candidates plus FIVE
    left equi-joins against the stored count tables (trigram, context
    bigram, suffix bigram, two unigrams) and a broadcast of the 1-row
    totals — no driver model object, shuffle-native at any scale.
    Per-position -ln S quantizes to e6 BEFORE the document mean
    (registry bit-stability rules); documents with < 3 tokens score 0
    and pass, as in `score_perplexity`. Document ids must be unique:
    the output has one row per DISTINCT doc_id, so documents sharing an
    id score as one document."""
    alpha = float(alpha)
    add_k = float(add_k)

    def trigrams(doc_ids, texts):
        # docs with < 3 tokens emit ONE all-null sentinel row (the
        # explode_outer pattern score_perplexity already uses): null
        # gram keys match nothing in the left joins and score a null
        # nll, so the per-doc aggregate alone covers every document —
        # no join back to the docs table (r15: that final join was the
        # plan's only SortMergeJoin AND a second full scan of docs)
        ids, tgs, ctxs, sufs, w2s, w3s = [], [], [], [], [], []
        for d, t in zip(doc_ids, texts):
            toks = (t or "").split()
            if len(toks) < 3:
                ids.append(d)
                for col in (tgs, ctxs, sufs, w2s, w3s):
                    col.append(None)
                continue
            for a, b, c in zip(toks, toks[1:], toks[2:]):
                ids.append(d)
                tgs.append(a + " " + b + " " + c)
                ctxs.append(a + " " + b)
                sufs.append(b + " " + c)
                w2s.append(b)
                w3s.append(c)
        return {
            "doc_id": ids, "tg": tgs, "ctx": ctxs, "suf": sufs,
            "w2": w2s, "w3": w3s,
        }

    # preserve the caller's id TYPE (string ids are as valid as longs
    # — shingle_docs_pandas sets the precedent; r8 review): the output
    # schema copies the input field rather than hardcoding long
    from pyspark.sql.types import StringType, StructField, StructType

    id_field = docs.schema[id_col]
    out_schema = StructType(
        [StructField("doc_id", id_field.dataType, id_field.nullable)]
        + [StructField(c, StringType(), True)
           for c in ("tg", "ctx", "suf", "w2", "w3")]
    )
    dtg = arrow_rows(_nn(docs, id_col, text_col), trigrams, out_schema)
    j = (
        dtg.join(tri, "tg", "left")
        .join(bi.select(F.col("bg").alias("ctx"),
                        F.col("c12").alias("c_ctx")), "ctx", "left")
        .join(bi.select(F.col("bg").alias("suf"),
                        F.col("c12").alias("c_suf")), "suf", "left")
        .join(uni.select(F.col("w").alias("w2"),
                         F.col("c1").alias("c_w2")), "w2", "left")
        .join(uni.select(F.col("w").alias("w3"),
                         F.col("c1").alias("c_w3")), "w3", "left")
        .crossJoin(F.broadcast(totals))
    )
    uni_s = (
        (F.coalesce(F.col("c_w3"), F.lit(0)) + F.lit(add_k))
        / (F.col("n_tokens") + F.lit(add_k) * F.col("v"))
    )
    s = (
        F.when(
            F.coalesce(F.col("c123"), F.lit(0)) > 0,
            F.col("c123").cast("double") / F.col("c_ctx"),
        )
        .when(
            F.coalesce(F.col("c_suf"), F.lit(0)) > 0,
            F.lit(alpha) * (F.col("c_suf").cast("double") / F.col("c_w2")),
        )
        .otherwise(F.lit(alpha) * F.lit(alpha) * uni_s)
    )
    scored = j.select(
        "doc_id",
        # sentinel rows (null tg) score null — count() skips them, so
        # a short doc aggregates to (0, 0) exactly as the old
        # base-left-join + coalesce tier did, without the join
        F.when(F.col("tg").isNull(), F.lit(None).cast("bigint"))
        .otherwise(
            F.round(-F.log(s) * F.lit(1_000_000.0)).cast("bigint")
        ).alias("nll_e6"),
    )
    # every doc_id reaches the aggregate (sentinel rows included), so
    # the per-doc groupBy IS the output — one exchange, one docs scan.
    out = scored.groupBy("doc_id").agg(
        F.count("nll_e6").alias("n_trigrams"),
        F.round(
            F.coalesce(F.sum("nll_e6"), F.lit(0))
            / F.greatest(F.count("nll_e6"), F.lit(1))
            / F.lit(100.0)
        ).cast("bigint").alias("avg_nll_e4"),
    )
    return out.withColumn(
        "lm_pass", F.col("avg_nll_e4") <= F.lit(gate_nll_e4)
    )


def stupid_backoff_perplexity(
    docs: DataFrame,
    train_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    add_k: float = 0.1,
    gate_nll_e4: int = 80_000,
) -> DataFrame:
    """Train on `train_docs`, score `docs` — the trigram big brother
    of `bigram_perplexity` (same clean-reference-corpus shape)."""
    tri, bi, uni, totals = train_backoff_counts(
        train_docs, id_col, text_col
    )
    return score_stupid_backoff(
        docs, tri, bi, uni, totals, id_col=id_col, text_col=text_col,
        alpha=alpha, add_k=add_k, gate_nll_e4=gate_nll_e4,
    )


def dsir_logweights(
    docs: DataFrame,
    target_docs: DataFrame,
    raw_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.1,
) -> DataFrame:
    """Per-document importance log-weights for DSIR-style data
    selection (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling"): log w(x) = ln p_target(x) −
    ln p_raw(x) under two add-k bigram models — documents that look
    more like the target distribution than the raw pool get positive
    weight. Returns (doc_id, n_bigrams, logw_e6).

    Distributed shape: BOTH models are count tables from one tagged
    pass each; candidates are bigram-exploded ONCE and joined against
    the four count tables plus one broadcast 1-row vocab aggregate —
    the per-bigram delta quantizes to e6 BEFORE the per-document sum
    (exact integer arithmetic thereafter, bit-stable under any
    partitioning). No driver model object anywhere; at 100 TB this is
    four stored-table joins per candidate batch, the same regime as
    the other LM scorers."""
    from ..functions.text import shingle_docs_pandas

    add_k = float(add_k)
    big_t, pre_t, voc_t = train_bigram_counts(target_docs, id_col, text_col)
    big_r, pre_r, voc_r = train_bigram_counts(raw_docs, id_col, text_col)
    vocs = F.broadcast(
        voc_t.select(F.col("v").alias("vt")).crossJoin(
            voc_r.select(F.col("v").alias("vr"))
        )
    )
    dbg = shingle_docs_pandas(
        _nn(docs, id_col, text_col), id_col, text_col, 2, out="__bg"
    ).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer("__bg").alias("bg"),
    )
    j = (
        dbg.join(big_t.select(F.col("bg"), F.col("c12").alias("ct12")),
                 "bg", "left")
        .join(big_r.select(F.col("bg"), F.col("c12").alias("cr12")),
              "bg", "left")
        .join(pre_t.select(F.col("w1").alias("__w1t"),
                           F.col("c1").alias("ct1")),
              F.substring_index(F.col("bg"), " ", 1) == F.col("__w1t"),
              "left")
        .join(pre_r.select(F.col("w1").alias("__w1r"),
                           F.col("c1").alias("cr1")),
              F.substring_index(F.col("bg"), " ", 1) == F.col("__w1r"),
              "left")
        .crossJoin(vocs)
    )

    def _nll(c12, c1, v):
        return F.round(
            -F.log(
                (F.coalesce(F.col(c12), F.lit(0)) + F.lit(add_k))
                / (F.coalesce(F.col(c1), F.lit(0))
                   + F.lit(add_k) * F.col(v))
            ) * F.lit(1_000_000.0)
        ).cast("bigint")

    scored = j.select(
        "doc_id",
        F.when(F.col("bg").isNull(), F.lit(None).cast("bigint"))
        .otherwise(_nll("cr12", "cr1", "vr") - _nll("ct12", "ct1", "vt"))
        .alias("lw_e6"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("lw_e6").alias("n_bigrams"),
        F.coalesce(F.sum("lw_e6"), F.lit(0)).alias("logw_e6"),
    )


def _doc_grams(
    docs: DataFrame, id_col: str, text_col: str, max_order: int = 2
) -> DataFrame:
    """(doc_id, gram) rows for every unigram and bigram of every doc —
    the per-document twin of `_tagged_grams` (one Arrow pass, same
    str.split tokenization, so features can never diverge between
    training and scoring). A doc with NO tokens emits one NULL-gram
    sentinel row, so every input doc reaches the downstream
    groupBy(doc_id) and scorers never need a join back to the doc
    table just to resurrect empty documents."""
    nn = _nn(docs, id_col, text_col)

    def columns_of(doc_ids, texts):
        ids: list = []
        grams: list[str | None] = []
        for i, t in zip(doc_ids, texts):
            toks = (t or "").split()
            if not toks:
                ids.append(i)
                grams.append(None)
                continue
            ids.extend([i] * len(toks))
            grams.extend(toks)
            if max_order >= 2 and len(toks) > 1:
                ids.extend([i] * (len(toks) - 1))
                grams.extend(
                    a + " " + b for a, b in zip(toks, toks[1:])
                )
        return {"doc_id": ids, "gram": grams}

    id_type = nn.schema[id_col].dataType.simpleString()
    return arrow_rows(nn, columns_of, f"doc_id {id_type}, gram string")


def dsir_bucket_logweights(
    docs: DataFrame,
    target_docs: DataFrame,
    raw_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_buckets: int = 10_000,
    add_k: float = 0.1,
    hash_fn=None,
) -> DataFrame:
    """DSIR importance log-weights over HASHED n-gram bucket features —
    the fidelity variant Xie et al. 2023 actually productionize (§3:
    unigrams+bigrams hashed into 10k buckets; the raw-bigram
    `dsir_logweights` is the paper's exposition form). Each document's
    features are its uni+bigram occurrences hashed into
    `hash_buckets` buckets; under the two add-k multinomial bucket
    models, log w(x) = Σ_grams [ln p_target(bucket) − ln p_raw(bucket)].
    Returns (doc_id, n_grams, logw_e6).

    Distributed shape — and why this is the 100 TB path: the entire
    trained model collapses to ONE ≤`hash_buckets`-row per-bucket
    delta table (round(-ln p_raw · 1e6) − round(-ln p_target · 1e6),
    quantized per bucket BEFORE any per-doc sum — bit-stable under
    any partitioning). That table broadcasts, so scoring is one Arrow
    gram pass + one BROADCAST join + one groupBy(doc_id) — a single
    shuffle, versus the raw variant's four shuffle joins against
    unbounded vocabulary tables. Grams absent from both corpora fall
    back to the smoothing-only constant delta carried on the same
    broadcast row. `hash_fn` defaults to xxhash64 (production); the
    driver plan passes the md5-prefix bigint so DuckDB derives
    identical buckets (the x_dedup_simhash portability convention).
    """
    delta, meta = train_dsir_bucket_model(
        target_docs, raw_docs, id_col=id_col, text_col=text_col,
        hash_buckets=hash_buckets, add_k=add_k, hash_fn=hash_fn,
    )
    return score_dsir_buckets(
        docs, delta, meta, id_col=id_col, text_col=text_col,
        hash_buckets=hash_buckets, hash_fn=hash_fn,
    )


def _bucket_col(col, hash_buckets: int, hash_fn):
    hf = hash_fn if hash_fn is not None else F.xxhash64
    return F.pmod(hf(col), F.lit(int(hash_buckets))).alias("b")


def train_dsir_bucket_model(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_buckets: int = 10_000,
    add_k: float = 0.1,
    hash_fn=None,
) -> tuple[DataFrame, DataFrame]:
    """(delta, meta) — the WHOLE trained DSIR bucket model: `delta` is
    the ≤`hash_buckets`-row (b, d_e6) per-bucket table (d_e6 =
    round(-ln p_raw · 1e6) − round(-ln p_target · 1e6), quantized per
    bucket); `meta` is one row (hash_buckets, tt, tr, d0_e6) carrying
    the corpus masses and the unseen-bucket fallback delta. Both are
    plain DataFrames — persistable via `persist_dsir_bucket_model`,
    broadcast at score time. The hash family is NOT stored: callers
    must score with the same `hash_fn` they trained with."""

    def _grams(corpus: DataFrame, flag: int) -> DataFrame:
        return _tagged_grams(
            _nn(corpus, id_col, text_col), text_col
        ).select(
            _bucket_col(F.col("gram"), hash_buckets, hash_fn),
            F.lit(flag).alias("__tgt"),
        )

    # ONE tagged pass per corpus into ONE bucket groupBy (conditional
    # sums replace two groupBys + a full-outer join), and the ≤B-row
    # result is CACHED: meta's totals and delta's per-bucket deltas
    # both read it, so each corpus is tokenized exactly once per train
    # — the bigram-trainer precedent (train_bigram_counts), including
    # its prepared-plan-cache self-exclusion. The r10 first-cut built
    # meta/delta as four independent lineages and paid ~4 tokenization
    # passes (bench: 2.34 s at sf0.1, the most expensive LM entry).
    counts = managed_cache(
        _grams(target_docs, 1).unionByName(_grams(raw_docs, 0))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("__tgt") == 1, 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("__tgt") == 0, 1).otherwise(0)).alias("cr"),
        )
    )
    return _bucket_model_from_counts(counts, hash_buckets, add_k)


def _bucket_model_from_counts(
    counts: DataFrame, hash_buckets: int, add_k: float
) -> tuple[DataFrame, DataFrame]:
    """(delta, meta) from a (b, ct, cr) bucket-count table — the
    shared back half of the two-corpus trainer and the single-pass
    split scorer."""
    add_k = float(add_k)
    b_lit = F.lit(int(hash_buckets))

    def _nll(c_col, tot_col):
        return F.round(
            -F.log(
                (F.coalesce(c_col, F.lit(0)) + F.lit(add_k))
                / (tot_col + F.lit(add_k) * b_lit.cast("double"))
            ) * F.lit(1_000_000.0)
        ).cast("bigint")

    # 1-row meta: gram-occurrence mass of each corpus plus the
    # unseen-bucket fallback delta (smoothing only). Buckets absent
    # from one side carry an exact 0 there, so the sums equal the
    # per-side totals of the old two-table formulation bit-for-bit.
    meta = (
        counts.agg(
            F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("tt"),
            F.coalesce(F.sum("cr"), F.lit(0)).cast("double").alias("tr"),
        )
        .select(
            F.lit(int(hash_buckets)).alias("hash_buckets"),
            "tt", "tr",
            (_nll(F.lit(None), F.col("tr"))
             - _nll(F.lit(None), F.col("tt"))).alias("d0_e6"),
        )
    )
    delta = (
        counts
        .crossJoin(F.broadcast(meta.select("tt", "tr")))
        .select(
            "b",
            (_nll(F.col("cr"), F.col("tr"))
             - _nll(F.col("ct"), F.col("tt"))).alias("d_e6"),
        )
    )
    return delta, meta


def dsir_bucket_logweights_split(
    docs: DataFrame,
    target_cond,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_buckets: int = 10_000,
    add_k: float = 0.1,
    hash_fn=None,
) -> DataFrame:
    """`dsir_bucket_logweights` for the common case where target and
    raw are a FILTER SPLIT of the scored corpus itself (`target_cond`
    is a Column over the normalized `doc_id`): ONE cached
    (doc_id, gram, b, tgt) Arrow pass feeds BOTH the bucket-count
    training aggregate and the scoring join — the general three-corpus
    form tokenizes the corpus twice (once for the split training
    passes, once for scoring). Identical values to the general form
    (same grams, same buckets, same quantized model — pinned by the
    registry oracle)."""
    g = managed_cache(
        _doc_grams(docs, id_col, text_col).select(
            "doc_id", "gram",
            _bucket_col(F.col("gram"), hash_buckets, hash_fn),
            F.when(target_cond, 1).otherwise(0).alias("__tgt"),
        )
    )
    # the ≤B-row counts table is cached exactly as in the general
    # trainer: meta and delta (which re-reads meta) would otherwise
    # each re-aggregate the cached gram table
    counts = managed_cache(
        g.filter(F.col("gram").isNotNull()).groupBy("b").agg(
            F.sum(F.when(F.col("__tgt") == 1, 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("__tgt") == 0, 1).otherwise(0)).alias("cr"),
        )
    )
    delta, meta = _bucket_model_from_counts(counts, hash_buckets, add_k)
    scored = (
        g.join(F.broadcast(delta), "b", "left")
        .crossJoin(F.broadcast(meta.select("d0_e6")))
        .select(
            "doc_id",
            F.when(F.col("gram").isNull(), F.lit(None).cast("bigint"))
            .otherwise(F.coalesce("d_e6", "d0_e6")).alias("lw_e6"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("lw_e6").alias("n_grams"),
        F.coalesce(F.sum("lw_e6"), F.lit(0)).alias("logw_e6"),
    )


def score_dsir_buckets(
    docs: DataFrame,
    delta: DataFrame,
    meta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_buckets: int = 10_000,
    hash_fn=None,
) -> DataFrame:
    """(doc_id, n_grams, logw_e6) for `docs` against a trained (or
    loaded) bucket model — one Arrow gram pass + one BROADCAST join +
    one groupBy(doc_id) shuffle; empty/NULL docs score (0, 0).
    `hash_buckets` and `hash_fn` must match training (the persisted
    meta row carries hash_buckets for callers that loaded the model)."""
    # empty docs ride the NULL-gram sentinel (its bucket is NULL, the
    # left join misses, and the explicit NULL lw keeps it out of both
    # the count and the sum) — no join back to the doc table, so the
    # whole scorer is one Arrow pass + a broadcast join + ONE shuffle
    scored = (
        _doc_grams(docs, id_col, text_col)
        .select(
            "doc_id", "gram",
            _bucket_col(F.col("gram"), hash_buckets, hash_fn),
        )
        .join(F.broadcast(delta), "b", "left")
        .crossJoin(F.broadcast(meta.select("d0_e6")))
        .select(
            "doc_id",
            F.when(F.col("gram").isNull(), F.lit(None).cast("bigint"))
            .otherwise(F.coalesce("d_e6", "d0_e6")).alias("lw_e6"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("lw_e6").alias("n_grams"),
        F.coalesce(F.sum("lw_e6"), F.lit(0)).alias("logw_e6"),
    )


def persist_dsir_bucket_model(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_buckets: int = 10_000,
    add_k: float = 0.1,
    hash_fn=None,
) -> None:
    """Train and materialize the DSIR bucket model as parquet under
    `path` ({delta, meta} subdirs) — at 100 TB both corpora are
    tokenized ONCE and every scoring batch (including the streaming
    gate, `streaming.pipeline.run_dsir_gate_ingest`) broadcasts the
    stored ≤B-row table instead of retraining. The hash family is not
    stored — score with the `hash_fn` used here."""
    delta, meta = train_dsir_bucket_model(
        target_docs, raw_docs, id_col=id_col, text_col=text_col,
        hash_buckets=hash_buckets, add_k=add_k, hash_fn=hash_fn,
    )
    delta.write.mode("overwrite").parquet(f"{path}/delta")
    meta.write.mode("overwrite").parquet(f"{path}/meta")


def load_dsir_bucket_model(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(delta, meta) back from `persist_dsir_bucket_model`'s layout —
    ready for `score_dsir_buckets` (read hash_buckets from meta)."""
    return (
        spark.read.parquet(f"{path}/delta"),
        spark.read.parquet(f"{path}/meta"),
    )
