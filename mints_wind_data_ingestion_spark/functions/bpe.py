"""BPE tokenizer-vocabulary induction (SURVEY.md §2.11 text surface).

Classic byte-pair-encoding merge training (Sennrich et al., ACL '16):
repeatedly merge the most frequent adjacent symbol pair. The key
structural fact for scale is that training operates on the WORD
FREQUENCY TABLE, not the corpus: one corpus-sized aggregation up front
(count distinct words — at 100 TB the usual Zipf head/tail split keeps
this table modest), then every merge iteration touches only vocab-sized
data. This engine keeps that contract literally:

- `word_frequencies`: the one corpus pass (explode + map-side-combining
  count) — the only stage whose cost scales with the corpus;
- `train_bpe_merges`: the iterative loop over the (word, freq, symbols)
  table — per round one exploded pair count (weighted by word freq), a
  1-row argmax pulled to the driver (the merge decision IS scalar
  state, exactly like connected-components' convergence probe), and an
  Arrow-batched merge application over the vocab.

Determinism: ties on pair count break lexicographically, so the merge
sequence is a pure function of the corpus — pinned differentially
against the textbook pure-Python implementation in
tests/test_props_round3.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import arrow_rows

__all__ = ["word_frequencies", "train_bpe_merges", "train_bpe_merges_auto",
           "bpe_merges_local", "apply_merges_py", "encode_corpus"]

#: distinct-word count at or below which merge training runs on a
#: collected (word, freq) table driver-side. BPE training state IS the
#: vocab table — Zipf keeps it modest (≈100k words ≈ a few MB) even
#: for corpora thousands of times larger than their vocabulary, and
#: one bounded Arrow pull replaces n_merges × (aggregate + 1-row
#: collect + Arrow vocab rewrite) driver round-trips. Above the gate
#: the distributed loop runs — same merges either way (pinned by
#: test_props_round3's Sennrich differential).
LOCAL_TRAIN_WORDS = 100_000

#: end-of-word marker (Sennrich's convention) — lets merges distinguish
#: word-final from word-internal occurrences
EOW = "</w>"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the single corpus-sized stage of
    BPE training. Whitespace tokens, lowercased."""
    from .text import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .select(F.lower("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the symbolized vocab: explode
    (symbols[i], symbols[i+1]) per word × freq, one hash aggregate."""
    # size guard: a fully-merged word has 1 symbol, and
    # sequence(1, 0) DESCENDS to [1, 0] (it is not empty), which would
    # index symbols[1] out of bounds
    pairs = vocab.filter(F.size("symbols") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, size(symbols) - 1), "
                "i -> struct(symbols[i - 1] AS a, symbols[i] AS b))"
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.a", "p.b").agg(F.sum("freq").alias("cnt"))


def apply_merges_py(symbols: list[str], merges: list[tuple[str, str]]) -> list[str]:
    """Apply a merge sequence to one symbol list — the shared
    Python kernel (used executor-side on the vocab and by the
    differential test's reference model)."""
    for a, b in merges:
        out, i = [], 0
        while i < len(symbols):
            if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        symbols = out
    return symbols


def train_bpe_merges(
    word_freq: DataFrame,
    n_merges: int,
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges from a (word, freq) table.

    Per round: one vocab-sized pair aggregation, one 1-row driver pull
    (the argmax merge decision — scalar state, not a data collect), and
    one Arrow-batched merge application. Stops early when no pair
    reaches `min_count`. Ties break on (count DESC, a ASC, b ASC) so
    the sequence is deterministic under any partitioning."""
    vocab = word_freq.select(
        "word",
        "freq",
        F.expr(f"concat(split(word, ''), array('{EOW}'))").alias("symbols"),
    ).localCheckpoint()

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0].cnt < min_count:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))

        def apply_batch(words, freqs, symbols, pair=(a, b)):
            return {"word": words, "freq": freqs, "symbols": [
                apply_merges_py(s, [pair]) for s in symbols
            ]}

        vocab = arrow_rows(
            vocab, apply_batch, "word string, freq long, symbols array<string>"
        ).localCheckpoint()
    return merges


def _train_merges_py(
    freq_items: list[tuple[str, int]], n_merges: int, min_count: int
) -> list[tuple[str, str]]:
    """The textbook in-memory trainer over a (word, freq) list —
    identical merge decisions to train_bpe_merges (same pair weights,
    same (count DESC, a ASC, b ASC) tie break)."""
    from collections import Counter

    vocab = [(list(w) + [EOW], f) for w, f in freq_items]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for syms, f in vocab:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        # highest count, then lexicographically smallest (a, b) — the
        # distributed trainer's (cnt DESC, a ASC, b ASC) tie break
        top_cnt = max(counts.values())
        if top_cnt < min_count:
            break
        a, b = min(p for p, c in counts.items() if c == top_cnt)
        merges.append((a, b))
        vocab = [(apply_merges_py(syms, [(a, b)]), f) for syms, f in vocab]
    return merges


def train_bpe_merges_auto(
    word_freq: DataFrame,
    n_merges: int,
    min_count: int = 2,
    local_train_words: int | None = None,
) -> list[tuple[str, str]]:
    """Size-gated trainer: collect the (word, freq) table and train
    driver-side when the vocab fits LOCAL_TRAIN_WORDS (one bounded
    Arrow pull — the CC local-solve posture applied to BPE's
    vocab-sized iteration state); fall back to the distributed
    per-round loop otherwise."""
    gate = LOCAL_TRAIN_WORDS if local_train_words is None else local_train_words
    n_words = word_freq.count()
    if n_words <= gate:
        rows = word_freq.collect()
        return _train_merges_py(
            [(r["word"], r["freq"]) for r in rows], n_merges, min_count
        )
    return train_bpe_merges(word_freq, n_merges, min_count)


def bpe_merges_local(
    sf_dir: str, n_merges: int, min_count: int = 2
) -> list[tuple[str, str]]:
    """Engine-free re-derivation of the trained merge sequence straight
    from the parquet (duckdb scan + pure-Python counting) — the lazy-
    oracle path, mirroring operators.similarity.ivf_centroids_local.
    Tokenization replays word_frequencies exactly: ASCII-\\s+ split,
    lowercase, empties dropped."""
    import re
    from collections import Counter

    import duckdb

    con = duckdb.connect()
    texts = con.execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    split = re.compile(r"\s+", flags=re.ASCII).split
    freq: Counter = Counter()
    for (t,) in texts:
        for w in split(str(t)):
            if w:
                freq[w.lower()] += 1
    return _train_merges_py(sorted(freq.items()), n_merges, min_count)


def encode_corpus(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize a corpus with a learned merge sequence — the encoder
    half of the tokenizer: per document, whitespace-split, lowercase,
    symbolize each word (chars + EOW) and apply the merges in training
    order. One Arrow-batched row-node pass; the merge list is tiny
    and ships in the closure (at vocab sizes it would broadcast the
    same way). Output: (id, array<string> of BPE tokens, token count).

    The per-word merge application is exact (apply_merges_py — the
    same kernel the trainer and the differential test use), and the
    word split is the SAME tokenizer as the trainer's
    `word_frequencies` (Java-regex `\\s+` = ASCII whitespace, replayed
    here as `re.split(r"\\s+", ..., flags=re.ASCII)`), so
    encode(corpus, train(corpus)) is reproducible end-to-end even on
    corpora containing Unicode whitespace (e.g. U+00A0)."""
    import re

    ms = list(merges)
    split = re.compile(r"\s+", flags=re.ASCII).split
    #: per-partition memoization cap — Zipf means a small cache catches
    #: nearly all hits; beyond it we just recompute (bounded memory)
    cache_cap = 65_536
    id_type = docs.schema[id_col].dataType.simpleString()

    cache: dict[str, list[str]] = {}

    def enc_word(w: str) -> list[str]:
        got = cache.get(w)
        if got is None:
            got = apply_merges_py(list(w) + [EOW], ms)
            if len(cache) < cache_cap:
                cache[w] = got
        return got

    def columns_of(ids, texts):
        toks = [
            [t for w in split(str(s).lower()) if w for t in enc_word(w)]
            for s in texts
        ]
        return {id_col: ids, out: toks, "n_bpe_tokens": [len(t) for t in toks]}

    return arrow_rows(
        docs.select(id_col, text_col), columns_of,
        f"{id_col} {id_type}, {out} array<string>, n_bpe_tokens long",
    )
