"""Text-analysis expression library (SURVEY.md §2.11 extension surface).

Everything is built-in-function composition (JVM-side, codegen'd): token
counting, length/punctuation quality stats, n-gram shingling, rolling-hash
fingerprints, stopword-ratio language scoring. No Python UDFs — at 100 TB
these run inside whole-stage codegen over the `documents` table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..sources import arrow_rows

__all__ = [
    "tokens",
    "token_count",
    "word_shingles",
    "char_shingles",
    "shingle_docs_pandas",
    "punct_ratio",
    "whitespace_ratio",
    "avg_word_len",
    "stopword_ratio",
    "fingerprint64",
    "pii_count",
    "redact_pii",
    "PII_PATTERNS",
]

#: tiny per-language stopword lists for the n-gram/stopword language
#: heuristic — deliberately minimal; a real deployment broadcasts a
#: fuller dimension table (J5 pattern).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "por"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization → array<string>; empty strings removed."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    """Number of whitespace tokens — regexp_count of maximal
    non-whitespace runs: value-identical to size(tokens(text)) but
    fully codegen'd (higher-order array functions are CodegenFallback,
    interpreted per element — measured ~3× slower on the text suite)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(col, F.lit(r"\S+"))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (for MinHash / Jaccard dedup).

    Pure array expressions: slide a window over the token array with
    transform + slice; no UDF.
    """
    toks = tokens(text)
    k = F.size(toks) - F.lit(n - 1)
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — guard k < 1
    return F.when(k < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k), lambda i: F.concat_ws(" ", F.slice(toks, i, n))
        )
    )


def char_shingles(text: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles over the lowercased text."""
    col = F.lower(F.col(text) if isinstance(text, str) else text)
    k = F.length(col) - F.lit(n - 1)
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — guard k < 1
    return F.when(k < 1, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), k), lambda i: F.substring(col, i, n))
    )


def _ratio(matched_len: Column, total: Column) -> Column:
    return F.when(total > 0, matched_len / total).otherwise(F.lit(0.0))


def punct_ratio(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    kept = F.length(F.regexp_replace(col, r"[^\p{Punct}]", ""))
    return _ratio(kept, F.length(col))


def whitespace_ratio(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    kept = F.length(F.regexp_replace(col, r"[^\s]", ""))
    return _ratio(kept, F.length(col))


def avg_word_len(text: Column | str) -> Column:
    """Mean token length. Σ token lengths ≡ count of non-whitespace
    characters, so the HOF fold (aggregate over transform(length) —
    interpreted per token) collapses to one regexp_replace + length:
    identical integers, identical int/int → double division."""
    col = F.col(text) if isinstance(text, str) else text
    n = token_count(col)
    total = F.length(F.regexp_replace(col, r"\s", ""))
    return F.when(n > 0, total / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of `lang` — the language-ID
    heuristic scores each candidate language and takes the argmax.

    Hit counting is one regexp_count over lower(text): a stopword
    counts iff bounded by start/whitespace on both sides (lookarounds
    don't consume, so consecutive stopword tokens all match) — exactly
    the tokens()-membership count, but codegen'd instead of the
    interpreted transform/filter/array_contains chain."""
    col = F.col(text) if isinstance(text, str) else text
    n = token_count(col)
    pat = r"(?<=\s|^)(?:" + "|".join(STOPWORDS[lang]) + r")(?=\s|$)"
    hits = F.regexp_count(F.lower(col), F.lit(pat))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def shingle_docs_pandas(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    out: str = "shingles",
):
    """Bulk word-n-gram shingling through the Arrow row node
    (`sources.arrow_rows`) — the measured fast path for corpus-scale
    dedup pipelines.

    Rationale (bench, sf0.1, local[32]): Spark's higher-order array
    functions (`transform`/`filter`/`aggregate`) are CodegenFallback —
    evaluated by the interpreter per element — so the expression form
    (`word_shingles`) costs ~4.7 s to produce postings for 5 000 docs
    where this Arrow-vectorized version costs ~1.1 s. Python here is
    NOT the slow path; the interpreted HOF is. Use `word_shingles`
    when embedding shingles inside a larger single-pass projection;
    use this for bulk (explode-bound) pipelines.

    Output: (id_col, out) with the shingle MULTISET (duplicates kept,
    order = text order) — identical semantics to `word_shingles`;
    callers needing set semantics apply `array_distinct`.
    """
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    out_schema = StructType(
        [df.schema[id_col], StructField(out, ArrayType(StringType()))]
    )

    def columns_of(ids, texts):
        shingles = []
        for t in texts:
            toks = t.split()
            shingles.append(
                [" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))]
            )
        return {id_col: ids, out: shingles}

    return arrow_rows(df.select(id_col, text_col), columns_of, out_schema)


def fingerprint64(text: Column | str) -> Column:
    """64-bit document fingerprint (xxhash64) — cheap identity for exact
    dedup joins; sha2-256 is the collision-safe variant (operators.dedup)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.xxhash64(col)


def rolling_fingerprint(text: Column | str) -> Column:
    """Rolling polynomial content fingerprint, base 31 mod 1e9+7, as an
    Arrow-vectorized pandas UDF.

    Value-identical to the expression fold
    ``aggregate(codes, 0, (acc, c) -> (acc*31 + c) % p)`` — Horner
    unrolls to Σ code_i·31^(L−1−i) mod p, and with code points < 2²¹
    and p < 2³⁰ each term-mod fits int64 and the term sum stays exact
    below L ≈ 2³³ — but the HOF fold evaluates INTERPRETED per
    character (CodegenFallback: ~50M lambda steps over a 50k-doc
    corpus), where this runs two numpy ops per document. Code points
    come from a utf-32 reinterpretation, matching `ascii()` per char.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = 1_000_000_007
    state = {"pw": np.array([1], dtype=np.int64)}

    def _fp(texts):  # no annotations: pandas_udf must not try to
        # resolve hints against this closure's local imports
        pw = state["pw"]
        # max() over an all-null/empty batch is NaN, which is truthy,
        # so `or 0` wouldn't catch it and int(NaN) raises — null-guard
        # explicitly (the batch then yields all-NULL rows, matching
        # the null-safe expression fold this UDF replaces)
        m = texts.str.len().max()
        max_len = 0 if pd.isna(m) else int(m)
        if len(pw) < max_len:
            ext = np.empty(max_len, dtype=np.int64)
            ext[: len(pw)] = pw
            for k in range(len(pw), max_len):
                ext[k] = (ext[k - 1] * 31) % P
            state["pw"] = pw = ext
        out = []
        for t in texts:
            if not isinstance(t, str):
                out.append(None)
            elif not t:
                out.append(0)
            else:
                codes = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = len(codes)
                out.append(int((codes * pw[n - 1 :: -1] % P).sum() % P))
        return pd.Series(out, dtype="object")

    col = F.col(text) if isinstance(text, str) else text
    return pandas_udf(_fp, "long")(col)


# --- PII redaction ---------------------------------------------------------

#: engine-portable patterns (identical semantics in Java regex and
#: RE2): plain char classes, no lookaround, no backrefs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"[0-9]{3}-555-[0-9]{4}",
    "ipv4": r"([0-9]{1,3}\.){3}[0-9]{1,3}",
}


def pii_count(text: Column, kind: str) -> Column:
    """Number of matches of one PII pattern (group-0 matches)."""
    return F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[kind]), 0))


def redact_pii(text: Column) -> Column:
    """Scrub emails → <EMAIL>, phone numbers → <PHONE>, IPv4 → <IP>,
    applied in that fixed order (order matters: an email must not be
    half-eaten by the IP rule first — its domain can look like a
    dotted quad). Pure codegen'd regexp_replace chain: the 100 TB
    shape is a streaming map, no shuffle, no UDF."""
    out = F.regexp_replace(text, PII_PATTERNS["email"], "<EMAIL>")
    out = F.regexp_replace(out, PII_PATTERNS["phone"], "<PHONE>")
    return F.regexp_replace(out, PII_PATTERNS["ipv4"], "<IP>")
