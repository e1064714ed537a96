"""Repetition-based document quality features (Gopher-class filters).

The FULL repetition half of the Gopher quality table (Rae et al. 2021,
appendix A1), reused by MassiveText/FineWeb-class pipelines — how much
of a document is the same n-gram repeated:

- ``top{2,3,4}_char_e6`` — fraction of characters covered by the single
  most frequent word n-gram (count × gram length / total chars), the
  "most common 2-gram > 20%" style gates. Occurrences may overlap, so
  the ratio can exceed 1 for degenerate docs ("a a a a") — the
  standard definition, kept as-is (thresholds already account for it).
- ``dup{5..10}_char_e6`` — characters covered by all n-grams occurring
  more than once (Σ count × length / total chars), the "duplicate
  5-grams > 15%" family.
- ``word_rep_e6`` — 1 − distinct/total words, a cheap whole-doc
  repetition summary (not a Gopher gate; informational).
- ``gopher_pass`` — the published thresholds applied: top-2/3/4-gram
  ≤ 0.20/0.18/0.16, duplicate-5..10-gram ≤ 0.15/0.14/0.13/0.12/
  0.11/0.10.

Ratios are emitted as micro-units (``round(x * 1e6)`` BIGINT) so the
driver hash is integer-stable; numerators and denominators are exact
ints and both engines perform the identical IEEE multiply-then-divide.
``greatest(n_chars, 1)``: an empty document must yield zero ratios in
BOTH engines, not ride each engine's own x/0 convention (Spark NULL vs
IEEE inf) into a hash divergence.

Scale shape: ONE narrow projection builds all nine gram families as
arrays (slice/transform expressions — no UDF), ONE explode_outer (a
doc too short for even one 2-gram must survive with zero ratios, not
vanish from the corpus), ONE shuffle on (doc_id, n, gram) —
well-distributed keys, map-side combinable — then a second map-side-
combinable agg back to doc_id. Ties for the top gram resolve by the
lexicographically largest gram (max over struct(count, gram)),
mirrored exactly in the SQL oracle's ``ORDER BY c DESC, gram DESC``.
No driver pulls, no cartesian anything; at 100 TB the explode
multiplies rows ~9× word count per doc, the same envelope as the
shingle pipelines (and why callers pass it through the size-gated
pre-shuffle spread).

No counterpart in the reference (its 278-LoC cron ETL has no text
surface); the semantics follow the public Gopher paper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources import arrow_rows

__all__ = ["repetition_features", "GOPHER_THRESHOLDS_E6"]

#: published Gopher gates in micro-units (appendix A1): most-common
#: 2/3/4-gram character fractions and duplicate 5..10-gram fractions
GOPHER_THRESHOLDS_E6 = {
    "top2": 200_000, "top3": 180_000, "top4": 160_000,
    "dup5": 150_000, "dup6": 140_000, "dup7": 130_000,
    "dup8": 120_000, "dup9": 110_000, "dup10": 100_000,
}

#: the "most common n-gram" ns and the "duplicate n-gram" ns
TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)


def _grams(n: int) -> Column:
    """Tagged word n-grams as an array<struct<n,gram>> (empty when the
    doc is shorter than n words — sequence() would otherwise run
    backwards)."""
    return F.when(
        F.col("n_words") >= n,
        F.transform(
            F.sequence(F.lit(0), F.col("n_words") - n),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", F.slice("ws", i + 1, n)).alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))


def repetition_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    engine: str = "arrow",
) -> DataFrame:
    """Per-document repetition features + the Gopher pass flag.

    Two physical engines, bit-identical outputs (differentially
    pinned by tests/test_extensions.py, incl. a hypothesis whitespace
    fuzz — the split/trim edge semantics are the divergence risk):

    - ``arrow`` (default): ONE Arrow row-node pass — per-doc gram
      counting in a Counter, exact ints out, the e6 ratio arithmetic
      done by the SAME Spark expressions as the expr path. No explode,
      no gram-grain shuffle, no HOF interpretation: the r9 sf1 stage
      profile measured the expr path's gram CONSTRUCTION (interpreted
      transform + concat_ws over 22 M grams) at 7.1 s of 8.4 s, the
      same bound the Arrow shingler removed from x_lm_perplexity
      (9.45 → 0.9 s, r7). Fully narrow: scales as a pure map.
    - ``expr``: the original all-expression plan (explode_outer + two
      map-side-combinable aggs) — kept as the JVM-only reference the
      Arrow path is verified against, and for clusters where Python
      workers are unavailable.
    """
    if engine == "arrow":
        return _repetition_arrow(docs, id_col, text_col)
    if engine != "expr":
        raise ValueError(f"unknown engine {engine!r}")
    # coalesce(text, ''): a NULL text must behave as empty — without it
    # Spark's legacy size(NULL) = -1 makes n_words negative and
    # diverges from the oracle's NULL
    text = F.coalesce(F.col(text_col), F.lit(""))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(F.length(text), F.lit(1)).alias("n_chars"),
        F.split(F.trim(text), r"\s+").alias("ws"),
    ).select(
        "doc_id",
        "n_chars",
        F.size("ws").alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct"),
        "ws",
    )
    ex = base.select(
        "doc_id", "n_chars", "n_words", "n_distinct",
        F.explode_outer(
            F.concat(*[_grams(n) for n in (*TOP_NS, *DUP_NS)])
        ).alias("g"),
    )
    # n_chars/n_words/n_distinct are functionally dependent on doc_id —
    # carrying them as group keys keeps the plan join-free
    counts = ex.groupBy(
        "doc_id", "n_chars", "n_words", "n_distinct",
        F.col("g.n").alias("n"), F.col("g.gram").alias("gram"),
    ).agg(F.count(F.lit(1)).alias("c"))
    per = counts.groupBy("doc_id", "n_chars", "n_words", "n_distinct").agg(
        *[
            F.max(F.when(F.col("n") == n, F.struct("c", "gram"))).alias(
                f"t{n}"
            )
            for n in TOP_NS
        ],
        *[
            F.sum(
                F.when(
                    (F.col("n") == n) & (F.col("c") > 1),
                    F.col("c") * F.length("gram"),
                ).otherwise(F.lit(0))
            ).alias(f"d{n}")
            for n in DUP_NS
        ],
    )
    # normalize onto the engine-common intermediate (exact ints): the
    # top-gram struct becomes (count, gram length); a doc with no
    # n-grams becomes the 0 the Arrow path emits directly
    per = per.select(
        "doc_id", "n_chars", "n_words", "n_distinct",
        *[
            F.coalesce(F.col(f"t{n}.c"), F.lit(0)).alias(f"t{n}_c")
            for n in TOP_NS
        ],
        *[
            F.coalesce(F.length(f"t{n}.gram"), F.lit(0)).alias(f"t{n}_len")
            for n in TOP_NS
        ],
        *[F.coalesce(F.col(f"d{n}"), F.lit(0)).alias(f"d{n}") for n in DUP_NS],
    )
    return _finish(per)


def _finish(per: DataFrame) -> DataFrame:
    """Exact-int intermediate → e6 ratios + gates. Shared by both
    engines so the IEEE multiply-then-divide and the HALF_UP rounding
    are literally the same expressions — the differential contract
    reduces to the integer counts."""

    def _e6(num: Column, den: Column) -> Column:
        return F.round(num * F.lit(1000000.0) / den).cast("bigint")

    out = per.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        _e6(F.col("n_words") - F.col("n_distinct"), F.col("n_words")).alias(
            "word_rep_e6"
        ),
        *[
            _e6(F.col(f"t{n}_c") * F.col(f"t{n}_len"), F.col("n_chars")).alias(
                f"top{n}_char_e6"
            )
            for n in TOP_NS
        ],
        *[
            _e6(F.col(f"d{n}"), F.col("n_chars")).alias(f"dup{n}_char_e6")
            for n in DUP_NS
        ],
    )
    th = GOPHER_THRESHOLDS_E6
    gates = [F.col(f"top{n}_char_e6") <= th[f"top{n}"] for n in TOP_NS]
    gates += [F.col(f"dup{n}_char_e6") <= th[f"dup{n}"] for n in DUP_NS]
    flag = gates[0]
    for g in gates[1:]:
        flag = flag & g
    return out.withColumn("gopher_pass", flag)


#: Spark's split(trim(text), '\\s+') under Java regex semantics: \s is
#: ASCII-only ([ \t\n\x0B\f\r]) without UNICODE_CHARACTER_CLASS, and
#: trim strips 0x20 spaces only. The Arrow engine must reproduce BOTH
#: exactly (Python's \s is Unicode-wide — using it would diverge on
#: NBSP-class whitespace) — pinned by the hypothesis whitespace fuzz.
_JAVA_WS = None


def _java_ws():
    global _JAVA_WS
    if _JAVA_WS is None:
        import re

        _JAVA_WS = re.compile(r"[ \t\n\x0B\f\r]+")
    return _JAVA_WS


def _repetition_rows(ids, texts):
    """Exact per-doc gram counts for one Arrow batch (plain Python —
    also the reference scorer the tests call directly)."""
    from collections import Counter

    ws_re = _java_ws()
    rows = []
    for doc_id, text in zip(ids, texts):
        text = "" if text is None else str(text)
        n_chars = max(len(text), 1)
        ws = ws_re.split(text.strip(" "))
        n_words = len(ws)
        row = {
            "doc_id": doc_id,
            "n_chars": n_chars,
            "n_words": n_words,
            "n_distinct": len(set(ws)),
        }
        for n in (*TOP_NS, *DUP_NS):
            cnt = (
                Counter(
                    " ".join(ws[i : i + n]) for i in range(n_words - n + 1)
                )
                if n_words >= n
                else ()
            )
            if n in TOP_NS:
                if cnt:
                    # max (count, gram): code-point string order ==
                    # Spark's UTF8 binary order, so ties resolve to the
                    # same lexicographically-largest gram
                    c, g = max((c, g) for g, c in cnt.items())
                    row[f"t{n}_c"], row[f"t{n}_len"] = c, len(g)
                else:
                    row[f"t{n}_c"] = row[f"t{n}_len"] = 0
            else:
                row[f"d{n}"] = sum(
                    c * len(g) for g, c in cnt.items() if c > 1
                ) if cnt else 0
        rows.append(row)
    return rows


def _repetition_arrow(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    id_type = docs.schema[id_col].dataType.simpleString()
    fields = ["n_chars long", "n_words long", "n_distinct long"]
    fields += [f"t{n}_c long" for n in TOP_NS]
    fields += [f"t{n}_len long" for n in TOP_NS]
    fields += [f"d{n} long" for n in DUP_NS]
    schema = f"doc_id {id_type}, " + ", ".join(fields)

    cols = [f.split()[0] for f in ["doc_id x", *fields]]

    def columns_of(ids, texts):
        rows = _repetition_rows(ids, texts)
        return {c: [r[c] for r in rows] for c in cols}

    per = arrow_rows(docs.select(id_col, text_col), columns_of, schema)
    return _finish(per)
