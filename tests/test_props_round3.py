"""Property tests for round-3 operators: the portable SimHash against
an independent pure-Python model and resize index-math properties
(the sequence-packing invariants live in tests/test_composites.py)."""

from __future__ import annotations

import hashlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def _simhash_model(shingles: list[str], nbits: int = 60) -> int:
    """Independent reference model: md5-prefix hash + bit-majority."""
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in set(shingles)]
    out = 0
    for j in range(nbits):
        ones = sum((h >> j) & 1 for h in hs)
        if 2 * ones > len(hs):
            out |= 1 << j
    return out


def test_simhash_md5_matches_python_model(spark):
    """simhash_fingerprints(hash_fn=_md5_60, nbits=60) must reproduce
    the plain-Python bit-majority model exactly — the Spark explode +
    64-sum aggregate is an optimization, never a semantic change."""
    from mints_wind_data_ingestion_spark.operators.dedup import simhash_fingerprints
    from mints_wind_data_ingestion_spark.plans.extensions import _md5_60

    docs = [
        (1, ["the quick fox", "quick fox jumps", "fox jumps over"]),
        (2, ["the quick fox", "quick fox leaps", "fox leaps over"]),
        (3, ["completely different shingles", "another gram here"]),
        (4, []),  # empty → fingerprint 0
    ]
    df = spark.createDataFrame(docs, "doc_id long, sh array<string>")
    got = {
        r.doc_id: r.simhash
        for r in simhash_fingerprints(df, "doc_id", "sh",
                                      hash_fn=_md5_60, nbits=60).collect()
    }
    for doc_id, sh in docs:
        want = _simhash_model(sh) if sh else 0
        assert got[doc_id] == want, f"doc {doc_id}"


@settings(deadline=None, max_examples=30)
@given(
    h=st.integers(1, 40), w=st.integers(1, 40),
    oh=st.integers(1, 40), ow=st.integers(1, 40),
)
def test_resize_properties(h, w, oh, ow):
    """Nearest-neighbor resize: exact output shape, identity at the
    same size, and every output pixel is a source pixel."""
    from mints_wind_data_ingestion_spark.sources.multimodal import resize_image

    rng = np.random.RandomState(h * 41 + w)
    px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = resize_image(px, ow, oh)
    assert out.shape == (oh, ow, 3)
    same = resize_image(px, w, h)
    np.testing.assert_array_equal(same, px)
    src = {tuple(p) for row in px for p in row}
    assert all(tuple(p) in src for row in out for p in row)


def _bpe_reference(word_freqs: dict[str, int], n_merges: int, min_count: int = 2):
    """Textbook BPE (Sennrich ACL'16) — independent reference model."""
    from collections import Counter

    vocab = {w: list(w) + ["</w>"] for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += word_freqs[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        (a, b), _n = best
        merges.append((a, b))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_trainer_matches_textbook(spark, sf_dir):
    """train_bpe_merges (iterative Spark loop over the word-frequency
    table) must learn the EXACT merge sequence the textbook in-memory
    algorithm learns on the same corpus — determinism included (ties
    break lexicographically in both)."""
    from mints_wind_data_ingestion_spark.functions.bpe import (
        train_bpe_merges,
        word_frequencies,
    )
    from mints_wind_data_ingestion_spark.plans.registry import tables

    docs = tables(spark, sf_dir)["documents"].limit(80)
    wf = word_frequencies(docs)
    freqs = {r.word: r.freq for r in wf.collect()}
    want = _bpe_reference(freqs, n_merges=12)
    got = train_bpe_merges(wf, n_merges=12)
    assert got == want
    assert len(got) == 12  # corpus is rich enough to sustain 12 merges

    # the size-gated local path (train_bpe_merges_auto collects the
    # vocab and trains driver-side) must learn the identical sequence,
    # and forcing the gate to 0 must route back to the distributed loop
    from mints_wind_data_ingestion_spark.functions.bpe import (
        train_bpe_merges_auto,
    )

    assert train_bpe_merges_auto(wf, n_merges=12) == want
    assert train_bpe_merges_auto(wf, n_merges=5, local_train_words=0) == want[:5]


def test_md5_60_hash_tri_engine_parity(spark, duck):
    """The portable 60-bit md5-prefix hash (the SimHash/decontamination
    join-key foundation) must agree across Python, Spark, and DuckDB
    for adversarial inputs: unicode, whitespace, empties, long runs."""
    from mints_wind_data_ingestion_spark.plans.extensions import _md5_60

    samples = [
        "", " ", "a", "the quick fox", "müller straße", "汉字 漢字",
        "a" * 500, "tab\tsep", "new\nline", "quote'\"q", "emoji 🙂 txt",
        "0123456789" * 7,
    ]
    py = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in samples]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i long, s string")
    sp = {r.i: r.h for r in df.select("i", _md5_60(F.col("s")).alias("h")).collect()}
    for i, s in enumerate(samples):
        du = duck.sql(
            "SELECT CAST(concat('0x', substr(md5(?), 1, 15)) AS BIGINT)",
            params=[s],
        ).fetchall()[0][0]
        assert sp[i] == py[i] == du, (s, sp[i], py[i], du)


def test_bpe_encoder_matches_python_and_conserves_text(spark, sf_dir):
    """encode_corpus must (a) equal the per-word Python kernel applied
    locally and (b) conserve content: concatenating a doc's BPE tokens
    and stripping the end-of-word markers reproduces the lowercased
    document text exactly."""
    from mints_wind_data_ingestion_spark.functions.bpe import (
        EOW,
        apply_merges_py,
        encode_corpus,
        train_bpe_merges,
        word_frequencies,
    )
    from mints_wind_data_ingestion_spark.plans.registry import tables

    docs = tables(spark, sf_dir)["documents"].limit(40)
    merges = train_bpe_merges(word_frequencies(docs), n_merges=10)
    got = {r.doc_id: list(r.bpe_tokens)
           for r in encode_corpus(docs, merges).collect()}
    for r in docs.collect():
        want = [
            t for w in r.text.lower().split()
            for t in apply_merges_py(list(w) + [EOW], merges)
        ]
        assert got[r.doc_id] == want, f"doc {r.doc_id}"
        rebuilt = "".join(got[r.doc_id]).replace(EOW, " ").rstrip()
        assert rebuilt == " ".join(r.text.lower().split())


def test_bpe_trainer_encoder_tokenizer_parity_unicode_ws(spark):
    """Trainer (Java-regex \\s+ = ASCII whitespace) and encoder must
    split words IDENTICALLY on corpora containing Unicode whitespace:
    U+00A0 must be treated as a word CHARACTER by both paths, so
    'aa\\u00a0aa' is one 5-symbol word, not two 'aa' words."""
    from mints_wind_data_ingestion_spark.functions.bpe import (
        encode_corpus,
        train_bpe_merges,
        word_frequencies,
    )

    nbsp = " "
    docs = spark.createDataFrame(
        [(1, f"aa{nbsp}aa bb bb"), (2, f"aa{nbsp}aa bb cc"),
         (3, "aa aa bb dd")],
        "doc_id long, text string",
    )
    wf = {r.word: r.freq for r in word_frequencies(docs).collect()}
    # Java \s does NOT match U+00A0: the nbsp-joined token survives whole
    assert wf.get(f"aa{nbsp}aa") == 2 and wf.get("aa") == 2

    merges = train_bpe_merges(word_frequencies(docs), n_merges=6, min_count=1)
    enc = {r.doc_id: list(r.bpe_tokens)
           for r in encode_corpus(docs, merges).collect()}
    # the encoder must see the same words: rebuilding doc 1 with ASCII-
    # space joins reproduces it exactly (nbsp intact inside the token)
    from mints_wind_data_ingestion_spark.functions.bpe import EOW
    rebuilt = "".join(enc[1]).replace(EOW, " ").rstrip()
    assert rebuilt == f"aa{nbsp}aa bb bb"


def test_bpe_encoder_non_long_id_column(spark):
    """encode_corpus must derive the id slot's type from the input
    schema — a string id column must round-trip, not fail at runtime."""
    from mints_wind_data_ingestion_spark.functions.bpe import encode_corpus

    docs = spark.createDataFrame(
        [("d-1", "xx yy"), ("d-2", "yy zz")], "doc_id string, text string"
    )
    out = encode_corpus(docs, [("x", "x")]).collect()
    assert {r.doc_id for r in out} == {"d-1", "d-2"}
    assert out[0].__fields__ == ["doc_id", "bpe_tokens", "n_bpe_tokens"]
