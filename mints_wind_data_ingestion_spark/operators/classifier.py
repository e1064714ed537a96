"""Linear-probe quality classifier — trained at corpus scale from
EXACT integer sufficient statistics (the classic distributed linear
model: everything the ridge solution needs is X'X and X'y, which are
map-side-combinable sums; Bottou's "all you need is sufficient
statistics" shape every MPP/MapReduce linear trainer uses).

The curation use (SURVEY.md §2.11 class): distill a rule-based gate
(here: the English-stopword curation signal the quantile filter
`x_quality_filter` thresholds) into a dense linear model over cheap
text statistics — the fastText-classifier pipeline stage of public
LLM curation recipes (CCNet, RedPajama), minus the external library.

Determinism contract (the registry's): every per-document quantity is
quantized to an integer BEFORE any cross-row sum —

- canonical integer features q_j (counts raw, ratios ×1e6),
- standardization moments Σq_j, Σq_j² (exact bigint sums),
- second-moment products round(z_j·z_k·1e9) and label products
  round(z_j·1e9)·y (exact bigint sums)

— so training is bit-stable under any partitioning, and the driver
loop (`_gd_solve`, fixed-iteration gradient descent in plain Python
doubles) consumes ONLY those exact integers: the Spark trainer and
the DuckDB-based local replica (`linear_probe_local`) produce
IDENTICAL weights by construction, which is what lets the lazy oracle
embed them as literals (the IVF trained-centroid convention).

Scale shape: training is two narrow corpus passes (moments, then
products) each ending in one map-side-combinable agg whose result is
a bounded driver pull (11 and 27 integers — the model's sufficient
statistics, the `x_classifier_eval` collected-centroids class);
scoring is a pure narrow projection. No shuffle anywhere carries more
than the agg's partial rows; at 100 TB this is exactly two scans +
one scan to score.

No counterpart in the reference (a 278-LoC cron ETL); semantics
follow the public linear-probe / distilled-quality-classifier
practice.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "PROBE_FEATURES",
    "probe_features",
    "PROBE_FEATURE_SQL",
    "train_linear_probe",
    "score_linear_probe",
    "linear_probe_local",
]

#: canonical feature order (bias is implicit position 0)
PROBE_FEATURES = ("token_cnt", "awl_e6", "punct_e6", "ws_e6", "ttr_e6")

#: default distillation label: the English-stopword curation signal
#: at the fixed public-recipe-style cutoff (ratio ≥ 0.10)
DEFAULT_LABEL_TAU = 0.10

#: DuckDB twin of `probe_features` — the SAME tokenization/ratio
#: fragments the hash-green x_text_quality oracle uses, quantized to
#: the identical canonical integers. Shared by the local replica AND
#: the lazy oracle so feature parity is by construction.
_D_TOKS = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"
PROBE_FEATURE_SQL = f"""
    SELECT doc_id,
           len(toks) AS token_cnt,
           CAST(round((CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               list_reduce(list_prepend(0,
                   list_transform(toks, t -> length(t))), (a, x) -> a + x)
               / len(toks) END) * 1000000.0) AS BIGINT) AS awl_e6,
           CAST(round(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
               / length(text) * 1000000.0) AS BIGINT) AS punct_e6,
           CAST(round(length(regexp_replace(text, '[^[:space:]]', '', 'g'))
               / length(text) * 1000000.0) AS BIGINT) AS ws_e6,
           CAST(round((CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               len(list_distinct(toks)) / len(toks) END) * 1000000.0)
               AS BIGINT) AS ttr_e6,
           CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               len(list_filter(toks, t -> list_contains(
                   ['the','and','of','to','a','in','is','that','it','for'],
                   lower(t)))) / len(toks) END) >= {DEFAULT_LABEL_TAU}
               THEN 1 ELSE 0 END AS y
    FROM (SELECT doc_id, text, {_D_TOKS} AS toks FROM documents)
"""


def probe_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    label_tau: float = DEFAULT_LABEL_TAU,
) -> DataFrame:
    """(doc_id, token_cnt, awl_e6, punct_e6, ws_e6, ttr_e6, y): the
    canonical integer feature row — counts raw, ratios ×1e6 — plus
    the distillation label (English-stopword ratio ≥ `label_tau`).
    Pure narrow codegen projection over the PROVEN text-stat
    expressions (functions.text; oracle twins hash-green since r5)."""
    from ..functions.text import (
        avg_word_len,
        punct_ratio,
        stopword_ratio,
        token_count,
        tokens,
        whitespace_ratio,
    )

    text = F.col(text_col)
    n_toks = token_count(text)
    ttr = F.when(
        n_toks > 0,
        F.size(F.array_distinct(tokens(text))) / n_toks,
    ).otherwise(F.lit(0.0))

    def e6(c):
        return F.round(c * F.lit(1_000_000.0)).cast("bigint")

    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_toks.cast("bigint").alias("token_cnt"),
        e6(avg_word_len(text)).alias("awl_e6"),
        e6(punct_ratio(text)).alias("punct_e6"),
        e6(whitespace_ratio(text)).alias("ws_e6"),
        e6(ttr).alias("ttr_e6"),
        (stopword_ratio(text, "en") >= F.lit(float(label_tau)))
        .cast("int").alias("y"),
    )


def _re9(x: float) -> int:
    """round-half-away-from-zero at 1e9 — the Spark/DuckDB round()
    convention (Python's round is banker's and would diverge)."""
    return int(math.copysign(math.floor(abs(x) * 1e9 + 0.5), x))


def _standardize_params(moments: dict, n: int) -> tuple[list, list]:
    """(mu, sigma) per feature from the exact integer moments; a
    constant feature gets sigma 1 so its z is 0."""
    mu, sigma = [], []
    for name in PROBE_FEATURES:
        s, ss = moments[f"s_{name}"], moments[f"ss_{name}"]
        m = s / n
        var = max(ss / n - m * m, 0.0)
        sd = math.sqrt(var)
        mu.append(m)
        sigma.append(sd if sd > 0 else 1.0)
    return mu, sigma


def _gd_solve(A, b, d: int, ridge: float, iters: int, lr: float) -> list:
    """Fixed-iteration ridge gradient descent on the normal-equation
    statistics — plain Python doubles with explicit left-associated
    loops, so the Spark trainer and the local replica execute the
    LITERAL same arithmetic (parity by construction, no linalg
    library variance)."""
    w = [0.0] * d
    for _ in range(iters):
        for j in range(d):
            g = 0.0
            for k in range(d):
                g = g + A[j][k] * w[k]
            g = g - b[j] + ridge * w[j]
            w[j] = w[j] - lr * g
    return w


def _model_from_sums(
    n: int, mu, sigma, psums, bsums, ridge: float, iters: int, lr: float
) -> dict:
    d = len(PROBE_FEATURES) + 1
    A = [[0.0] * d for _ in range(d)]
    b = [0.0] * d
    for j in range(d):
        for k in range(j, d):
            A[j][k] = A[k][j] = psums[(j, k)] / 1e9 / n
        b[j] = bsums[j] / 1e9 / n
    w = _gd_solve(A, b, d, ridge, iters, lr)
    return {"n": n, "mu": mu, "sigma": sigma, "w": w}


def _z_exprs(mu, sigma):
    """Standardized feature columns as Spark expressions — (q - mu) /
    sigma with exact-repr double literals, the identical arithmetic
    the oracle replays."""
    return [
        (F.col(name).cast("double") - F.lit(mu[i])) / F.lit(sigma[i])
        for i, name in enumerate(PROBE_FEATURES)
    ]


def train_linear_probe(
    feats: DataFrame,
    ridge: float = 1e-3,
    iters: int = 500,
    lr: float = 0.1,
) -> dict:
    """Train the ridge linear probe from a `probe_features` DataFrame.
    Returns {"n", "mu", "sigma", "w"} (w[0] is the bias).

    Two corpus passes, each one map-side-combinable agg with a bounded
    driver pull (the model's sufficient statistics): (1) feature
    moments for standardization; (2) the 1e9-quantized products of the
    standardized features (X'X upper triangle + X'y). The GD loop
    never touches the cluster."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for name in PROBE_FEATURES:
        aggs.append(F.sum(F.col(name)).alias(f"s_{name}"))
        # squares through DECIMAL: a pathological single-token doc can
        # push awl_e6 to ~1e10, whose bigint square (1e20) would wrap
        # SILENTLY (ANSI off) and diverge from the replica's exact
        # Python integers; decimal(38,0) keeps the sum exact
        c = F.col(name).cast("decimal(19,0)")
        aggs.append(F.sum(c * c).alias(f"ss_{name}"))
    m = feats.agg(*aggs).first().asDict()  # bounded: 11 integers
    for name in PROBE_FEATURES:  # Decimal → int for exact moments
        m[f"ss_{name}"] = int(m[f"ss_{name}"])
    n = int(m["n"])
    if n == 0:
        raise ValueError("train_linear_probe: empty corpus")
    mu, sigma = _standardize_params(m, n)

    zs = [F.lit(1.0), *_z_exprs(mu, sigma)]
    d = len(zs)

    def r9(c):
        return F.round(c * F.lit(1_000_000_000.0)).cast("bigint")

    paggs, keys = [], []
    for j in range(d):
        for k in range(j, d):
            paggs.append(F.sum(r9(zs[j] * zs[k])).alias(f"p_{j}_{k}"))
            keys.append((j, k))
        paggs.append(
            F.sum(r9(zs[j]) * F.col("y").cast("bigint")).alias(f"b_{j}")
        )
    row = feats.agg(*paggs).first().asDict()  # bounded: 27 integers
    psums = {(j, k): int(row[f"p_{j}_{k}"]) for j, k in keys}
    bsums = {j: int(row[f"b_{j}"]) for j in range(d)}
    return _model_from_sums(n, mu, sigma, psums, bsums, ridge, iters, lr)


def score_linear_probe(feats: DataFrame, model: dict) -> DataFrame:
    """(doc_id, y, margin_e6, pred): the probe's margin per document —
    w·[1, z] as one left-associated codegen expression (the
    similarity._dot_sql convention), quantized to e6; pred = margin ≥ 0.5
    (the {0,1}-target midpoint)."""
    zs = [F.lit(1.0), *_z_exprs(model["mu"], model["sigma"])]
    w = model["w"]
    margin = F.lit(w[0]) * zs[0]
    for j in range(1, len(zs)):
        margin = margin + F.lit(w[j]) * zs[j]
    return feats.select(
        "doc_id",
        "y",
        F.round(margin * F.lit(1_000_000.0)).cast("bigint").alias(
            "margin_e6"
        ),
        (margin >= F.lit(0.5)).alias("pred"),
    )


def linear_probe_local(
    sf_dir: str,
    ridge: float = 1e-3,
    iters: int = 500,
    lr: float = 0.1,
    table: str = "documents",
) -> dict:
    """Recompute `train_linear_probe`'s EXACT model without Spark —
    DuckDB runs the shared feature SQL (`PROBE_FEATURE_SQL`, the same
    fragments the hash-green text oracles use), then the identical
    exact-integer sums and the identical `_gd_solve` loop. Used to
    embed the trained weights as oracle literals (the
    `ivf_centroids_local` convention) and as the pytest parity
    target."""
    import os

    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, table + '.parquet')}'"
    )
    rows = con.sql(PROBE_FEATURE_SQL).fetchall()
    cols = [d[0] for d in con.sql(PROBE_FEATURE_SQL).description]
    idx = {c: i for i, c in enumerate(cols)}
    n = len(rows)
    if n == 0:
        raise ValueError("linear_probe_local: empty corpus")
    moments = {}
    for name in PROBE_FEATURES:
        vals = [int(r[idx[name]]) for r in rows]
        moments[f"s_{name}"] = sum(vals)
        moments[f"ss_{name}"] = sum(v * v for v in vals)
    mu, sigma = _standardize_params(moments, n)
    d = len(PROBE_FEATURES) + 1
    psums = {(j, k): 0 for j in range(d) for k in range(j, d)}
    bsums = dict.fromkeys(range(d), 0)
    for r in rows:
        z = [1.0] + [
            (int(r[idx[name]]) - mu[i]) / sigma[i]
            for i, name in enumerate(PROBE_FEATURES)
        ]
        y = int(r[idx["y"]])
        for j in range(d):
            for k in range(j, d):
                psums[(j, k)] += _re9(z[j] * z[k])
            if y:
                bsums[j] += _re9(z[j])
    return _model_from_sums(n, mu, sigma, psums, bsums, ridge, iters, lr)
