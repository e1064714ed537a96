"""Composite driver queries — the registry's ≤50-entry external surface.

The external driver verifies at most 50 queries per round (its
CORRECTNESS file truncates at the alphabetically-50th entry — VERDICT
r2 "What's missing" #1). The library surface is larger than that, so
related component queries are folded into composite driver queries
here: each composite either computes its components as one wide result
(same granularity → extra columns) or embeds every component's FULL
row set tagged with a `part` column (different granularity → padded
UNION). Either way the driver's order-insensitive value hash still
covers every component value bit-for-bit — nothing is summarized or
sampled away.

Components stay registered (driver=False): they remain the public
library API and the per-query pytest differential mirror still checks
each one individually (tests/test_correctness.py runs the FULL
registry). The composite oracles below reuse the component oracle SQL
as subqueries wherever granularities differ, so Spark-vs-DuckDB parity
is preserved through the fold.

Padding conventions (both engines, so schemas match exactly):
- numeric slots are CAST to BIGINT / DOUBLE explicitly;
- absent slots are typed NULLs;
- key slots that mix types across parts are CAST to VARCHAR only when
  every value is string-stable in both engines (ids, whole-second
  timestamps); raw-timestamp columns keep TIMESTAMP type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import punct_ratio, tokens, whitespace_ratio
from .registry import REGISTRY, managed_cache, query, tables


def _b(c: Column | str) -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast("bigint")


def _d(c: Column | str) -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast("double")


def _s(c: Column | str) -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast("string")


def _nb() -> Column:
    return F.lit(None).cast("bigint")


def _nd() -> Column:
    return F.lit(None).cast("double")


def _ns() -> Column:
    return F.lit(None).cast("string")


def _nt() -> Column:
    return F.lit(None).cast("timestamp")


def _nbool() -> Column:
    return F.lit(None).cast("boolean")


def _oracle(name: str) -> str:
    """Component oracle SQL, wrapped for use as a subquery."""
    sql = REGISTRY[name].oracle
    assert isinstance(sql, str) and sql, (
        f"component {name} has no fixed oracle (lazy oracles cannot be "
        "folded into composite SQL built at import time)"
    )
    return f"({sql})"


def _part(df: DataFrame, tag: str, **slots: Column) -> DataFrame:
    """Project a component result into a composite's superset schema."""
    return df.select(F.lit(tag).alias("part"), *[c.alias(n) for n, c in slots.items()])


# ---------------------------------------------------------------------------
# w_window_suite — w1 + w2 + w3 + w4 + w6 as ONE wide pass
# ---------------------------------------------------------------------------


@query(
    "w_window_suite",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value,
           row_number() OVER wa AS seq_no,
           rank()       OVER wv AS value_rank,
           dense_rank() OVER wv AS value_dense_rank,
           lag(value)  OVER wa AS prev_value,
           lead(value) OVER wa AS next_value,
           value - lag(value) OVER wa AS delta,
           CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER wa)) AS BIGINT) AS gap_sec,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER wr AS DOUBLE) AS running_sum,
           count(*) OVER wr AS running_cnt,
           count(*) OVER wt AS trailing_1h_cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER wt AS DOUBLE) AS trailing_1h_sum,
           ntile(4) OVER wq AS quartile,
           cume_dist() OVER wq AS cume,
           percent_rank() OVER wq AS pct_rank
    FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
    WINDOW wa AS (PARTITION BY user_id ORDER BY ts, event_id),
           wv AS (PARTITION BY user_id ORDER BY value DESC),
           wr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wt AS (PARTITION BY user_id ORDER BY ts_sec
                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
           wq AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    tags=("W", "composite"),
)
def w_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function suite — ranking (w1), lag/lead (w2), running
    rows-frame (w3), trailing range-frame (w4) and distribution
    functions (w6) computed over events in ONE wide query. All
    user_id-partitioned specs share one shuffle + sort (Catalyst
    collapses same-spec Window nodes); only the event_type-partitioned
    distribution trio adds a second exchange — 2 shuffles for 15 window
    columns vs 5 separate queries' 6. Components stay registered for
    per-query pytest differentials; the driver verifies them here."""
    ev = tables(spark, sf_dir)["events"].withColumn("ts_sec", F.unix_timestamp("ts"))
    wa = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    wr = wa.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-3600, 0)
    wq = Window.partitionBy("event_type").orderBy("value", "event_id")
    dec = F.col("value").cast("decimal(18,6)")
    return ev.select(
        "event_id", "user_id", "event_type", "ts", "value",
        F.row_number().over(wa).alias("seq_no"),
        F.rank().over(wv).alias("value_rank"),
        F.dense_rank().over(wv).alias("value_dense_rank"),
        F.lag("value").over(wa).alias("prev_value"),
        F.lead("value").over(wa).alias("next_value"),
        (F.col("value") - F.lag("value").over(wa)).alias("delta"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(wa))).alias("gap_sec"),
        F.sum(dec).over(wr).cast("double").alias("running_sum"),
        F.count(F.lit(1)).over(wr).alias("running_cnt"),
        F.count(F.lit(1)).over(wt).alias("trailing_1h_cnt"),
        F.sum(dec).over(wt).cast("double").alias("trailing_1h_sum"),
        F.ntile(4).over(wq).alias("quartile"),
        F.cume_dist().over(wq).alias("cume"),
        F.percent_rank().over(wq).alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# a_multi_grouping — rollup + cube + grouping sets + pivot/unpivot + JSON agg
# ---------------------------------------------------------------------------

_MG_SLOTS = "k1 string, k2 string, n1/n2/n3 bigint, d1 double, g1/g2 bigint"


def _mg_oracle() -> str:
    def proj(tag: str, src: str, k1: str, k2: str, n1: str, n2: str, n3: str,
             d1: str, g1: str, g2: str) -> str:
        return (
            f"SELECT '{tag}' AS part, CAST({k1} AS VARCHAR) AS k1, "
            f"CAST({k2} AS VARCHAR) AS k2, CAST({n1} AS BIGINT) AS n1, "
            f"CAST({n2} AS BIGINT) AS n2, CAST({n3} AS BIGINT) AS n3, "
            f"CAST({d1} AS DOUBLE) AS d1, CAST({g1} AS BIGINT) AS g1, "
            f"CAST({g2} AS BIGINT) AS g2 FROM {src}"
        )

    return "\nUNION ALL\n".join([
        proj("rollup", _oracle("a_rollup"), "region_name", "nation_name",
             "customer_cnt", "NULL", "NULL", "NULL", "grouping_id", "NULL"),
        proj("cube", _oracle("a_cube"), "l_returnflag", "l_linestatus",
             "cnt", "NULL", "NULL", "sum_qty", "NULL", "NULL"),
        proj("gsets", _oracle("a_grouping_sets"), "event_type", "day",
             "n", "NULL", "NULL", "NULL", "g_type", "g_day"),
        proj("unpivot", _oracle("a_unpivot_types"), "bucket_ts", "event_type",
             "event_cnt", "NULL", "NULL", "NULL", "NULL", "NULL"),
        proj("json", _oracle("c11_json_extract"), "event_type", "NULL",
             "cnt", "min_k", "max_k", "sum_k", "NULL", "NULL"),
    ])


@query("a_multi_grouping", oracle=_mg_oracle(), tags=("A2", "composite"))
def a_multi_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-shape aggregation suite: ROLLUP (a_rollup), CUBE (a_cube),
    explicit GROUPING SETS (a_grouping_sets), the pivot→unpivot round
    trip (a_unpivot_types — whose input IS a_pivot_types' result, so
    the pivot numbers are verified through it), and JSON-extraction
    aggregation (c11_json_extract), tagged and padded into one superset
    schema. Each part keeps its component's exact row set and values;
    every key that mixes types across parts rides a VARCHAR slot (ids
    and whole-second bucket timestamps only — string-stable in both
    engines)."""
    r = {n: REGISTRY[n].build(spark, sf_dir) for n in (
        "a_rollup", "a_cube", "a_grouping_sets", "a_unpivot_types",
        "c11_json_extract")}
    parts = [
        _part(r["a_rollup"], "rollup", k1=_s("region_name"), k2=_s("nation_name"),
              n1=_b("customer_cnt"), n2=_nb(), n3=_nb(), d1=_nd(),
              g1=_b("grouping_id"), g2=_nb()),
        _part(r["a_cube"], "cube", k1=_s("l_returnflag"), k2=_s("l_linestatus"),
              n1=_b("cnt"), n2=_nb(), n3=_nb(), d1=_d("sum_qty"),
              g1=_nb(), g2=_nb()),
        _part(r["a_grouping_sets"], "gsets", k1=_s("event_type"), k2=_s("day"),
              n1=_b("n"), n2=_nb(), n3=_nb(), d1=_nd(),
              g1=_b("g_type"), g2=_b("g_day")),
        _part(r["a_unpivot_types"], "unpivot", k1=_s("bucket_ts"), k2=_s("event_type"),
              n1=_b("event_cnt"), n2=_nb(), n3=_nb(), d1=_nd(), g1=_nb(), g2=_nb()),
        _part(r["c11_json_extract"], "json", k1=_s("event_type"), k2=_ns(),
              n1=_b("cnt"), n2=_b("min_k"), n3=_b("max_k"), d1=_d("sum_k"),
              g1=_nb(), g2=_nb()),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# a_distribution — histogram + exact discrete percentiles
# ---------------------------------------------------------------------------


def _dist_oracle() -> str:
    return f"""
    SELECT 'histogram' AS part, CAST(bin_id AS VARCHAR) AS k1,
           CAST(bin_lo AS DOUBLE) AS d1, CAST(NULL AS DOUBLE) AS d2,
           CAST(NULL AS DOUBLE) AS d3, CAST(n_orders AS BIGINT) AS n1
    FROM {_oracle("a_histogram")}
    UNION ALL
    SELECT 'percentiles', event_type, CAST(p50 AS DOUBLE), CAST(p90 AS DOUBLE),
           CAST(p99 AS DOUBLE), CAST(NULL AS BIGINT)
    FROM {_oracle("a_percentiles_disc")}
    UNION ALL
    SELECT 'sketch_quantiles', event_type, CAST(p50_e6 AS DOUBLE),
           CAST(p90_e6 AS DOUBLE), CAST(p99_e6 AS DOUBLE),
           CAST(sketch_within_rank_err AS BIGINT)
    FROM {_oracle("x_approx_quantiles")}
    UNION ALL
    SELECT 'hll', event_type, CAST(approx_within_5pct AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(exact_users AS BIGINT)
    FROM {_oracle("x_approx_distinct")}
    """


@query("a_distribution_suite", oracle=_dist_oracle(), tags=("agg", "composite"))
def a_distribution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/cardinality-statistics suite: the equal-width
    histogram over order totals (a_histogram), exact discrete
    percentiles of event values (a_percentiles_disc), the
    quantile-sketch contract check (x_approx_quantiles — e6 slots ride
    the double columns, which hold integers < 2^53 exactly), and the
    HyperLogLog++ distinct-count contract check next to the exact
    counts (x_approx_distinct), tagged into one superset. Every
    component's full row set and values flow through unchanged."""
    hist = REGISTRY["a_histogram"].build(spark, sf_dir)
    perc = REGISTRY["a_percentiles_disc"].build(spark, sf_dir)
    sk = REGISTRY["x_approx_quantiles"].build(spark, sf_dir)
    hll = REGISTRY["x_approx_distinct"].build(spark, sf_dir)
    return _part(
        hist, "histogram", k1=_s("bin_id"), d1=_d("bin_lo"), d2=_nd(), d3=_nd(),
        n1=_b("n_orders"),
    ).unionByName(
        _part(perc, "percentiles", k1=_s("event_type"), d1=_d("p50"),
              d2=_d("p90"), d3=_d("p99"), n1=_nb())
    ).unionByName(
        _part(sk, "sketch_quantiles", k1=_s("event_type"), d1=_d("p50_e6"),
              d2=_d("p90_e6"), d3=_d("p99_e6"),
              n1=F.col("sketch_within_rank_err").cast("bigint"))
    ).unionByName(
        _part(hll, "hll", k1=_s("event_type"),
              d1=F.col("approx_within_5pct").cast("double"), d2=_nd(),
              d3=_nd(), n1=_b("exact_users"))
    )


# ---------------------------------------------------------------------------
# j_temporal — as-of join + range-join windows
# ---------------------------------------------------------------------------


def _jt_oracle() -> str:
    return f"""
    SELECT 'asof' AS part, CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id, ts AS ts1,
           CAST(NULL AS TIMESTAMP) AS ts2,
           CAST(last_click_value AS DOUBLE) AS d1, CAST(NULL AS BIGINT) AS n1
    FROM {_oracle("j_asof_last_click")}
    UNION ALL
    SELECT 'range_windows', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           w_start, w_end, CAST(value_sum AS DOUBLE), CAST(event_cnt AS BIGINT)
    FROM {_oracle("j_range_windows")}
    """


@query("j_temporal", oracle=_jt_oracle(), tags=("join", "composite"))
def j_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-join suite: the as-of join (each error event picks the
    most recent click value — j_asof_last_click) and sliding-window
    aggregation as a broadcast range join (j_range_windows), tagged
    into one superset with native TIMESTAMP slots."""
    asof = REGISTRY["j_asof_last_click"].build(spark, sf_dir)
    rng = REGISTRY["j_range_windows"].build(spark, sf_dir)
    return _part(
        asof, "asof", event_id=_b("event_id"), user_id=_b("user_id"),
        ts1=F.col("ts"), ts2=_nt(), d1=_d("last_click_value"), n1=_nb(),
    ).unionByName(
        _part(rng, "range_windows", event_id=_nb(), user_id=_nb(),
              ts1=F.col("w_start"), ts2=F.col("w_end"), d1=_d("value_sum"),
              n1=_b("event_cnt"))
    )


# ---------------------------------------------------------------------------
# f_filter_suite — conjunctive + exact-timestamp + retention filters
# ---------------------------------------------------------------------------


def _ff_oracle() -> str:
    return f"""
    SELECT 'conjunctive' AS part, CAST(l_orderkey AS BIGINT) AS k1,
           CAST(l_linenumber AS BIGINT) AS k2, CAST(NULL AS TIMESTAMP) AS ts,
           CAST(NULL AS VARCHAR) AS s1, CAST(l_quantity AS DOUBLE) AS d1,
           CAST(l_extendedprice AS DOUBLE) AS d2, CAST(l_discount AS DOUBLE) AS d3,
           CAST(revenue AS DOUBLE) AS d4
    FROM {_oracle("f1_conjunctive_filter")}
    UNION ALL
    SELECT 'exact_ts', CAST(event_id AS BIGINT), CAST(user_id AS BIGINT), ts,
           event_type, CAST(value AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("f4_exact_timestamp")}
    UNION ALL
    SELECT 'retention', CAST(event_id AS BIGINT), CAST(NULL AS BIGINT), ts,
           event_type, CAST(value AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("f5_retention_window")}
    """


@query("f_filter_suite", oracle=_ff_oracle(), tags=("F1", "F4", "F5", "composite"))
def f_filter_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter suite: conjunctive pushdown predicate (f1), exact-
    timestamp point lookup on a scalar-subquery anchor (f4), and the
    7-day retention window (f5), tagged into one superset. Pushdown
    plan shapes stay pinned per-component in tests/test_plans.py."""
    f1 = REGISTRY["f1_conjunctive_filter"].build(spark, sf_dir)
    f4 = REGISTRY["f4_exact_timestamp"].build(spark, sf_dir)
    f5 = REGISTRY["f5_retention_window"].build(spark, sf_dir)
    return (
        _part(f1, "conjunctive", k1=_b("l_orderkey"), k2=_b("l_linenumber"),
              ts=_nt(), s1=_ns(), d1=_d("l_quantity"), d2=_d("l_extendedprice"),
              d3=_d("l_discount"), d4=_d("revenue"))
        .unionByName(_part(f4, "exact_ts", k1=_b("event_id"), k2=_b("user_id"),
                           ts=F.col("ts"), s1=_s("event_type"), d1=_d("value"),
                           d2=_nd(), d3=_nd(), d4=_nd()))
        .unionByName(_part(f5, "retention", k1=_b("event_id"), k2=_nb(),
                           ts=F.col("ts"), s1=_s("event_type"), d1=_d("value"),
                           d2=_nd(), d3=_nd(), d4=_nd()))
    )


# ---------------------------------------------------------------------------
# a3_o1_suite — argmax/top-k selection + discovery candidates
# (r5 fold: order selection and GFS discovery share the A3/O1 shapes)
# ---------------------------------------------------------------------------


def _a3o1_oracle() -> str:
    return f"""
    SELECT 'argmax_per_key' AS part, CAST(o_custkey AS BIGINT) AS k1,
           CAST(o_orderkey AS BIGINT) AS k2,
           CAST(o_totalprice AS DOUBLE) AS d1, o_orderdate AS ts1,
           CAST(NULL AS VARCHAR) AS s1
    FROM {_oracle("a3_argmax_per_key")}
    UNION ALL
    SELECT 'topk', CAST(o_custkey AS BIGINT), CAST(o_orderkey AS BIGINT),
           CAST(o_totalprice AS DOUBLE), o_orderdate, CAST(NULL AS VARCHAR)
    FROM {_oracle("o1_topk_orders")}
    UNION ALL
    SELECT 'candidates', CAST(rank AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), run_ts, url_path
    FROM {_oracle("a3_discovery_candidates")}
    UNION ALL
    SELECT 'top1', CAST(rank AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), run_ts, CAST(NULL AS VARCHAR)
    FROM {_oracle("o1_discovery_top1")}
    """


@query("a3_o1_suite", oracle=_a3o1_oracle(), tags=("A3", "O1", "composite"))
def a3_o1_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection suite — the four A3/O1 argmax-and-top-k shapes in one
    slot: per-customer argmax via one max_by hash aggregate
    (a3_argmax_per_key — the reference's newest-file-wins), global
    top-10 via TakeOrderedAndProject (o1_topk_orders), the
    40-candidate GFS discovery generator with its URL paths
    (a3_discovery_candidates, converter.py:134-227 declaratively),
    and the single-scan first-available selection (o1_discovery_top1)."""
    am = REGISTRY["a3_argmax_per_key"].build(spark, sf_dir)
    tk = REGISTRY["o1_topk_orders"].build(spark, sf_dir)
    c = REGISTRY["a3_discovery_candidates"].build(spark, sf_dir)
    t1 = REGISTRY["o1_discovery_top1"].build(spark, sf_dir)
    order = dict(k1=_b("o_custkey"), k2=_b("o_orderkey"),
                 d1=_d("o_totalprice"), ts1=F.col("o_orderdate"), s1=_ns())
    return (
        _part(am, "argmax_per_key", **order)
        .unionByName(_part(tk, "topk", **order))
        .unionByName(_part(c, "candidates", k1=_b("rank"), k2=_nb(),
                           d1=_nd(), ts1=F.col("run_ts"), s1=_s("url_path")))
        .unionByName(_part(t1, "top1", k1=_b("rank"), k2=_nb(), d1=_nd(),
                           ts1=F.col("run_ts"), s1=_ns()))
    )


# ---------------------------------------------------------------------------
# x_profile_sample_suite — profile/DQ/corr + the five deterministic samplers
# ---------------------------------------------------------------------------


def _profsamp_oracle() -> str:
    return f"""
    SELECT 'mixture' AS part, CAST(doc_id AS BIGINT) AS k1, lang AS s1,
           source AS s2, CAST(NULL AS VARCHAR) AS s3,
           CAST(NULL AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2
    FROM {_oracle("x_sample_mixture")}
    UNION ALL
    SELECT 'stratified', CAST(doc_id AS BIGINT), source, CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(sample_rank AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM {_oracle("x_sample_stratified")}
    UNION ALL
    SELECT 'split', CAST(doc_id AS BIGINT), split, CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM {_oracle("x_split_assign")}
    UNION ALL
    SELECT 'oversample', CAST(doc_id AS BIGINT), lang, CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(copy_no AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM {_oracle("x_oversample")}
    UNION ALL
    SELECT 'negatives', CAST(anchor_id AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(neg_no AS BIGINT), CAST(negative_id AS BIGINT)
    FROM {_oracle("x_negative_pairs")}
    UNION ALL
    SELECT 'profile', CAST(NULL AS BIGINT), col_name, min_val, max_val,
           CAST(n_null AS BIGINT), CAST(n_distinct AS BIGINT)
    FROM {_oracle("x_profile_columns")}
    UNION ALL
    SELECT 'dq', CAST(NULL AS BIGINT), check_name, CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(n_violations AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM {_oracle("x_dq_checks")}
    UNION ALL
    SELECT 'corr', CAST(NULL AS BIGINT), pair, CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(corr_e6 AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM {_oracle("x_column_corr")}
    """


@query("x_profile_sample_suite", oracle=_profsamp_oracle(), tags=("ext", "sampling", "profile", "composite"))
def x_profile_sample_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-audit + sampling suite (r5 fold), one driver slot for
    the eight dataset-management shapes: the single-scan column
    profile of `documents` (x_profile_columns), declarative
    data-quality checks over orders/lineitem (x_dq_checks), the
    one-pass pairwise correlation matrix (x_column_corr), and the five
    deterministic samplers — language-mixture resampling, exact
    stratified sampling, train/val/test split assignment,
    minority-class oversampling, and contrastive negative-pair
    generation (operators.sampling). Every component's exact
    membership/rank/copy/pair/profile values ride the driver hash."""
    names = ("x_sample_mixture", "x_sample_stratified", "x_split_assign",
             "x_oversample", "x_negative_pairs", "x_profile_columns",
             "x_dq_checks", "x_column_corr")
    r = {n: REGISTRY[n].build(spark, sf_dir) for n in names}
    parts = [
        _part(r["x_sample_mixture"], "mixture", k1=_b("doc_id"),
              s1=_s("lang"), s2=_s("source"), s3=_ns(), n1=_nb(), n2=_nb()),
        _part(r["x_sample_stratified"], "stratified", k1=_b("doc_id"),
              s1=_s("source"), s2=_ns(), s3=_ns(), n1=_b("sample_rank"),
              n2=_nb()),
        _part(r["x_split_assign"], "split", k1=_b("doc_id"),
              s1=_s("split"), s2=_ns(), s3=_ns(), n1=_nb(), n2=_nb()),
        _part(r["x_oversample"], "oversample", k1=_b("doc_id"),
              s1=_s("lang"), s2=_ns(), s3=_ns(), n1=_b("copy_no"), n2=_nb()),
        _part(r["x_negative_pairs"], "negatives", k1=_b("anchor_id"),
              s1=_ns(), s2=_ns(), s3=_ns(), n1=_b("neg_no"),
              n2=_b("negative_id")),
        _part(r["x_profile_columns"], "profile", k1=_nb(),
              s1=_s("col_name"), s2=_s("min_val"), s3=_s("max_val"),
              n1=_b("n_null"), n2=_b("n_distinct")),
        _part(r["x_dq_checks"], "dq", k1=_nb(), s1=_s("check_name"),
              s2=_ns(), s3=_ns(), n1=_b("n_violations"), n2=_nb()),
        _part(r["x_column_corr"], "corr", k1=_nb(), s1=_s("pair"),
              s2=_ns(), s3=_ns(), n1=_b("corr_e6"), n2=_nb()),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# x_token_stats — corpus top-k + Zipf fit + per-doc token counts
# ---------------------------------------------------------------------------


def _tok_oracle() -> str:
    return f"""
    SELECT 'topk' AS part, CAST(NULL AS BIGINT) AS doc_id, token,
           CAST(cnt AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2
    FROM {_oracle("x_token_topk")}
    UNION ALL
    SELECT 'zipf', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(zipf_slope_e6 AS BIGINT), CAST(n_tokens AS BIGINT)
    FROM {_oracle("x_token_zipf")}
    UNION ALL
    SELECT 'bpe', CAST(doc_id AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(bpe_cnt AS BIGINT), CAST(ws_cnt AS BIGINT)
    FROM {_oracle("x_token_bpe")}
    """


@query("x_token_stats", oracle=_tok_oracle(), tags=("ext", "text", "composite"), driver=False)
def x_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-statistics suite: corpus token-frequency top-20
    (x_token_topk), the Zipf-law slope fit over the top-100
    frequencies (x_token_zipf), and per-document whitespace + BPE-ish
    token counts (x_token_bpe), tagged into one superset."""
    tk = REGISTRY["x_token_topk"].build(spark, sf_dir)
    zf = REGISTRY["x_token_zipf"].build(spark, sf_dir)
    bp = REGISTRY["x_token_bpe"].build(spark, sf_dir)
    return (
        _part(tk, "topk", doc_id=_nb(), token=_s("token"), n1=_b("cnt"), n2=_nb())
        .unionByName(_part(zf, "zipf", doc_id=_nb(), token=_ns(),
                           n1=_b("zipf_slope_e6"), n2=_b("n_tokens")))
        .unionByName(_part(bp, "bpe", doc_id=_b("doc_id"), token=_ns(),
                           n1=_b("bpe_cnt"), n2=_b("ws_cnt")))
    )


# ---------------------------------------------------------------------------
# x_classifier_eval — confusion matrices + per-label centroids
# ---------------------------------------------------------------------------


def _clf_oracle() -> str:
    return f"""
    SELECT 'lang_confusion' AS part, lang AS k1, lang_pred AS k2,
           CAST(n AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2
    FROM {_oracle("x_lang_confusion")}
    UNION ALL
    SELECT 'nearest_centroid', true_label, pred_label, CAST(n AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM {_oracle("x_nearest_centroid")}
    UNION ALL
    SELECT 'centroids', label, CAST(pos AS VARCHAR), CAST(centroid_e6 AS BIGINT),
           CAST(n_vecs AS BIGINT)
    FROM {_oracle("x_label_centroids")}
    """


@query("x_classifier_eval", oracle=_clf_oracle(), tags=("ext", "composite"))
def x_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation suite: the stopword language-ID confusion
    matrix (x_lang_confusion), the nearest-centroid classification
    audit (x_nearest_centroid), and the per-label embedding centroids
    those prototypes come from (x_label_centroids), tagged into one
    superset. The shared centroid-sum aggregation runs ONCE (one
    Spark job, collected — a bounded labels×dims pull); the collected
    sums feed the scoring pass as plan literals AND replay as the
    'centroids' part rows (floor(sum/n·1e6+0.5) in Python doubles is
    the identical IEEE arithmetic), so the final plan re-scans
    embeddings only for the scoring pass."""
    import math

    from .extensions import centroid_sums, confusion_from_centroids

    lc = REGISTRY["x_lang_confusion"].build(spark, sf_dir)
    emb = tables(spark, sf_dir)["embeddings"]
    crows = centroid_sums(emb).collect()
    nc = confusion_from_centroids(emb, crows)
    ct = spark.createDataFrame(
        [
            (
                r["label"],
                r["pos"],
                int(math.floor(float(r["sum_d"]) / r["n_vecs"] * 1e6 + 0.5)),
                r["n_vecs"],
            )
            for r in crows
        ],
        "label long, pos int, centroid_e6 long, n_vecs long",
    )
    return (
        _part(lc, "lang_confusion", k1=_s("lang"), k2=_s("lang_pred"),
              n1=_b("n"), n2=_nb())
        .unionByName(_part(nc, "nearest_centroid", k1=_s("true_label"),
                           k2=_s("pred_label"), n1=_b("n"), n2=_nb()))
        .unionByName(_part(ct, "centroids", k1=_s("label"), k2=_s("pos"),
                           n1=_b("centroid_e6"), n2=_b("n_vecs")))
    )


# ---------------------------------------------------------------------------
# x_text_features — per-doc quality + lang-ID + fingerprint + quantile gate
# ---------------------------------------------------------------------------

_D_TOKS = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"


def _tf_oracle() -> str:
    # wide per-doc join of the component oracles (all doc_id granularity)
    # plus the type-token repetition signal computed in place
    return f"""
    WITH tq AS (SELECT * FROM {_oracle("x_text_quality")}),
         li AS (SELECT * FROM {_oracle("x_lang_id")}),
         fp AS (SELECT * FROM {_oracle("x_doc_fingerprint")}),
         qf AS (SELECT * FROM {_oracle("x_quality_filter")}),
         tt AS (
             SELECT doc_id,
                    CASE WHEN len(toks) = 0 THEN 0.0
                         ELSE len(list_distinct(toks)) / len(toks)
                    END AS type_token_ratio
             FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
         )
    SELECT tq.doc_id, tq.n_chars, tq.token_cnt, tq.avg_word_len,
           tq.punct_ratio, tq.ws_ratio, tq.stopword_en,
           li.lang, li.lang_pred, li.score,
           fp.fingerprint,
           tt.type_token_ratio,
           (qf.doc_id IS NOT NULL) AS kept_q25
    FROM tq
    JOIN li ON li.doc_id = tq.doc_id
    JOIN fp ON fp.doc_id = tq.doc_id
    JOIN tt ON tt.doc_id = tq.doc_id
    LEFT JOIN qf ON qf.doc_id = tq.doc_id
    """


@query("x_text_features", oracle=_tf_oracle(), tags=("ext", "text", "composite"), driver=False)
def x_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-feature suite as ONE wide narrow-plan pass:
    quality metrics (x_text_quality), stopword language-ID
    (x_lang_id), the rolling-hash content fingerprint
    (x_doc_fingerprint), and the bottom-quartile quality gate's
    membership flag (x_quality_filter's row set as `kept_q25`). All
    expressions are codegen'd into a single projection over one scan
    — the fold costs no extra shuffle (the quantile threshold is the
    same tiny broadcast the standalone gate uses)."""
    from ..functions.text import STOPWORDS
    from ..functions.text import fingerprint64  # noqa: F401  (module doc link)

    from .extensions import _spread

    # _spread: the single-file documents scan would run the
    # interpreted stopword HOFs and the Arrow fingerprint on one core
    docs = _spread(tables(spark, sf_dir)["documents"])
    langs = ("de", "en", "es", "fr")
    # tokenize ONCE: the component queries each re-derive tokens(text)
    # per feature (8+ interpreted HOF tokenizations per doc across the
    # suite); materializing the token array as a column and deriving
    # every token feature from it keeps values identical (same split,
    # same folds) at a fraction of the interpreter work
    toked = docs.select(
        "doc_id", "n_chars", "lang", "text", tokens(F.col("text")).alias("toks")
    )
    n_toks = F.size(F.col("toks"))

    def stop_score(lg: str) -> F.Column:
        stops = F.array(*[F.lit(w) for w in STOPWORDS[lg]])
        hits = F.size(
            F.filter(F.col("toks"), lambda t: F.array_contains(stops, F.lower(t)))
        )
        return F.when(n_toks > 0, hits / n_toks).otherwise(F.lit(0.0))

    total_len = F.aggregate(
        F.col("toks"), F.lit(0), lambda acc, t: acc + F.length(t)
    )
    scored = toked.select(
        "doc_id", "n_chars", "lang", "text", "toks",
        n_toks.alias("token_cnt"),
        F.when(n_toks > 0, total_len / n_toks).otherwise(F.lit(0.0)).alias(
            "avg_word_len"
        ),
        punct_ratio("text").alias("punct_ratio"),
        whitespace_ratio("text").alias("ws_ratio"),
        *[stop_score(lg).alias(f"s_{lg}") for lg in langs],
    ).withColumn("score", F.greatest(*[F.col(f"s_{lg}") for lg in langs]))
    pred = F.when(F.col("s_de") == F.col("score"), "de")
    for lg in ("en", "es"):
        pred = pred.when(F.col(f"s_{lg}") == F.col("score"), lg)
    from ..functions.text import rolling_fingerprint

    fp = rolling_fingerprint(F.col("text"))
    # type-token ratio: the classic repetition/boilerplate signal
    # (repetitive templated text has few distinct tokens per token)
    ttr = F.when(
        F.col("token_cnt") > 0,
        F.size(F.array_distinct(F.col("toks"))) / F.col("token_cnt"),
    ).otherwise(F.lit(0.0))
    wide = scored.select(
        "doc_id", "n_chars", "token_cnt", "avg_word_len", "punct_ratio",
        "ws_ratio", F.col("s_en").alias("stopword_en"), "lang",
        pred.otherwise("fr").alias("lang_pred"), "score",
        fp.alias("fingerprint"),
        ttr.alias("type_token_ratio"),
    )
    # bottom-quartile gate on the English-stopword score (the
    # x_quality_filter threshold), joined back as a boolean flag
    counts = wide.groupBy(F.col("stopword_en").alias("qscore")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wc = Window.orderBy("qscore").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "qscore",
        F.sum("c").over(wc).alias("cum_n"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    thr = cum.filter(F.col("cum_n") >= F.ceil(F.lit(0.25) * F.col("n"))).agg(
        F.min("qscore").alias("threshold")
    )
    return wide.crossJoin(F.broadcast(thr)).select(
        *wide.columns, (F.col("stopword_en") >= F.col("threshold")).alias("kept_q25")
    )


def _text_suite_oracle() -> str:
    return f"""
    SELECT 'features' AS part, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(NULL AS VARCHAR) AS token, CAST(NULL AS BIGINT) AS n1,
           CAST(NULL AS BIGINT) AS n2,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(token_cnt AS BIGINT) AS token_cnt,
           CAST(avg_word_len AS DOUBLE) AS avg_word_len,
           CAST(punct_ratio AS DOUBLE) AS punct_ratio,
           CAST(ws_ratio AS DOUBLE) AS ws_ratio,
           CAST(stopword_en AS DOUBLE) AS stopword_en,
           lang, lang_pred, CAST(score AS DOUBLE) AS score,
           CAST(fingerprint AS BIGINT) AS fingerprint,
           CAST(type_token_ratio AS DOUBLE) AS type_token_ratio,
           kept_q25
    FROM {_oracle("x_text_features")}
    UNION ALL
    SELECT part, doc_id, token, n1, n2,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
    FROM {_oracle("x_token_stats")}
    UNION ALL
    SELECT 'bm25', CAST(doc_id AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(query_id AS BIGINT), CAST(rnk AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE), CAST(score_e6 AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
    FROM {_oracle("x_bm25_topk")}
    """


@query("x_text_suite", oracle=_text_suite_oracle(), tags=("ext", "text", "composite"))
def x_text_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis suite (r5 fold): the wide per-document feature
    pass (x_text_features — quality metrics, language-ID, fingerprint,
    type-token ratio, quality-gate flag) plus the corpus token
    statistics (x_token_stats — frequency top-k, Zipf slope, BPE-ish
    counts) plus BM25 lexical retrieval top-k for the fixed 3-query
    workload (x_bm25_topk — score_e6 rides the fingerprint slot),
    tagged into one superset. All parts share the same documents scan
    lineage; each component's full row set rides the driver hash
    unchanged. The posting-join variant (x_bm25_table) is deliberately
    NOT folded: its 6-stage chain measured +3 s on the recorded sweep
    for coverage the pytest differential mirror already provides
    (identical DuckDB oracle, row-for-row equality vs x_bm25_topk
    pinned in tests/test_retrieval.py)."""
    tf = REGISTRY["x_text_features"].build(spark, sf_dir)
    tk = REGISTRY["x_token_stats"].build(spark, sf_dir)
    bm = REGISTRY["x_bm25_topk"].build(spark, sf_dir)
    feat = tf.select(
        F.lit("features").alias("part"), _b("doc_id").alias("doc_id"),
        _ns().alias("token"), _nb().alias("n1"), _nb().alias("n2"),
        _b("n_chars").alias("n_chars"), _b("token_cnt").alias("token_cnt"),
        _d("avg_word_len").alias("avg_word_len"),
        _d("punct_ratio").alias("punct_ratio"),
        _d("ws_ratio").alias("ws_ratio"),
        _d("stopword_en").alias("stopword_en"),
        _s("lang").alias("lang"), _s("lang_pred").alias("lang_pred"),
        _d("score").alias("score"), _b("fingerprint").alias("fingerprint"),
        _d("type_token_ratio").alias("type_token_ratio"),
        F.col("kept_q25"),
    )
    toks = tk.select(
        "part", "doc_id", "token", "n1", "n2",
        _nb().alias("n_chars"), _nb().alias("token_cnt"),
        _nd().alias("avg_word_len"), _nd().alias("punct_ratio"),
        _nd().alias("ws_ratio"), _nd().alias("stopword_en"),
        _ns().alias("lang"), _ns().alias("lang_pred"), _nd().alias("score"),
        _nb().alias("fingerprint"), _nd().alias("type_token_ratio"),
        _nbool().alias("kept_q25"),
    )
    def _bm_part(df, tag):
        return df.select(
            F.lit(tag).alias("part"), _b("doc_id").alias("doc_id"),
            _ns().alias("token"), _b("query_id").alias("n1"),
            _b("rnk").alias("n2"),
            _nb().alias("n_chars"), _nb().alias("token_cnt"),
            _nd().alias("avg_word_len"), _nd().alias("punct_ratio"),
            _nd().alias("ws_ratio"), _nd().alias("stopword_en"),
            _ns().alias("lang"), _ns().alias("lang_pred"), _nd().alias("score"),
            _b("score_e6").alias("fingerprint"),
            _nd().alias("type_token_ratio"), _nbool().alias("kept_q25"),
        )

    return feat.unionByName(toks).unionByName(_bm_part(bm, "bm25"))


# ---------------------------------------------------------------------------
# x_doc_transform — PII redaction + context-window chunking
# ---------------------------------------------------------------------------


#: packing geometry: 16 shards (hash of doc id), 512-token bins
_PACK_SHARDS, _PACK_CAP = 16, 512


def _dt_oracle() -> str:
    return f"""
    SELECT 'pii' AS part, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_emails AS BIGINT) AS n1, CAST(n_phones AS BIGINT) AS n2,
           CAST(n_ips AS BIGINT) AS n3, redacted AS txt
    FROM {_oracle("x_pii_redact")}
    UNION ALL
    SELECT 'chunk', CAST(doc_id AS BIGINT), CAST(chunk_id AS BIGINT),
           CAST(chunk_start AS BIGINT), CAST(chunk_len AS BIGINT), chunk_text
    FROM {_oracle("x_doc_chunks")}
    UNION ALL
    SELECT 'pack', CAST(doc_id AS BIGINT), CAST(chunk_id AS BIGINT),
           CAST(doc_id % {_PACK_SHARDS} AS BIGINT) * 1000000000000
             + CAST(((run - chunk_len) // {_PACK_CAP}) AS BIGINT),
           CAST(((run - chunk_len) % {_PACK_CAP}) AS BIGINT),
           CAST(NULL AS VARCHAR)
    FROM (
        SELECT doc_id, chunk_id, chunk_len,
               sum(chunk_len) OVER (
                   PARTITION BY doc_id % {_PACK_SHARDS}
                   ORDER BY doc_id, chunk_id
                   ROWS UNBOUNDED PRECEDING) AS run
        FROM {_oracle("x_doc_chunks")}
    )
    """


@query("x_doc_transform", oracle=_dt_oracle(), tags=("ext", "text", "composite"), driver=False)
def x_doc_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-transformation suite: PII scrubbing with per-kind match
    counts (x_pii_redact), 20-token/stride-15 context-window chunking
    (x_doc_chunks), and SEQUENCE PACKING of those chunks into
    fixed-capacity training rows, tagged into one superset — the
    redacted text and every chunk's text ride through the hash
    verbatim.

    The `pack` part is the batch-assembly step of packed pretraining:
    chunks are laid end-to-end in deterministic (doc, chunk) order and
    cut into 512-token bins (a chunk may straddle a boundary — the
    document-breaking variant of packing); each chunk gets its
    (bin, offset) placement, n2 = shard·10¹² + bin within shard. The
    running total is a per-SHARD window cumsum (16 hash shards), not a
    global one — at corpus scale the single-reducer global cumsum is
    the classic scale-killer, and per-shard packing is exactly how
    distributed packed-batch writers shard the work."""
    pii = REGISTRY["x_pii_redact"].build(spark, sf_dir)
    ch = REGISTRY["x_doc_chunks"].build(spark, sf_dir)
    shard = F.col("doc_id") % _PACK_SHARDS
    w = (
        Window.partitionBy(shard)
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("chunk_len").over(w) - F.col("chunk_len")
    pack = ch.select(
        F.lit("pack").alias("part"),
        _b("doc_id").alias("doc_id"),
        _b("chunk_id").alias("n1"),
        # shard·10¹² + bin: 10¹² bins/shard ≈ 5·10¹⁴ tokens per shard
        # before the encoding could collide — beyond the 100 TB design
        # point (10⁶ overflowed at ~8.4·10⁹ corpus tokens)
        (shard.cast("bigint") * 1_000_000_000_000
         + F.floor(start / _PACK_CAP).cast("bigint")).alias("n2"),
        (start % _PACK_CAP).cast("bigint").alias("n3"),
        _ns().alias("txt"),
    )
    return (
        _part(pii, "pii", doc_id=_b("doc_id"), n1=_b("n_emails"),
              n2=_b("n_phones"), n3=_b("n_ips"), txt=_s("redacted"))
        .unionByName(
            _part(ch, "chunk", doc_id=_b("doc_id"), n1=_b("chunk_id"),
                  n2=_b("chunk_start"), n3=_b("chunk_len"), txt=_s("chunk_text"))
        )
        .unionByName(pack)
    )


# ---------------------------------------------------------------------------
# x_doc_pipeline_suite — document transforms + end-to-end curation
# (r5 fold: PII/chunk/pack + the full curation pipeline, one slot)
# ---------------------------------------------------------------------------


def _docpipe_oracle() -> str:
    return f"""
    SELECT part, doc_id, n1, n2, n3, txt FROM ({_dt_oracle()})
    UNION ALL
    SELECT 'curation', CAST(doc_id AS BIGINT), CAST(chunk_id AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), chunk_text
    FROM {_oracle("x_curation_pipeline")}
    UNION ALL
    SELECT part, doc_id, n1, n2, n3, txt
    FROM {_oracle("x_warc_ingest")}
    UNION ALL
    SELECT part, doc_id, n1, n2, n3, txt
    FROM ({_oracle("x_cdx_select")})
    """


@query("x_doc_pipeline_suite", oracle=_docpipe_oracle(), tags=("ext", "text", "pipeline", "composite"))
def x_doc_pipeline_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-pipeline suite (r5 fold): the transformation trio —
    PII scrubbing, context-window chunking, and 512-token sequence
    packing (x_doc_transform) — plus the end-to-end corpus-curation
    pipeline (x_curation_pipeline: language filter → exact dedup →
    Jaccard near-dup clustering → hash sample → chunking, verified by
    one recursive-CTE oracle), tagged into one superset over the
    documents table; r14 adds the WARC/WET container-ingestion e2e
    (x_warc_ingest: documents → gzip-member-per-record WET shards →
    member walk → WARC record parse → per-record text stats, planted
    truncated members surfacing as 'warc_err' quarantine rows) and
    the cc-index selection e2e (x_cdx_select: CDXJ shards →
    latest-capture-per-SURT-urlkey with the key recomputed by the
    codegen'd surt_col, malformed lines as 'cdx_err' rows). A
    regression in any stage or composition flips the driver hash."""
    dt = REGISTRY["x_doc_transform"].build(spark, sf_dir)
    cu = REGISTRY["x_curation_pipeline"].build(spark, sf_dir)
    wa = REGISTRY["x_warc_ingest"].build(spark, sf_dir)
    cdx = REGISTRY["x_cdx_select"].build(spark, sf_dir)
    return dt.unionByName(
        _part(cu, "curation", doc_id=_b("doc_id"), n1=_b("chunk_id"),
              n2=_nb(), n3=_nb(), txt=_s("chunk_text"))
    ).unionByName(wa).unionByName(cdx)


# ---------------------------------------------------------------------------
# x_grouped_models — EWMA + OLS trend fit, joined wide per (user, event)
# ---------------------------------------------------------------------------


def _gm_oracle() -> str:
    return f"""
    SELECT 'models' AS part, e.user_id AS k1, e.event_id AS k2,
           CAST(e.ewma_e6 AS BIGINT) AS n1,
           CAST(t.slope_e9 AS BIGINT) AS n2,
           CAST(t.resid_e6 AS BIGINT) AS n3
    FROM {_oracle("x_ewma")} e
    JOIN {_oracle("x_group_trend_fit")} t
      ON t.user_id = e.user_id AND t.event_id = e.event_id
    UNION ALL
    SELECT 'wmedian', l_partkey, CAST(NULL AS BIGINT),
           CAST(floor(wmedian_price * 100 + 0.5) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM {_oracle("udaf_weighted_median")}
    """


@query("x_grouped_models", oracle=_gm_oracle(), tags=("ext", "pandas", "composite"))
def x_grouped_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-model suite: the per-user EWMA recurrence (x_ewma) and
    the per-user OLS trend fit with row-level residuals
    (x_group_trend_fit) — the two applyInPandas surfaces — joined wide
    on (user_id, event_id); plus (round 4) the per-part weighted
    median of lineitem prices, the holistic-aggregate surface, as a
    'wmedian' part (e2-cent-quantized — the median is always an
    observed 2dp price, so the quantization is lossless). The wmedian
    part runs the bucketed grouped-map fast path
    (functions.stats.weighted_median_by); the GROUPED_AGG UDAF twin
    stays differentially pytest-verified as udaf_weighted_median.
    The models part runs BOTH kernels in one grouped-map pass
    (functions.stats.ewma_trend_group — bit-identical to the
    components' two passes + join, at one shuffle and one Arrow
    round-trip)."""
    from ..functions.stats import ewma_trend_group, weighted_median_by

    ev = tables(spark, sf_dir)["events"]
    models = ewma_trend_group(
        ev.select(
            "user_id", "event_id",
            (F.unix_micros("ts") / F.lit(1e6)).alias("x"),
            F.col("value").alias("y"),
        ),
        key="user_id", order_col="event_id",
        x_col="x", val_col="y", alpha=0.2,
    )
    wm = weighted_median_by(
        tables(spark, sf_dir)["lineitem"],
        "l_partkey", "l_extendedprice", "l_quantity",
    )
    return (
        _part(models, "models", k1=_b("user_id"), k2=_b("event_id"),
              n1=_b("ewma_e6"), n2=_b("slope_e9"), n3=_b("resid_e6"))
        .unionByName(
            _part(wm, "wmedian", k1=_b("l_partkey"), k2=_nb(),
                  n1=F.floor(F.col("wmedian") * 100 + F.lit(0.5))
                  .cast("bigint"), n2=_nb(), n3=_nb())
        )
    )


# ---------------------------------------------------------------------------
# x_embed_transform — int8 quantization + corpus standardization
# ---------------------------------------------------------------------------


def _et_oracle() -> str:
    return f"""
    SELECT 'quant' AS part, CAST(vec_id AS BIGINT) AS vec_id,
           CAST(scale_e9 AS BIGINT) AS n1, CAST(q_l1 AS BIGINT) AS n2,
           CAST(err_e12 AS BIGINT) AS n3
    FROM {_oracle("x_embed_quantize")}
    UNION ALL
    SELECT 'standardize', CAST(vec_id AS BIGINT), CAST(znorm2_e6 AS BIGINT),
           CAST(zmax_e6 AS BIGINT), CAST(NULL AS BIGINT)
    FROM {_oracle("x_embed_standardize")}
    """


@query("x_embed_transform", oracle=_et_oracle(), tags=("ext", "similarity", "composite"), driver=False)
def x_embed_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-transformation suite: int8 symmetric quantization with
    exact reconstruction error (x_embed_quantize — the storage/serving
    compression step) and per-dimension corpus standardization
    (x_embed_standardize — the whitening-prep step), tagged into one
    superset; both components' full quantized outputs ride the hash."""
    q = REGISTRY["x_embed_quantize"].build(spark, sf_dir)
    st = REGISTRY["x_embed_standardize"].build(spark, sf_dir)
    return _part(
        q, "quant", vec_id=_b("vec_id"), n1=_b("scale_e9"), n2=_b("q_l1"),
        n3=_b("err_e12"),
    ).unionByName(
        _part(st, "standardize", vec_id=_b("vec_id"), n1=_b("znorm2_e6"),
              n2=_b("zmax_e6"), n3=_nb())
    )


def _embed_suite_oracle() -> str:
    return f"""
    SELECT part, vec_id, n1, n2, n3, CAST(NULL AS DOUBLE) AS d1
    FROM {_oracle("x_embed_transform")}
    UNION ALL
    SELECT 'cluster', CAST(vec_id AS BIGINT), CAST(cluster_id AS BIGINT),
           CAST(is_representative AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM {_oracle("x_embed_cluster")}
    UNION ALL
    SELECT 'neardup', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(cosine_sim AS DOUBLE)
    FROM {_oracle("x_dedup_embedding")}
    """


@query("x_embedding_suite", oracle=_embed_suite_oracle(), tags=("ext", "similarity", "composite"))
def x_embedding_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-workload suite (r5 fold): the transformation parts
    (int8 quantization + corpus standardization, x_embed_transform),
    the dense near-dup clustering (x_embed_cluster — blockwise cosine
    pairs → connected components), and the raw near-duplicate pair
    list itself (x_dedup_embedding — blockwise BLAS all-pairs at
    threshold 0.4), tagged into one superset over ONE embeddings scan
    lineage; every component's exact values still ride the driver
    hash."""
    from ..operators.graph import dedup_clusters
    from ..operators.similarity import cosine_pairs_blockwise

    from .extensions import _spread

    # the cluster and neardup parts consume the SAME blockwise pair
    # set (threshold 0.4, 6dp rounding — the standalone components'
    # exact parameters): score it once and persist, so the BLAS
    # all-pairs pass runs a single time instead of once per part
    # (dedup_clusters materializes its edges eagerly, populating the
    # persist for the lazy neardup branch)
    emb = _spread(tables(spark, sf_dir)["embeddings"])
    nd = managed_cache(cosine_pairs_blockwise(
        emb, "vec_id", "embedding", threshold=0.4, round_to=6
    ))
    cl = dedup_clusters(
        emb.select("vec_id"), nd.select("id_a", "id_b"), id_col="vec_id"
    )
    tr = REGISTRY["x_embed_transform"].build(spark, sf_dir)
    return (
        tr.withColumn("d1", _nd())
        .unionByName(
            _part(cl, "cluster", vec_id=_b("vec_id"), n1=_b("cluster_id"),
                  n2=F.col("is_representative").cast("bigint"), n3=_nb(),
                  d1=_nd())
        )
        .unionByName(
            _part(nd, "neardup", vec_id=_b("id_a"), n1=_b("id_b"),
                  n2=_nb(), n3=_nb(), d1=_d("cosine_sim"))
        )
    )


# ---------------------------------------------------------------------------
# q_tpch_suite — the seven TPC-H-shape bench queries in one driver slot
# (r5 fold: Q10 + Q18 + Q5 + Q7 + Q6 + Q14 + Q17)
# ---------------------------------------------------------------------------


def _qtpch_oracle() -> str:
    return f"""
    SELECT 'q10' AS part, CAST(c_custkey AS BIGINT) AS k1,
           CAST(NULL AS BIGINT) AS k2, c_name AS s1, n_name AS s2,
           CAST(NULL AS TIMESTAMP) AS ts1, CAST(NULL AS BIGINT) AS n1,
           CAST(revenue AS DOUBLE) AS d1, CAST(c_acctbal AS DOUBLE) AS d2
    FROM {_oracle("q10_returned_items")}
    UNION ALL
    SELECT 'q18', CAST(c_custkey AS BIGINT), CAST(o_orderkey AS BIGINT),
           c_name, CAST(NULL AS VARCHAR), o_orderdate, CAST(NULL AS BIGINT),
           CAST(o_totalprice AS DOUBLE), CAST(total_qty AS DOUBLE)
    FROM {_oracle("q18_large_volume_customers")}
    UNION ALL
    SELECT 'q5', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), n_name,
           CAST(NULL AS VARCHAR), CAST(NULL AS TIMESTAMP),
           CAST(NULL AS BIGINT), CAST(revenue AS DOUBLE),
           CAST(NULL AS DOUBLE)
    FROM {_oracle("q5_local_supplier_volume")}
    UNION ALL
    SELECT 'q7', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), supp_nation,
           cust_nation, CAST(NULL AS TIMESTAMP), CAST(l_year AS BIGINT),
           CAST(revenue AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("q7_volume_shipping")}
    UNION ALL
    SELECT 'q6', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT),
           CAST(revenue AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("q6_forecast_revenue")}
    UNION ALL
    SELECT 'q14', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT),
           CAST(promo_pct AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("q14_promo_revenue")}
    UNION ALL
    SELECT 'q17', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT),
           CAST(avg_yearly AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("q17_small_qty_revenue")}
    """


@query("q_tpch_suite", oracle=_qtpch_oracle(), tags=("J5", "A2", "O1", "bench", "composite"))
def q_tpch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H bench suite — the seven classic query shapes outside the
    lineitem pair, tagged into one superset: returned-items top-20
    (Q10, dual-fact pushdown + 4-way join), large-volume customers
    (Q18, aggregation-driven semi-join), local supplier volume (Q5,
    six-way correlated dim join), bilateral trade (Q7, one dim in two
    roles), and the three single-row aggregates (Q6 pushdown probe,
    Q14 conditional agg over broadcast dim, Q17 decorrelated scalar
    subquery). Every component's exact row set rides the driver hash;
    each keeps its standalone registry entry, plan pins, and pytest
    differential."""
    parts = [
        ("q10", "q10_returned_items",
         dict(k1=_b("c_custkey"), k2=_nb(), s1=_s("c_name"), s2=_s("n_name"),
              ts1=_nt(), n1=_nb(), d1=_d("revenue"), d2=_d("c_acctbal"))),
        ("q18", "q18_large_volume_customers",
         dict(k1=_b("c_custkey"), k2=_b("o_orderkey"), s1=_s("c_name"),
              s2=_ns(), ts1=F.col("o_orderdate"), n1=_nb(),
              d1=_d("o_totalprice"), d2=_d("total_qty"))),
        ("q5", "q5_local_supplier_volume",
         dict(k1=_nb(), k2=_nb(), s1=_s("n_name"), s2=_ns(), ts1=_nt(),
              n1=_nb(), d1=_d("revenue"), d2=_nd())),
        ("q7", "q7_volume_shipping",
         dict(k1=_nb(), k2=_nb(), s1=_s("supp_nation"), s2=_s("cust_nation"),
              ts1=_nt(), n1=_b("l_year"), d1=_d("revenue"), d2=_nd())),
        ("q6", "q6_forecast_revenue",
         dict(k1=_nb(), k2=_nb(), s1=_ns(), s2=_ns(), ts1=_nt(), n1=_nb(),
              d1=_d("revenue"), d2=_nd())),
        ("q14", "q14_promo_revenue",
         dict(k1=_nb(), k2=_nb(), s1=_ns(), s2=_ns(), ts1=_nt(), n1=_nb(),
              d1=_d("promo_pct"), d2=_nd())),
        ("q17", "q17_small_qty_revenue",
         dict(k1=_nb(), k2=_nb(), s1=_ns(), s2=_ns(), ts1=_nt(), n1=_nb(),
              d1=_d("avg_yearly"), d2=_nd())),
    ]
    out = None
    for tag, name, slots in parts:
        piece = _part(REGISTRY[name].build(spark, sf_dir), tag, **slots)
        out = piece if out is None else out.unionByName(piece)
    return out


# ---------------------------------------------------------------------------
# j_latest_wins_suite — the conditional-max_by trio (j1 + j4 + f7)
# ---------------------------------------------------------------------------


def _jlw_oracle() -> str:
    return f"""
    SELECT 'uv_join' AS part, bucket_ts, CAST(user_id AS BIGINT) AS k1,
           CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS VARCHAR) AS s2,
           CAST(NULL AS TIMESTAMP) AS ts2, CAST(u_value AS DOUBLE) AS d1,
           CAST(v_value AS DOUBLE) AS d2, CAST(magnitude AS DOUBLE) AS d3
    FROM {_oracle("j1_uv_component_join")}
    UNION ALL
    SELECT 'merge', bucket_ts, CAST(event_id AS BIGINT), event_type,
           CAST(NULL AS VARCHAR), ts, CAST(value AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("j4_upsert_merge")}
    UNION ALL
    SELECT 'staleness', bucket_ts, CAST(NULL AS BIGINT), event_type, action,
           CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("f7_staleness_decision")}
    """


@query("j_latest_wins_suite", oracle=_jlw_oracle(), tags=("J1", "J4", "F7", "composite"))
def j_latest_wins_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins suite — the reference pipeline's three conditional
    max_by shapes over events, tagged into one superset: U⋈V component
    alignment without a self-join (j1_uv_component_join), the
    materialized latest-wins MERGE (j4_upsert_merge), and the
    insert/replace/skip staleness decision (f7_staleness_decision).
    Each component stays a single-scan single-shuffle aggregation;
    the union preserves every component row bit-for-bit."""
    j1 = REGISTRY["j1_uv_component_join"].build(spark, sf_dir)
    j4 = REGISTRY["j4_upsert_merge"].build(spark, sf_dir)
    f7 = REGISTRY["f7_staleness_decision"].build(spark, sf_dir)
    return (
        _part(j1, "uv_join", bucket_ts=F.col("bucket_ts"), k1=_b("user_id"),
              s1=_ns(), s2=_ns(), ts2=_nt(), d1=_d("u_value"),
              d2=_d("v_value"), d3=_d("magnitude"))
        .unionByName(
            _part(j4, "merge", bucket_ts=F.col("bucket_ts"),
                  k1=_b("event_id"), s1=_s("event_type"), s2=_ns(),
                  ts2=F.col("ts"), d1=_d("value"), d2=_nd(), d3=_nd())
        )
        .unionByName(
            _part(f7, "staleness", bucket_ts=F.col("bucket_ts"), k1=_nb(),
                  s1=_s("event_type"), s2=_s("action"), ts2=_nt(),
                  d1=_nd(), d2=_nd(), d3=_nd())
        )
    )


# ---------------------------------------------------------------------------
# q_lineitem_suite — TPC-H Q1 + Q3 (scan-agg + join-agg-topk)
# ---------------------------------------------------------------------------


def _qli_oracle() -> str:
    return f"""
    SELECT 'q1' AS part, l_returnflag AS s1, l_linestatus AS s2,
           CAST(sum_qty AS DOUBLE) AS d1, CAST(sum_base_price AS DOUBLE) AS d2,
           CAST(sum_disc_price AS DOUBLE) AS d3, CAST(count_order AS BIGINT) AS n1,
           CAST(NULL AS BIGINT) AS k1, CAST(NULL AS TIMESTAMP) AS ts1
    FROM {_oracle("q1_pricing_summary")}
    UNION ALL
    SELECT 'q3', o_orderpriority, CAST(NULL AS VARCHAR),
           CAST(revenue AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           CAST(l_orderkey AS BIGINT), o_orderdate
    FROM {_oracle("q3_shipping_priority")}
    """


@query("q_lineitem_suite", oracle=_qli_oracle(), tags=("A2", "O1", "bench", "composite"))
def q_lineitem_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem bench suite: the wide scan → tiny-key hash aggregate
    (TPC-H Q1 shape) and the selective multi-join → aggregate → top-10
    (TPC-H Q3 shape), tagged into one superset — the two canonical
    lineitem access patterns in one driver slot."""
    q1 = REGISTRY["q1_pricing_summary"].build(spark, sf_dir)
    q3 = REGISTRY["q3_shipping_priority"].build(spark, sf_dir)
    return _part(
        q1, "q1", s1=_s("l_returnflag"), s2=_s("l_linestatus"),
        d1=_d("sum_qty"), d2=_d("sum_base_price"), d3=_d("sum_disc_price"),
        n1=_b("count_order"), k1=_nb(), ts1=_nt(),
    ).unionByName(
        _part(q3, "q3", s1=_s("o_orderpriority"), s2=_ns(), d1=_d("revenue"),
              d2=_nd(), d3=_nd(), n1=_nb(), k1=_b("l_orderkey"),
              ts1=F.col("o_orderdate"))
    )


# ---------------------------------------------------------------------------
# x_layout_mm_suite — grid stats + z-order layout + multimodal decode
# (r5 fold: three small scans in one driver slot)
# ---------------------------------------------------------------------------


def _lmm_oracle(sf_dir: str) -> str:
    # LAZY composite oracle (the only one): the two image parts embed
    # replica-derived literals, so the whole union resolves per sf_dir
    # (resolve_oracle calls through; fixed component SQL is unchanged)
    from .registry import resolve_oracle

    img_h = resolve_oracle(REGISTRY["x_image_dhash"], sf_dir)
    img_p = resolve_oracle(REGISTRY["x_image_dedup"], sf_dir)
    vid_s = resolve_oracle(REGISTRY["x_video_sig"], sf_dir)
    vid_p = resolve_oracle(REGISTRY["x_video_dedup"], sf_dir)
    aud_s = resolve_oracle(REGISTRY["x_audio_sig"], sf_dir)
    aud_p = resolve_oracle(REGISTRY["x_audio_dedup"], sf_dir)
    return f"""
    SELECT 'grid' AS part, CAST(label AS BIGINT) AS k1,
           CAST(lat_band AS BIGINT) AS k2, CAST(cell_cnt AS BIGINT) AS n1,
           CAST(NULL AS BIGINT) AS n2, CAST(NULL AS BIGINT) AS n3,
           CAST(NULL AS BIGINT) AS n4, CAST(NULL AS BIGINT) AS n5,
           CAST(vmin AS DOUBLE) AS d1, CAST(vmax AS DOUBLE) AS d2,
           CAST(vavg_q AS DOUBLE) AS d3
    FROM {_oracle("x_grid_stats")}
    UNION ALL
    SELECT 'zorder', CAST(z_bucket AS BIGINT), CAST(NULL AS BIGINT),
           CAST(n AS BIGINT), CAST(qu_min AS BIGINT), CAST(qu_max AS BIGINT),
           CAST(qv_min AS BIGINT), CAST(qv_max AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("x_zorder_stats")}
    UNION ALL
    SELECT 'mm_decode', CAST(doc_id AS BIGINT), CAST(NULL AS BIGINT),
           CAST(n_bytes AS BIGINT), CAST(first_byte AS BIGINT),
           CAST(checksum AS BIGINT), CAST(width AS BIGINT),
           CAST(height AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("x_mm_decode")}
    UNION ALL
    SELECT 'mm_transform', CAST(doc_id AS BIGINT), CAST(NULL AS BIGINT),
           CAST(out_width AS BIGINT), CAST(out_height AS BIGINT),
           CAST(mean_r_e6 AS BIGINT), CAST(px_sum AS BIGINT),
           CAST(px_sumsq AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM {_oracle("x_mm_transform")}
    UNION ALL
    SELECT 'image_dhash', CAST(doc_id AS BIGINT), CAST(NULL AS BIGINT),
           CAST(dhash AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({img_h})
    UNION ALL
    SELECT 'image_pairs', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
           CAST(hamming AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({img_p})
    UNION ALL
    SELECT 'video_sig', CAST(doc_id AS BIGINT), CAST(frame_idx AS BIGINT),
           CAST(fhash AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({vid_s})
    UNION ALL
    SELECT 'video_pairs', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST(jaccard AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({vid_p})
    UNION ALL
    SELECT 'audio_sig', CAST(doc_id AS BIGINT), CAST(frame_idx AS BIGINT),
           CAST(fhash AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({aud_s})
    UNION ALL
    SELECT 'audio_pairs', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST(jaccard AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({aud_p})
    """


def _mm_fused_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(mod, doc_id, frame_idx, fhash): ALL THREE modalities' signature
    tables in ONE Arrow pass over ONE documents scan (r12, VERDICT r11
    #1 — the composite previously paid three separate synth+decode+
    hash jobs). Per doc id the pass runs exactly the standalone
    pipelines' kernels — BMP encode→decode→dHash for every id (sibling
    every 20th), Y4M encode→frame-walk→dHash for every 10th, WAV
    encode→decode→spectral fingerprint for every 10th+5 — so each
    slice is bit-identical to x_image_dhash / x_video_sig /
    x_audio_sig (the lazy replica oracles pin it)."""
    import numpy as np
    import pandas as pd

    from ..sources.flaccodec import encode_flac
    from ..sources.gifcodec import encode_gif, encode_gif_frames
    from ..sources.tiffcodec import encode_tiff
    from ..sources.multimodal import (
        audio_fingerprint,
        decode_audio,
        decode_image,
        dhash64,
        encode_bmp,
        encode_png,
        encode_wav_pcm16,
        encode_y4m_gray,
        sample_video_frames,
    )
    from .extensions import (
        _AUD_SIB_OFFSET,
        _IMG_SIB_OFFSET,
        _VID_SIB_OFFSET,
        synth_audio_segments,
        synth_image_pixels,
        synth_video_frames,
    )

    def enc_tiff_lzw(px):
        return encode_tiff(px, compression="lzw", predictor=True)

    # spread the bare ids wide first (the _spread high-work_factor
    # case): the scan is ONE split at test scale, and per id this pass
    # runs BMP+Y4M+WAV encode/decode/hash — serializing it onto one
    # core was the measured 2.6x cost (1.37 s vs 0.52 s, r12 A/B)
    from .extensions import _spread as _spread_ids

    ids = _spread_ids(
        tables(spark, sf_dir)["documents"].select("doc_id"),
        work_factor=256,
    )

    def gen(it):
        for pdf in it:
            mods, oids, fidx, fh = [], [], [], []

            def emit(m, i, x, h):
                mods.append(m)
                oids.append(i)
                fidx.append(x)
                fh.append(h)

            for i in pdf["doc_id"]:
                i = int(i)
                for sib in (0, 1) if i % 20 == 0 else (0,):
                    # every 4th image ships as PNG, every 4th+2 as
                    # GIF, every 8th+1 as LZW+predictor TIFF, the rest
                    # as BMP — _image_corpus ships WebP for ids ≡ 3, 7
                    # (mod 8) where this pass ships BMP; every
                    # container is lossless, so the hashes agree
                    enc_i = (encode_png if i % 4 == 0
                             else encode_gif if i % 4 == 2
                             else enc_tiff_lzw if i % 8 == 1
                             else encode_bmp)
                    h = dhash64(
                        decode_image(enc_i(synth_image_pixels(i, sib)))[
                            "pixels"
                        ]
                    )
                    emit("i", i + sib * _IMG_SIB_OFFSET, None,
                         int(np.int64(np.uint64(h))))
                if i % 10 == 0:
                    for sib in (0, 1) if i % 40 == 0 else (0,):
                        # every 4th clip ships as ANIMATED GIF —
                        # mirrors _video_corpus exactly (gray frames
                        # palette-encode losslessly)
                        enc_v = (encode_gif_frames if i % 40 == 10
                                 else encode_y4m_gray)
                        frames = sample_video_frames(
                            enc_v(synth_video_frames(i, sib)), 1
                        )
                        for idx, y in frames:
                            emit("v", i + sib * _VID_SIB_OFFSET, idx,
                                 int(np.int64(np.uint64(dhash64(y)))))
                if i % 10 == 5:
                    for sib in (0, 1) if i % 40 == 5 else (0,):
                        # every 4th clip ships as FLAC — mirrors
                        # _audio_corpus exactly (lossless, so the
                        # fingerprints and oracles are unchanged)
                        enc = (
                            encode_flac if (i // 10) % 4 == 0
                            else encode_wav_pcm16
                        )
                        fps = audio_fingerprint(
                            decode_audio(
                                enc(synth_audio_segments(i, sib))
                            )["waveform"]
                        )
                        for idx, fp in fps:
                            emit("a", i + sib * _AUD_SIB_OFFSET, idx, fp)
            yield pd.DataFrame({
                "mod": mods,
                "doc_id": oids,
                "frame_idx": pd.array(fidx, dtype="Int32"),
                "fhash": pd.array(fh, dtype="Int64"),
            })

    return ids.mapInPandas(
        gen, "mod string, doc_id long, frame_idx int, fhash long"
    )


@query("x_layout_mm_suite", oracle=_lmm_oracle, tags=("ext", "composite"))
def x_layout_mm_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout/raster/multimodal suite: per-lat-band raster statistics
    (x_grid_stats), Morton-key layout statistics (x_zorder_stats), the
    multimodal metadata decode (x_mm_decode), the full media
    decode→resize→re-encode transform pipeline (x_mm_transform), and —
    since r11 (VERDICT r10 #1) — the image perceptual-hash dedup's
    hash table (x_image_dhash) and near-dup pairs (x_image_dedup),
    plus (late r11) the video frame-hash signatures (x_video_sig) /
    frame-set-Jaccard pairs (x_video_dedup) and the audio spectral
    fingerprints (x_audio_sig) / fingerprint-set pairs
    (x_audio_dedup), tagged into one superset — ten independent small
    scans sharing one driver slot; every component's exact values
    still ride the hash. The image/video/audio parts make the
    composite's oracle LAZY: their expected rows are replica-derived
    literals (image_dhash_local / video_frames_local /
    audio_frames_local etc., the linear-probe convention)."""
    g = REGISTRY["x_grid_stats"].build(spark, sf_dir)
    z = REGISTRY["x_zorder_stats"].build(spark, sf_dir)
    m = REGISTRY["x_mm_decode"].build(spark, sf_dir)
    t = REGISTRY["x_mm_transform"].build(spark, sf_dir)
    # r12: ONE fused Arrow pass builds all three modalities' signature
    # tables (previously three separate synth+decode+hash jobs over
    # three documents scans); each slice is bit-identical to its
    # standalone query, which stays registered and replica-verified.
    # managed_cache: the fused table feeds six parts (three slices +
    # three pair joins), and a composite rebuild RELEASES the prior
    # build's entry instead of stacking a new one.
    from ..sources.multimodal import image_neardup_pairs, video_neardup_pairs
    from .extensions import (
        _AUD_JACCARD_T,
        _IMG_MAX_HAMMING,
        _VID_JACCARD_T,
    )

    fused = managed_cache(
        _mm_fused_sigs(spark, sf_dir), "x_layout_mm_suite", "sigs"
    )
    ih = fused.filter(F.col("mod") == "i").select(
        "doc_id", F.col("fhash").alias("dhash")
    )
    ip = image_neardup_pairs(ih, max_hamming=_IMG_MAX_HAMMING, cache=False)
    vs = fused.filter(F.col("mod") == "v").select(
        "doc_id", "frame_idx", "fhash"
    )
    # method='uniform': THIS corpus is synthetic and hot-key-free by
    # construction (distinct gradient frames per clip), exactly the
    # case the plain count plan is documented for — real corpora keep
    # the skew-safe prefix default, pinned by the standalone entries
    # and the planted hot-key tests (tests/test_round12.py)
    vp = video_neardup_pairs(
        vs, threshold=_VID_JACCARD_T, method="uniform", cache=False
    )
    asg = fused.filter(F.col("mod") == "a").select(
        "doc_id", "frame_idx", "fhash"
    )
    ap = video_neardup_pairs(
        asg, threshold=_AUD_JACCARD_T, method="uniform", cache=False
    )
    return _part(
        g, "grid", k1=_b("label"), k2=_b("lat_band"), n1=_b("cell_cnt"),
        n2=_nb(), n3=_nb(), n4=_nb(), n5=_nb(),
        d1=_d("vmin"), d2=_d("vmax"), d3=_d("vavg_q"),
    ).unionByName(
        _part(z, "zorder", k1=_b("z_bucket"), k2=_nb(), n1=_b("n"),
              n2=_b("qu_min"), n3=_b("qu_max"), n4=_b("qv_min"),
              n5=_b("qv_max"), d1=_nd(), d2=_nd(), d3=_nd())
    ).unionByName(
        _part(m, "mm_decode", k1=_b("doc_id"), k2=_nb(), n1=_b("n_bytes"),
              n2=_b("first_byte"), n3=_b("checksum"), n4=_b("width"),
              n5=_b("height"), d1=_nd(), d2=_nd(), d3=_nd())
    ).unionByName(
        _part(t, "mm_transform", k1=_b("doc_id"), k2=_nb(),
              n1=_b("out_width"), n2=_b("out_height"), n3=_b("mean_r_e6"),
              n4=_b("px_sum"), n5=_b("px_sumsq"),
              d1=_nd(), d2=_nd(), d3=_nd())
    ).unionByName(
        _part(ih, "image_dhash", k1=_b("doc_id"), k2=_nb(),
              n1=_b("dhash"), n2=_nb(), n3=_nb(), n4=_nb(), n5=_nb(),
              d1=_nd(), d2=_nd(), d3=_nd())
    ).unionByName(
        _part(ip, "image_pairs", k1=_b("id_a"), k2=_b("id_b"),
              n1=_b("hamming"), n2=_nb(), n3=_nb(), n4=_nb(), n5=_nb(),
              d1=_nd(), d2=_nd(), d3=_nd())
    ).unionByName(
        _part(vs, "video_sig", k1=_b("doc_id"), k2=_b("frame_idx"),
              n1=_b("fhash"), n2=_nb(), n3=_nb(), n4=_nb(), n5=_nb(),
              d1=_nd(), d2=_nd(), d3=_nd())
    ).unionByName(
        _part(vp, "video_pairs", k1=_b("id_a"), k2=_b("id_b"),
              n1=_nb(), n2=_nb(), n3=_nb(), n4=_nb(), n5=_nb(),
              d1=_d("jaccard"), d2=_nd(), d3=_nd())
    ).unionByName(
        _part(asg, "audio_sig", k1=_b("doc_id"), k2=_b("frame_idx"),
              n1=_b("fhash"), n2=_nb(), n3=_nb(), n4=_nb(), n5=_nb(),
              d1=_nd(), d2=_nd(), d3=_nd())
    ).unionByName(
        _part(ap, "audio_pairs", k1=_b("id_a"), k2=_b("id_b"),
              n1=_nb(), n2=_nb(), n3=_nb(), n4=_nb(), n5=_nb(),
              d1=_d("jaccard"), d2=_nd(), d3=_nd())
    )


# ---------------------------------------------------------------------------
# rel_suite — eight small relational queries in one driver slot
# (r5 fold: enrichment, dim join, semi/anti, bucket counts, sessions,
# bag union, intersect/except, distinct)
# ---------------------------------------------------------------------------


def _rel_oracle() -> str:
    return f"""
    SELECT 'f3' AS part, CAST(event_id AS BIGINT) AS id,
           ts AS ts1, bucket_3h AS ts2, bucket_6h AS ts3,
           recorded_time_text AS s1, CAST(NULL AS VARCHAR) AS s2,
           CAST(NULL AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2,
           CAST(NULL AS DOUBLE) AS d1
    FROM {_oracle("f3_computed_columns")}
    UNION ALL
    SELECT 'j5', CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
           region_name, nation_name,
           CAST(customer_cnt AS BIGINT), CAST(NULL AS BIGINT),
           CAST(total_acctbal AS DOUBLE)
    FROM {_oracle("j5_dim_enrichment")}
    UNION ALL
    SELECT 'semi_anti', CAST(c_custkey AS BIGINT), CAST(NULL AS TIMESTAMP),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
           c_name, status, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM {_oracle("j_semi_anti")}
    UNION ALL
    SELECT 'a2', CAST(NULL AS BIGINT), bucket_ts, CAST(NULL AS TIMESTAMP),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(event_cnt AS BIGINT),
           CAST(user_cnt AS BIGINT), CAST(NULL AS DOUBLE)
    FROM {_oracle("a2_bucket_counts")}
    UNION ALL
    SELECT 'w5', CAST(user_id AS BIGINT), s_start, s_end,
           CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(event_cnt AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM {_oracle("w5_session_windows")}
    UNION ALL
    SELECT 'union', CAST(event_id AS BIGINT), bucket_ts,
           CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
           event_type, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(value AS DOUBLE)
    FROM {_oracle("u1_union_components")}
    UNION ALL
    SELECT 'intersect_except', CAST(user_id AS BIGINT),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
           CAST(NULL AS TIMESTAMP), membership, CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM {_oracle("set_intersect_except")}
    UNION ALL
    SELECT 'distinct', CAST(user_id AS BIGINT), CAST(NULL AS TIMESTAMP),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP), event_type,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM {_oracle("a_distinct_pairs")}
    """


@query("rel_suite", oracle=_rel_oracle(), tags=("F3", "J5", "A2", "T2", "U1", "set", "composite"))
def rel_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-relational suite folding eight single-concept queries into
    one driver slot: computed-column enrichment (f3), broadcast dim
    enrichment (j5), semi/anti existence joins (j_semi_anti), bucket
    existence counts (a2), session windows (w5), bag union of the two
    component streams (u1_union_components — the reference's U+V
    append; duplicate bag semantics ride the multiset-sensitive hash),
    INTERSECT/EXCEPT membership labels (set_intersect_except), and
    exact DISTINCT (a_distinct_pairs). Each component's FULL row set
    rides through tagged — nothing is sampled away."""
    f3 = REGISTRY["f3_computed_columns"].build(spark, sf_dir)
    j5 = REGISTRY["j5_dim_enrichment"].build(spark, sf_dir)
    sa = REGISTRY["j_semi_anti"].build(spark, sf_dir)
    a2 = REGISTRY["a2_bucket_counts"].build(spark, sf_dir)
    w5 = REGISTRY["w5_session_windows"].build(spark, sf_dir)
    u1 = REGISTRY["u1_union_components"].build(spark, sf_dir)
    se = REGISTRY["set_intersect_except"].build(spark, sf_dir)
    dp = REGISTRY["a_distinct_pairs"].build(spark, sf_dir)
    return (
        _part(f3, "f3", id=_b("event_id"), ts1=F.col("ts"),
              ts2=F.col("bucket_3h"), ts3=F.col("bucket_6h"),
              s1=_s("recorded_time_text"), s2=_ns(), n1=_nb(), n2=_nb(),
              d1=_nd())
        .unionByName(
            _part(j5, "j5", id=_nb(), ts1=_nt(), ts2=_nt(), ts3=_nt(),
                  s1=_s("region_name"), s2=_s("nation_name"),
                  n1=_b("customer_cnt"), n2=_nb(), d1=_d("total_acctbal"))
        )
        .unionByName(
            _part(sa, "semi_anti", id=_b("c_custkey"), ts1=_nt(), ts2=_nt(),
                  ts3=_nt(), s1=_s("c_name"), s2=_s("status"), n1=_nb(),
                  n2=_nb(), d1=_nd())
        )
        .unionByName(
            _part(a2, "a2", id=_nb(), ts1=F.col("bucket_ts"), ts2=_nt(),
                  ts3=_nt(), s1=_ns(), s2=_ns(), n1=_b("event_cnt"),
                  n2=_b("user_cnt"), d1=_nd())
        )
        .unionByName(
            _part(w5, "w5", id=_b("user_id"), ts1=F.col("s_start"),
                  ts2=F.col("s_end"), ts3=_nt(), s1=_ns(), s2=_ns(),
                  n1=_b("event_cnt"), n2=_nb(), d1=_nd())
        )
        .unionByName(
            _part(u1, "union", id=_b("event_id"), ts1=F.col("bucket_ts"),
                  ts2=_nt(), ts3=_nt(), s1=_s("event_type"), s2=_ns(),
                  n1=_nb(), n2=_nb(), d1=_d("value"))
        )
        .unionByName(
            _part(se, "intersect_except", id=_b("user_id"), ts1=_nt(),
                  ts2=_nt(), ts3=_nt(), s1=_s("membership"), s2=_ns(),
                  n1=_nb(), n2=_nb(), d1=_nd())
        )
        .unionByName(
            _part(dp, "distinct", id=_b("user_id"), ts1=_nt(), ts2=_nt(),
                  ts3=_nt(), s1=_s("event_type"), s2=_ns(), n1=_nb(),
                  n2=_nb(), d1=_nd())
        )
    )


# ---------------------------------------------------------------------------
# x_sim_ivf_suite — in-session + persisted-index IVF sharing ONE trained
# quantizer (r5 fold: the two entries trained identical centroids twice)
# ---------------------------------------------------------------------------


def _ivf_suite_oracle(sf_dir: str) -> str:
    from .registry import resolve_oracle

    sess = resolve_oracle(REGISTRY["x_sim_topk_ivf"], sf_dir)
    idx = resolve_oracle(REGISTRY["x_sim_topk_ivf_index"], sf_dir)
    brute = resolve_oracle(REGISTRY["x_sim_topk_bruteforce"], sf_dir)
    pq_t = resolve_oracle(REGISTRY["x_pq_topk"], sf_dir)
    pq_c = resolve_oracle(REGISTRY["x_pq_codes"], sf_dir)
    ivfpq = resolve_oracle(REGISTRY["x_ivfpq_topk"], sf_dir)
    return f"""
    SELECT 'session' AS part, query_id, neighbor_id, cosine_sim, rank
    FROM ({sess})
    UNION ALL
    SELECT 'indexed', query_id, neighbor_id, cosine_sim, rank
    FROM ({idx})
    UNION ALL
    SELECT 'brute', query_id, neighbor_id, cosine_sim, rank
    FROM ({brute})
    UNION ALL
    SELECT 'pq', query_id, neighbor_id, cosine_sim, rank
    FROM ({pq_t})
    UNION ALL
    SELECT 'ivfpq', query_id, neighbor_id, cosine_sim, rank
    FROM ({ivfpq})
    UNION ALL
    SELECT 'pq_codes', CAST(vec_id AS BIGINT), CAST(sub AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(code AS BIGINT)
    FROM ({pq_c})
    """


@query("x_sim_ivf_suite", oracle=_ivf_suite_oracle, tags=("ext", "similarity", "composite"))
def x_sim_ivf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF similarity suite: the in-session probe (nprobe=8) and the
    persisted-index probe (nprobe=4, partition-pruned) answered from
    ONE trained coarse quantizer — build_ivf_index trains (or reuses,
    via its content fingerprint) the on-disk index, the session part
    reads the centroids back instead of retraining the identical
    deterministic k-means. The exact brute-force cosine top-k — the
    recall baseline every ANN variant is judged against — rides along
    as a third part on the same (query, neighbor, sim, rank) schema.
    Late r11 adds the PQ compression leg: the 16-byte-code table
    (slot-packed `pq_codes` part) and the ADC-shortlist exact-rerank
    top-k (`pq` part, recall@10 = 1.0 vs the brute part on this
    corpus). Values are bit-identical to the standalone components
    (same centroids/codebooks, same assignment, same rerank), which
    stay registered and pytest-verified individually."""
    import numpy as np

    from ..operators.similarity import build_ivf_index, load_ivf_centroids

    from .extensions import _ivf_index_path, _spread

    emb = _spread(tables(spark, sf_dir)["embeddings"])
    idx = _ivf_index_path(sf_dir)
    build_ivf_index(emb, idx, n_cells=16, iters=5)
    centroids = load_ivf_centroids(spark, idx)
    probes = emb.filter(F.col("vec_id") < 8)
    # ONE cell scan answers BOTH IVF parts (r12): the session part is
    # the nprobe=8 probe through the index (== in-session topk_ivf for
    # the same quantizer, pinned by test_ivf_index_persists_and_prunes)
    # and the nprobe=4 indexed part is exactly its candidates whose
    # cell ranks in the query's top 4 — the probe order is the same
    # stable argsort _assign_cells_pandas pins, reproduced driver-side
    # over the same float64-normalized vectors, so both parts'
    # candidate sets and cosine values are bit-identical to two
    # independent topk_ivf_indexed calls (equality pinned at two sfs)
    # at ~2/3 the scan+rerank cost (interleaved A/B: 1.04 → 0.81 s).
    from ..operators.similarity import (
        _norm_col,
        _pull_probes_memo,
        _rerank_cosine_prenorm,
    )

    # ONE bounded probe pull serves the cell-order table here AND both
    # PQ legs below (r14 opt: three identical 8-row toPandas jobs per
    # build), memoized on the index marker + probe lineage so repeated
    # builds against an unchanged index launch ZERO eager jobs — which
    # also makes the whole composite admissible to the prepared-plan
    # cache (registry eager-build re-probe) from its second build.
    qpdf = _pull_probes_memo(spark, probes, "vec_id", "embedding", idx)
    Q = np.array(qpdf["embedding"].tolist(), dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    order = np.argsort(-(Qn @ centroids.T), axis=1, kind="stable")[:, :8]
    qp = spark.createDataFrame(
        [
            (int(q), int(order[i, r]), r)
            for i, q in enumerate(qpdf["vec_id"])
            for r in range(8)
        ],
        "query_id long, cell int, __crank int",
    )
    qv = probes.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        _norm_col("embedding", 64).alias("__qn"),
    )
    from ..operators.similarity import _read_index_parquet

    cells_t = _read_index_parquet(spark, idx, "cells").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        "cell",
    ).withColumn("__cn", _norm_col("__cv", 64))
    scored8 = managed_cache(
        cells_t.join(F.broadcast(qp), "cell")
        .join(F.broadcast(qv), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", "__crank",
            _rerank_cosine_prenorm(
                "__qv", "__cv", "__qn", "__cn", 64
            ).alias("cosine_sim"),
        ),
        "x_sim_ivf_suite", "scored8",
    )
    w_ivf = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )

    def _topk(df):
        return (
            df.withColumn("rank", F.row_number().over(w_ivf))
            .filter(F.col("rank") <= 10)
            .select("query_id", "neighbor_id", "cosine_sim", "rank")
        )

    sess = _topk(scored8)
    indexed = _topk(scored8.filter(F.col("__crank") < 4))
    brute = REGISTRY["x_sim_topk_bruteforce"].build(spark, sf_dir)
    # PQ (late r11): the compression leg — codes table + ADC-shortlist
    # rerank top-k, both replica-literal-hashed (slot-packed: codes
    # ride (query_id=vec_id, neighbor_id=sub, rank=code)). Trained and
    # encoded ONCE here (the same move as the shared IVF quantizer
    # above): the standalone x_pq_* entries each train their own
    # codebooks — identical deterministic values, but two trainings
    # and two encode passes the composite doesn't need to pay.
    from ..operators.similarity import (
        _exact_rerank_shortlist,
        build_ivfpq_codes,
        ivfpq_shortlist,
        pq_encode,
        topk_pq,
    )
    from .extensions import (
        _IVFPQ_NPROBE,
        _PQ_ITERS,
        _PQ_K,
        _PQ_KS,
        _PQ_M,
        _PQ_SHORTLIST,
        _pq_books,
    )

    books = _pq_books(spark, sf_dir)
    pq_codes = managed_cache(
        pq_encode(emb, books), "x_sim_ivf_suite", "pq_codes"
    )
    pq_c = pq_codes.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )
    cols = dict(query_id=_b("query_id"), neighbor_id=_b("neighbor_id"),
                cosine_sim=_d("cosine_sim"), rank=_b("rank"))
    # IVFPQ (r12): the composed shape — reuses the index THIS suite
    # already built and the same codebooks; only build_ivfpq_codes'
    # one-time cell-partitioned write (marker-idempotent) is new.
    # The flat-PQ and IVFPQ shortlists union into ONE TAGGED rerank
    # (r12 shave): both parts' exact refine rides a single pair of
    # full-table scans instead of two — values unchanged (the window
    # partitions on (tag, query), so each variant ranks alone).
    build_ivfpq_codes(spark, idx, books)
    short_pq = topk_pq(
        probes, pq_codes, books, k=_PQ_SHORTLIST, probes_pdf=qpdf
    ).select("query_id", "neighbor_id")
    short_iv = ivfpq_shortlist(
        spark, idx, probes, books,
        nprobe=_IVFPQ_NPROBE, shortlist=_PQ_SHORTLIST, centroids=centroids,
        probes_pdf=qpdf,
    )
    tagged = short_pq.withColumn("__t", F.lit("pq")).unionByName(
        short_iv.withColumn("__t", F.lit("iv"))
    )
    rr = _exact_rerank_shortlist(
        tagged, emb, _PQ_K, "vec_id", "embedding", 64, tag_col="__t"
    )
    pq_t = rr.filter(F.col("__t") == "pq").drop("__t")
    ivfpq = rr.filter(F.col("__t") == "iv").drop("__t")
    return (
        _part(sess, "session", **cols)
        .unionByName(_part(indexed, "indexed", **cols))
        .unionByName(_part(brute, "brute", **cols))
        .unionByName(_part(pq_t, "pq", **cols))
        .unionByName(_part(ivfpq, "ivfpq", **cols))
        .unionByName(
            _part(pq_c, "pq_codes", query_id=_b("vec_id"),
                  neighbor_id=_b("sub"), cosine_sim=_nd(),
                  rank=_b("code"))
        )
    )


# ---------------------------------------------------------------------------
# x_dedup_pairs_suite — exact + Jaccard + SimHash dedup in one slot
# (r5 fold; MinHash-LSH and CC-clustering keep their own slots — they
# are the structurally distinct scale paths)
# ---------------------------------------------------------------------------


def _dedup_pairs_oracle() -> str:
    return f"""
    SELECT 'exact' AS part, CAST(doc_id AS BIGINT) AS k1,
           CAST(NULL AS BIGINT) AS k2, text AS s1,
           CAST(copies AS BIGINT) AS n1, CAST(NULL AS DOUBLE) AS d1
    FROM {_oracle("x_dedup_exact")}
    UNION ALL
    SELECT 'jaccard', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(jaccard AS DOUBLE)
    FROM {_oracle("x_dedup_jaccard")}
    UNION ALL
    SELECT 'simhash', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(hamming AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM {_oracle("x_dedup_simhash")}
    UNION ALL
    SELECT 'editdist', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(dist AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM {_oracle("x_dedup_editdist")}
    """


@query("x_dedup_pairs_suite", oracle=_dedup_pairs_oracle(), tags=("ext", "dedup", "composite"))
def x_dedup_pairs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pairs suite: exact dedup representatives (x_dedup_exact),
    inverted-index Jaccard pairs (x_dedup_jaccard), banded SimHash
    pairs (x_dedup_simhash), and rare-shingle-blocked Levenshtein
    pairs (x_dedup_editdist — the character-level family member),
    tagged into one superset. The MinHash-LSH path and the CC
    clustering keep standalone slots — they are the structurally
    distinct 100 TB paths worth separate timing."""
    from ..functions.text import shingle_docs_pandas
    from ..operators.dedup import jaccard_join_adaptive

    from .extensions import _spread, simhash_pairs_from_shingles

    ex = REGISTRY["x_dedup_exact"].build(spark, sf_dir)
    ed = REGISTRY["x_dedup_editdist"].build(spark, sf_dir)
    # the Jaccard and SimHash parts shingle the SAME corpus the same
    # way (3-gram multisets); one persisted Arrow shingle pass feeds
    # both instead of each part re-running it.
    # work_factor=64: two pair-generation passes ride this one scan —
    # the 3-gram posting explosion plus the banded SimHash fold
    # multiply downstream CPU well past the scan bytes (A/B at sf0.1:
    # spread 2.14 s vs gated-off 3.34 s), the same shape that sized
    # decontamination's factor.
    docs = _spread(tables(spark, sf_dir)["documents"], work_factor=64)
    with_sh = managed_cache(
        shingle_docs_pandas(docs, "doc_id", "text", 3, out="sh0")
    )
    ja = jaccard_join_adaptive(with_sh, "doc_id", "sh0", threshold=0.5)
    si = simhash_pairs_from_shingles(with_sh, shingle_col="sh0")
    return (
        _part(ex, "exact", k1=_b("doc_id"), k2=_nb(), s1=_s("text"),
              n1=_b("copies"), d1=_nd())
        .unionByName(
            _part(ja, "jaccard", k1=_b("id_a"), k2=_b("id_b"), s1=_ns(),
                  n1=_nb(), d1=_d("jaccard"))
        )
        .unionByName(
            _part(si, "simhash", k1=_b("id_a"), k2=_b("id_b"), s1=_ns(),
                  n1=_b("hamming"), d1=_nd())
        )
        .unionByName(
            _part(ed, "editdist", k1=_b("id_a"), k2=_b("id_b"), s1=_ns(),
                  n1=_b("dist"), d1=_nd())
        )
    )


# ---------------------------------------------------------------------------
# promoted slots: driver entries whose WORK a composite already runs
# ---------------------------------------------------------------------------
#
# A "promotion" gives a folded component its own driver correctness row
# (its exact values carry their own hash signal instead of riding only
# the composite's superset hash). The promotion is correctness
# bookkeeping, not new engine work: the composite on the right executes
# the same work with bit-identical outputs inside its own timed run —
# usually literally via REGISTRY[slot].build, but NOT always the same
# physical plan (x_grouped_models covers x_ewma through a fused
# single-pass kernel, ewma_trend_group); what tests pin is registry
# membership + output equality, so a composite refactor that stops
# producing a slot's outputs must also remove the slot from this map
# or bench.py silently drops that work from the timed surface.
# bench.py excludes these slots from the
# timed sweep and the headline total — timing both would double-count
# the same cluster work (VERDICT r8 #3 measured it at ~5-8 s of a
# 46.7 s recorded total). Correctness is untouched: the driver still
# verifies every slot below as its own CORRECTNESS row.
PROMOTED_SLOTS: dict[str, str] = {
    "x_bm25_topk": "x_text_suite",
    "x_curation_pipeline": "x_doc_pipeline_suite",
    "x_dedup_editdist": "x_dedup_pairs_suite",
    "x_dedup_exact": "x_dedup_pairs_suite",
    "x_dedup_jaccard": "x_dedup_pairs_suite",
    "x_dedup_simhash": "x_dedup_pairs_suite",
    "x_ewma": "x_grouped_models",
    "x_mm_decode": "x_layout_mm_suite",
    "x_sim_topk_ivf_index": "x_sim_ivf_suite",
}
