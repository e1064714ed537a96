"""Query-sweep benchmark: times the driver-facing queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE JSON
line on stdout:

    {"metric": "total_query_sec", "value": total_sec, "unit": "sec",
     "queries": {name: sec}, "passes": PASSES, "cpus": C,
     "memo": {"hit": h, "miss": m, "bypass": b}, "sf": S, "n_queries": N}

A run is `build()` plus a `noop`-sink write: plan construction and full
execution are inside the timer, with no driver-side materialization.
The flagship and one tiny pass through the package's Python row node
(`sources.arrow_rows`) run first, untimed, to absorb JVM/codegen
warm-up and the Python worker spawn. Then PASSES full
passes run in pass-major order (every query once, then every query
again), so one query's samples land minutes apart and a host burst
rarely covers all of them. `value` is the sum over queries of each
query's minimum.

The timed surface is the driver registry minus PROMOTED_SLOTS (each
promoted row's plan is built and timed inside its composite), or the
comma-separated names in SPARK_GRAFT_BENCH_ONLY. `cpus` is the live
session's parallelism (`local[N]`, sized in session.py) and `memo` the
session-memo counters (`caching.memo_counts()`) over the timed passes.
The bench writes no file.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections import Counter
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mints_wind_data_ingestion_spark.caching import memo_counts  # noqa: E402
from mints_wind_data_ingestion_spark.plans import PROMOTED_SLOTS  # noqa: E402
from mints_wind_data_ingestion_spark.plans import REGISTRY  # noqa: E402
from mints_wind_data_ingestion_spark.plans import driver_registry  # noqa: E402
from mints_wind_data_ingestion_spark.plans import enable_plan_cache  # noqa: E402
from mints_wind_data_ingestion_spark.session import get_spark  # noqa: E402
from mints_wind_data_ingestion_spark.sources import arrow_rows  # noqa: E402

#: full passes over the surface; each query's reading is its minimum
PASSES = 3

# the driver records only the LAST ~2000 chars of bench stdout, so the
# headline must fit inside that window or it loses its head
_TAIL_CAPTURE_BUDGET = 1900


def sweep(names: list[str], run_once: Callable[[str], float]) -> dict[str, float]:
    """Per-query minimum of `run_once` over PASSES pass-major passes."""
    best: dict[str, float] = {}
    for _ in range(PASSES):
        for name in names:
            dt = run_once(name)
            best[name] = min(best.get(name, dt), dt)
    return {name: round(best[name], 4) for name in names}


def memo_totals() -> Counter:
    """hit/miss/bypass counters of every session-memo kind, summed."""
    total: Counter = Counter()
    for counts in memo_counts().values():
        total.update(counts)
    return total


def headline_line(result: dict) -> str:
    """The one stdout line: compact JSON, per-query seconds to 3 dp. A
    surface too wide for the tail-capture window drops its per-query
    dict rather than ship a line whose head is cut off."""
    headline = dict(
        result,
        queries={k: round(v, 3) for k, v in sorted(result["queries"].items())},
        n_queries=len(result["queries"]),
    )
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) > _TAIL_CAPTURE_BUDGET:
        headline["queries"] = {}
        line = json.dumps(headline, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    spark = get_spark("windflow-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # untimed warm-up: JVM/codegen on the flagship, and one tiny pass
    # through the row node the timed queries cross the Python boundary
    # with, so the first of them doesn't pay the Python worker spawn
    REGISTRY["flagship_latest_by_bucket"].build(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    arrow_rows(
        spark.range(32).repartition(32), lambda ids: {"id": ids}, "id long"
    ).write.format("noop").mode("overwrite").save()

    # prepared-plan reuse (plans.registry.enable_plan_cache), enabled
    # AFTER the warm-up: the warm-up's first build runs the one-time
    # table-load job, which the cache's eager-build detector would
    # otherwise read as an eager build of the flagship
    enable_plan_cache()

    names = (
        sorted(only.split(",")) if only
        else sorted(n for n in driver_registry() if n not in PROMOTED_SLOTS)
    )

    def run_once(name: str) -> float:
        # build() INSIDE the timer: iterative operators (connected
        # components' eager rounds) do real cluster work while building
        t0 = time.perf_counter()
        REGISTRY[name].build(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        # drop per-query cached intermediates (e.g. LSH candidate sets)
        # so one query's cache never skews the next one's heap
        spark.catalog.clearCache()
        return dt

    memo_before = memo_totals()
    timings = sweep(names, run_once)
    memo_after = memo_totals()
    print(headline_line({
        "metric": "total_query_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "passes": PASSES,
        "cpus": spark.sparkContext.defaultParallelism,
        "memo": {
            k: memo_after[k] - memo_before[k] for k in ("hit", "miss", "bypass")
        },
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
