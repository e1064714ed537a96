"""Interleaved scaling sweep: per-query bench.py times across core counts
and data scales, with every leg of a query group taken adjacent in time.

    python scripts/scaling.py CPUS SF_DIRS [QUERY ...]

CPUS and SF_DIRS are comma-separated lists (e.g. `4,2` and
`/root/testdata/sf0.01,/root/testdata/sf0.1`); a leg is one
(cpus, sf dir) pair. QUERY names default to bench.py's timed surface.

Two full sweeps taken minutes apart sample different host windows, so
their ratios mix scaling with host noise. Here the queries are cut into
groups of GROUP, and for each group every leg runs as its own bench.py
subprocess, back-to-back, so all legs of a group share one window.
ROUNDS rounds repeat this; the table keeps each (query, leg) minimum,
where a leg's reading is already bench.py's minimum over its passes.

Prints one row per query: each leg's seconds, and after the first leg
the ratio to the first leg (> 1 means slower than the first leg).
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from mints_wind_data_ingestion_spark.plans import (  # noqa: E402
    PROMOTED_SLOTS,
    driver_registry,
)

#: queries per bench.py subprocess; small, so a group's legs stay close
GROUP = 7
#: repeats of the whole interleaved schedule
ROUNDS = 2


def run_leg(names: list[str], cpus: int, sf_dir: str) -> dict[str, float]:
    """bench.py's per-query seconds for `names` on one leg."""
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_ONLY=",".join(names),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench.py")],
        capture_output=True, text=True, env=env,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith('{"metric"')]
    if out.returncode or not lines:
        raise RuntimeError(
            f"bench.py failed on c{cpus} {sf_dir}: {out.stderr[-800:]}"
        )
    return json.loads(lines[-1])["queries"]


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    cpus_list = [int(c) for c in sys.argv[1].split(",")]
    legs = list(itertools.product(cpus_list, sys.argv[2].split(",")))
    names = sorted(sys.argv[3:]) or sorted(
        n for n in driver_registry() if n not in PROMOTED_SLOTS
    )
    groups = [names[i:i + GROUP] for i in range(0, len(names), GROUP)]
    best: dict[tuple[str, tuple[int, str]], float] = {}
    for rnd, (gi, group) in itertools.product(range(ROUNDS), enumerate(groups)):
        for leg in legs:
            timings = run_leg(group, *leg)
            for q, sec in timings.items():
                best[q, leg] = min(best.get((q, leg), sec), sec)
            print(
                f"round {rnd + 1}/{ROUNDS} group {gi + 1}/{len(groups)} "
                f"c{leg[0]} {os.path.basename(leg[1])}: "
                f"{sum(timings.values()):.2f}s",
                file=sys.stderr, flush=True,
            )
    width = max(len(n) for n in names)
    labels = [f"c{c}@{os.path.basename(sf)}" for c, sf in legs]
    print(f"{'query':{width}s}  " + "  ".join(f"{lb:>16s}" for lb in labels))
    for q in names:
        base = best[q, legs[0]]
        cells = [f"{base:16.3f}"] + [
            f"{best[q, leg]:9.3f} {best[q, leg] / base:5.2f}x" for leg in legs[1:]
        ]
        print(f"{q:{width}s}  " + "  ".join(cells))


if __name__ == "__main__":
    main()
