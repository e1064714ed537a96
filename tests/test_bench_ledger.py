"""bench.py, the query-sweep benchmark: its estimator, its one-line
stdout contract, its timed surface, and the guarantee that a run — at
any core count — writes nothing into the checkout (there is no ledger
for one regime's numbers to leak into)."""

from __future__ import annotations

import ast
import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"


def test_sweep_is_pass_major_min_over_passes():
    """Every query once per pass, passes in sequence (so one query's
    samples are a full pass apart), and each reading is its minimum."""
    from bench import PASSES, sweep

    readings = {"a": [3.0, 1.0, 2.0], "b": [0.5, 0.7, 0.6], "c": [9.0, 9.0, 8.0]}
    calls: list[str] = []

    def run_once(name: str) -> float:
        calls.append(name)
        return readings[name][sum(c == name for c in calls) - 1]

    assert PASSES == 3
    assert sweep(["a", "b", "c"], run_once) == {"a": 1.0, "b": 0.5, "c": 8.0}
    assert calls == ["a", "b", "c"] * PASSES


def test_headline_line_fits_driver_tail_capture():
    """The driver records only the last ~2000 chars of bench stdout.
    The headline must stay inside the budget with the current surface,
    carry the contract keys, and degrade by dropping the per-query dict
    rather than shipping a truncated head."""
    from bench import PASSES, _TAIL_CAPTURE_BUDGET, headline_line

    from mints_wind_data_ingestion_spark.plans import (
        PROMOTED_SLOTS,
        driver_registry,
    )

    names = [n for n in driver_registry() if n not in PROMOTED_SLOTS]
    result = {
        "metric": "total_query_sec",
        "value": 123.4567,
        "unit": "sec",
        "queries": {n: 1.2345 for n in names},
        "passes": PASSES,
        "cpus": 32,
        "memo": {"hit": 12345, "miss": 678, "bypass": 9},
        "sf": 0.1,
    }
    line = headline_line(result)
    assert len(line) <= _TAIL_CAPTURE_BUDGET
    parsed = json.loads(line)
    assert parsed["queries"] and parsed["n_queries"] == len(names)
    for key in ("metric", "value", "unit", "sf", "cpus", "memo"):
        assert parsed[key] == result[key]

    # pathological surface: the fallback drops queries, never truncates
    wide = dict(result)
    wide["queries"] = {f"x_very_long_query_name_{i:04d}": 1.0
                      for i in range(200)}
    line = headline_line(wide)
    assert len(line) <= _TAIL_CAPTURE_BUDGET
    assert json.loads(line)["queries"] == {}


def test_promoted_slots_are_driver_rows_backed_by_driver_composites():
    """Every promoted slot (excluded from bench timing) must still be a
    driver correctness row, and its subsuming composite must itself be
    a TIMED driver row — otherwise excluding the slot would drop its
    work from the headline entirely."""
    from mints_wind_data_ingestion_spark.plans import (
        PROMOTED_SLOTS,
        driver_registry,
    )

    dr = driver_registry()
    timed = set(dr) - set(PROMOTED_SLOTS)
    for slot, composite in PROMOTED_SLOTS.items():
        assert slot in dr, f"{slot} is not a driver row"
        assert composite in timed, (
            f"{slot}'s composite {composite} is not a timed driver row"
        )


def test_bench_reads_two_env_knobs_and_one_scaling_script():
    """bench.py is steered by the data dir and the query subset only,
    and scripts/ holds one scaling script."""
    with open(os.path.join(REPO, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    reads, uses = [], 0
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
            uses += 1
        if isinstance(node, ast.Call) and ast.unparse(node.func) in (
            "os.environ.get", "os.getenv",
        ):
            reads.append(node.args[0].value)
        if isinstance(node, ast.Subscript) and ast.unparse(node.value) == "os.environ":
            reads.append(node.slice.value)
    assert set(reads) == {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_ONLY"}
    # every environ/getenv use is one of those literal-key reads
    assert uses == len(reads)
    scaling = glob.glob(os.path.join(REPO, "scripts", "scaling*.py"))
    assert [os.path.basename(p) for p in scaling] == ["scaling.py"]


@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.1 testdata absent")
def test_reduced_core_bench_run_prints_contract_and_writes_nothing():
    """A 2-core subset run at sf0.1 prints one parseable contract line
    and leaves the checkout exactly as it found it."""

    def status() -> str:
        return subprocess.run(
            ["git", "status", "--porcelain"], cwd=REPO,
            capture_output=True, text=True, check=True,
        ).stdout

    before = status()
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF01,
        SPARK_GRAFT_BENCH_ONLY="flagship_latest_by_bucket",
        SPARK_GRAFT_CPUS="2",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")], cwd=REPO,
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 1, out.stdout[-2000:]
    parsed = json.loads(lines[0])
    assert parsed["metric"] == "total_query_sec" and parsed["unit"] == "sec"
    assert list(parsed["queries"]) == ["flagship_latest_by_bucket"]
    assert abs(parsed["value"] - parsed["queries"]["flagship_latest_by_bucket"]) < 1e-3
    assert parsed["sf"] == 0.1 and parsed["cpus"] == 2
    assert set(parsed["memo"]) == {"hit", "miss", "bypass"}
    assert status() == before
