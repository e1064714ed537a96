"""The session-memo store (`caching.py`): its counters, its key rule and
a guard that every session memo in the package lives there."""

from __future__ import annotations

import ast
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq

from mints_wind_data_ingestion_spark import caching
from mints_wind_data_ingestion_spark.operators.dedup import (
    jaccard_join_adaptive,
)

PACKAGE = pathlib.Path(caching.__file__).parent


def _delta(before: dict, kind: str) -> dict:
    now = caching.memo_counts().get(kind, {})
    old = before.get(kind, {})
    return {k: now.get(k, 0) - old.get(k, 0) for k in ("hit", "miss", "bypass")}


def test_memo_counts_hit_miss_bypass_and_sweep(spark, tmp_path):
    corpus = str(tmp_path / "corpus.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(20), pa.int64()),
        "sh": [[f"s{i}x{j}" for j in range(6)] for i in range(20)],
    }), corpus)

    def route():
        before = caching.memo_counts()
        jaccard_join_adaptive(
            spark.read.parquet(corpus), "doc_id", "sh", 0.5, cache=False
        )
        return _delta(before, "route")

    # a rebuild over unchanged parquet: miss, then hit
    assert route() == {"hit": 0, "miss": 1, "bypass": 0}
    assert route() == {"hit": 1, "miss": 0, "bypass": 0}

    # an in-place overwrite of the same file is a miss
    pq.write_table(pa.table({
        "doc_id": pa.array(range(20), pa.int64()),
        "sh": [[f"s{i}x{j}" for j in range(6)] for i in range(20)],
    }), corpus)
    st = os.stat(corpus)
    os.utime(corpus, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))
    assert route() == {"hit": 0, "miss": 1, "bypass": 0}

    # a key with a None part computes every time and stores nothing
    before = caching.memo_counts()
    calls = []
    for _ in range(2):
        got = caching.memo(
            spark, "test-bypass", ("x", None), lambda: calls.append(1) or 7
        )
        assert got == 7
    assert calls == [1, 1]
    assert _delta(before, "test-bypass") == {"hit": 0, "miss": 0, "bypass": 2}
    assert not [k for k in caching._store if k[1] == "test-bypass"]

    # an insert sweeps entries of a dead application
    dead = ("app-dead-456", "test-sweep", "k")
    caching._store[dead] = object()
    caching.memo(spark, "test-sweep", ("k",), lambda: 1)
    assert dead not in caching._store
    app = spark.sparkContext.applicationId
    assert caching._store.pop((app, "test-sweep", "k")) == 1


def _module_level_containers(tree: ast.Module):
    """Names bound at module level to an empty dict/set/list or to a
    dict-like constructor call."""
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        empty = isinstance(value, (ast.Dict, ast.Set, ast.List)) and not (
            value.keys if isinstance(value, ast.Dict) else value.elts
        )
        ctor = isinstance(value, ast.Call) and any(
            s in ast.unparse(value.func)
            for s in ("dict", "Dictionary", "defaultdict", "set")
        )
        if empty or ctor:
            for t in targets:
                yield ast.unparse(t)


#: module-level containers in session-aware modules that are not session
#: memos of the kind `caching.py` owns: the query registry itself, and
#: the prepared-plan cache (an opt-in bench regime with its own switch)
_NOT_SESSION_MEMOS = {
    ("plans/registry.py", "REGISTRY"),
    ("plans/registry.py", "_plan_cache"),
}


def test_session_memos_live_only_in_caching():
    """No module reads the private analyzed-plan hash chain, and no
    module outside `caching.py` that touches application or session
    identity keeps a module-level container of its own."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        src = path.read_text()
        if "queryExecution().analyzed()" in src:
            offenders.append(f"{rel}: private semantic-hash chain")
        if rel == "caching.py":
            continue
        session_aware = any(
            s in src
            for s in ("applicationId", "WeakKeyDictionary", "id(spark",
                      "getActiveSession")
        )
        if not session_aware:
            continue
        for name in _module_level_containers(ast.parse(src)):
            if (rel, name) not in _NOT_SESSION_MEMOS:
                offenders.append(f"{rel}: module-level memo {name}")
    assert offenders == []
