"""Session memos and bounded mid-plan caches — the package's one store
for work reused inside a Spark application.

A long-lived application (bench sweeps, notebook re-runs, a service
re-building the same query) reuses routing decisions, persisted-index
artifacts, parsed expressions and mid-plan caches across builds. All of
them live in ONE dict keyed

    (applicationId, kind, *key)

Key rule: an entry is reused only while every part of its key still
holds, and a part that cannot be known is `None`, which means "do not
memoize".

- The application id scopes every entry to its SparkContext. Entries of
  any other application belong to a stopped session (one live context
  per process) and are swept on every insert.
- Plan parts are `plan_hash(df)`, the analyzed plan's semantic hash. An
  in-memory source's rows are part of its plan.
- Data parts are `data_version(df)`, a digest of the input file listing
  with name, size and mtime per local file (name only for remote files;
  Spark writes unique part names, so overwrites and appends change the
  listing). It is `""` for a source with no input files, where the plan
  hash already carries the rows.
- Any other part (a path, a marker text, parameters) is named by the
  caller.

`memo(spark, kind, key, load)` returns the stored value on a hit, and
calls `load()` and stores its result on a miss. A key with a `None` part
calls `load()`, stores nothing and counts a bypass. `memo_counts()`
snapshots the per-kind hit/miss/bypass counters.

`managed_cache` bounds mid-plan `.cache()` points on the same store.
Several operators cache a plan that more than one consumer reads (a
posting list on both sides of a self-join); a plain `.cache()` is never
released, so every re-build would stack one more CacheManager entry.
Each cache point registers under (owner, slot) — by default the plan's
semantic hash, so identical re-builds share a key — and REPLACES
(unpersists) the previous holder. Live caches are then bounded by the
number of distinct plans, not builds. A consumer still holding the old
DataFrame merely recomputes its subtree; correctness never depends on
a cache. One-shot processes see plain `.cache()` behaviour.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter, defaultdict
from collections.abc import Callable
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "data_version", "managed_cache", "memo", "memo_counts", "plan_hash",
]

#: (applicationId, kind, *key) → memoized value or live cached DataFrame
_store: dict[tuple, Any] = {}
#: kind → {"hit" | "miss" | "bypass": count}
_counts: defaultdict[str, Counter] = defaultdict(Counter)


def _put(app_id: str, key: tuple, value: Any) -> None:
    for dead in [k for k in _store if k[0] != app_id]:
        del _store[dead]
    _store[key] = value


def memo(
    spark: SparkSession, kind: str, key: tuple, load: Callable[[], Any]
) -> Any:
    """`load()`'s value under (applicationId, kind, *key), computed once
    per application; a `None` key part bypasses the store."""
    if any(part is None for part in key):
        _counts[kind]["bypass"] += 1
        return load()
    app_id = spark.sparkContext.applicationId
    full = (app_id, kind, *key)
    if full in _store:
        _counts[kind]["hit"] += 1
        return _store[full]
    _counts[kind]["miss"] += 1
    value = load()
    _put(app_id, full, value)
    return value


def memo_counts() -> dict[str, dict[str, int]]:
    """Snapshot of the hit/miss/bypass counters, per kind."""
    return {kind: dict(c) for kind, c in _counts.items()}


def plan_hash(df: DataFrame) -> int:
    """The analyzed plan's semantic hash (cosmetic differences such as
    aliases' expression ids do not change it)."""
    return df.semanticHash()


def data_version(df: DataFrame) -> str:
    """`count:md5` over the sorted input files, each as name + size +
    mtime where the store is local (one os.stat, no Spark job) and name
    only otherwise. `""` when the source has no input files."""
    files = df.inputFiles()
    if not files:
        return ""
    parts = []
    for f in sorted(files):
        u = urlparse(f)
        if u.scheme in ("file", ""):
            try:
                st = os.stat(unquote(u.path))
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
                continue
            except OSError:
                pass
        parts.append(f)
    digest = hashlib.md5("\n".join(parts).encode()).hexdigest()
    return f"{len(files)}:{digest}"


def managed_cache(
    df: DataFrame, owner: str | None = None, slot: str = ""
) -> DataFrame:
    """Cache `df`, releasing whatever a prior call cached under the
    same (owner, slot). `owner=None` self-keys on `plan_hash(df)` —
    identical re-builds replace, distinct plans coexist. Returns the
    cached DataFrame."""
    app_id = df.sparkSession.sparkContext.applicationId
    key = (app_id, "cache", plan_hash(df) if owner is None else owner, slot)
    old = _store.get(key)
    if old is not None and old is not df:
        old.unpersist()
    _put(app_id, key, df)
    return df.cache()
