"""Simulate the driver's verify pass against __spark_entry__.py.

Builds a VANILLA SparkSession (none of the engine's conf — the driver
owns the session), then:
  t1: entry(spark) smoke → rows >= 0, stable schema
  t2: each queries()[name](spark, sf0.01) vs oracle_sql()[name] in DuckDB
      (row count + sorted-column schema + order-insensitive value hash;
      every t2 line prints the Spark hash, so two trees' runs can be
      diffed line for line)
  then the session-memo hit/miss/bypass counters per kind
  (caching.memo_counts()) over the whole run

Usage: python scripts/driver_sim.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from mints_wind_data_ingestion_spark import caching  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        json.dumps([str(r[i]) for i in order], ensure_ascii=False) for r in rows
    )
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def main() -> int:
    spark = (
        SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    t0 = time.time()
    edf = entrymod.entry(spark)
    erows = edf.collect()
    print(f"t1 entry: {len(erows)} rows, schema={edf.columns} ({time.time()-t0:.1f}s)")
    assert len(erows) > 0, "entry produced 0 rows"

    # lazy oracles embed data-derived literals; resolve them at THIS sf
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        sdf = fn(spark, SF_DIR)
        srows = [tuple(r) for r in sdf.collect()]
        scols = list(sdf.columns)
        if name not in oracles:
            print(f"t2 {name}: rows-only, {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        rel = con.sql(oracles[name])
        dcols = [d[0] for d in rel.description]
        drows = rel.fetchall()
        sh, dh = value_hash(scols, srows), value_hash(dcols, drows)
        ok = (
            len(srows) == len(drows)
            and sorted(scols) == sorted(dcols)
            and sh == dh
        )
        status = "OK " if ok else "FAIL"
        print(
            f"t2 {name}: {status} spark={len(srows)} duck={len(drows)} "
            f"hash={sh if sh == dh else f'{sh}!={dh}'} ({time.time()-t0:.1f}s)"
        )
        if not ok:
            failures.append(name)
    for kind, c in sorted(caching.memo_counts().items()):
        print(f"memo {kind}: " + ", ".join(f"{k}={v}" for k, v in sorted(c.items())))
    print(f"RESULT: {len(qs) - len(failures)}/{len(qs)} queries match at {SF_DIR}")
    if failures:
        print("FAILED:", failures)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
