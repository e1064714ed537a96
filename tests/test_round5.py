"""Round-5 additions (VERDICT r4 'Next round' #3/#4/#5 + ADVICE):

- S1 executable fetch: discovery → fetch → decode → merge end-to-end
  against a local NOAA-layout fixture tree, replaying
  converter.py:134-181 (open candidates newest-first, first success
  wins, body feeds the decoder) with absence as data, not exceptions.
- S8 DDL executed: create_wind_table_sql runs through spark.sql and a
  row round-trips (dbwindsetup.sql:5-9 behavior, typed).
- Advisory regressions: all-null fingerprint batch, one-class
  confusion matrix, IVF index invalidation on value-only change, and
  complex-packing reference rounding at the float32 boundary.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mints_wind_data_ingestion_spark.operators.discovery import (
    candidates,
)
from mints_wind_data_ingestion_spark.operators.fetch import (
    fetch_binary,
    stage_to_dir,
)
from mints_wind_data_ingestion_spark.sources.grib import (
    decode_binary_df,
    read_grib_dir,
)
from mints_wind_data_ingestion_spark.sources.grib2codec import (
    decode_grib2_bytes,
    encode_grib2_file,
    encode_grib2_message,
    scan_grib2_bytes,
)

NX, NY = 8, 4


def _field(run_h: int, param: int) -> list[float]:
    return [
        round(((i * 11 + run_h * 17 + param * 23) % 2900) / 100.0, 2)
        for i in range(NX * NY)
    ]


def _add_run(tree, run_h: int, with_idx: bool = False) -> dict:
    """Stage one GFS run (U+V at the 12Z observation) into the fixture
    tree; returns {(run_h, param): field}. `with_idx` also stages a
    leading TMP record (which the wind extract must NOT transfer) and
    the NOMADS .idx sidecar with real byte offsets (r10)."""
    ref = datetime(2020, 8, 12, run_h)
    fc = 12 - run_h
    d = tree / "gfs.20200812" / f"{run_h:02d}" / "atmos"
    d.mkdir(parents=True, exist_ok=True)
    fields = {}
    msgs = []
    names = []
    if with_idx:
        msgs.append(
            encode_grib2_message(
                _field(run_h, 0), parameter_number=0,
                parameter_category=0, ref_time=ref, forecast_hours=fc,
                nx=NX, ny=NY,
            )
        )
        names.append("TMP")
    for param in (2, 3):
        vals = _field(run_h, param)
        fields[(run_h, param)] = vals
        msgs.append(
            encode_grib2_message(
                vals, parameter_number=param, ref_time=ref,
                forecast_hours=fc, nx=NX, ny=NY, packing="complex_diff",
            )
        )
        names.append("UGRD" if param == 2 else "VGRD")
    name = f"gfs.t{run_h:02d}z.pgrb2.1p00.f{fc:03d}"
    (d / name).write_bytes(encode_grib2_file(msgs))
    if with_idx:
        offs, o = [], 0
        for m in msgs:
            offs.append(o)
            o += len(m)
        idx = "".join(
            f"{i + 1}:{offs[i]}:d=20200812{run_h:02d}:{names[i]}:"
            f"10 m above ground:{fc} hour fcst:\n"
            for i in range(len(msgs))
        )
        (d / (name + ".idx")).write_text(idx)
    return fields


def _noaa_tree(tmp_path, present_runs):
    """Fixture tree in the reference's URL layout
    (converter.py:136-137): gfs.{yyyymmdd}/{HH}/atmos/
    gfs.t{HH}z.pgrb2.1p00.f{FFF}; forecast hour = 12Z obs − run."""
    tree = tmp_path / "noaa"
    tree.mkdir(exist_ok=True)
    fields = {}
    for run_h in present_runs:
        fields.update(_add_run(tree, run_h))
    return tree, fields


def test_fetch_discovery_to_decode_e2e(spark, tmp_path):
    """converter.py:134-181 replayed declaratively: the newest run
    (12Z) is absent, so the fetch's ok=false row skips it and the
    first available candidate (06Z) wins; its bytes decode to the U+V
    pair which merges on the observation bucket."""
    tree, fields = _noaa_tree(tmp_path, present_runs=(6, 0))

    cands = candidates(spark, "2020-08-12 13:30:00", attempts=6)
    urls = cands.withColumn(
        "url", F.concat(F.lit(f"file://{tree}/"), F.col("url_path"))
    )
    fetched = fetch_binary(urls, "url").cache()

    # absence is data: exactly the two staged runs succeed, the missing
    # newest run carries its error text instead of raising
    assert fetched.filter("ok").count() == 2
    miss = {r.rank: r.error for r in fetched.filter("NOT ok").collect()}
    assert set(miss) == {0, 3, 4, 5} and all(miss.values())

    winner = fetched.filter("ok").orderBy("rank").limit(1).cache()
    w = winner.first()
    assert w.rank == 1
    assert w.run_ts == datetime(2020, 8, 12, 6)
    assert w.forecast_hours == 6

    # decode the winner's bytes directly — no landing dir required —
    # and enrich with the observation bucket (F3, converter.py:63-69)
    decoded = decode_binary_df(
        winner.select(F.col("url").alias("path"), "content")
    ).withColumn("recorded_time", F.lit(w.obs_ts).cast("timestamp"))
    rows = decoded.select(
        F.col("header.parameterNumber").alias("param"),
        "recorded_time",
        "data",
    ).collect()
    assert sorted(r.param for r in rows) == [2, 3]
    for r in rows:
        assert r.recorded_time == datetime(2020, 8, 12, 12)
        want = fields[(6, r.param)]
        assert [round(float(x), 2) for x in r.data] == want

    # merge (J1/J2): U⋈V on the observation bucket → one vector field
    u = decoded.filter("header.parameterNumber = 2").select(
        "recorded_time", F.col("data").alias("u")
    )
    v = decoded.filter("header.parameterNumber = 3").select(
        "recorded_time", F.col("data").alias("v")
    )
    merged = u.join(v, "recorded_time").select(
        "recorded_time",
        F.zip_with("u", "v", lambda a, b: F.sqrt(a * a + b * b)).alias(
            "speed"
        ),
    )
    m = merged.first()
    assert len(m.speed) == NX * NY
    su = fields[(6, 2)][0]
    sv = fields[(6, 3)][0]
    assert abs(m.speed[0] - (su * su + sv * sv) ** 0.5) < 1e-3
    fetched.unpersist()
    winner.unpersist()


def test_fetch_stage_to_landing_then_scan(spark, tmp_path):
    """The landing-dir wiring (S9→S2): fetch → stage_to_dir → the
    existing binaryFile scan decodes what was staged."""
    tree, fields = _noaa_tree(tmp_path, present_runs=(12,))
    cands = candidates(spark, "2020-08-12 13:30:00", attempts=2)
    urls = cands.withColumn(
        "url", F.concat(F.lit(f"file://{tree}/"), F.col("url_path"))
    )
    landing = tmp_path / "landing"
    n = stage_to_dir(fetch_binary(urls, "url"), str(landing))
    assert n == 1  # only the 12Z run exists

    decoded = read_grib_dir(spark, str(landing))
    got = {
        r["header"]["parameterNumber"]: [round(float(x), 2) for x in r["data"]]
        for r in decoded.collect()
    }
    assert got == {p: fields[(12, p)] for p in (2, 3)}


def test_ingest_once_cron_tick_semantics(spark, tmp_path):
    """The full getData() replay (converter.py:119-181) as one batch
    call: first tick ingests the newest available run; a newer run
    appearing supersedes it (upsert J4/T3); a repeat tick is a
    staleness-gated no-op BEFORE any body transfer (F7/F8); an empty
    tree reports no_candidate."""
    from mints_wind_data_ingestion_spark.operators.ingest import ingest_once

    tree, fields = _noaa_tree(tmp_path, present_runs=(0,))
    table = str(tmp_path / "wind_table")
    base = f"file://{tree}"
    now = "2020-08-12 13:30:00"

    # tick 1: only the 00Z run exists (forecast hour 12)
    r1 = ingest_once(spark, base, table, now, attempts=6)
    assert r1["status"] == "merged" and r1["records"] == 2
    assert r1["run_ts"] == datetime(2020, 8, 12, 0)
    got = spark.read.parquet(table)
    assert got.count() == 2
    assert {r.ref_time for r in got.collect()} == {datetime(2020, 8, 12, 0)}

    # tick 2: the 06Z run appears → replaces (newer ref_time wins)
    fields.update(_add_run(tree, 6))
    r2 = ingest_once(spark, base, table, now, attempts=6)
    assert r2["status"] == "merged" and r2["run_ts"] == datetime(2020, 8, 12, 6)
    rows = spark.read.parquet(table).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.ref_time == datetime(2020, 8, 12, 6)
        assert r.recorded_time == datetime(2020, 8, 12, 12)
        assert [round(float(x), 2) for x in r.data] == fields[(6, r.param)]

    # tick 3: nothing newer → staleness gate stops before the fetch
    r3 = ingest_once(spark, base, table, now, attempts=6)
    assert r3["status"] == "skip_current"
    after = sorted((r.recorded_time, r.param, r.ref_time)
                   for r in spark.read.parquet(table).collect())
    assert after == sorted((r.recorded_time, r.param, r.ref_time) for r in rows)

    # tick 4: an empty tree has no candidates at all
    empty = tmp_path / "empty"
    empty.mkdir()
    r4 = ingest_once(spark, f"file://{empty}", table, now, attempts=4)
    assert r4["status"] == "no_candidate"


def test_ddl_executes_and_roundtrips(spark, tmp_path):
    """S8 executed (dbwindsetup.sql:5-9): the emitted DDL runs, a row
    inserts through SQL, and reads back typed — not just a string
    contract."""
    from mints_wind_data_ingestion_spark.sinks import create_wind_table_sql

    name = "wind_ddl_round5"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(create_wind_table_sql(name, location=str(tmp_path / "tbl")))
    try:
        spark.sql(
            f"""
            INSERT INTO {name} VALUES (
              timestamp'2020-08-12 12:00:00', 2,
              timestamp'2020-08-12 06:00:00', 6,
              named_struct('parameterNumber', 2,
                           'refTime', '2020-08-12T06:00:00.000Z'),
              array(CAST(1.5 AS FLOAT), CAST(-2.25 AS FLOAT)),
              date'2020-08-12')
            """
        )
        got = spark.sql(f"SELECT * FROM {name}").collect()
        assert len(got) == 1
        r = got[0]
        assert r.recorded_time == datetime(2020, 8, 12, 12)
        assert r.param == 2
        assert r.header.refTime == "2020-08-12T06:00:00.000Z"
        assert list(r.data) == [1.5, -2.25]
        assert str(r["recorded_date"]) == "2020-08-12"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_rolling_fingerprint_all_null_batch(spark):
    """An Arrow batch whose texts are all null must yield NULL rows,
    not raise on int(NaN) (ADVICE r4)."""
    from mints_wind_data_ingestion_spark.functions.text import (
        rolling_fingerprint,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None)], "doc_id long, text string"
    )
    got = df.select(rolling_fingerprint("text").alias("fp")).collect()
    assert [r.fp for r in got] == [None, None, None]


def test_confusion_single_label(spark):
    """One-class corpus: the scorer must degrade to 'everything is the
    one class', not fail analysis (ADVICE r4)."""
    from mints_wind_data_ingestion_spark.plans.extensions import (
        centroid_sums,
        confusion_from_centroids,
    )

    emb = spark.createDataFrame(
        [(1, 7, [1.0, 0.0]), (2, 7, [0.0, 1.0]), (3, 7, [1.0, 1.0])],
        "vec_id long, label long, embedding array<double>",
    )
    got = confusion_from_centroids(emb, centroid_sums(emb).collect()).collect()
    assert len(got) == 1
    assert (got[0].true_label, got[0].pred_label, got[0].n) == (7, 7, 3)


def test_ivf_index_invalidated_by_value_change(spark, tmp_path):
    """Re-embedding with unchanged ids must rebuild the index — the
    fingerprint folds vector VALUES, not just ids (ADVICE r4)."""
    from mints_wind_data_ingestion_spark.operators.similarity import (
        build_ivf_index,
    )

    path = str(tmp_path / "ivf")

    def emb(shift: float):
        rows = [
            (i, [float((i * 3 + j) % 7) + (shift if i < 8 else 0.0)
                 for j in range(4)])
            for i in range(16)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    build_ivf_index(emb(0.0), path, n_cells=2, iters=2)
    c1 = sorted(
        (r.cell, tuple(r.centroid))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    # same corpus → reuse (no error, marker equal)
    build_ivf_index(emb(0.0), path, n_cells=2, iters=2)
    # same ids, shifted values → MUST retrain, centroids move
    build_ivf_index(emb(5.0), path, n_cells=2, iters=2)
    c2 = sorted(
        (r.cell, tuple(r.centroid))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    assert c1 != c2


def test_ivf_index_invalidated_by_inplace_file_rewrite(spark, tmp_path):
    """A file-backed corpus rewritten IN PLACE (same file name, new
    vectors — e.g. by pyarrow) must rebuild the index: its data version
    folds each file's size and mtime, not only the listing."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mints_wind_data_ingestion_spark.operators.similarity import (
        build_ivf_index,
    )

    corpus = str(tmp_path / "corpus.parquet")
    path = str(tmp_path / "ivf")

    def write(shift: float):
        pq.write_table(pa.table({
            "vec_id": pa.array(range(16), pa.int64()),
            "embedding": [
                [float((i * 3 + j) % 7) + (shift if i < 8 else 0.0)
                 for j in range(4)]
                for i in range(16)
            ],
        }), corpus)

    def centroids():
        return sorted(
            (r.cell, tuple(r.centroid))
            for r in spark.read.parquet(f"{path}/centroids").collect()
        )

    write(0.0)
    build_ivf_index(spark.read.parquet(corpus), path, n_cells=2, iters=2)
    c1 = centroids()
    write(5.0)
    # a later rewrite, even on a filesystem with coarse mtimes
    st = os.stat(corpus)
    os.utime(corpus, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))
    build_ivf_index(spark.read.parquet(corpus), path, n_cells=2, iters=2)
    assert c1 != centroids()


def _patch_pdt(msg: bytes, new_pdt: int) -> bytes:
    """Byte-patch a message's section-4 product-definition template
    number (no checksums in GRIB2, so the frame stays valid)."""
    o = 16
    while o < len(msg) - 4:
        slen, snum = int.from_bytes(msg[o : o + 4], "big"), msg[o + 4]
        if snum == 4:
            return (
                msg[: o + 7] + new_pdt.to_bytes(2, "big") + msg[o + 9 :]
            )
        o += slen
    raise AssertionError("no section 4")


def test_mixed_template_corpus_quarantine(spark, tmp_path):
    """grib2json template breadth (grib2json README.md:30-37): a file
    mixing supported wind records, a different-category record the
    --fc filter drops, and a product-template the codec does not
    implement. Strict decode fails the file LOUD; the scan path
    decodes everything it can bit-identically and quarantines the
    unsupported message with its rejection text — never a silently
    wrong or missing field."""
    import pytest

    from mints_wind_data_ingestion_spark.sources.grib import (
        make_selector,
        scan_binary_df,
    )

    ref = datetime(2020, 8, 12, 6)
    u = encode_grib2_message(
        _field(6, 2), parameter_number=2, ref_time=ref, nx=NX, ny=NY,
        packing="complex_diff",
    )
    v = encode_grib2_message(
        _field(6, 3), parameter_number=3, ref_time=ref, nx=NX, ny=NY,
        packing="complex",
    )
    # same parameterNumber as U but a different category — the --fc
    # analog must be able to drop it even though --fp alone cannot
    other_cat = encode_grib2_message(
        _field(6, 5), parameter_number=2, parameter_category=0,
        ref_time=ref, nx=NX, ny=NY,
    )
    # simulated-satellite product (template 4.32) — framed-valid,
    # outside the codec's family (the whole GEFS ensemble-product set
    # 4.1-4.12 graduated to supported by r8)
    unsupported = _patch_pdt(
        encode_grib2_message(
            _field(6, 7), parameter_number=2, ref_time=ref, nx=NX, ny=NY
        ),
        32,
    )
    blob = encode_grib2_file([u, v, other_cat, unsupported])
    landing = tmp_path / "mixed"
    landing.mkdir()
    (landing / "mixed.grib2").write_bytes(blob)

    # 1. strict codec: the file fails loud
    with pytest.raises(ValueError, match=r"template 4\.32 unsupported"):
        decode_grib2_bytes(blob)
    # 2. the scan decodes the three valid messages
    assert len([m for m in scan_grib2_bytes(blob) if m["error"] is None]) == 3

    binary = spark.read.format("binaryFile").load(str(landing))
    # 3. the reference's own selection (--fp 2/3 --fs 103 --fv 10.0)
    #    CANNOT drop the same-number different-category record — that
    #    is precisely the --fc gap — so 3 records survive and the bad
    #    template is quarantined with its error text
    scanned = scan_binary_df(binary).cache()
    good = scanned.filter("error IS NULL").collect()
    assert sorted(r["header"]["parameterNumber"] for r in good) == [2, 2, 3]
    quar = scanned.filter("error IS NOT NULL").collect()
    assert len(quar) == 1
    assert "template 4.32 unsupported" in quar[0]["error"]
    assert quar[0]["data"] is None and quar[0]["header"] is None
    scanned.unpersist()

    # 3b. adding --fc 2 narrows to exactly the wind pair, values intact
    wind = scan_binary_df(binary, make_selector(fc=2)).filter(
        "error IS NULL"
    ).collect()
    assert sorted(r["header"]["parameterNumber"] for r in wind) == [2, 3]
    for r in wind:
        p = r["header"]["parameterNumber"]
        assert [round(float(x), 2) for x in r["data"]] == _field(6, p)

    # 4. --fc analog: category 0 selection keeps ONLY the temperature-
    #    family record (same param number as U, different category)
    fc0 = scan_binary_df(
        binary, make_selector(fp=None, fc=0, fs=None, fv=None)
    ).filter("error IS NULL").collect()
    assert len(fc0) == 1
    assert fc0[0]["header"]["parameterCategory"] == 0
    assert [round(float(x), 2) for x in fc0[0]["data"]] == _field(6, 5)


def test_pack_complex_ref_rounding_at_float32_boundary():
    """When float32 rounds the scaled minimum UP (16777219.4 →
    16777220.0), the stored reference previously exceeded the minimum
    and rint(scaled − ref) went negative at the min positions — the
    old clamp silently absorbed the deficit. The −inf-rounded
    reference must sit at or below every scaled value so offsets are
    non-negative by construction, and the pre-cast reconstruction
    stays within half a quantization step (ADVICE r4)."""
    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        _pack_complex,
    )

    base = 16777219.4  # float32 nearest is 16777220.0 (δ = 0.6 > ½)
    assert float(np.float32(base)) > base
    vals = [base + i for i in (0.0, 1.0, 3.0, 6.0, 2.0, 0.0, 9.0, 4.0)]
    for order in (0, 1, 2):
        _tmpl, _payload, ref = _pack_complex(np.asarray(vals), 0, order)
        assert ref <= min(vals), (order, ref)

    # full wire round-trip still lands on the float32 of the true
    # value for every cell (ties included)
    msg = encode_grib2_message(
        vals,
        parameter_number=2,
        ref_time=datetime(2020, 8, 12, 6, tzinfo=timezone.utc).replace(
            tzinfo=None
        ),
        nx=4, ny=2, decimal_scale=0, packing="complex_diff",
    )
    rec = decode_grib2_bytes(encode_grib2_file([msg]))[0]
    got = np.asarray(rec["data"], dtype=np.float64)
    # error budget: ½ step quantization + ½ float32 output ulp (= 1.0
    # at 2^24) — the old clamp added up to a full extra step on top
    assert np.all(np.abs(got - np.asarray(vals)) <= 1.5 + 1e-6), (
        got - np.asarray(vals)
    )


# ---------------------------------------------------------------------------
# size-gated _spread (r5 A/B: unconditional repartition measured slower
# on sub-MB scans; spread must engage only when bytes x work_factor
# clears the threshold, and always on under-split remote scans)
# ---------------------------------------------------------------------------


def test_spread_skips_small_local_scan(spark, sf_dir):
    """A sub-MB single-file parquet scan must NOT pick up the
    round-robin exchange — at that size the shuffle costs more than
    the single-core work it parallelizes (measured, see _spread)."""
    from mints_wind_data_ingestion_spark.plans.extensions import _spread
    from mints_wind_data_ingestion_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    plan = _spread(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_spread_work_factor_engages_on_amplified_work(spark, sf_dir):
    """A caller declaring heavy downstream CPU amplification (the
    8-gram posting explosion) must still get the spread even on a
    small scan: bytes x work_factor clears _SPREAD_MIN_BYTES."""
    from mints_wind_data_ingestion_spark.plans.extensions import _spread
    from mints_wind_data_ingestion_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    big = _spread(docs, work_factor=1 << 20)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan
    par = spark.sparkContext.defaultParallelism
    assert big.rdd.getNumPartitions() == par


def test_sizing_treats_a_vanished_input_file_as_unknown(spark, tmp_path):
    """An input file deleted after the scan is planned makes the size
    unknown (None), never an exception: `_spread` then spreads and the
    BM25 gate takes its 32 salt buckets — the same branches a remote
    store takes."""
    from urllib.parse import urlparse

    from mints_wind_data_ingestion_spark.plans.extensions import (
        _bm25_salt_buckets,
        _local_input_bytes,
        _spread,
    )

    out = str(tmp_path / "t")
    spark.range(100).coalesce(1).write.parquet(out)
    df = spark.read.parquet(out)
    [part] = df.inputFiles()
    assert _local_input_bytes([part]) > 0
    os.remove(urlparse(part).path)
    assert _local_input_bytes(df.inputFiles()) is None
    plan = _spread(df)._jdf.queryExecution().executedPlan().toString()
    par = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({par})" in plan
    assert _bm25_salt_buckets(df) == 32


def test_spread_noop_on_in_memory_lineage(spark):
    """No input files (range/in-memory lineage) → partitioning was
    already chosen by the producer; _spread must not second-guess."""
    from mints_wind_data_ingestion_spark.plans.extensions import _spread

    df = spark.range(100)
    assert _spread(df) is df


def test_cluster_split_is_leakage_safe(spark, sf_dir):
    """The r5 split column on x_dedup_cluster must never separate a
    detected near-dup pair: both ends of every Jaccard>=0.5 pair land
    in the SAME split (the property a doc-id split violates), and the
    assignment is the shared 80/10/10 rule keyed on cluster_id."""
    from mints_wind_data_ingestion_spark.plans import REGISTRY

    clusters = (
        REGISTRY["x_dedup_cluster"].build(spark, sf_dir)
        # r14: the suite also carries the PageRank part (split =
        # 'pr:<out>:<in>'); the leakage property is about the cluster
        # rows only
        .filter(~F.col("split").startswith("pr:"))
        .cache()
    )
    pairs = REGISTRY["x_dedup_jaccard"].build(spark, sf_dir)
    a = clusters.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    b = clusters.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    straddling = (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter("split_a <> split_b")
        .count()
    )
    assert straddling == 0
    # all three splits actually occur, and sizes are plausibly 80/10/10
    sizes = {r["split"]: r["n"] for r in
             clusters.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == {"train", "val", "test"}
    total = sum(sizes.values())
    assert sizes["train"] / total > 0.6
    clusters.unpersist()


def test_threshold_hex_boundaries_match_rates():
    """_threshold's hex strings are exact rate boundaries: the shared
    80/10/10 split rule's literals derive from it, and hypothesis-style
    spot rates round-trip to within one 16^-6 ulp."""
    from mints_wind_data_ingestion_spark.operators.sampling import (
        _threshold,
    )

    assert _threshold(0.8) == "cccccc"
    assert _threshold(0.9) == "e66666"
    assert _threshold(1.0) == "gggggg"  # above any hex string
    for rate in (0.0, 0.1, 0.25, 1 / 3, 0.5, 0.999):
        t = _threshold(rate)
        back = int(t, 16) / 16**6
        assert abs(back - rate) < 16**-6 + 1e-12


@settings(deadline=None, max_examples=8)
@given(st.data())
def test_editdist_pairs_match_reference_model(spark, data):
    """Property: editdist_dedup_pairs equals an independent pure-Python
    re-derivation of its full contract — rare-shingle blocking (df in
    [2, cap]) then relative-Levenshtein verify — on random word-soup
    corpora with planted near-duplicates."""
    import math

    from collections import Counter
    from itertools import combinations

    from mints_wind_data_ingestion_spark.operators.dedup import (
        editdist_dedup_pairs,
    )

    vocab = [f"w{i}" for i in range(12)]
    n_docs = data.draw(st.integers(4, 10), label="n_docs")
    base = [
        data.draw(
            st.lists(st.sampled_from(vocab), min_size=6, max_size=30),
            label=f"doc{i}",
        )
        for i in range(n_docs)
    ]
    # plant near-dups: copies of random docs with one word swapped
    n_dups = data.draw(st.integers(0, 3), label="n_dups")
    docs = list(base)
    for _ in range(n_dups):
        src = data.draw(st.sampled_from(base), label="dup_src")
        mut = list(src)
        mut[data.draw(st.integers(0, len(mut) - 1), label="pos")] = (
            data.draw(st.sampled_from(vocab), label="w")
        )
        docs.append(mut)
    texts = [" ".join(t) for t in docs]

    N, CAP, REL = 4, 4, 0.3

    from tests.conftest import ref_levenshtein as lev

    sh = {
        i: {" ".join(t[j:j + N]) for j in range(max(len(t) - N + 1, 0))}
        for i, t in enumerate(docs)
    }
    df = Counter(s for ss in sh.values() for s in ss)
    rare = {s for s, c in df.items() if 2 <= c <= CAP}
    expected = {}
    for a, b in combinations(range(len(docs)), 2):
        if sh[a] & sh[b] & rare:
            d = lev(texts[a], texts[b])
            if d <= math.ceil(REL * max(len(texts[a]), len(texts[b]))):
                expected[(a, b)] = d

    sdf = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.dist
        for r in editdist_dedup_pairs(
            sdf, "doc_id", "text",
            shingle_n=N, max_rel_dist=REL, rare_cap=CAP,
        ).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# .idx inventory + byte-range partial fetch (r10)
# ---------------------------------------------------------------------------


def _three_message_file(tmp_path):
    """A 3-record pgrb2-shaped file (UGRD, VGRD, TMP) + its NOMADS
    .idx sidecar with REAL byte offsets."""
    from datetime import datetime, timezone

    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        encode_grib2_file,
        encode_grib2_message,
    )

    rt = datetime(2020, 8, 12, 6, tzinfo=timezone.utc)
    vals = lambda s: [((i * 7 + s * 31) % 2600) / 100.0 for i in range(24)]
    msgs = [
        encode_grib2_message(vals(1), parameter_number=2, ref_time=rt,
                             nx=6, ny=4),                      # UGRD
        encode_grib2_message(vals(2), parameter_number=3, ref_time=rt,
                             nx=6, ny=4, packing="complex"),   # VGRD
        encode_grib2_message(vals(3), parameter_number=0,
                             parameter_category=0, ref_time=rt,
                             nx=6, ny=4),                      # TMP
    ]
    blob = encode_grib2_file(msgs)
    path = tmp_path / "gfs.t06z.pgrb2.1p00.f006"
    path.write_bytes(blob)
    offs = [0, len(msgs[0]), len(msgs[0]) + len(msgs[1])]
    names = ["UGRD", "VGRD", "TMP"]
    idx = "".join(
        f"{i + 1}:{offs[i]}:d=2020081206:{names[i]}:10 m above ground:"
        f"6 hour fcst:\n"
        for i in range(3)
    )
    (tmp_path / (path.name + ".idx")).write_text(idx)
    return str(path), msgs


def test_parse_and_select_idx():
    from mints_wind_data_ingestion_spark.operators.fetch import (
        parse_grib_idx,
        select_idx_records,
    )

    text = (
        "1:0:d=2020081206:UGRD:10 m above ground:6 hour fcst:\n"
        "2:1000:d=2020081206:VGRD:10 m above ground:6 hour fcst:\n"
        "garbage line that must be skipped\n"
        "3:2500:d=2020081206:TMP:2 m above ground:6 hour fcst:\n"
    )
    recs = parse_grib_idx(text)
    assert [(r["msg"], r["start"], r["end"]) for r in recs] == [
        (1, 0, 1000), (2, 1000, 2500), (3, 2500, None)]
    assert recs[0]["ref"] == "2020081206"
    sel = select_idx_records(recs, ("UGRD", "VGRD"),
                             level="10 m above ground")
    assert [r["var"] for r in sel] == ["UGRD", "VGRD"]
    assert select_idx_records(recs, ("UGRD",), forecast="anl") == []


def test_fetch_grib_ranges_partial_fetch_decodes(spark, tmp_path):
    """The ranged fetch pulls ONLY the selected records' bytes and
    each fragment decodes standalone — the 2-of-N ingress reduction
    the .idx convention exists for."""
    import numpy as np

    from mints_wind_data_ingestion_spark.operators.fetch import (
        fetch_grib_ranges,
    )
    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        decode_grib2_bytes,
    )

    path, msgs = _three_message_file(tmp_path)
    df = spark.createDataFrame([(path,)], "url string")
    out = fetch_grib_ranges(df, variables=("UGRD", "VGRD")).collect()
    assert len(out) == 2
    by_var = {r["variable"]: r for r in out}
    assert set(by_var) == {"UGRD", "VGRD"}
    u, v = by_var["UGRD"], by_var["VGRD"]
    assert u["ok"] and v["ok"]
    assert (u["range_start"], u["range_end"]) == (0, len(msgs[0]))
    assert (v["range_start"], v["range_end"]) == (
        len(msgs[0]), len(msgs[0]) + len(msgs[1]))
    # the fragment IS the exact message and decodes standalone
    assert bytes(u["content"]) == msgs[0]
    [rec] = decode_grib2_bytes(bytes(v["content"]))
    assert rec["header"]["parameterNumber"] == 3
    # last-record selection fetches to EOF
    t = fetch_grib_ranges(df, variables=("TMP",)).collect()
    assert len(t) == 1 and t[0]["range_end"] is None
    assert bytes(t[0]["content"]) == msgs[2]


def test_fetch_grib_ranges_absence_is_data(spark, tmp_path):
    """Missing idx and no-match both yield one ok=false row with the
    reason — absence stays data, the fetch_binary contract."""
    from mints_wind_data_ingestion_spark.operators.fetch import (
        fetch_grib_ranges,
    )

    path, _ = _three_message_file(tmp_path)
    df = spark.createDataFrame(
        [(path,), (str(tmp_path / "missing.pgrb2"),)], "url string"
    )
    out = fetch_grib_ranges(df, variables=("ABSENT_VAR",)).collect()
    assert len(out) == 2 and all(not r["ok"] for r in out)
    errs = {r["url"]: r["error"] for r in out}
    assert "no matching records" in errs[path]
    assert "idx:" in errs[str(tmp_path / "missing.pgrb2")]


def test_ingest_once_idx_mode_partial_fetch_and_fallback(spark, tmp_path):
    """use_idx=True transfers only the UGRD/VGRD byte ranges (the
    staged TMP record is never fetched) yet merges the IDENTICAL
    table the full-fetch tick produces; a tree with no sidecar falls
    back to the whole-file fetch transparently."""
    from mints_wind_data_ingestion_spark.operators.ingest import ingest_once

    now = "2020-08-12 13:30:00"

    # idx-equipped tree (U, V AND a TMP record + real-offset sidecar)
    tree, fields = _noaa_tree(tmp_path, present_runs=())
    fields.update(_add_run(tree, 6, with_idx=True))
    t_idx = str(tmp_path / "t_idx")
    r = ingest_once(spark, f"file://{tree}", t_idx, now, attempts=6,
                    use_idx=True)
    assert r["status"] == "merged" and r["records"] == 2
    rows = spark.read.parquet(t_idx).collect()
    assert sorted(x.param for x in rows) == [2, 3]
    for x in rows:
        assert [round(float(v), 2) for v in x.data] == fields[(6, x.param)]

    # full-fetch tick over the same tree → identical table
    t_full = str(tmp_path / "t_full")
    r2 = ingest_once(spark, f"file://{tree}", t_full, now, attempts=6)
    assert r2["status"] == "merged" and r2["records"] == 2
    a = sorted((x.param, tuple(x.data)) for x in rows)
    b = sorted((x.param, tuple(x.data))
               for x in spark.read.parquet(t_full).collect())
    assert a == b

    # no sidecar anywhere → idx mode falls back, still merges
    (tmp_path / "plain").mkdir()
    tree2, f2 = _noaa_tree(tmp_path / "plain", present_runs=(6,))
    t_fb = str(tmp_path / "t_fb")
    r3 = ingest_once(spark, f"file://{tree2}", t_fb, now, attempts=6,
                     use_idx=True)
    assert r3["status"] == "merged" and r3["records"] == 2


from hypothesis import given as _given, settings as _settings
from hypothesis import strategies as _st


@_settings(deadline=None, max_examples=60)
@_given(
    offs=_st.lists(_st.integers(0, 10**9), min_size=1, max_size=12,
                   unique=True),
    data=_st.data(),
)
def test_parse_grib_idx_property(offs, data):
    """Inventory parsing is order-insensitive and end-stitching is
    exact: for ANY offset set, ends are the successor offsets (last =
    None), and junk lines never perturb the parse."""
    from mints_wind_data_ingestion_spark.operators.fetch import (
        parse_grib_idx,
        select_idx_records,
    )

    offs_sorted = sorted(offs)
    names = [
        data.draw(_st.sampled_from(["UGRD", "VGRD", "TMP", "APCP"]))
        for _ in offs
    ]
    lines = [
        f"{i + 1}:{o}:d=2020081206:{names[i]}:10 m above ground:"
        f"6 hour fcst:"
        for i, o in enumerate(offs)
    ]
    lines.insert(data.draw(_st.integers(0, len(lines))), "not an idx line")
    if data.draw(_st.booleans()):
        lines.reverse()
    recs = parse_grib_idx("\n".join(lines))
    assert [r["start"] for r in recs] == offs_sorted
    assert [r["end"] for r in recs] == offs_sorted[1:] + [None]
    # contiguity: every byte past the first offset belongs to exactly
    # one record's range
    for a, b in zip(recs, recs[1:]):
        assert a["end"] == b["start"]
    sel = select_idx_records(recs, ("UGRD", "VGRD"))
    assert all(r["var"] in ("UGRD", "VGRD") for r in sel)
    assert len(sel) == sum(n in ("UGRD", "VGRD") for n in names)
