"""Source & streaming coverage: the GRIB decode UDTF plumbing (X1),
watermarked streaming window aggregation (T2/T4), and property-based
verification of the discovery calendar arithmetic (SURVEY.md §5
strategy #3 — the class of bug at converter.py:204, a hand-rolled
`year % 4` leap test, cannot survive this)."""

from __future__ import annotations

import datetime as dt
import glob
import os

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from mints_wind_data_ingestion_spark.operators.discovery import (
    MAX_ATTEMPTS,
    OBS_BUCKET_HOURS,
    RUN_CYCLE_HOURS,
    candidates,
)
from mints_wind_data_ingestion_spark.sources.grib import fake_decoder, read_grib_dir
from mints_wind_data_ingestion_spark.sources.wind_json import to_wind_table
from mints_wind_data_ingestion_spark.streaming.pipeline import stream_windowed_counts


def _encode_uv_file(nx=4, ny=3, shift=0.0, extra_param=None) -> bytes:
    """Build a REAL GRIB2 file: 10 m U and V wind messages (simple
    packing), optionally plus a record the --fp filter must drop."""
    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        encode_grib2_file,
        encode_grib2_message,
    )

    rt = dt.datetime(2020, 8, 12, 6, tzinfo=dt.timezone.utc)
    n = nx * ny
    msgs = [
        encode_grib2_message(
            [round(p * 10 + i * 0.25 + shift, 2) for i in range(n)],
            parameter_number=p, ref_time=rt, nx=nx, ny=ny,
        )
        for p in (2, 3)
    ]
    if extra_param is not None:
        msgs.append(
            encode_grib2_message(
                [1.0] * n, parameter_number=extra_param, ref_time=rt,
                nx=nx, ny=ny, surface1_type=1, surface1_value=0.0,
            )
        )
    return encode_grib2_file(msgs)


def test_grib_binaryfile_decode(spark, tmp_path):
    """X1/S2 end-to-end with REAL GRIB2 binary: binaryFile scan →
    Arrow-batched decode UDTF (grib2codec bit-unpacking), one file in,
    many records out, record filter applied like grib2json --fp/--fs/
    --fv, schema-checked."""
    (tmp_path / "f0.grb2").write_bytes(_encode_uv_file(shift=0.0, extra_param=7))
    (tmp_path / "f1.grb2").write_bytes(_encode_uv_file(shift=5.0))
    decoded = read_grib_dir(spark, str(tmp_path))  # default = real decoder
    rows = decoded.collect()
    assert len(rows) == 4  # 2 files × (U, V); param 7 filtered out
    by_key = {(os.path.basename(r.source_path), r.header.parameterNumber): r for r in rows}
    assert set(k[1] for k in by_key) == {2, 3}
    r = by_key[("f0.grb2", 2)]
    assert r.header.numberPoints == 12 and len(r.data) == 12
    assert r.header.surface1Type == 103 and r.header.surface1Value == 10.0
    assert r.header.refTime == "2020-08-12T06:00:00.000Z"
    assert r.data[0] == pytest.approx(20.0, abs=1e-6)
    assert by_key[("f1.grb2", 3)].data[2] == pytest.approx(35.5, abs=1e-6)
    # downstream normalization works on decoded output unchanged
    tbl = to_wind_table(decoded.drop("source_path"))
    assert {x.param for x in tbl.collect()} == {2, 3}


def test_grib_plumbing_with_fake_decoder(spark, tmp_path):
    """Unit-test helper path: fake_decoder exercises the UDTF plumbing
    (batching, multi-record output, schema) without binary fixtures."""
    (tmp_path / "f0.grb2").write_bytes(b"grib-one")
    decoded = read_grib_dir(spark, str(tmp_path), decoder=fake_decoder(nx=4, ny=3))
    rows = decoded.collect()
    assert len(rows) == 2
    seed = sum(b"grib-one") % 97
    r = {x.header.parameterNumber: x for x in rows}[2]
    assert r.data[0] == float((seed + 20) % 100)


def test_grib2_codec_edge_cases():
    """Constant fields pack to 0 bits; sign-magnitude scale factors and
    negative values survive; multi-message files decode in order."""
    import numpy as np

    from mints_wind_data_ingestion_spark.sources.grib2codec import (
        decode_grib2_bytes,
        encode_grib2_file,
        encode_grib2_message,
    )

    rt = dt.datetime(2021, 2, 28, 18, tzinfo=dt.timezone.utc)
    const = encode_grib2_message([7.25] * 6, parameter_number=2, ref_time=rt, nx=3, ny=2)
    neg = encode_grib2_message(
        [-40.5, -0.25, 0.0, 12.75, 99.99, -99.99],
        parameter_number=3, ref_time=rt, nx=3, ny=2,
    )
    recs = decode_grib2_bytes(encode_grib2_file([const, neg]))
    assert [r["header"]["parameterNumber"] for r in recs] == [2, 3]
    assert all(r["data"].dtype == np.float32 for r in recs)
    assert np.array_equal(recs[0]["data"], np.float32([7.25] * 6))
    assert np.allclose(
        recs[1]["data"], [-40.5, -0.25, 0.0, 12.75, 99.99, -99.99], atol=1e-5
    )
    assert recs[1]["header"]["refTime"] == "2021-02-28T18:00:00.000Z"


def test_streaming_windowed_counts(spark, tmp_path, sf_dir):
    """T2/T4: watermarked tumbling-window aggregate over a file stream
    equals the same aggregate computed in batch (availableNow drains
    the backlog in one trigger)."""
    from mints_wind_data_ingestion_spark.sources.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"].limit(2000)
    src = str(tmp_path / "events_stream")
    ev.write.parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    agg = stream_windowed_counts(stream, window="6 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (str(r.w_start), r.event_type): (r.event_cnt, r.value_sum)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    expect_df = stream_windowed_counts(spark.read.parquet(src))
    expect = {
        (str(r.w_start), r.event_type): (r.event_cnt, r.value_sum)
        for r in expect_df.collect()
    }
    assert got == expect and len(got) > 0


def test_stream_dedup_within_watermark(spark, tmp_path, sf_dir):
    """§2.9 streaming dedup: duplicated events collapse to one row per
    (user_id, ts) with watermark-BOUNDED state; result equals the batch
    dropDuplicates on the same data."""
    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.pipeline import stream_dedup

    ev = load_tables(spark, sf_dir)["events"].limit(500).select(
        "ts", "user_id", "event_type"
    )
    src = str(tmp_path / "dup_stream")
    # every row twice, one file -> one micro-batch (watermark cannot
    # advance mid-drain and misclassify replayed rows as late)
    ev.union(ev).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        stream_dedup(stream, ["user_id", "ts"])
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, str(r.ts)) for r in spark.sql("SELECT * FROM dedup_stream").collect()
    }
    expect = {
        (r.user_id, str(r.ts))
        for r in spark.read.parquet(src).dropDuplicates(["user_id", "ts"]).collect()
    }
    assert got == expect and len(got) > 0


def test_stream_stream_interval_join(spark, tmp_path, sf_dir):
    """§2.9 stream-stream join: views joined to purchases by the same
    user within 30 minutes, both sides watermarked (state evictable).
    Stream result equals the identical batch interval join."""
    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.pipeline import (
        stream_interval_join,
    )

    ev = load_tables(spark, sf_dir)["events"].limit(3000)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts"), "value"
    )
    vsrc, bsrc = str(tmp_path / "views"), str(tmp_path / "buys")
    views.coalesce(1).write.parquet(vsrc)
    buys.coalesce(1).write.parquet(bsrc)

    vstream = spark.readStream.schema(spark.read.parquet(vsrc).schema).parquet(vsrc)
    bstream = spark.readStream.schema(spark.read.parquet(bsrc).schema).parquet(bsrc)
    q = (
        stream_interval_join(
            vstream, bstream, key="user_id", left_ts="view_ts", right_ts="buy_ts"
        )
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, str(r.view_ts), str(r.buy_ts))
        for r in spark.sql("SELECT * FROM ssj").collect()
    }
    bviews, bbuys = spark.read.parquet(vsrc), spark.read.parquet(bsrc)
    expect = {
        (r.user_id, str(r.view_ts), str(r.buy_ts))
        for r in bviews.alias("l")
        .join(
            bbuys.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.buy_ts") >= F.col("l.view_ts"))
            & (F.col("r.buy_ts") <= F.col("l.view_ts") + F.expr("INTERVAL 30 minutes")),
        )
        .collect()
    }
    assert got == expect and len(got) > 0


def _expected_candidates(now: dt.datetime) -> list[tuple[str, str, int]]:
    """Pure-python model of the discovery schedule: 6 h run cycles
    backwards from now, 3 h observation bucket, offset = obs − run."""
    epoch = int(now.replace(tzinfo=dt.timezone.utc).timestamp())
    run0 = epoch // (RUN_CYCLE_HOURS * 3600) * (RUN_CYCLE_HOURS * 3600)
    obs = epoch // (OBS_BUCKET_HOURS * 3600) * (OBS_BUCKET_HOURS * 3600)
    out = []
    for i in range(MAX_ATTEMPTS):
        run = run0 - i * RUN_CYCLE_HOURS * 3600
        rts = dt.datetime.fromtimestamp(run, dt.timezone.utc)
        out.append(
            (
                rts.strftime("%Y-%m-%d %H:%M:%S"),
                dt.datetime.fromtimestamp(obs, dt.timezone.utc).strftime(
                    "%Y-%m-%d %H:%M:%S"
                ),
                (obs - run) // 3600,
            )
        )
    return out


@settings(max_examples=10, deadline=None)
@given(
    st.datetimes(
        min_value=dt.datetime(1999, 12, 28),
        max_value=dt.datetime(2101, 1, 3),
    ).map(lambda d: d.replace(microsecond=0))
)
def test_discovery_calendar_property(shared_spark, now):
    """Calendar arithmetic property: for ARBITRARY datetimes (century
    leap years included) the declarative candidate schedule equals the
    pure-python epoch model. Subsumes the reference's hand-rolled
    rollback (converter.py:185-227) and kills its `year % 4` bug class."""
    got = [
        (str(r.run_ts), str(r.obs_ts), r.forecast_hours)
        for r in candidates(shared_spark, now.strftime("%Y-%m-%d %H:%M:%S"))
        .orderBy("rank")
        .collect()
    ]
    assert got == _expected_candidates(now)


@pytest.fixture(scope="module")
def shared_spark(spark):
    return spark


def test_discovery_century_edges(spark):
    """Fixed edge pins (besides the property): 2000 IS a leap year,
    2100 is NOT."""
    c2000 = candidates(spark, "2000-03-01 02:00:00", attempts=5).collect()
    assert any(str(r.run_ts).startswith("2000-02-29") for r in c2000)
    c2100 = candidates(spark, "2100-03-01 02:00:00", attempts=5).collect()
    runs = [str(r.run_ts) for r in c2100]
    assert not any(t.startswith("2100-02-29") for t in runs)
    assert any(t.startswith("2100-02-28") for t in runs)


def test_stateful_latest_version_decisions(spark, tmp_path):
    """applyInPandasWithState: per-key winning version lives in
    CHECKPOINTED operator state across restarts — batch 2's newer U
    run emits `replace`, its stale V emits nothing, all without any
    store lookup (the reference re-queried Postgres per run)."""
    import json

    from mints_wind_data_ingestion_spark.schemas import WIND_RECORD
    from mints_wind_data_ingestion_spark.sources.wind_json import to_wind_table
    from mints_wind_data_ingestion_spark.streaming.stateful import (
        latest_version_decisions,
    )
    from tests.test_wind_pipeline import U1, V1, _record, _write_batch

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "decisions")

    def run_once(run_tag: str):
        raw = (
            spark.readStream.schema(WIND_RECORD)
            .option("multiLine", "true")
            .json(str(landing))
        )
        decisions = latest_version_decisions(
            to_wind_table(raw).select("recorded_time", "param", "ref_time")
        )

        def sink(batch, epoch_id):
            import pyspark.sql.functions as SF

            batch.withColumn("run_tag", SF.lit(run_tag)).write.mode(
                "append"
            ).parquet(out)

        q = (
            decisions.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [
            (r.param, r.decision, str(r.ref_time))
            for r in spark.read.parquet(out)
            .filter(F.col("run_tag") == run_tag)
            .collect()
        ]

    _write_batch(
        str(landing / "b1.json"),
        [
            _record(2, "2020-08-12 12:00:00+00", "2020-08-12T06:00:00.000Z", U1),
            _record(3, "2020-08-12 12:00:00+00", "2020-08-12T06:00:00.000Z", V1),
        ],
    )
    first = run_once("dec_run1")
    assert sorted((p, d) for p, d, _ in first) == [(2, 0), (3, 0)]  # inserts

    _write_batch(
        str(landing / "b2.json"),
        [
            # newer U run → replace; stale V run → silence
            _record(2, "2020-08-12 12:00:00+00", "2020-08-12T12:00:00.000Z", U1),
            _record(3, "2020-08-12 12:00:00+00", "2020-08-12T00:00:00.000Z", V1),
        ],
    )
    # fresh query, same checkpoint: state carries across the restart
    second = run_once("dec_run2")
    assert [(p, d) for p, d, _ in second] == [(2, 1)]  # one replace, V silent


def test_continuous_rollup_incremental_and_replay_fenced(spark, tmp_path, sf_dir):
    """Continuous aggregate: 3 landed chunks processed as separate
    epochs (maxFilesPerTrigger=1) additively merge into a rollup table
    that equals the batch groupBy of the full data; a replayed epoch
    (id <= stored max) is skipped whole, so additive merge stays
    exactly-once."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.pipeline import (
        run_continuous_rollup,
    )

    ev = load_tables(spark, sf_dir)["events"].limit(3000).cache()
    landing = str(tmp_path / "landing")
    table = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    # three chunk files = three epochs
    for i in range(3):
        ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    schema = spark.read.parquet(landing).schema
    q = run_continuous_rollup(spark, landing, table, ckpt, schema)
    q.awaitTermination(180)

    def snap(df):
        return {
            (str(r.bucket_start), r.event_type): (r.event_cnt, float(r.value_sum))
            for r in df.collect()
        }

    got = snap(spark.read.parquet(table).drop("src_epoch"))
    expect_df = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("value_sum"),
        )
        .select(F.col("w.start").alias("bucket_start"), "event_type",
                "event_cnt", "value_sum")
    )
    assert got == snap(expect_df) and len(got) > 0
    # multiple epochs actually ran (not one mega-batch)
    assert spark.read.parquet(table).agg(F.max("src_epoch")).first()[0] >= 2

    # replay fence: re-running the stream with the same checkpoint (no
    # new files) must not change the table
    q2 = run_continuous_rollup(spark, landing, table, ckpt, schema)
    q2.awaitTermination(180)
    assert snap(spark.read.parquet(table).drop("src_epoch")) == snap(expect_df)


def test_json_ingest_quarantines_corrupt_records(spark, tmp_path):
    """Ingestion robustness: malformed JSON rows land in the
    _corrupt_record column (PERMISSIVE mode) instead of failing the
    batch — the quarantine pattern for untrusted feeds. Valid rows
    parse fully; corrupt ones are countable/divertable."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"a": 1, "b": "ok"}\n'
        "{not json at all}\n"
        '{"a": 2, "b": "fine"}\n'
        '{"a": "wrong-type-but-parseable"}\n'
    )
    schema = StructType(
        [
            StructField("a", StringType()),
            StructField("b", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()
    )
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 3 and bad.count() == 1
    assert "{not json at all}" in bad.first()["_corrupt_record"]


def test_dedup_ingest_cross_batch_and_replay(spark, tmp_path, sf_dir):
    """Incremental corpus ingestion: cross-chunk duplicate texts are
    appended exactly once (first-arriving epoch wins, lowest id within
    a batch); replaying the stream with the same checkpoint leaves the
    corpus unchanged."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.pipeline import run_dedup_ingest

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    # 3 chunks; chunk 1 and 2 share some texts (re-landed duplicates)
    chunks = [
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter((F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)),
        docs.filter(F.col("doc_id") % 10 == 0),  # pure re-land
    ]
    for c in chunks:
        c.coalesce(1).write.mode("append").parquet(landing)

    schema = spark.read.parquet(landing).schema
    q = run_dedup_ingest(spark, landing, corpus, ckpt, schema)
    q.awaitTermination(180)

    got = spark.read.parquet(corpus)
    n_distinct_texts = docs.select("text").distinct().count()
    assert got.select("text").distinct().count() == n_distinct_texts
    assert got.count() == n_distinct_texts  # exactly one copy per text
    epochs = {r.epoch for r in got.select("epoch").distinct().collect()}
    assert len(epochs) >= 2  # genuinely incremental, not one mega-batch

    before = sorted(map(tuple, got.drop("epoch").collect()))
    q2 = run_dedup_ingest(spark, landing, corpus, ckpt, schema)
    q2.awaitTermination(180)
    after = sorted(map(tuple, spark.read.parquet(corpus).drop("epoch").collect()))
    assert after == before


def test_neardup_ingest_drops_planted_near_dups(spark, tmp_path, sf_dir):
    """Incremental NEAR-dup ingestion: after streaming the documents
    corpus in 3 chunks, the stored corpus contains no pair with exact
    n-gram Jaccard >= 0.5 (the planted near-dups are dropped whether
    they arrive in the same chunk or epochs apart), and every
    non-duplicate document survives. Replay leaves the corpus
    unchanged."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.functions.text import shingle_docs_pandas
    from mints_wind_data_ingestion_spark.operators.dedup import (
        jaccard_similarity_join,
    )
    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.pipeline import run_neardup_ingest

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    for i in range(3):
        docs.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    schema = spark.read.parquet(landing).schema
    q = run_neardup_ingest(spark, landing, corpus, ckpt, schema)
    q.awaitTermination(240)

    kept = spark.read.parquet(corpus).select("doc_id", "text")
    # no near-dup pair survives (exact check over the kept corpus)
    with_sh = shingle_docs_pandas(kept, "doc_id", "text", 3, out="sh")
    assert jaccard_similarity_join(with_sh, "doc_id", "sh", 0.5).isEmpty()
    # every doc not in ANY >=0.5 pair must survive
    all_sh = shingle_docs_pandas(docs, "doc_id", "text", 3, out="sh")
    pairs = jaccard_similarity_join(all_sh, "doc_id", "sh", 0.5)
    in_pairs = {
        x for r in pairs.collect() for x in (r.id_a, r.id_b)
    }
    kept_ids = {r.doc_id for r in kept.collect()}
    clean = {r.doc_id for r in docs.collect()} - in_pairs
    assert clean <= kept_ids
    # replay: unchanged
    before = sorted(kept_ids)
    q2 = run_neardup_ingest(spark, landing, corpus, ckpt, schema)
    q2.awaitTermination(240)
    assert sorted(r.doc_id for r in spark.read.parquet(corpus).collect()) == before


def test_dedup_ingest_corrupt_corpus_fails_epoch(spark, tmp_path, sf_dir):
    """A transiently-unreadable/corrupt stored corpus must FAIL the
    epoch (so the checkpoint retries it) — never be treated as 'first
    epoch, no corpus yet', which would silently skip cross-batch dedup
    and append duplicates (VERDICT r2 'What's wrong' #1)."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.pipeline import run_dedup_ingest

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") < 50).coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema
    q = run_dedup_ingest(spark, landing, corpus, ckpt, schema)
    q.awaitTermination(120)
    stored_before = spark.read.parquet(corpus).count()
    assert stored_before > 0

    # corrupt every stored parquet footer, then land a re-delivery of
    # the same documents plus some new ones
    for f in glob.glob(os.path.join(corpus, "epoch=*", "*.parquet")):
        with open(f, "r+b") as fh:
            fh.seek(0)
            fh.write(b"\x00CORRUPT\x00" * 16)
    docs.filter(F.col("doc_id") < 80).coalesce(1).write.mode("append").parquet(landing)

    q2 = run_dedup_ingest(spark, landing, corpus, ckpt, schema)
    with pytest.raises(Exception) as ei:
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()
    assert "CORRUPT" in str(ei.value) or "parquet" in str(ei.value).lower() or \
        "Magic" in str(ei.value)
    # and crucially: the duplicate re-delivery was NOT appended
    files_after = glob.glob(os.path.join(corpus, "epoch=*"))
    assert len(files_after) == 1, "failed epoch must not publish output"


def test_neardup_ingest_corrupt_corpus_fails_epoch(spark, tmp_path, sf_dir):
    """Same contract as the exact-dedup ingest: a corrupt stored
    signature corpus fails the epoch rather than silently re-admitting
    near-duplicates."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.pipeline import run_neardup_ingest

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") < 40).coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema
    q = run_neardup_ingest(spark, landing, corpus, ckpt, schema)
    q.awaitTermination(180)
    assert spark.read.parquet(corpus).count() > 0

    for f in glob.glob(os.path.join(corpus, "epoch=*", "*.parquet")):
        with open(f, "r+b") as fh:
            fh.seek(0)
            fh.write(b"\x00CORRUPT\x00" * 16)
    docs.filter(F.col("doc_id") < 60).coalesce(1).write.mode("append").parquet(landing)

    q2 = run_neardup_ingest(spark, landing, corpus, ckpt, schema)
    with pytest.raises(Exception):
        q2.awaitTermination(180)
        if q2.exception() is not None:
            raise q2.exception()
    assert len(glob.glob(os.path.join(corpus, "epoch=*"))) == 1


def test_stream_dedup_on_rocksdb_state_store(spark, tmp_path, sf_dir):
    """The 100 TB state posture: streaming dedup must run unchanged on
    the RocksDB state-store provider (disk-backed, bounded heap — the
    provider a large-state production deployment uses instead of the
    default in-memory HDFS-backed store) and produce exactly the
    default provider's results."""
    from pyspark.sql import functions as F  # noqa: F401

    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.pipeline import stream_dedup

    key = "spark.sql.streaming.stateStore.providerClass"
    default_provider = spark.conf.get(key)
    ev = load_tables(spark, sf_dir)["events"].limit(400).select(
        "ts", "user_id", "event_type"
    )
    src = str(tmp_path / "dup_stream_rocks")
    ev.union(ev).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run(qname: str) -> set:
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_dedup(stream, ["user_id", "ts"])
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{qname}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        return {
            (r.user_id, str(r.ts))
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks = run("dedup_rocks")
    finally:
        spark.conf.set(key, default_provider)
    assert rocks == run("dedup_default") and len(rocks) > 0


def test_streaming_ewma_continues_recurrence_across_batches(spark, tmp_path, sf_dir):
    """streaming_ewma (applyInPandasWithState) over two micro-batches
    must equal the batch ewma_group fold over the concatenation
    EXACTLY — the per-user accumulator survives the batch boundary in
    operator state (bit-exact through the checkpoint)."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.functions.stats import ewma_group
    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.stateful import streaming_ewma

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "value"
    ).filter(F.col("user_id") < 40)
    cut = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = str(tmp_path / "ewma_stream")
    # two landing files split by event_id → with maxFilesPerTrigger=1,
    # batch 1 holds each user's earlier half, batch 2 the later half
    ev.filter(F.col("event_id") <= cut).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("event_id") > cut).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_ewma(stream, alpha=0.2)
        .writeStream.format("memory")
        .queryName("ewma_stream_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    got = {
        (r.user_id, r.event_id): r.ewma_e6
        for r in spark.sql("SELECT * FROM ewma_stream_out").collect()
    }
    want = {
        (r.user_id, r.event_id): r.ewma_e6
        for r in ewma_group(ev, key="user_id", order_col="event_id",
                            val_col="value", alpha=0.2).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_streaming_ewma_group_spanning_arrow_chunks(spark, tmp_path):
    """A single micro-batch whose per-key rows span MULTIPLE Arrow
    record batches must still fold every row: rows are written in
    descending event_id order so, under per-chunk sorting, the later
    chunk's (smaller) ids would be misclassified as late and dropped.
    The operator must materialize the whole group before sorting."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.streaming.stateful import streaming_ewma

    n = 100
    src = str(tmp_path / "chunked")
    # one file = one micro-batch; user 1's rows arrive in DESCENDING id order
    pdf = pd.DataFrame(
        {
            "user_id": [1] * n,
            "event_id": list(range(n, 0, -1)),
            "value": [float(i % 7) for i in range(n)],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "16")  # force ~7 chunks for the one group
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .parquet(src)
        )
        q = (
            streaming_ewma(stream, alpha=0.2)
            .writeStream.format("memory")
            .queryName("ewma_chunked")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        got = spark.sql("SELECT * FROM ewma_chunked").collect()
    finally:
        spark.conf.set(key, before)
    # every row folds exactly once, in ascending event_id order
    assert len(got) == n
    acc, want = None, {}
    for eid, x in sorted(zip(pdf["event_id"], pdf["value"])):
        acc = float(x) if acc is None else 0.2 * float(x) + 0.8 * acc
        want[eid] = int(acc * 1e6 + 0.5)
    assert {r.event_id: r.ewma_e6 for r in got} == want


def test_decontam_ingest_blocks_protected_grams(spark, tmp_path, sf_dir):
    """Streaming decontamination: documents sharing any word-8-gram
    with the protected (eval) set must never reach the corpus, clean
    documents must all arrive, and the gate must agree with the batch
    x_decontaminate audit on the same split."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.operators.sampling import hash_bucket
    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.pipeline import (
        build_gram_index,
        run_decontam_ingest,
    )

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    # protect the EVAL side (hash >= 80% boundary); stream the train side
    protected = docs.filter(~(hash_bucket(F.col("doc_id")) < "cccccc"))
    incoming = docs.filter(hash_bucket(F.col("doc_id")) < "cccccc")

    grams = str(tmp_path / "protected_grams")
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    build_gram_index(protected, grams)

    # two landing chunks → two epochs
    incoming.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    incoming.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    schema = spark.read.parquet(landing).schema
    q = run_decontam_ingest(spark, landing, grams, corpus, ckpt, schema)
    q.awaitTermination(180)
    assert q.exception() is None

    kept = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}

    # ground truth: naive 8-gram overlap against the protected set
    def grams_of(text):
        t = text.split()
        return {" ".join(t[i : i + 8]) for i in range(max(len(t) - 7, 0))}

    prot = set()
    for r in protected.collect():
        prot |= grams_of(r.text)
    want = {
        r.doc_id for r in incoming.collect() if not (grams_of(r.text) & prot)
    }
    assert kept == want
    assert len(kept) < incoming.count()  # planted overlaps were blocked


def test_quality_gate_ingest_filters_and_quarantines(spark, tmp_path, sf_dir):
    """Streaming Gopher gate: only gopher_pass documents reach the
    corpus, rejects land in quarantine WITH their metrics, the union
    is exactly the input, and the gate agrees with the batch
    repetition_features verdict on the same documents."""
    from pyspark.sql import functions as F

    from mints_wind_data_ingestion_spark.operators.quality import (
        repetition_features,
    )
    from mints_wind_data_ingestion_spark.sources.tables import load_tables
    from mints_wind_data_ingestion_spark.streaming.pipeline import (
        run_quality_gate_ingest,
    )

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    # add a guaranteed-degenerate landing doc so quarantine is non-empty
    bad = spark.createDataFrame(
        [(99_000_001, "spam " * 40)], "doc_id long, text string"
    )
    incoming = docs.unionByName(bad)

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    incoming.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    incoming.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    schema = spark.read.parquet(landing).schema
    q = run_quality_gate_ingest(
        spark, landing, corpus, ckpt, schema, quarantine_path=quarantine
    )
    q.awaitTermination(180)
    assert q.exception() is None

    kept = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    quar = spark.read.parquet(quarantine)
    dropped = {r.doc_id for r in quar.select("doc_id").collect()}

    want_pass = {
        r.doc_id
        for r in repetition_features(incoming).filter("gopher_pass").collect()
    }
    assert kept == want_pass
    assert kept | dropped == {r.doc_id for r in incoming.collect()}
    assert kept.isdisjoint(dropped)
    assert 99_000_001 in dropped
    # quarantine carries the evidence, not just the ids
    spam = quar.filter("doc_id = 99000001").first()
    assert spam.top2_char_e6 > 200000 and not spam.gopher_pass

    # replay: drop the last epoch's commit so the restart re-runs that
    # epoch (same epoch id, same file) — both the corpus and the
    # quarantine subdirs must come out row-for-row unchanged
    def rows(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    before = rows(corpus), rows(quarantine)
    commits = sorted(
        (p for p in (tmp_path / "ckpt" / "commits").iterdir()
         if p.name.isdigit()),
        key=lambda p: int(p.name),
    )
    commits[-1].unlink()
    commits[-1].with_name(f".{commits[-1].name}.crc").unlink(missing_ok=True)
    q2 = run_quality_gate_ingest(
        spark, landing, corpus, ckpt, schema, quarantine_path=quarantine
    )
    q2.awaitTermination(180)
    assert q2.exception() is None
    replayed = {
        p["batchId"] for p in q2.recentProgress if p["numInputRows"] > 0
    }
    assert replayed == {int(commits[-1].name)}  # the epoch really re-ran
    assert (rows(corpus), rows(quarantine)) == before


def test_quality_gate_ingest_custom_id_column(spark, tmp_path):
    """The gate must work when the id column is not named doc_id —
    repetition_features normalizes to doc_id internally and the
    handler aliases it back for the join."""
    from mints_wind_data_ingestion_spark.streaming.pipeline import (
        run_quality_gate_ingest,
    )

    landing = str(tmp_path / "landing")
    # doc 1 must be long and diverse: in a short doc even a UNIQUE
    # 2-gram covers >20% of the characters and trips the top-2 gate
    spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(80))),
         (2, "dup " * 30)],
        "uid long, text string",
    ).coalesce(1).write.parquet(landing)
    schema = spark.read.parquet(landing).schema
    q = run_quality_gate_ingest(
        spark, landing, str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        schema, id_col="uid",
        quarantine_path=str(tmp_path / "quarantine"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    kept = {r.uid for r in spark.read.parquet(
        str(tmp_path / "corpus")).collect()}
    quar = {r.doc_id for r in spark.read.parquet(
        str(tmp_path / "quarantine")).collect()}
    assert kept == {1} and quar == {2}


def test_pipeline_streams_share_one_skeleton():
    """Every `run_*` stream in streaming.pipeline starts through the one
    epoch skeleton (`_start`), so the module holds exactly one
    `.writeStream` — a copied per-gate skeleton cannot grow back."""
    import inspect

    from mints_wind_data_ingestion_spark.streaming import pipeline

    assert inspect.getsource(pipeline).count(".writeStream") == 1


def test_binary_sources_share_one_decode_node():
    """Every executor-side Python row mapper in the package is the one
    Arrow row node (`sources.arrow_rows`): the binary readers of
    `sources/` through its file-to-rows adapter (`_file_rows_df`), and
    the multimodal, text, LM, quality, fetch, BPE and plan mappers
    directly. The node's batch loop exists once, it is the package's
    only `.mapInArrow(`, and the only `.mapInPandas(` left are the four
    `list<float>` matrix mappers of `operators/similarity.py`, which
    read their input through pandas. The x_grib_* queries decode
    through `decode_binary_df` — only `x_grib_reduced`, which attaches
    per-point lat/lon in its decode pass, calls the codec itself. A
    copied per-site batch loop or per-query UDTF cannot grow back."""
    import ast
    import pathlib

    import mints_wind_data_ingestion_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    texts = {p.relative_to(root).as_posix(): p.read_text()
             for p in sorted(root.rglob("*.py"))}

    def hits(needle):
        return {k: t.count(needle) for k, t in texts.items() if needle in t}

    assert hits("for batch in it") == {"sources/__init__.py": 1}
    assert hits(".mapInArrow(") == {"sources/__init__.py": 1}
    assert hits("zip(paths, contents)") == {"sources/__init__.py": 1}
    pandas_nodes = set()
    for name, text in texts.items():
        for fn in ast.parse(text).body:
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "mapInPandas"):
                    pandas_nodes.add((name, fn.name))
    assert pandas_nodes == {
        ("operators/similarity.py", "_assign_cells_pandas"),
        ("operators/similarity.py", "pq_encode"),
        ("operators/similarity.py", "topk_pq"),
        ("operators/similarity.py", "ivfpq_shortlist"),
    }

    callers = set()
    for path in sorted((root / "plans").glob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Name)
                        and node.func.id == "decode_grib2_bytes"):
                    callers.add(fn.name)
    assert callers == {"x_grib_reduced"}


def test_arrow_rows_node_contract(spark):
    """The row node's conversion rules: a float NaN arrives as NULL in
    a `double` column and inside an `array<float>`; `None` is NULL in
    a `long`; a string id keeps its type; a timestamp passes through
    unchanged under a session time zone other than UTC; one input row
    may emit zero or many output rows; and an empty input batch gives
    zero rows with the schema."""
    import math

    from mints_wind_data_ingestion_spark.sources import arrow_rows

    df = spark.createDataFrame(
        [("a", 0), ("b", 1), ("c", 3)], "id string, n long"
    ).coalesce(1)

    stamps = spark.createDataFrame(
        [(dt.datetime(2020, 8, 12, 6, 0, 1, 5),), (None,)], "ts timestamp"
    )
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
    try:
        passed = arrow_rows(stamps, lambda ts: {"ts": ts}, "ts timestamp")
        assert sorted(passed.collect(), key=str) == sorted(
            stamps.collect(), key=str)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)

    def columns_of(ids, ns):
        out = {"id": [], "k": [], "x": [], "v": []}
        for i, n in zip(ids, ns):
            for k in range(n):  # n = 0 emits no row
                out["id"].append(i)
                out["k"].append(None if k == 1 else k)
                out["x"].append(math.nan if k == 0 else k + 0.5)
                out["v"].append(np.array([k, np.nan], dtype=np.float32))
        return out

    schema = "id string, k long, x double, v array<float>"
    out = arrow_rows(df, columns_of, schema)
    assert out.schema.simpleString() == (
        "struct<id:string,k:bigint,x:double,v:array<float>>"
    )
    got = [tuple(r) for r in out.collect()]
    by_key = {(i, k): (x, v) for i, k, x, v in got}
    assert len(got) == len(by_key) == 4
    assert set(by_key) == {("b", 0), ("c", 0), ("c", None), ("c", 2)}
    assert by_key[("b", 0)] == (None, [0.0, None])
    assert by_key[("c", 2)] == (2.5, [2.0, None])
    assert by_key[("c", None)] == (1.5, [1.0, None])

    # the batch function itself, fed one zero-row input batch
    class Frame:
        def mapInArrow(self, fn, schema):
            return fn

    import pyarrow as pa

    node = arrow_rows(Frame(), columns_of, out.schema)
    empty = pa.RecordBatch.from_pydict(
        {"id": pa.array([], pa.string()), "n": pa.array([], pa.int64())}
    )
    (batch,) = node(iter([empty]))
    assert batch.num_rows == 0
    assert batch.schema.names == ["id", "k", "x", "v"]
    assert str(batch.schema.field("v").type) == "list<element: float>"
