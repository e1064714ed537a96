"""Structured Streaming wrapper — cron-as-stream (SURVEY.md §2.9).

The reference is a hand-cranked micro-batch stream: cron tick = trigger
(README.md:11), NOAA directory = source, Postgres = sink, existence
check + delete/insert = update-mode upsert, deleteOld.py = state TTL.
Here the same semantics are declared:

- file source over the landing dir (T5: backlog/catch-up is native);
- `trigger(availableNow=True)` ≙ one cron tick (T1);
- `foreachBatch` → operators.upsert.merge_latest_wins (T3: newer
  forecast run replaces, equal-or-older skipped) — idempotent per
  epoch, which with checkpointing gives exactly-once (T6) where the
  reference's separate DELETE/INSERT commits could interleave;
- `withWatermark` bounds state for windowed aggs (T4 ≙ 7-day
  retention).

Epoch contract. Every `run_*` stream is one skeleton: a checkpointed
file source (`_landing`, one file per epoch; the two wind streams read
their whole backlog as one epoch), one `foreachBatch` epoch function,
one availableNow run (`_start`). The checkpoint replays a crashed epoch
with the same `epoch_id` and the same input files, and three rules
make that replay a no-op:

- writes are `epoch=N` overwrites (`_write_epoch`): a replayed epoch
  rewrites its own subdirectory and no other, so readers of the
  union of subdirectories never see a partial or doubled epoch;
- cross-epoch reads see only strictly-older epochs (`_older_epochs`):
  a replay must not see its own earlier output, or it would anti-join
  its documents away and write an empty subdirectory;
- every stored table is read through `sinks.read_stored`: an
  unreadable one fails the epoch and the checkpoint retries it. Only
  a missing table (or one with no committed parquet footer) reads as
  "no table yet"; anything else would silently skip cross-epoch dedup
  and re-admit duplicates.

The wind table and the rollup publish through `sinks.publish` instead
(temp write + journaled rename swap): the wind table replaces only the
date partitions its epoch touches (`operators.upsert.upsert_wind_table`),
the rollup the whole table. The latest-wins merge is idempotent by
itself, the additive rollup by its epoch fence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

# merge_latest_wins is re-exported: perfbench/run.py looks it up here
from ..operators.upsert import merge_latest_wins, upsert_wind_table  # noqa: F401
from ..schemas import WIND_RECORD
from ..sinks import publish, read_stored
from ..sources.grib import decode_binary_df
from ..sources.wind_json import to_wind_table, wind_rows

__all__ = [
    "run_ingest_stream",
    "run_grib_ingest_stream",
    "run_wet_ingest_stream",
    "stream_windowed_counts",
    "stream_dedup",
    "stream_interval_join",
    "run_continuous_rollup",
    "run_dedup_ingest",
    "run_neardup_ingest",
    "run_image_dedup_ingest",
    "run_decontam_ingest",
    "run_quality_gate_ingest",
    "run_lm_gate_ingest",
    "run_dsir_gate_ingest",
    "run_semdedup_ingest",
    "run_excise_ingest",
    "build_gram_index",
]

#: streaming file sources require an explicit schema; binaryFile's is
#: fixed by the format
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def _older_epochs(spark: SparkSession, path: str, epoch_id: int):
    """The rows of the epoch-partitioned table at `path` written by
    epochs strictly older than `epoch_id` (partition pruning on the
    `epoch` directory column), or None before the first write."""
    stored = read_stored(spark, path)
    return None if stored is None else stored.filter(F.col("epoch") < epoch_id)


def _write_epoch(df: DataFrame, path: str | None, epoch_id: int) -> None:
    """Overwrite epoch `epoch_id`'s own subdirectory of `path`; a None
    path (an optional quarantine/audit output) writes nothing."""
    if path is not None:
        df.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")


def _landing(
    spark: SparkSession, landing_dir: str, schema, fmt: str = "parquet"
) -> DataFrame:
    """File source over a landing dir, one file per micro-batch: each
    landed chunk is its own epoch (availableNow still drains the whole
    backlog in one run)."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(landing_dir)
    )


def _start(source: DataFrame, checkpoint_dir: str, epoch) -> StreamingQuery:
    """Run `epoch(batch, epoch_id)` over `source` as one checkpointed
    availableNow run — the one stream skeleton of this module. The
    plans feeding it are stateless, and for those append and update
    mode emit the same rows."""
    return (
        source.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(epoch)
        .trigger(availableNow=True)
        .start()
    )


def _run_gate(
    source: DataFrame,
    checkpoint_dir: str,
    corpus_path: str,
    reject_path: str | None,
    score,
    kept,
    rejects,
) -> StreamingQuery:
    """The score-and-split gate: per epoch, `score(batch)` runs once and
    is persisted — it feeds both writes, and without the persist its
    heavy plan would run twice — then `kept(batch, scored)` is written
    to the corpus and `rejects(scored)` (the rows WITH their evidence,
    so curation review sees why each one was dropped) to
    `reject_path`, both under the epoch contract."""

    def epoch(batch: DataFrame, epoch_id: int) -> None:
        scored = score(batch).persist()
        try:
            _write_epoch(kept(batch, scored), corpus_path, epoch_id)
            _write_epoch(rejects(scored), reject_path, epoch_id)
        finally:
            scored.unpersist()

    return _start(source, checkpoint_dir, epoch)


def _verdict(id_col: str, passed):
    """`(kept, rejects)` for `_run_gate` when the scorer emits one
    `doc_id` row per document and `passed` is its verdict: the batch
    rows that pass, and the score rows that fail. The scorers
    normalize the id to doc_id — it is aliased back so caller-named
    id columns join correctly."""
    return (
        lambda batch, scored: batch.join(
            scored.filter(passed).select(F.col("doc_id").alias(id_col)), id_col
        ),
        lambda scored: scored.filter(~passed),
    )


def _best(
    pairs: DataFrame,
    id_col: str,
    dup_id: str,
    match_id: str,
    metric: str,
    descending: bool = False,
) -> DataFrame:
    """One evidence row per dropped item: its strongest match by
    `metric` (the smallest, or the largest when `descending`), ties to
    the lowest match id — a struct min gives both."""
    key = -F.col(metric) if descending else F.col(metric)
    best = F.col("__m.__k")
    return pairs.groupBy(F.col(dup_id).alias(id_col)).agg(
        F.min(F.struct(key.alias("__k"), F.col(match_id).alias("__id")))
        .alias("__m")
    ).select(
        id_col,
        F.col("__m.__id").alias("best_match"),
        (-best if descending else best).alias(metric),
    )


def run_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    table_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Ingest decoded wind-record JSON files from `landing_dir` into the
    wind table at `table_path` with latest-wins merge per
    (recorded_time, param), versioned by ref_time.

    One micro-batch ≙ one reference cron run. foreachBatch is the only
    place imperative code exists — and it is a pure batch merge, so a
    replayed epoch produces identical state (idempotent upsert, §5
    test 4).
    """
    raw = (
        spark.readStream.schema(WIND_RECORD)
        .option("multiLine", "true")
        .json(landing_dir)
    )
    return _start(
        to_wind_table(raw), checkpoint_dir,
        lambda batch, epoch_id: _merge_publish_epoch(batch, table_path, epoch_id),
    )


def _merge_publish_epoch(batch: DataFrame, table_path: str, epoch_id: int) -> None:
    """One micro-batch of the latest-wins wind merge, crash-safe:
    `operators.upsert.upsert_wind_table` reads the stored partitions the
    batch touches (through `sinks.read_stored` — none on the first
    epoch, and an unreadable table fails the epoch), merges the batch
    into them in ONE latest-wins aggregation, and swaps in only those
    partitions (`sinks.publish`).

    One merge is enough: the winner over stored ∪ batch is the winner
    over stored ∪ (the batch's own winners), with stored still taking
    version ties. The first epoch merges into the batch's empty self,
    which dedups the batch. `epoch_id` is unused — a replayed epoch
    merges the same batch into the same partitions and writes the same
    rows."""
    upsert_wind_table(batch, table_path)


def run_grib_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    table_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """The reference pipeline end-to-end from BINARY GRIB2, streaming:
    binaryFile stream source over the landing dir → Arrow-batched WMO
    decode (sources.grib.decode_binary_df — the real codec) → the
    shared wind-row projection with recorded_time = ref_time +
    forecast_hours (the physics the reference approximates from its
    cron tick, converter.py:63-69) → the same crash-safe latest-wins
    merge the JSON path uses. Closes the S2→T1-T6 loop with no JSON
    intermediary: a new forecast run landing as a .grib2 file
    supersedes older runs for the same observation hour exactly like
    converter.py:96-104. The source sets no maxFilesPerTrigger, so one
    availableNow run is ONE epoch over every file landed since the
    last run: a backlog decodes in parallel and merges once."""
    raw = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .load(landing_dir)
    )
    records = wind_rows(
        decode_binary_df(raw),
        F.col("ref_time") + F.make_interval(hours=F.col("forecast_hours")),
    )
    return _start(
        records, checkpoint_dir,
        lambda batch, epoch_id: _merge_publish_epoch(batch, table_path, epoch_id),
    )


def run_wet_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    quarantine_path: str | None = None,
) -> StreamingQuery:
    """Streaming WARC/WET container ingest: `.wet.gz`/`.warc.gz` files
    landing in a crawl drop-dir stream through the binaryFile source →
    the same `sources.warc.scan_wet_df` member walk + record parse the
    batch query uses (stream == batch by construction — ONE scan
    implementation) → conversion-record texts append to the corpus,
    and corrupt members/framing land in `quarantine_path` WITH their
    typed error and file/offset evidence. A score-and-split gate
    (`_run_gate`) under the module's epoch contract."""
    from ..sources.warc import scan_wet_df, wet_conversion_texts

    return _run_gate(
        _landing(spark, landing_dir, _BINARY_FILE_SCHEMA, "binaryFile"),
        checkpoint_dir, corpus_path, quarantine_path,
        score=scan_wet_df,
        kept=lambda batch, scanned: wet_conversion_texts(scanned),
        rejects=lambda scanned: scanned.filter("error IS NOT NULL"),
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming deduplication with BOUNDED state (§2.9): a duplicate
    of a key seen within the watermark delay is dropped; key state is
    evicted once the watermark passes it.

    dropDuplicatesWithinWatermark (not plain dropDuplicates, whose
    per-key state never expires unless the event-time column is part
    of the key) is the 100 TB-safe form: state size is bounded by the
    key arrival rate × watermark delay, independent of stream length.
    The at-least-once file source + this dedup = effectively-once
    delivery without an idempotent sink.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream inner join (§2.9): right events match
    a left event with the same key arriving in [left_ts, left_ts +
    within].

    Both sides carry watermarks and the join condition bounds the
    event-time skew, so Spark can evict buffered rows once the
    watermark passes `left_ts + within` — without the time bound a
    stream-stream join would buffer both streams forever. Columns
    other than the key must already be disjoint (rename before
    calling); output carries one `key` column.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return l.join(r, cond, "inner").drop(F.col(f"r.{key}"))


def stream_windowed_counts(
    events: DataFrame,
    window: str = "6 hours",
    slide: str | None = None,
    watermark: str = "7 days",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over a streaming
    events DataFrame (T2/T4): the streaming twin of
    plans.relational.j_range_windows."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "event_cnt",
            "value_sum",
        )
    )


def run_continuous_rollup(
    spark: SparkSession,
    landing_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema,
    bucket: str = "6 hours",
) -> StreamingQuery:
    """Continuous aggregate (the hypertable-rollup pattern): maintain a
    materialized per-(bucket, event_type) rollup of an append-only
    event stream INCREMENTALLY — each micro-batch contributes its
    partial aggregates, which merge ADDITIVELY into the stored rollup
    (cnt += cnt, sum += sum). The stored table never re-scans history:
    cost per epoch is O(batch) + O(|rollup|), not O(stream).

    Additive merges are NOT naturally idempotent (replaying an epoch
    would double-count — unlike the latest-wins upsert in
    `run_ingest_stream`), so exactly-once is restored by epoch
    fencing: every stored row carries `src_epoch` = the last epoch
    that touched it; a batch whose epoch_id is ≤ the stored maximum is
    a checkpoint replay and is skipped whole. Publish is the same
    crash-safe temp-write + rename swap as the ingest merge, and an
    unreadable stored rollup fails the epoch (module epoch contract).

    Sums accumulate in DECIMAL so the stored value is identical no
    matter how the stream was partitioned into micro-batches.
    """

    def merge_rollup(events: DataFrame, epoch_id: int) -> None:
        # Partial aggregation happens HERE, on the raw micro-batch — a
        # streaming groupBy upstream of foreachBatch would be STATEFUL
        # (each epoch emits cumulative updates), and adding cumulative
        # rows is double-counting. foreachBatch sees a plain batch
        # DataFrame, so this agg is over exactly this epoch's rows.
        batch = (
            events.groupBy(
                F.window("ts", bucket).alias("w"), F.col("event_type")
            )
            .agg(
                F.count(F.lit(1)).alias("event_cnt"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("value_sum"),
            )
            .select(
                F.col("w.start").alias("bucket_start"), "event_type",
                "event_cnt", "value_sum",
            )
        )
        stored = read_stored(batch.sparkSession, table_path)
        inc = batch.withColumn("src_epoch", F.lit(epoch_id).cast("long"))
        if stored is not None:
            # epoch fence: a replayed epoch must not double-count
            last = stored.agg(F.max("src_epoch")).first()[0]
            if last is not None and epoch_id <= last:
                return
            merged = (
                stored.unionByName(inc)
                .groupBy("bucket_start", "event_type")
                .agg(
                    F.sum("event_cnt").alias("event_cnt"),
                    F.sum("value_sum").cast("decimal(18,6)").alias("value_sum"),
                    F.max("src_epoch").alias("src_epoch"),
                )
            )
        else:
            merged = inc
        publish(merged, table_path)

    return _start(_landing(spark, landing_dir, schema), checkpoint_dir, merge_rollup)


def run_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Incremental corpus ingestion with cross-batch exact dedup: each
    micro-batch keeps one representative per text WITHIN the batch,
    anti-joins against the stored corpus on a content hash (never the
    document body — the join key is 32 bytes at any corpus size), and
    APPENDS only genuinely new documents. The streaming complement of
    `operators.dedup.exact_dedup`: the corpus only ever grows by new
    content, no epoch rewrites it.

    Exactly-once by the module's epoch contract: readers see the union
    of epoch subdirs, and dedup correctness does not depend on replay
    timing because a replay re-derives the same anti-join against
    strictly-older epochs.
    """

    def epoch(batch: DataFrame, epoch_id: int) -> None:
        fresh = (
            batch.withColumn("__h", F.sha2(F.col(text_col), 256))
            .groupBy("__h")
            .agg(
                F.min_by(
                    F.struct(*[c for c in batch.columns]), F.col(id_col)
                ).alias("__doc")
            )
            .select("__h", "__doc.*")
        )
        older = _older_epochs(batch.sparkSession, corpus_path, epoch_id)
        if older is not None:
            stored = older.select(F.sha2(F.col(text_col), 256).alias("__h"))
            fresh = fresh.join(stored, "__h", "left_anti")
        _write_epoch(fresh.drop("__h"), corpus_path, epoch_id)

    return _start(_landing(spark, landing_dir, schema), checkpoint_dir, epoch)


def run_neardup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 96,
    bands: int = 16,
    rows_per_band: int = 6,
) -> StreamingQuery:
    """Incremental NEAR-dup corpus ingestion — the 100 TB dedup story
    end-to-end: each micro-batch MinHash-signs its documents, drops
    in-batch near-dups (LSH candidates, signature-estimated jaccard ≥
    threshold, lower id kept), then drops batch docs near-duplicate to
    ANY stored document (banded equi-join against the stored signature
    table — never a batch×corpus cross join), and appends survivors
    WITH their signatures. The stored corpus only ever grows by novel
    content, and the signature index rides along for free — no
    re-signing of history, cost per epoch is O(batch + collisions).

    Similarity here is the signature estimate (matching-minhash
    fraction; σ ≈ 1/√k ≈ 0.1 at k=96) — the right trade for ingest
    gating, where planted near-dups sit far above the threshold; the
    batch path (`operators.dedup.minhash_dedup_pairs`) does exact
    verification when pair precision matters.

    Exactly-once by the module's epoch contract, as `run_dedup_ingest`.
    """
    from ..functions.text import shingle_docs_pandas
    from ..operators.dedup import lsh_candidate_pairs, minhash_signatures

    def est_sim(a, b):
        matches = F.zip_with(a, b, lambda x, y: (x == y).cast("int"))
        return F.aggregate(matches, F.lit(0), lambda acc, v: acc + v) / F.size(a)

    def bands_of(df: DataFrame, idc: str) -> DataFrame:
        return df.select(
            F.col(idc),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda j: F.xxhash64(
                        F.slice(F.col("signature"), j * rows_per_band + 1, rows_per_band), j
                    ),
                )
            ).alias("band", "band_hash"),
        )

    def epoch(batch: DataFrame, epoch_id: int) -> None:
        with_sh = shingle_docs_pandas(batch, id_col, text_col, 3, out="__sh")
        sigs = minhash_signatures(with_sh, id_col, "__sh", num_hashes)
        docs = batch.join(sigs, id_col).localCheckpoint()

        # in-batch near-dup drop: LSH candidates, estimate, keep low id
        cands = lsh_candidate_pairs(
            docs.select(id_col, "signature"), id_col,
            bands=bands, rows_per_band=rows_per_band,
        )
        sig_of = docs.select(
            F.col(id_col).alias("__sid"), F.col("signature").alias("__sig")
        )
        dup_b = (
            cands.join(sig_of, cands.id_a == F.col("__sid"))
            .withColumnRenamed("__sig", "__sig_a").drop("__sid")
            .join(sig_of, cands.id_b == F.col("__sid"))
            .withColumnRenamed("__sig", "__sig_b").drop("__sid")
            .filter(est_sim(F.col("__sig_a"), F.col("__sig_b")) >= threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        fresh = docs.join(dup_b, id_col, "left_anti")

        # cross-epoch: drop batch docs matching any strictly-older doc
        older = _older_epochs(batch.sparkSession, corpus_path, epoch_id)
        if older is not None:
            stored = older.select(F.col(id_col).alias("__oid"), "signature")
            hits = (
                bands_of(fresh, id_col)
                .join(bands_of(stored, "__oid"), ["band", "band_hash"])
                .select(id_col, "__oid")
                .distinct()
                .join(fresh.select(id_col, F.col("signature").alias("__sig_n")), id_col)
                .join(stored.withColumnRenamed("signature", "__sig_o"), "__oid")
                .filter(est_sim(F.col("__sig_n"), F.col("__sig_o")) >= threshold)
                .select(id_col)
                .distinct()
            )
            fresh = fresh.join(hits, id_col, "left_anti")
        _write_epoch(fresh, corpus_path, epoch_id)

    return _start(_landing(spark, landing_dir, schema), checkpoint_dir, epoch)


def run_image_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 6,
    bands: int = 8,
    quarantine_path: str | None = None,
) -> StreamingQuery:
    """Streaming IMAGE near-dup gate — the ingest-time twin of the batch
    `x_image_dedup` pipeline, mirroring `run_neardup_ingest`'s
    persisted-index shape for binary image payloads: each micro-batch
    dHashes its images ONCE (`sources.multimodal.image_dhash_df`),
    drops in-batch near-dups (banded Hamming self-join, lower id
    kept), drops batch images near-duplicate to ANY stored image
    (two-sided banded equi-join against the stored dhash column —
    never a batch×corpus cross join), and appends survivors WITH their
    dhash. The corpus only ever grows by novel images and the
    perceptual-hash index rides along for free — no re-hashing of
    history, cost per epoch is O(batch + collisions).

    Rejects land in `quarantine_path` WITH the evidence — the best
    (lowest-Hamming, ties lowest id) match and its distance, plus a
    reason: 'batch_dup' / 'corpus_dup' / 'undecodable' (corrupt
    payloads carry NULL match — they cannot be admitted because they
    cannot be deduplicated against).

    Exactly-once by the module's epoch contract, as `run_dedup_ingest`."""
    from ..sources.multimodal import (
        image_dhash_df,
        image_neardup_join,
        image_neardup_pairs,
    )

    def rejected(dups: DataFrame, reason: str) -> DataFrame:
        return dups.select(
            id_col, F.lit(reason).alias("reason"),
            F.col("best_match").cast("long"), "hamming",
        )

    def epoch(batch: DataFrame, epoch_id: int) -> None:
        # hash ONCE: the dhash plan (Arrow decode pass) feeds the
        # self-join's two sides, the cross-epoch join and the final
        # write — without the checkpoint the decode would run 4×
        hashes = image_dhash_df(batch, id_col, payload_col).localCheckpoint()
        quarantined = hashes.filter(F.col("dhash").isNull()).select(
            id_col,
            F.lit("undecodable").alias("reason"),
            F.lit(None).cast("long").alias("best_match"),
            F.lit(None).cast("int").alias("hamming"),
        )

        # in-batch near-dup drop: keep the lower id of every pair.
        # cache=False: `hashes` is already a localCheckpoint; an
        # internal .cache() here would leak one CacheManager entry
        # per epoch
        pairs = image_neardup_pairs(
            hashes, id_col, max_hamming=max_hamming, bands=bands, cache=False
        )
        batch_dups = _best(pairs, id_col, "id_b", "id_a", "hamming")
        fresh = (
            hashes.filter(F.col("dhash").isNotNull())
            .join(batch_dups.select(id_col), id_col, "left_anti")
        )
        quarantined = quarantined.unionByName(rejected(batch_dups, "batch_dup"))

        # cross-epoch: drop batch images within max_hamming of any
        # strictly-older stored image
        older = _older_epochs(batch.sparkSession, corpus_path, epoch_id)
        if older is not None:
            hits = image_neardup_join(
                fresh.select(id_col, "dhash"),
                older.select(F.col(id_col).alias("__oid"), "dhash"),
                id_new=id_col, id_stored="__oid",
                max_hamming=max_hamming, bands=bands,
            )
            corpus_dups = _best(hits, id_col, id_col, "__oid", "hamming")
            fresh = fresh.join(corpus_dups.select(id_col), id_col, "left_anti")
            quarantined = quarantined.unionByName(
                rejected(corpus_dups, "corpus_dup")
            )

        # survivors keep their payload AND their dhash (the persisted
        # index future epochs join against)
        _write_epoch(
            batch.join(fresh.select(id_col, "dhash"), id_col), corpus_path, epoch_id
        )
        _write_epoch(quarantined, quarantine_path, epoch_id)

    return _start(_landing(spark, landing_dir, schema), checkpoint_dir, epoch)


def run_decontam_ingest(
    spark: SparkSession,
    landing_dir: str,
    train_gram_path: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> StreamingQuery:
    """Streaming benchmark decontamination: documents landing as files
    are gated against a STATIC eval/train-protection gram index
    (64-bit portable hashes of word n-grams, built once with
    `build_gram_index`) — any document sharing a single n-gram with
    the protected set is dropped before it ever reaches the corpus.
    The streaming complement of the batch `x_decontaminate` query:
    there the split is audited after the fact; here the boundary is
    enforced at ingest time, which is how a production pipeline keeps
    eval contamination out rather than measuring it later.

    Shape: per epoch, explode the batch's distinct n-grams (batch-
    sized), left-anti join the 8-byte gram index on its hash (never a
    doc×doc compare), and append survivors under the module's epoch
    contract."""
    from ..functions.text import shingle_docs_pandas

    def epoch(batch: DataFrame, epoch_id: int) -> None:
        grams = batch.sparkSession.read.parquet(train_gram_path)  # must exist
        with_sh = shingle_docs_pandas(batch, id_col, text_col, n, out="__sh")
        posting = with_sh.select(
            id_col, F.explode(F.array_distinct("__sh")).alias("__g")
        ).select(
            id_col,
            F.conv(F.substring(F.md5("__g"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        contaminated = posting.join(grams, "h").select(id_col).distinct()
        _write_epoch(
            batch.join(contaminated, id_col, "left_anti"), corpus_path, epoch_id
        )

    return _start(_landing(spark, landing_dir, schema), checkpoint_dir, epoch)


def run_quality_gate_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    quarantine_path: str | None = None,
) -> StreamingQuery:
    """Streaming Gopher repetition gate: documents landing as files are
    scored batch-wise (`operators.quality.repetition_features`, the
    full A1 table) and only `gopher_pass` documents reach the corpus —
    the streaming complement of the batch `x_quality_repetition`
    query, enforcing the quality boundary at ingest time the way
    `run_decontam_ingest` enforces the eval boundary. Rejects land in
    `quarantine_path` WITH their failing metrics.

    Shape per epoch: one explode + two map-side-combinable aggs over
    the BATCH (never the accumulated corpus) and a broadcast-sized
    join back on the id — a score-and-split gate (`_run_gate`) under
    the module's epoch contract."""
    from ..operators.quality import repetition_features

    return _run_gate(
        _landing(spark, landing_dir, schema),
        checkpoint_dir, corpus_path, quarantine_path,
        lambda batch: repetition_features(batch, id_col, text_col),
        *_verdict(id_col, F.col("gopher_pass")),
    )


def run_lm_gate_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    model_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    quarantine_path: str | None = None,
    add_k: float = 0.1,
    gate_nll_e4: int = 80_000,
) -> StreamingQuery:
    """Streaming CCNet LM-perplexity gate: the batch `x_lm_perplexity`
    filter enforced at ingest time, the way `run_quality_gate_ingest`
    enforces the Gopher repetition gate — documents landing as files
    are scored per epoch against the PERSISTED bigram count table
    (`operators.lm.persist_bigram_model` at `model_path`), and only
    `lm_pass` (avg-nll ≤ gate) documents reach the corpus. Rejects
    land in `quarantine_path` WITH their scores (n_bigrams,
    avg_nll_e4), so curation review sees how far past the cutoff each
    document fell.

    Scale shape per epoch: the model is three parquet reads done ONCE
    at stream start (not per batch) — scoring is the batch's bigram
    explode plus two left joins against the stored counts, in a
    score-and-split gate (`_run_gate`) under the module's epoch
    contract. Nothing retrains in the hot path; the reference corpus
    is tokenized exactly once, at persist time."""
    from ..operators.lm import load_bigram_model, score_perplexity

    big, pre, vocab = load_bigram_model(spark, model_path)
    return _run_gate(
        _landing(spark, landing_dir, schema),
        checkpoint_dir, corpus_path, quarantine_path,
        lambda batch: score_perplexity(
            batch, big, pre, vocab, id_col=id_col, text_col=text_col,
            add_k=add_k, gate_nll_e4=gate_nll_e4,
        ),
        *_verdict(id_col, F.col("lm_pass")),
    )


def run_dsir_gate_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    model_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    quarantine_path: str | None = None,
    min_logw_e6: int = 0,
    hash_fn=None,
) -> StreamingQuery:
    """Streaming DSIR selection gate: the batch `x_dsir_buckets`
    importance weighting enforced at ingest time — documents landing
    as files are scored per epoch against the PERSISTED hashed-bucket
    model (`operators.lm.persist_dsir_bucket_model` at `model_path`),
    and only documents whose importance log-weight clears
    `min_logw_e6` (i.e. look at least `exp(min_logw_e6/1e6)`× more
    target-like than raw-like) reach the corpus. Rejects land in
    `quarantine_path` WITH their scores (n_grams, logw_e6), so
    curation review sees how far below the bar each document fell.
    `hash_fn` must match the one the model was trained with
    (default xxhash64).

    Scale shape per epoch: the whole model is a ≤B-row parquet read
    done ONCE at stream start plus its 1-row meta (the only driver
    pull, bounded); scoring is the batch's Arrow gram pass + one
    BROADCAST join + one groupBy — no shuffle against anything
    corpus-sized, the lightest of the ingest gates. A score-and-split
    gate (`_run_gate`) under the module's epoch contract."""
    from ..operators.lm import load_dsir_bucket_model, score_dsir_buckets

    delta, meta = load_dsir_bucket_model(spark, model_path)
    # bounded 1-row pull at stream start (the load_bigram_model class):
    # the bucket modulus must be a plan literal
    hash_buckets = int(meta.first()["hash_buckets"])
    return _run_gate(
        _landing(spark, landing_dir, schema),
        checkpoint_dir, corpus_path, quarantine_path,
        lambda batch: score_dsir_buckets(
            batch, delta, meta, id_col=id_col, text_col=text_col,
            hash_buckets=hash_buckets, hash_fn=hash_fn,
        ),
        *_verdict(id_col, F.col("logw_e6") >= F.lit(int(min_logw_e6))),
    )


def run_semdedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    nprobe: int = 1,
    dim: int | None = None,
    quarantine_path: str | None = None,
) -> StreamingQuery:
    """Streaming SemDeDup gate: semantic near-duplicate filtering
    at ingest time against a PERSISTED IVF index
    (`operators.similarity.build_ivf_index` over the protected/stored
    corpus at `index_path`). Per epoch, each incoming embedding is
    (1) in-batch semantically deduplicated (the batch
    `semantic_dedup` keep rule — least-central member of each
    duplicate neighborhood survives), then (2) dropped if ANY stored
    vector in its `nprobe` nearest cells clears `threshold` cosine.
    Rejects land in `quarantine_path` with the evidence (reason
    'batch' with the neighborhood size, or reason 'corpus' with the
    best-matching stored id + cosine), under the module's epoch
    contract.

    Scale shape per epoch: centroids are one tiny parquet read at
    stream start; the stored side is read PARTITION-PRUNED to the
    batch's probed cells (the `topk_ivf_indexed` move), so cost is
    O(batch × probed-cell rows), never batch × corpus. The index is
    STATIC during the stream (the decontam-gate convention) —
    refreshing it over the grown corpus is a periodic batch
    `build_ivf_index` run; `_INDEX_META` fingerprinting makes the
    refresh a no-op when nothing changed."""
    from ..operators.similarity import (
        _assign_cells_pandas,
        _norm_col,
        _rerank_cosine_prenorm,
        load_ivf_centroids,
        semantic_dedup,
    )

    centroids = load_ivf_centroids(spark, index_path)
    stored = spark.read.parquet(f"{index_path}/cells").select(
        F.col(id_col).alias("__sid"),
        F.col(vec_col).alias("__sv"),
        "cell",
    ).withColumn("__sn", _norm_col("__sv", dim))
    # match_id keeps the index's NATIVE id type (a long cast would
    # silently NULL string ids)
    id_type = stored.schema["__sid"].dataType

    def epoch(batch: DataFrame, epoch_id: int) -> None:
        sd = semantic_dedup(
            batch.select(id_col, vec_col), centroids,
            id_col=id_col, vec_col=vec_col, threshold=threshold,
        ).persist()  # feeds the in-batch filter AND the quarantine
        try:
            survivors = batch.join(
                sd.filter("keep").select(id_col), id_col
            )
            probe = _assign_cells_pandas(
                survivors.select(id_col, vec_col), centroids, nprobe,
                "__qid", vec_col,
            ).withColumnRenamed("__v", "__qv").withColumn(
                "__qn", _norm_col("__qv", dim)
            )
            scored = (
                stored.join(F.broadcast(probe), "cell")
                .select(
                    "__qid", "__sid",
                    _rerank_cosine_prenorm(
                        "__qv", "__sv", "__qn", "__sn", dim
                    ).alias("__cos"),
                )
                .filter(F.col("__cos") >= F.lit(float(threshold)))
            )
            w = Window.partitionBy("__qid").orderBy(
                F.col("__cos").desc(), F.col("__sid").asc()
            )
            hits = (
                scored.withColumn("__rn", F.row_number().over(w))
                .filter("__rn = 1")
                .select("__qid", "__sid", "__cos")
            ).persist()
            try:
                kept = survivors.join(
                    hits.select(F.col("__qid").alias(id_col)),
                    id_col, "left_anti",
                )
                _write_epoch(kept, corpus_path, epoch_id)
                q_batch = sd.filter(~F.col("keep")).select(
                    F.col(id_col),
                    F.lit("batch").alias("reason"),
                    F.lit(None).cast(id_type).alias("match_id"),
                    F.lit(None).cast("double").alias("cosine_sim"),
                    F.col("n_dups"),
                )
                q_corpus = hits.select(
                    F.col("__qid").alias(id_col),
                    F.lit("corpus").alias("reason"),
                    F.col("__sid").alias("match_id"),
                    F.col("__cos").alias("cosine_sim"),
                    F.lit(None).cast("long").alias("n_dups"),
                )
                _write_epoch(
                    q_batch.unionByName(q_corpus), quarantine_path, epoch_id
                )
            finally:
                hits.unpersist()
        finally:
            sd.unpersist()

    return _start(_landing(spark, landing_dir, schema), checkpoint_dir, epoch)


def run_excise_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 60,
    audit_path: str | None = None,
) -> StreamingQuery:
    """Streaming excision-style decontamination: documents
    landing as files have every region covered by a length-`min_len`
    substring of the PROTECTED corpus (a persisted
    `operators.dedup.build_window_index` parquet at `index_path`) CUT
    OUT before they reach the corpus — the sanitize-at-ingest
    complement of the drop-at-ingest gates (`run_decontam_ingest`
    drops whole matching docs; this keeps them minus the protected
    spans, the Lee et al. 2022 excision policy). Documents without
    protected spans pass through verbatim. Docs whose spans were cut
    are recorded in `audit_path` WITH their excision stats
    (dup_windows/spans/chars and the original length), so curation
    review sees exactly what was removed and from where.

    Scale shape per epoch: the index is ONE parquet read at stream
    start; scoring is the batch's window explode + two stored-table
    joins (hash prune, exact substring verify from the index — no
    protected text needed at scoring time), then the shared
    island/cut algebra — a score-and-split gate (`_run_gate`) under
    the module's epoch contract."""
    from ..operators.dedup import substring_excise_against_index

    index = spark.read.parquet(index_path)
    return _run_gate(
        _landing(spark, landing_dir, schema),
        checkpoint_dir, corpus_path, audit_path,
        lambda batch: substring_excise_against_index(
            batch, index, id_col, text_col, min_len=min_len
        ),
        # splice the cut text back into the batch's full row shape
        lambda batch, out: batch.drop(text_col)
        .join(out.select(id_col, "kept_text"), id_col)
        .withColumnRenamed("kept_text", text_col),
        lambda out: out.filter(F.col("dup_windows") > 0).drop("kept_text"),
    )


def build_gram_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> None:
    """Materialize the protected-set gram index `run_decontam_ingest`
    gates against: distinct word n-grams of `docs`, stored as 64-bit
    portable md5-prefix hashes (column `h`) — 8 bytes per gram at any
    corpus size, and the same hash `x_decontaminate`'s oracle derives."""
    from ..functions.text import shingle_docs_pandas

    with_sh = shingle_docs_pandas(docs, id_col, text_col, n, out="__sh")
    (
        with_sh.select(F.explode(F.array_distinct("__sh")).alias("__g"))
        .select(
            F.conv(F.substring(F.md5("__g"), 1, 15), 16, 10)
            .cast("long")
            .alias("h")
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )


def _run_sig_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    hash_fn,
    id_col: str,
    quarantine_path: str | None,
    threshold: float,
) -> StreamingQuery:
    """Shared engine for the signature-set ingest gates (video and
    audio twins): `hash_fn(batch) -> (id, frame_idx, fhash)` is the
    modality-specific Arrow pass; everything downstream — in-batch
    set-Jaccard drop, cross-epoch drop against the persisted
    signature column, evidence-carrying quarantine under the module's
    epoch contract — is modality-agnostic."""
    from ..sources.multimodal import (
        video_neardup_join,
        video_neardup_pairs,
    )

    def rejected(dups: DataFrame, reason: str) -> DataFrame:
        return dups.select(
            id_col, F.lit(reason).alias("reason"),
            F.col("best_match").cast("long"), "jaccard",
        )

    def epoch(batch: DataFrame, epoch_id: int) -> None:
        # hash ONCE: the frame-hash plan feeds the self-join, the
        # cross-epoch join and the final write
        frames = hash_fn(batch).localCheckpoint()
        quarantined = frames.filter(F.col("fhash").isNull()).select(
            id_col,
            F.lit("undecodable").alias("reason"),
            F.lit(None).cast("long").alias("best_match"),
            F.lit(None).cast("double").alias("jaccard"),
        )
        sigs = (
            frames.filter(F.col("fhash").isNotNull())
            .groupBy(id_col)
            .agg(F.collect_set("fhash").alias("__fh"))
        )

        # in-batch near-dup drop: keep the lower id of every pair.
        # cache=False: `frames` is already a localCheckpoint, and an
        # internal .cache() inside foreachBatch would leak one
        # CacheManager entry per epoch (never unpersisted)
        pairs = video_neardup_pairs(
            frames, id_col, threshold=threshold, cache=False
        )
        batch_dups = _best(pairs, id_col, "id_b", "id_a", "jaccard", True)
        fresh = sigs.join(batch_dups.select(id_col), id_col, "left_anti")
        quarantined = quarantined.unionByName(rejected(batch_dups, "batch_dup"))

        # cross-epoch: drop batch videos whose frame sets overlap any
        # strictly-older stored video at ≥ threshold
        older = _older_epochs(batch.sparkSession, corpus_path, epoch_id)
        if older is not None:
            hits = video_neardup_join(
                fresh,
                older.select(F.col(id_col).alias("__oid"), F.col("fhashes").alias("__fh")),
                id_new=id_col, id_stored="__oid", threshold=threshold,
            )
            corpus_dups = _best(hits, id_col, id_col, "__oid", "jaccard", True)
            fresh = fresh.join(corpus_dups.select(id_col), id_col, "left_anti")
            quarantined = quarantined.unionByName(
                rejected(corpus_dups, "corpus_dup")
            )

        # survivors keep their payload AND their signature (the
        # persisted index future epochs join against)
        _write_epoch(
            batch.join(fresh.select(id_col, F.col("__fh").alias("fhashes")), id_col),
            corpus_path, epoch_id,
        )
        _write_epoch(quarantined, quarantine_path, epoch_id)

    return _start(_landing(spark, landing_dir, schema), checkpoint_dir, epoch)


def run_video_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    threshold: float = 0.5,
    every_n: int = 1,
    quarantine_path: str | None = None,
) -> StreamingQuery:
    """Streaming VIDEO near-dup gate — the third modality's
    ingest-time twin (text `run_neardup_ingest`, image
    `run_image_dedup_ingest`): each micro-batch frame-hashes its
    videos ONCE (`sources.multimodal.video_dhash_df` — arithmetic
    frame seeking, one Arrow pass), drops in-batch near-dups
    (frame-set Jaccard ≥ threshold via the inverted-index count plan,
    lower id kept), drops batch videos near-duplicate to ANY stored
    video (two-sided postings equi-join against the persisted
    signature column — never a batch×corpus cross join), and appends
    survivors WITH their frame-hash signature, so the index rides the
    corpus and history is never re-decoded; cost per epoch is
    O(batch + collisions).

    Rejects land in `quarantine_path` WITH the evidence — the best
    (highest-Jaccard, ties lowest id) match and its similarity, plus a
    reason: 'batch_dup' / 'corpus_dup' / 'undecodable'.

    Exactly-once by the module's epoch contract, as `run_dedup_ingest`."""
    from ..sources.multimodal import video_dhash_df

    return _run_sig_dedup_ingest(
        spark, landing_dir, corpus_path, checkpoint_dir, schema,
        lambda b: video_dhash_df(b, id_col, payload_col, every_n),
        id_col, quarantine_path, threshold,
    )


def run_audio_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_path: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    threshold: float = 0.5,
    quarantine_path: str | None = None,
) -> StreamingQuery:
    """Streaming AUDIO near-dup gate — the fourth
    modality's twin: identical contract to `run_video_dedup_ingest`
    with the per-frame spectral fingerprint
    (`sources.multimodal.audio_fingerprint_df`) as the signature
    pass; both ride `_run_sig_dedup_ingest`."""
    from ..sources.multimodal import audio_fingerprint_df

    return _run_sig_dedup_ingest(
        spark, landing_dir, corpus_path, checkpoint_dir, schema,
        lambda b: audio_fingerprint_df(b, id_col, payload_col),
        id_col, quarantine_path, threshold,
    )
