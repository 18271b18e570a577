"""Structured Streaming surface (SURVEY §2.9).

The reference's only "streaming" is a chunked file reader used as an OOM
workaround (osm_merge/readjson.py:69-167: N features per call) and a
re-run-batch-every-24h sync loop (README.md:60-62). The Spark-native
equivalents, each checkpointed and therefore resumable:

  - chunked_ingest: file-source micro-batches (maxFilesPerTrigger) — the
    direct readjson.py analog; bounded memory at any input size.
  - windowed_event_counts: event-time tumbling window + watermark — the
    streaming twin of queries/relational.q_events_window.
  - session_events: native session_window (gap-close semantics identical
    to the batch lag/cumsum sessionizer — proven by test).

All jobs are defined on unbounded DataFrames; tests run them with
Trigger.AvailableNow against the driver's parquet so results are finite
and comparable to the batch twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def chunked_ingest(spark: SparkSession, path: str, schema,
                   max_files_per_trigger: int = 1) -> DataFrame:
    """readjson.py-style incremental ingest: N files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window per event_type with late-data watermark."""
    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type", "n", "sum_value",
        )
    )


def session_events(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessions per user via the native session_window operator —
    stateful in streaming, plain agg in batch."""
    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            "n_events",
        )
    )


def conflate_stream(images_stream: DataFrame, layer: DataFrame,
                    out_dir: str, checkpoint_dir: str):
    """Streaming conflation of an image firehose against the static layer.

    Stream-static: each micro-batch of images runs the full batch
    conflation ladder against the (cached) layer via foreachBatch — the
    per-image decision depends only on that image vs the layer, so chunked
    execution is EXACTLY equivalent to one batch run (proven by test).
    This is the reference's chunked conflation (conflator.py:766-788)
    with durable checkpointing: a crashed stream resumes at the last
    committed micro-batch.

    foreachBatch is at-least-once, so the sink must be idempotent per
    batch_id: each micro-batch OVERWRITES its own deterministic
    `batch=<id>` subdirectory (the standard foreachBatch idempotency
    pattern). A retried/replayed batch replaces its previous partial
    output instead of double-appending; readers scan `out_dir/matched`
    and partition discovery surfaces `batch` as a column they can ignore.
    """
    from ..operators.conflate import ConflateParams, conflate

    layer = layer.persist()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        matched, new = conflate(batch_df, layer, ConflateParams())
        matched.write.mode("overwrite").parquet(
            f"{out_dir}/matched/batch={batch_id}"
        )
        new.write.mode("overwrite").parquet(f"{out_dir}/new/batch={batch_id}")

    return (
        images_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(records: DataFrame, key_col: str = "image_id",
                 keep_cols: list[str] | None = None,
                 state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST occurrence of each key
    across the stream — the streaming twin of `dropDuplicates([key])`, as
    a CUSTOM STATEFUL operator via applyInPandasWithState (one boolean of
    state per key; a re-ingested firehose at 10^12 rows can't buffer
    history, only key state).

    state_ttl_ms bounds the state store (the 10^12-row-firehose guard):
    without it one boolean per DISTINCT key still grows forever. With a
    TTL the guarantee weakens, explicitly, to *windowed* dedup — a key
    idle for longer than the TTL is forgotten and its next occurrence is
    re-emitted (retention clock restarts on every sighting, so a
    continuously re-arriving duplicate is suppressed indefinitely).
    Timeout is processing-time: expiry fires at the first trigger after
    the idle period, matching Spark's state-store GC model.

    The reference has no streaming dedup (its duplicate handling is the
    batch poidup scan); this is the training-data-pipeline capability —
    dedup at ingest, before anything downstream pays for the duplicate.
    Output columns: key_col + keep_cols (defaults to all other columns).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keep = keep_cols or [c for c in records.columns if c != key_col]
    out_schema = records.select(key_col, *keep).schema

    def first_only(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            # idle past the TTL with no new data this trigger: forget the
            # key — its next occurrence counts as a first again
            for _ in pdf_iter:
                pass
            state.remove()
            return
        if state.exists:
            # key already emitted in an earlier micro-batch — drain input
            for _ in pdf_iter:
                pass
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)  # restart idle clock
            return
        first_row = None
        for pdf in pdf_iter:
            if len(pdf) and first_row is None:
                first_row = pdf.iloc[[0]][[key_col, *keep]]
        if first_row is not None:
            state.update((True,))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
            yield first_row

    return records.groupBy(key_col).applyInPandasWithState(
        first_only,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None else GroupStateTimeout.NoTimeout
        ),
    )


def corpus_filter_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of queries/text.q_corpus_filter: the C4-style
    keep/drop projection applied per micro-batch. Stateless (pure
    row-local projection), so append-mode output needs no watermark and
    the result equals the batch run by construction — the continuous
    corpus-ingest shape: files land, each micro-batch is filtered and
    appended, checkpoint makes it resumable."""
    from ..queries.text import corpus_filter_df

    return corpus_filter_df(docs)


def run_available_now(stream_df: DataFrame, checkpoint_dir: str,
                      output_mode: str = "complete",
                      query_name: str = "q") -> DataFrame:
    """Drain the stream to a memory sink with AvailableNow (finite run),
    return the result as a batch DF. Used by tests and backfills."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def phash_dedup_stream(images_stream: DataFrame, seen_dir: str, out_dir: str,
                       checkpoint_dir: str, max_hamming: int = 7,
                       n_bands: int = 8):
    """Streaming image NEAR-dup at ingest: decode → pixel pHash → banded
    hamming dedup across micro-batches — the streaming twin of
    `phash_pixel_pairs`' batch ladder.

    Exact-key streaming dedup (dedup_stream) can't express "within hamming
    k of anything seen": the state is not one boolean per key but the set
    of all prior hashes REACHABLE by a band collision. That state lives as
    a TABLE (seen_dir: (bk, phash, image_id) rows partitioned per batch),
    not in the executor state store — at 10^12 images the band table is a
    bucketed lake table; a state-store copy would pin terabytes of state to
    executors and die on rescale. foreachBatch per micro-batch:

      1. pixel pHash (operators/phash.compute_phash — Arrow-batched);
      2. intra-batch dedup: banded pair join, lexical-min image_id wins;
      3. cross-batch dedup: explode band keys, equi-join the seen table,
         refine with exact bit_count ≤ k (recall is exact for ≤ k bits by
         the pigeonhole guarantee — both joins share phash_band_keys);
      4. survivors append their band rows to seen_dir and their
         (image_id, phash) to out_dir — both written to batch=N paths in
         overwrite mode, so a replayed micro-batch after crash/restart is
         IDEMPOTENT (the checkpoint replays the batch, the paths clobber).

    The reference has no streaming or image hashing; this is the
    training-data ingest path for the BASELINE.json image contract.
    """
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        phash_dedup_batch(batch_df, batch_id, seen_dir, out_dir,
                          max_hamming=max_hamming, n_bands=n_bands)

    return (
        images_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def phash_dedup_batch(batch_df: DataFrame, batch_id: int, seen_dir: str,
                      out_dir: str, max_hamming: int = 7,
                      n_bands: int = 8) -> None:
    """One micro-batch of the streaming pHash near-dup ladder (module-level
    so crash-replay is testable without a streaming query).

    Replay safety: the seen-table read filters to STRICTLY EARLIER batches
    (`batch < batch_id`). A replayed micro-batch (checkpoint re-delivers
    batch N after a crash between the two writes) would otherwise read its
    own pre-crash batch=N band rows, match every image against itself
    (hamming 0), and overwrite both outputs with empty data — permanently
    losing the batch's survivors and their band state.
    """
    from pyspark.errors import AnalysisException

    from ..operators.dedup import phash_band_keys, phash_near_dup
    from ..operators.phash import compute_phash

    spark = batch_df.sparkSession
    h = compute_phash(batch_df).filter(F.col("phash_px").isNotNull())
    # intra-batch: min-id survivor per near-dup pair
    pairs = phash_near_dup(
        h, phash_col="phash_px", id_col="image_id",
        max_hamming=max_hamming, n_bands=n_bands,
    )
    h = h.join(
        pairs.select(F.col("d2").alias("image_id")).distinct(),
        "image_id", "left_anti",
    )

    def band_rows(df: DataFrame) -> DataFrame:
        return df.select(
            "image_id", "phash_px",
            F.explode(phash_band_keys(F.col("phash_px"), n_bands)).alias("bk"),
        )

    # cross-batch: anything within k bits of a hash seen in an EARLIER
    # batch is a dup. Only AnalysisException (seen_dir absent on the very
    # first batch) is swallowed — corrupt files / transient FS errors must
    # propagate, not silently disable dedup for the batch.
    try:
        seen = spark.read.parquet(seen_dir).filter(F.col("batch") < batch_id)
    except AnalysisException:
        seen = None
    if seen is not None:
        dup_ids = (
            band_rows(h)
            .join(seen.select("bk", F.col("phash").alias("sph")), "bk")
            .filter(
                F.bit_count(F.col("phash_px").bitwiseXOR(F.col("sph")))
                <= F.lit(max_hamming)
            )
            .select("image_id").distinct()
        )
        h = h.join(dup_ids, "image_id", "left_anti")
    # two actions over one lineage: persist so decode + pHash + the banded
    # intra/cross-batch joins run once per micro-batch, not twice
    h = h.persist()
    try:
        band_rows(h).select(
            "bk", F.col("phash_px").alias("phash"), "image_id"
        ).write.mode("overwrite").parquet(f"{seen_dir}/batch={batch_id}")
        h.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
    finally:
        h.unpersist()


def zonal_image_rollup(images_stream: DataFrame) -> DataFrame:
    """Streaming twin of queries/geo5.q_zonal_stats: per-zone rollups of
    decoded pixel channel sums, maintained incrementally at ingest (the
    live-dashboard shape: "coverage per operations zone so far today").

    One stateless map_decoded pass reduces each micro-batch's images to
    the batch query's three channel sums (bytes never enter state or
    shuffle; an undecodable image adds nothing), the zone membership is the
    same joinless array_compact ray-cast fan-out as the batch query, and
    the per-zone aggregation is the streaming state — |zones| rows of four
    counters, the cheapest state Structured Streaming can hold (contrast
    dedup_stream's per-key state). Drain with output_mode="complete"
    (run_available_now's default): every micro-batch emits the
    running totals.
    """
    from ..functions import geo as geofn
    from ..operators.multimodal import channel_sums, map_decoded
    from ..queries.geo5 import ZONES

    dec = map_decoded(
        images_stream, channel_sums,
        "image_id string, lon double, lat double, sr long, sg long, sb long",
        carry=("lon", "lat"),
    )

    zhits = F.array_compact(F.array(*[
        F.when(
            geofn.point_in_fixed_ring(F.col("lon"), F.col("lat"), ring),
            F.lit(zid),
        ).otherwise(F.lit(None).cast("string"))
        for zid, ring in ZONES.items()
    ]))
    member = dec.select(
        F.explode(zhits).alias("zone_id"), "sr", "sg", "sb"
    )
    return member.groupBy("zone_id").agg(
        F.count("*").alias("n_images"),
        F.sum("sr").alias("sum_r"),
        F.sum("sg").alias("sum_g"),
        F.sum("sb").alias("sum_b"),
    )


def tile_mosaic_stream(images_stream: DataFrame) -> DataFrame:
    """Streaming twin of queries/geo6.q_tile_mosaic: the running best image
    per 2 km tile, maintained incrementally at ingest — "the mosaic so far"
    while a capture campaign is still landing.

    The batch query keeps its selection an ObjectHashAggregate via
    collect_list + array_sort + slice; streamed, that buffer would
    ACCUMULATE every image ever seen per tile in the state store —
    unbounded state. min(struct(qneg, ikey)) is the streaming-correct
    formulation: one struct + one count per tile (state bounded by the
    geometry-bounded tile grid, like zonal_image_rollup's |zones| rows),
    and min is trivially mergeable across micro-batches. The within-batch
    SortAggregate fallback min(struct) costs is micro-batch-sized — the
    opposite tradeoff from the batch path, deliberately.
    """
    from ..queries import base
    from ..queries.geo6 import MOSAIC_TG

    scored = images_stream.select(
        MOSAIC_TG.tile_id(F.col("lon"), F.col("lat")).alias("tile_id"),
        "ikey",
        (-base.u01(F.col("ikey"), 21)).alias("qneg"),
    )
    best = scored.groupBy("tile_id").agg(
        F.count("*").alias("n_images"),
        F.min(F.struct("qneg", "ikey")).alias("b"),
    )
    return best.select(
        "tile_id",
        F.concat(F.lit("img-"), F.col("b.ikey").cast("string")).alias("image_id"),
        "n_images",
        F.floor(-F.col("b.qneg") * F.lit(1_000_000)).cast("long").alias("q_e6"),
    )
