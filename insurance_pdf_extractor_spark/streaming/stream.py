"""Structured Streaming ingestion (stretch beyond the reference, which
is strictly request/response — SURVEY.md §2.9).

``readStream`` over a documents_raw directory → ``foreachBatch``
re-using the EXACT batch pipeline (extract_documents + build_results) —
one code path for batch and streaming, exactly-once per micro-batch via
the checkpoint location. Watermarked event-time aggregation is exposed
for the metrics stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import extract_documents
from ..schema import DOCUMENTS_RAW


def start_streaming_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """Stream documents_raw parquet files into extracted spans."""
    stream = spark.readStream.schema(DOCUMENTS_RAW).parquet(input_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        docs, rejects = extract_documents(batch_df)
        docs.write.mode("append").parquet(f"{output_dir}/documents")
        rejects.write.mode("append").parquet(f"{output_dir}/rejects")

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_metrics(events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation for a metrics event
    stream (late data dropped past the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )


def streaming_exact_dedup(stream_df: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): exact dedup
    ACROSS micro-batches. State per fingerprint = 'already emitted';
    only the first document with a given normalized-text fingerprint
    ever passes, even when duplicates arrive in later batches (state is
    durable in the streaming checkpoint).

    Scale shape: state is partitioned by fingerprint hash, so the
    operator scales horizontally with shuffle partitions; per-key state
    is one boolean + the keeper id.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import fingerprint_expr

    keyed = stream_df.select(
        fingerprint_expr(F.col("text")).alias("fp"), F.col("doc_id").cast("string").alias("doc_id")
    )

    def emit_first(key, pdfs, state: GroupState):
        if state.exists:
            for _ in pdfs:  # drain
                pass
            return iter([])
        keeper = None
        for pdf in pdfs:
            if len(pdf):
                cand = pdf["doc_id"].min()
                keeper = cand if keeper is None else min(keeper, cand)
        if keeper is None:
            return iter([])
        state.update((True,))
        return iter([pd.DataFrame({"fp": [key[0]], "doc_id": [keeper]})])

    return keyed.groupBy("fp").applyInPandasWithState(
        emit_first,
        outputStructType="fp string, doc_id string",
        stateStructType="seen boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming analog of operators/sessions.py: F.session_window
    merges events within ``gap`` of each other into one growing window
    per user; the watermark bounds session state (a session closes —
    and emits — once the watermark passes its end). Same semantics as
    the batch two-window rewrite, computed incrementally."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 4).alias("total_value"),
        )
        .select(
            user_col,
            F.col("session_window.start").alias("start_ts"),
            F.col("session_window.end").alias("end_ts"),
            "n_events",
            "total_value",
        )
    )


def start_bloom_ingest_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    history: DataFrame,
    schema: str = "doc_id string, text string",
    n_bits: int | None = None,
    n_hashes: int = 5,
    n_shards: int | None = None,
):
    """foreachBatch ingest dedup with the Bloom bitmaps built ONCE at
    stream start and reused by every micro-batch — the long-lived-caller
    pattern history_filter's ``bitmaps`` parameter exists for. Per
    micro-batch cost is one Arrow pandas_udf probe of the (broadcast)
    bitmaps plus an exact confirm anti-join for bloom-positives only;
    the history table is scanned once at start, never per batch.
    ``n_bits``/``n_shards`` left at None auto-size from the history
    cardinality (dedup.history_bitmaps, ~10 bits/key, shards capped
    at 16 MiB each) — at 10^12 accepted docs, pass a bucketed
    fingerprint table as ``history`` upstream and the capacity
    (n_shards x n_bits) tracks it automatically."""
    from ..operators.dedup import history_bitmaps, history_filter, history_fingerprints

    hist_fp = history_fingerprints(history).localCheckpoint()
    bitmaps = history_bitmaps(hist_fp, n_bits, n_hashes, n_shards)
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        kept = history_filter(
            batch_df, hist_fp=hist_fp, bitmaps=bitmaps, n_hashes=n_hashes,
        )
        kept.write.mode("append").parquet(f"{output_dir}/accepted")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_near_dup_ingest_flagging(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    history: DataFrame,
    hist_bands: DataFrame | None = None,
    schema: str = "doc_id string, text string",
    min_jaccard: float = 0.7,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
):
    """foreachBatch NEAR-dup flagging against an accepted history — the
    LSH analog of :func:`start_bloom_ingest_dedup`. History band rows
    are resolved ONCE at stream start (pass the bucketed table written
    by dedup.write_band_table as ``hist_bands``; without it they are
    derived live from history text and pinned with localCheckpoint) and
    every micro-batch probes the SAME frame — per-batch cost is banding
    the batch, the candidate join, and exact-Jaccard verification over
    candidates only. Each micro-batch appends its
    (batch_id, hist_id, jaccard) pairs to ``output_dir``/pairs; a
    curation job downstream decides what a flagged pair means."""
    from ..operators.dedup import band_rows, incremental_near_dup_pairs

    if hist_bands is None:
        hist_bands = (
            band_rows(history, "text", "doc_id", n_hashes, bands, shingle_k)
            .withColumnRenamed("id", "hist_id")
            .localCheckpoint()
        )
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        pairs = incremental_near_dup_pairs(
            batch_df,
            history,
            n_hashes=n_hashes,
            bands=bands,
            shingle_k=shingle_k,
            min_jaccard=min_jaccard,
            hist_bands=hist_bands,
        )
        pairs.write.mode("append").parquet(f"{output_dir}/pairs")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_ingest_dedup(stream_df: DataFrame, history: DataFrame) -> DataFrame:
    """Stream-static anti-join: drop streamed documents whose
    normalized-text fingerprint already exists in the STATIC
    accepted-history table. Structured Streaming joins each micro-batch
    against the static side with NO streaming state — the history is
    (re)read per micro-batch, so at 10^12 accepted docs the static side
    is the bucketed fingerprint table (shuffle-free probe), not raw
    text. Compose with :func:`streaming_exact_dedup` downstream to also
    suppress duplicates WITHIN and ACROSS incoming micro-batches:
    this operator handles "seen before the stream started", the
    stateful one handles "seen earlier in the stream"."""
    from ..operators.dedup import fingerprint_expr

    hist_fp = (
        history.filter(F.col("text").isNotNull())
        .select(fingerprint_expr(F.col("text")).alias("fp"))
        .distinct()
    )
    return (
        stream_df.filter(F.col("text").isNotNull())
        .withColumn("fp", fingerprint_expr(F.col("text")))
        .join(hist_fp, "fp", "left_anti")
        .drop("fp")  # internal join key — keep the sink schema the caller's
    )
