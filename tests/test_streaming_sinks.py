"""Streaming ingestion (foreachBatch reuse of the batch pipeline),
export sinks, and multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insurance_pdf_extractor_spark import corpus as C


def test_streaming_extract_matches_batch(spark, corpus_docs, tmp_path):
    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents
    from insurance_pdf_extractor_spark.streaming.stream import start_streaming_extract

    docs = corpus_docs[:30]
    raw = C.to_raw_df(spark, docs)
    in_dir = str(tmp_path / "in")
    raw.write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = start_streaming_extract(spark, in_dir, out_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = {r["doc_id"]: r["spans"] for r in spark.read.parquet(f"{out_dir}/documents").collect()}
    batch, _ = extract_documents(raw)
    expected = {r["doc_id"]: r["spans"] for r in batch.collect()}
    assert streamed == expected


def test_windowed_event_metrics(spark):
    from insurance_pdf_extractor_spark.streaming.stream import windowed_event_metrics

    ev = spark.createDataFrame(
        [("2024-01-01 00:01:00", "click", 1.0), ("2024-01-01 00:02:00", "click", 2.0)],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    out = windowed_event_metrics(ev).collect()
    assert out[0]["n"] == 2
    assert out[0]["total_value"] == 3.0


def test_export_sinks(spark, corpus_docs, tmp_path):
    from insurance_pdf_extractor_spark.plans.pipeline import build_results, extract_documents
    from insurance_pdf_extractor_spark.sources.sinks import export_csv, export_json

    raw = C.to_raw_df(spark, corpus_docs[:20])
    docs, _ = extract_documents(raw)
    res = build_results(docs)
    csv_dir = str(tmp_path / "csv")
    export_csv(res, csv_dir, columns=["doc_id", "status", "extracted_data"])
    back = spark.read.option("header", True).csv(csv_dir)
    assert back.count() == res.count()
    assert set(back.columns) == {"doc_id", "status", "extracted_data"}

    json_dir = str(tmp_path / "json")
    export_json(res.select("doc_id", "status", "warnings"), json_dir)
    jback = spark.read.json(json_dir)
    assert jback.count() == res.count()


def test_multimodal_features_and_frames(spark):
    from insurance_pdf_extractor_spark.operators.multimodal import (
        bmp_features,
        decode_bmp,
        encode_bmp,
        extract_media_features,
        histogram_features,
        sample_frames,
        synth_image,
    )

    bmp = encode_bmp(synth_image(3, h=4, w=4))
    rows = [
        ("m1", "image", b"\x00\x01\x02" * 100, "image/png", 8, 8, 0),
        ("m2", "video", b"\xff" * 50, "video/mp4", 0, 0, 3500),
        ("m3", "image", bmp, "image/bmp", 4, 4, 0),
        ("m4", "image", b"\x00\x01\x02" * 100, "application/octet-stream", 0, 0, 0),
    ]
    assets = spark.createDataFrame(
        rows,
        "media_ref string, kind string, payload binary, mime string, width int, height int, duration_ms long",
    )
    feats = {r["media_ref"]: r for r in extract_media_features(assets).collect()}
    # garbage under a real codec's mime: a poison row, not a failed batch
    assert feats["m1"]["n_bytes"] == 300
    assert feats["m1"]["features"] is None and feats["m1"]["err"] is not None
    # no content codec for MP4 video: poison row naming the seam
    assert feats["m2"]["features"] is None and "NotImplementedError" in feats["m2"]["err"]
    assert feats["m3"]["err"] is None
    assert feats["m3"]["features"] == pytest.approx(bmp_features(decode_bmp(bmp)), abs=1e-6)
    # an opaque payload yields its L1-normalized byte histogram
    assert feats["m4"]["err"] is None and len(feats["m4"]["features"]) == 16
    assert feats["m4"]["features"] == histogram_features(b"\x00\x01\x02" * 100)
    assert abs(sum(feats["m4"]["features"]) - 1.0) < 1e-6

    frames = sample_frames(assets, every_ms=1000).collect()
    assert [(r["media_ref"], r["frame_ts"]) for r in frames] == [("m2", 0), ("m2", 1000), ("m2", 2000)]


def test_decode_media_codec_formats_stay_stubbed():
    """Formats that need codecs not in this container remain an explicit
    seam; BMP/PNG/JPEG/WAV decode for real (tests/test_multimodal_decode.py
    and tests/test_jpeg.py — JPEG moved off this stub list in r5)."""
    import pytest as _pytest

    from insurance_pdf_extractor_spark.operators.multimodal import decode_media

    for mime in ("audio/mpeg", "video/mp4"):
        with _pytest.raises(NotImplementedError):
            decode_media(b"x", mime)

def test_streaming_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState: the dedup state survives micro-batches —
    a duplicate arriving in batch 2 is dropped because batch 1 already
    emitted its fingerprint."""
    from insurance_pdf_extractor_spark.streaming.stream import streaming_exact_dedup

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id string, text string"

    def run_batch():
        stream = spark.readStream.schema(schema).parquet(str(in_dir))
        out = streaming_exact_dedup(stream)

        def sink(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(str(tmp_path / "out"))

        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = spark.createDataFrame(
        [("a1", "hello world"), ("a2", "HELLO   world"), ("b1", "other text")], schema
    )
    b1.coalesce(1).write.mode("append").parquet(str(in_dir))
    run_batch()

    b2 = spark.createDataFrame(
        [("c1", "hello world"), ("d1", "brand new text")], schema  # c1 is a cross-batch dup
    )
    b2.coalesce(1).write.mode("append").parquet(str(in_dir))
    run_batch()

    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert "d1" in got and "b1" in got
    assert "c1" not in got  # cross-batch duplicate suppressed by state
    # exactly one keeper for the hello-world fingerprint
    assert len(got & {"a1", "a2"}) == 1


def test_bloom_ingest_dedup_reuses_bitmaps_across_batches(spark, tmp_path):
    """foreachBatch ingest with prebuilt sharded Bloom bitmaps: history
    is scanned ONCE at stream start; both micro-batch files are filtered
    against the same bitmaps (history dups dropped, in-batch dups kept —
    history_filter's contract), and output equals the plain anti-join."""
    from insurance_pdf_extractor_spark.streaming.stream import start_bloom_ingest_dedup

    schema = "doc_id string, text string"
    history = spark.createDataFrame(
        [("h1", "hello world"), ("h2", "accepted doc body")], schema
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # two files => two availableNow micro-batches through ONE bitmap build
    spark.createDataFrame(
        [("a1", "HELLO   world"), ("a2", "fresh one")], schema
    ).coalesce(1).write.mode("append").parquet(str(in_dir))
    spark.createDataFrame(
        [("b1", "accepted DOC body"), ("b2", "fresh two"), ("b3", "fresh two")], schema
    ).coalesce(1).write.mode("append").parquet(str(in_dir))

    q = start_bloom_ingest_dedup(
        spark,
        str(in_dir),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        history,
        n_shards=4,
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out" / "accepted")).collect()}
    # a1/b1 are history dups; b2+b3 BOTH pass (in-batch dedup is a
    # downstream stage's job)
    assert got == {"a2", "b2", "b3"}


def test_streaming_ingest_dedup_vs_static_history(spark, tmp_path):
    """Stream-static anti-join: streamed docs whose normalized text is
    already in the static history never reach the sink; unseen docs
    pass. Runs a REAL availableNow stream."""
    from insurance_pdf_extractor_spark.streaming.stream import streaming_ingest_dedup

    schema = "doc_id string, text string"
    history = spark.createDataFrame(
        [("h1", "hello world"), ("h2", "accepted doc body")], schema
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(
        [
            ("s1", "HELLO   world"),   # dup of h1 after normalization
            ("s2", "genuinely new"),
            ("s3", None),              # null text ignored
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(in_dir))

    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    out = streaming_ingest_dedup(stream, history)
    q = (
        out.writeStream.format("memory")
        .queryName("ingest_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id FROM ingest_dedup").collect()
    assert {r.doc_id for r in rows} == {"s2"}


def test_streaming_near_dup_flagging_reuses_band_table(spark, tmp_path):
    """start_near_dup_ingest_flagging: a REAL availableNow stream whose
    micro-batches all probe the SAME bucketed history band table
    (written once by dedup.write_band_table) — accumulated pairs equal
    the per-batch live-history calls."""
    from insurance_pdf_extractor_spark.operators import dedup
    from insurance_pdf_extractor_spark.streaming.stream import start_near_dup_ingest_flagging

    schema = "doc_id string, text string"
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the rain in spain stays mainly on the plain for days"
    )
    history = spark.createDataFrame(
        [("h1", base), ("h2", "totally different accepted document about arrow batches")],
        schema,
    )
    dedup.write_band_table(
        history, "stream_hist_bands", str(tmp_path / "hb"), n_buckets=4,
        id_col="doc_id", mode="overwrite",
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # two files => two micro-batches probing one band table
    b1 = [("a1", base), ("a2", "nothing in common with either history document at all")]
    b2 = [("b1", base.replace("dog", "cat"))]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(in_dir))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(in_dir))

    try:
        q = start_near_dup_ingest_flagging(
            spark,
            str(in_dir),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            history,
            hist_bands=spark.table("stream_hist_bands"),
            min_jaccard=0.5,
        )
        q.awaitTermination(120)
        got = {
            (r.batch_id, r.hist_id)
            for r in spark.read.parquet(str(tmp_path / "out" / "pairs")).collect()
        }
        want = set()
        for rows in (b1, b2):
            live = dedup.incremental_near_dup_pairs(
                spark.createDataFrame(rows, schema), history, min_jaccard=0.5
            )
            want |= {(r.batch_id, r.hist_id) for r in live.collect()}
        assert got == want
        assert ("a1", "h1") in got and ("b1", "h1") in got
        assert all(b != "a2" for b, _ in got)
    finally:
        spark.sql("DROP TABLE IF EXISTS stream_hist_bands")
