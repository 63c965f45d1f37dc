"""Streaming twins equal their batch counterparts on the same files."""

import os

import pyarrow.parquet as pq

from google_vision_ocr_spark.streaming.events import (
    read_event_stream,
    read_pages_stream,
    run_available_now,
    windowed_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    stream = read_event_stream(spark, SF_DIR)
    assert stream.isStreaming
    got = run_available_now(
        windowed_counts(stream), str(tmp_path / "ckpt"),
        query_name="win_counts", output_mode="complete",
    ).collect()
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events", "sum_value")
        .collect()
    )
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, batch))
    gmap = {key(r): (r["n_events"], r["sum_value"]) for r in got}
    bmap = {key(r): (r["n_events"], r["sum_value"]) for r in batch}
    assert gmap == bmap


def test_streaming_extraction_stage_matches_batch(spark, fixture_dir, tmp_path):
    from google_vision_ocr_spark.plans.fused import scan_items

    stream = read_pages_stream(spark, os.path.dirname(fixture_dir["pages"]), max_files_per_trigger=1)
    got = run_available_now(
        scan_items(stream), str(tmp_path / "ckpt2"), query_name="items"
    )
    batch = scan_items(spark.read.parquet(fixture_dir["pages"]))
    g = {(r["url"], r["page"]): r["kind"] for r in got.collect()}
    b = {(r["url"], r["page"]): r["kind"] for r in batch.collect()}
    assert g == b
    n_rows = pq.read_metadata(fixture_dir["pages"]).num_rows
    assert len({u for u, _ in g}) == n_rows


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """A doubled input stream (every event delivered twice, in two
    files) dedupes back to exactly the batch-distinct rows."""
    import shutil

    from google_vision_ocr_spark.streaming.events import (
        dedup_stream,
        read_event_stream,
        run_available_now,
    )

    src = str(tmp_path / "events_in")
    os.makedirs(src, exist_ok=True)
    shutil.copy(f"{SF_DIR}/events.parquet", os.path.join(src, "events_a.parquet"))
    shutil.copy(f"{SF_DIR}/events.parquet", os.path.join(src, "events_b.parquet"))

    stream = read_event_stream(spark, src)
    got = run_available_now(
        dedup_stream(stream), str(tmp_path / "ckpt_dedup"),
        query_name="dedup_stream_t",
    )
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert got.count() == batch.count()
    assert got.select("event_id").distinct().count() == batch.count()


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked purchase⋈view interval join, drained, equals the
    same join on the static frame."""
    from google_vision_ocr_spark.streaming.events import (
        purchases_with_recent_views,
        read_event_stream,
        run_available_now,
    )

    stream = read_event_stream(spark, SF_DIR)
    got = run_available_now(
        purchases_with_recent_views(stream), str(tmp_path / "ckpt_ssj"),
        query_name="ssj_t",
    ).collect()
    batch = purchases_with_recent_views(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    ).collect()
    key = lambda r: (r["event_id"], r["view_ts"])  # noqa: E731
    assert len(got) > 0
    assert sorted(map(key, got)) == sorted(map(key, batch))
