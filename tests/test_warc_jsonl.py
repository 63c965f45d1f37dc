"""WARC source (Common-Crawl container) + JSONL corpus source."""

from datetime import datetime, timezone

import pytest

from google_vision_ocr_spark import formats, oracle
from google_vision_ocr_spark.sources.warc import (
    encode_warc,
    read_warc,
    warc_bytes_to_rows,
    write_warc_file,
)

TS = datetime(2017, 10, 24, 12, 0, 0, tzinfo=timezone.utc)


def _records():
    gray = formats.rgb_to_gray(formats.render_page_rgb("warc body text"))
    return [
        {"url": "https://example.org/a", "ts": TS,
         "body": b"<!DOCTYPE html><html><body><p>hello common crawl</p></body></html>"},
        {"url": "https://example.org/b", "ts": TS,
         "body": formats.encode_spdf(["page one", "page two"])},
        {"url": "https://example.org/c", "ts": TS, "body": formats.encode_png(gray)},
    ]


@pytest.mark.parametrize("gzipped", [False, True])
def test_warc_roundtrip(gzipped):
    recs = _records()
    data = encode_warc(recs, gzipped=gzipped)
    if gzipped:
        assert data[:2] == b"\x1f\x8b"
    rows = warc_bytes_to_rows(data)
    assert [r["url"] for r in rows] == [r["url"] for r in recs]
    assert [r["html"] for r in rows] == [r["body"] for r in recs]
    assert all(r["warc_ts"] == TS for r in rows)


def test_warc_skips_non_response_records():
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
    )
    data = info + encode_warc(_records()[:1])
    assert len(warc_bytes_to_rows(data)) == 1


def test_read_warc_to_extraction_byte_identity(spark, tmp_path):
    """WARC segments → input table → fused extraction must equal the
    sequential oracle on the same records."""
    from google_vision_ocr_spark.plans.fused import extract_fused

    recs = _records()
    write_warc_file(str(tmp_path / "seg-00000.warc"), recs[:2])
    write_warc_file(str(tmp_path / "seg-00001.warc.gz"), recs[2:])
    df = read_warc(spark, str(tmp_path))
    rows = sorted(df.collect(), key=lambda r: r["url"])
    assert [r["url"] for r in rows] == [r["url"] for r in recs]

    out = {r["url"]: r for r in extract_fused(df).collect()}
    expected = oracle.extract_table(
        [{"url": r["url"], "html": r["body"], "text": None} for r in recs]
    )
    for exp in expected:
        assert out[exp.url]["text"].encode() == exp.text.encode(), exp.url
        assert out[exp.url]["kind"] == exp.kind


def test_warc_malformed_content_length_raises_descriptive():
    import pytest
    from google_vision_ocr_spark.sources.warc import iter_warc_records

    bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"Content-Length: nope\r\n\r\nbody")
    with pytest.raises(ValueError, match="Content-Length"):
        list(iter_warc_records(bad))
    missing = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody"
    with pytest.raises(ValueError, match="Content-Length"):
        list(iter_warc_records(missing))
    overrun = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"Content-Length: 9999\r\n\r\nshort")
    with pytest.raises(ValueError, match="overruns"):
        list(iter_warc_records(overrun))


def test_jsonl_read_quarantines_corrupt_lines(spark, tmp_path):
    """PERMISSIVE JSONL ingest: good rows parse, malformed lines come
    back as auditable raw strings, nothing is silently dropped."""
    import json
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from google_vision_ocr_spark import cache
    from google_vision_ocr_spark.sources.jsonl import read_jsonl_corpus

    p = tmp_path / "drop"
    os.makedirs(p)
    lines = [json.dumps({"doc_id": i, "text": f"doc {i}"}) for i in range(5)]
    lines.insert(2, '{"doc_id": 99, "text": "unterminated')  # malformed
    lines.insert(4, "not json at all")
    (p / "part-000.jsonl").write_text("\n".join(lines))

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    good, bad = read_jsonl_corpus(spark, str(p), schema)
    assert sorted(r.doc_id for r in good.collect()) == [0, 1, 2, 3, 4]
    bad_lines = sorted(r.raw_line for r in bad.collect())
    assert bad_lines == ["not json at all", '{"doc_id": 99, "text": "unterminated']
    # the read's cache is tracked: releasing the session's tracked
    # frames leaves nothing cached
    cache.release_all()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
