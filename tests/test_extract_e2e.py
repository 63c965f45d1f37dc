"""M1: Spark pipeline vs pure-Python oracle — byte identity per url.

The core invariant (BASELINE.json: "byte-identical extracted text per
url"): the distributed pipeline, under arbitrary partitioning and
shuffle order, must produce exactly the bytes the sequential
reference-semantics oracle produces.
"""

import pyarrow.parquet as pq
import pytest

from google_vision_ocr_spark import oracle
from google_vision_ocr_spark.plans.fused import extract_fused

# the two shapes of the one extraction kernel
SHAPES = {"fused": {}, "salted": {"page_level_salt": True}}


@pytest.fixture(scope="module", params=sorted(SHAPES))
def results(request, spark, fixture_dir):
    df = spark.read.parquet(fixture_dir["pages"])
    out = extract_fused(df, salt_partitions=8, **SHAPES[request.param]).collect()
    rows = pq.read_table(fixture_dir["pages"]).to_pylist()
    expected = {r.url: r for r in oracle.extract_table(rows)}
    return {r["url"]: r for r in out}, expected


def test_row_cardinality(results):
    got, expected = results
    assert set(got) == set(expected)


def test_byte_identity_per_url(results):
    got, expected = results
    mismatches = []
    for url, exp in expected.items():
        g = got[url]
        if g["text"].encode("utf-8") != exp.text.encode("utf-8"):
            mismatches.append((url, exp.kind, g["text"][:80], exp.text[:80]))
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:2]}"


def test_kinds_match(results):
    got, expected = results
    for url, exp in expected.items():
        assert got[url]["kind"] == exp.kind, url


def test_spans_match_oracle_and_slice_text(results):
    got, expected = results
    for url, exp in expected.items():
        g = got[url]
        got_spans = [(s["page"], s["start"], s["end"]) for s in g["spans"]]
        exp_spans = [(s.page, s.start, s.end) for s in exp.spans]
        assert got_spans == exp_spans, url
        raw = g["text"].encode("utf-8")
        for page, start, end in got_spans:
            block = raw[start:end].decode("utf-8")
            assert block.startswith(f"\n--- Page {page} ---\n")
            assert block.endswith("\n\n")


def test_error_and_page_counts(results):
    got, expected = results
    for url, exp in expected.items():
        assert got[url]["n_pages"] == exp.n_pages, url
        assert got[url]["n_errors"] == exp.n_errors, url
    assert sum(g["n_errors"] for g in got.values()) == 0


def test_skewed_doc_extracted(results):
    got, expected = results
    big = max(expected.values(), key=lambda r: r.n_pages)
    assert big.n_pages >= 60
    assert got[big.url]["text"] == big.text


def test_identity_stable_across_partitionings(spark, fixture_dir):
    df = spark.read.parquet(fixture_dir["pages"])
    for shape, kw in SHAPES.items():
        a = {r["url"]: r["text"] for r in extract_fused(df.repartition(1), **kw).collect()}
        b = {r["url"]: r["text"]
             for r in extract_fused(df.repartition(16), salt_partitions=16, **kw).collect()}
        assert a == b, shape


def test_corrupt_spdf_is_error_as_data(spark, tmp_path):
    """A corrupt document payload must not fail the job (T10 fault
    isolation at scale); output stays byte-identical to the oracle."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq_

    bad_payload = b"%SPDF" + b"\xff\xff\xff\x7f"
    t = pa.table({
        "url": ["u:trunc"],
        "warc_ts": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us", tz="UTC")),
        "html": pa.array([bad_payload], pa.binary()),
        "text": pa.array([None], pa.string()),
        "lang": ["en"],
    })
    p = str(tmp_path / "bad.parquet")
    pq_.write_table(t, p)
    exp = oracle.extract_row({"url": "u:trunc", "html": bad_payload, "text": None})
    for shape, kw in SHAPES.items():
        got = extract_fused(spark.read.parquet(p), **kw).collect()
        assert len(got) == 1, shape
        assert got[0]["text"] == exp.text, shape
        assert got[0]["n_errors"] == exp.n_errors == 1, shape


def test_zero_page_document_survives(spark, tmp_path):
    """A zero-page SPDF yields an empty-text row (the reference writes
    an empty .txt), never a dropped url — in BOTH shapes."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from google_vision_ocr_spark import formats

    payload = formats.encode_spdf([])
    t = pa.table({
        "url": ["u:empty"],
        "warc_ts": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us", tz="UTC")),
        "html": pa.array([payload], pa.binary()),
        "text": pa.array([None], pa.string()),
        "lang": ["en"],
    })
    p = str(tmp_path / "zero.parquet")
    pq_.write_table(t, p)
    exp = oracle.extract_row({"url": "u:empty", "html": payload, "text": None})
    assert exp.text == "" and exp.n_pages == 0 and exp.kind == "pdf"
    for shape, kw in SHAPES.items():
        got = extract_fused(spark.read.parquet(p), **kw).collect()
        assert len(got) == 1, shape
        r = got[0]
        assert (r["url"], r["kind"], r["text"], r["n_pages"], r["n_errors"]) == \
               ("u:empty", "pdf", "", 0, 0), shape
        assert list(r["spans"]) == []


def test_jpeg_tiff_rows_recognized_not_errored(results, fixture_dir):
    """The keep-format rule routes JPEG/TIFF payloads to the recognizer
    unchanged (ocr_service.py:177, extension filter :144-147) — they must
    yield recognized text, not UNKNOWN-format error rows."""
    from google_vision_ocr_spark import formats

    got, _ = results
    rows = pq.read_table(fixture_dir["pages"]).to_pylist()
    fmt_by_url = {r["url"]: formats.sniff_format(r["html"]) for r in rows}
    seen = {f: 0 for f in ("JPEG", "TIFF")}
    for url, fmt in fmt_by_url.items():
        if fmt in seen:
            seen[fmt] += 1
            g = got[url]
            assert g["kind"] == "image", url
            assert g["n_errors"] == 0, (url, g["text"][:80])
            assert g["text"] and not g["text"].startswith("OCR Error"), url
    assert all(v > 0 for v in seen.values()), f"fixture lacks coverage: {seen}"
