"""Every payload kind through both shapes of the extraction kernel —
the default fused stage and the ``page_level_salt`` split around its
``(url, page)`` exchange — against the sequential oracle.

Images are built with the real ``formats`` encoders, so the keep-format
rule (``ocr_service.py:177``), GIF normalization, the corrupt / zero-page
SPDF fault paths and the unknown-format error row are all covered in
one small frame.  A 240-page SPDF (the length of the long documents of
the ``extract_pdf`` benchmark workload) pins page order, ``n_pages``
and the byte spans of a document folded in one task (default shape) or
gathered from four (salted shape)."""

import pytest

from google_vision_ocr_spark import formats, oracle
from google_vision_ocr_spark.plans.fused import extract_fused
from google_vision_ocr_spark.recognizers import FlakyStubRecognizer

_GRAY = formats.rgb_to_gray(formats.render_page_rgb("matrix page 7"))

PAYLOADS = {
    "spdf": formats.encode_spdf(["first page", "second page", "third page"]),
    "spdf_240_pages": formats.encode_spdf([f"book page {i}" for i in range(1, 241)]),
    "spdf_zero_pages": formats.encode_spdf([]),
    "spdf_corrupt": b"%SPDF" + b"\xff\xff\xff\x7f",
    "png": formats.encode_png(_GRAY),
    "jpeg": formats.encode_jpeg_gray(_GRAY),
    "bmp": formats.encode_bmp_gray(_GRAY),
    "tiff": formats.encode_tiff_gray(_GRAY),
    "gif": formats.encode_gif_gray(_GRAY),
    "gif_truncated": formats.encode_gif_gray(_GRAY)[:-9],
    "html": b"<html><nav>menu</nav><body><p>Main content here.</p></body></html>",
    "none": None,
    "unknown": b"\x00\x01 not a known container",
}
SHAPES = {
    "default": {},
    "salted": {"page_level_salt": True, "salt_partitions": 4},
}
_SCHEMA = "url string, html binary, text string"


def _rows():
    return [{"url": f"u:{k}", "html": p, "text": "plain text row" if p is None else None}
            for k, p in PAYLOADS.items()]


def _project(kind, text, spans, n_pages, n_errors):
    return kind, text, [tuple(s) for s in spans], n_pages, n_errors


@pytest.fixture(scope="module")
def outputs(spark):
    df = spark.createDataFrame([tuple(r.values()) for r in _rows()], _SCHEMA)
    got = {}
    for shape, kwargs in SHAPES.items():
        got[shape] = {
            r["url"]: _project(r["kind"], r["text"],
                               [(s["page"], s["start"], s["end"]) for s in r["spans"]],
                               r["n_pages"], r["n_errors"])
            for r in extract_fused(df, **kwargs).collect()
        }
    return got


def test_payloads_cover_every_kind():
    fmts = {k: formats.sniff_format(p) for k, p in PAYLOADS.items()}
    assert set(fmts.values()) == {"SPDF", "PNG", "JPEG", "BMP", "TIFF", "GIF",
                                  "HTML", "none", "UNKNOWN"}


@pytest.mark.parametrize("shape", sorted(SHAPES))
@pytest.mark.parametrize("name", sorted(PAYLOADS))
def test_kind_matches_oracle(outputs, shape, name):
    row = next(r for r in _rows() if r["url"] == f"u:{name}")
    exp = oracle.extract_row(row)
    want = _project(exp.kind, exp.text, [(s.page, s.start, s.end) for s in exp.spans],
                    exp.n_pages, exp.n_errors)
    assert outputs[shape][row["url"]] == want


def test_shapes_emit_one_row_per_url(outputs):
    urls = {r["url"] for r in _rows()}
    for shape in SHAPES:
        assert set(outputs[shape]) == urls, shape


def test_kernel_options_reach_both_shapes(spark, outputs):
    """``make_recognize_item``'s options reach the recognize half of
    both shapes, and a misspelt one fails the plan build.

    With the flaky recognizer and no retries both shapes report the
    same injected errors per url; one retry clears them all.  Otsu
    binarization reads as ``''`` on every PDF page of the stub
    recognizer, framing kept; deskew and DPI normalization leave the
    unsheared renders' text as is; image, HTML and text rows are
    untouched by all three."""
    df = spark.createDataFrame([tuple(r.values()) for r in _rows()], _SCHEMA).coalesce(1)

    def errors(max_retries, **shape):
        out = extract_fused(df, recognizer="flaky-stub", max_retries=max_retries,
                            backoff_base_s=0.0, **shape)
        return {r["url"]: r["n_errors"] for r in out.collect()}

    expected = {r["url"]: oracle.extract_row(r).n_errors for r in _rows()}
    no_retry = errors(0)
    assert errors(0, page_level_salt=True) == no_retry
    assert sum(no_retry.values()) > sum(expected.values())
    assert errors(1) == errors(1, page_level_salt=True) == expected

    for shape, kwargs in SHAPES.items():
        got = {r["url"]: (r["kind"], r["text"], r["n_pages"], r["n_errors"])
               for r in extract_fused(df, otsu=True, do_deskew=True, dpi=True,
                                      **kwargs).collect()}
        want = {url: (kind, text, n_pages, n_errors)
                for url, (kind, text, _, n_pages, n_errors) in outputs[shape].items()}
        for url, n_pages in (("u:spdf", 3), ("u:spdf_240_pages", 240)):
            blank = "".join(oracle.frame_page(p, "") for p in range(1, n_pages + 1))
            assert want[url][1] != blank
            want[url] = ("pdf", blank, n_pages, 0)
        assert got == want, shape

    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup())
    with pytest.raises(TypeError, match="deskew"):
        extract_fused(df, deskew=True)
    assert set(spark.sparkContext.statusTracker().getJobIdsForGroup()) == jobs


def test_partly_failed_document_matches_oracle(spark):
    """A multi-page document some of whose pages fail recognition.  The
    flaky recognizer with no retries fails the first sight of each
    distinct page image in a task, so pages 1, 2 and 5 fail and the
    repeats on pages 3 and 4 recognize.  The salted shape runs one
    reduce task over one map output, so it too sees the pages in order;
    both shapes equal the oracle over a fresh recognizer."""
    row = {"url": "u:partly_failed",
           "html": formats.encode_spdf(["alpha", "beta", "alpha", "beta", "gamma"]),
           "text": None}
    exp = oracle.extract_row(row, FlakyStubRecognizer())
    assert (exp.n_pages, exp.n_errors) == (5, 3)
    want = _project(exp.kind, exp.text, [(s.page, s.start, s.end) for s in exp.spans],
                    exp.n_pages, exp.n_errors)
    df = spark.createDataFrame([tuple(row.values())], _SCHEMA).coalesce(1)
    for shape in ({}, {"page_level_salt": True, "salt_partitions": 1}):
        (r,) = extract_fused(df, recognizer="flaky-stub", max_retries=0, **shape).collect()
        got = _project(r["kind"], r["text"], [(s["page"], s["start"], s["end"]) for s in r["spans"]],
                       r["n_pages"], r["n_errors"])
        assert got == want, shape
