"""Pure-Python reference-semantics oracle (no Spark).

Single-process reimplementation of the reference pipelines, faithful to
the cited control flow, used as the byte-identity ground truth for the
distributed Spark pipeline (SURVEY.md §5.1):

- :func:`extract_pdf_text` — the ``process_pdf`` golden path
  (``ocr_service.py:96-127``): rasterize every page, grayscale
  (``ocr_service.py:84``), PNG-encode (``ocr_service.py:85``),
  recognize, sort by page number (``ocr_service.py:116``), then frame
  as ``"\\n--- Page {n} ---\\n" + text + "\\n\\n"``
  (``ocr_service.py:119-122``; golden ``result/MergedTest.pdf.txt``).
- :func:`extract_image_text` — the folder path
  (``ocr_service.py:156-196``): **no preprocessing** (grayscale call
  commented out at ``ocr_service.py:173-174``), keep format if in
  {PNG, JPEG, BMP, TIFF} else re-encode PNG (``ocr_service.py:177``),
  recognize, raw text out (no framing, ``ocr_service.py:184-190``).
- :func:`extract_html_text` — north-rule HTML branch (T11).
- :func:`route_items` / :func:`chapter_islands` — the EPUB assembly
  path (``epub_processor.py:75-111`` routing, ``:221-236`` islands).

Recognition failures become per-item error text, never job failures,
matching the batch path's error-as-data rule (``ocr_service.py:226-228``).
"""

from __future__ import annotations

from dataclasses import dataclass

from . import formats
from .functions.html import strip_html_bytes
from .recognizers import StubRecognizer

PAGE_FRAME = "\n--- Page {n} ---\n{text}\n\n"  # ocr_service.py:120-122
KEEP_FORMATS = ("PNG", "JPEG", "BMP", "TIFF")  # ocr_service.py:177


@dataclass
class Span:
    page: int
    start: int
    end: int


@dataclass
class ExtractResult:
    url: str
    kind: str
    text: str
    spans: list[Span]
    n_pages: int
    n_errors: int


def frame_page(page: int, text: str) -> str:
    return PAGE_FRAME.format(n=page, text=text)


def _recognize_one(recognizer, payload: bytes, item_id) -> tuple[str, bool]:
    """Returns (text, is_error) with the error-as-data message format of
    ``ocr_service.py:228``."""
    try:
        return recognizer.recognize(payload), False
    except Exception as exc:
        return f"OCR Error for ID {item_id}: {exc}", True


def extract_pdf_text(url: str, payload: bytes, recognizer=None) -> ExtractResult:
    recognizer = recognizer or StubRecognizer()
    try:
        page_texts = formats.decode_spdf(payload)
    except Exception:
        # fault isolation mirror of the engine (plans/fused.explode)
        page_texts = None
    results: list[tuple[int, str, bool]] = []
    if page_texts is None:
        results.append((1, "OCR Error for ID 1: corrupt document payload", True))
        page_texts = []
    for page_number, page_text in enumerate(page_texts, start=1):
        rgb = formats.render_page_rgb(page_text)        # rasterize (S1)
        gray = formats.rgb_to_gray(rgb)                 # grayscale (T1)
        png = formats.encode_png(gray)                  # PNG encode (T2)
        text, is_err = _recognize_one(recognizer, png, page_number)  # T4/T10
        results.append((page_number, text, is_err))
    results.sort(key=lambda x: x[0])                    # O1: ocr_service.py:116
    parts: list[str] = []
    spans: list[Span] = []
    offset = 0
    for page_number, text, _ in results:
        framed = frame_page(page_number, text)
        n_bytes = len(framed.encode("utf-8"))
        spans.append(Span(page=page_number, start=offset, end=offset + n_bytes))
        offset += n_bytes
        parts.append(framed)
    return ExtractResult(
        url=url,
        kind="pdf",
        text="".join(parts),
        spans=spans,
        n_pages=len(results),
        n_errors=sum(1 for r in results if r[2]),
    )


def normalize_image_payload(payload: bytes) -> bytes:
    """Keep-format-else-PNG rule (T3, ``ocr_service.py:177-179``)."""
    fmt = formats.sniff_format(payload)
    if fmt in KEEP_FORMATS:
        return payload
    if fmt == "GIF":
        try:
            return formats.encode_png(formats.decode_gif_gray(payload))
        except Exception:
            pass  # undecodable GIF: passes through and fails in recognition
    return payload  # unknown formats pass through and fail in recognition


def extract_image_text(url: str, payload: bytes, recognizer=None) -> ExtractResult:
    recognizer = recognizer or StubRecognizer()
    normalized = normalize_image_payload(payload)  # NO preprocess: ocr_service.py:173-174
    text, is_err = _recognize_one(recognizer, normalized, url)
    return ExtractResult(url=url, kind="image", text=text, spans=[], n_pages=1,
                         n_errors=1 if is_err else 0)


def extract_html_text(url: str, payload: bytes) -> ExtractResult:
    text = strip_html_bytes(payload)
    return ExtractResult(url=url, kind="html", text=text, spans=[], n_pages=1, n_errors=0)


def extract_row(row: dict, recognizer=None) -> ExtractResult:
    """Dispatch one input-table row by payload format (flagship semantics)."""
    payload = row["html"]
    fmt = formats.sniff_format(payload)
    if fmt == "SPDF":
        return extract_pdf_text(row["url"], payload, recognizer)
    if fmt in ("PNG", "JPEG", "BMP", "TIFF", "GIF"):
        return extract_image_text(row["url"], payload, recognizer)
    if fmt == "HTML":
        return extract_html_text(row["url"], payload)
    if fmt == "none":
        return ExtractResult(url=row["url"], kind="text", text=row.get("text") or "",
                             spans=[], n_pages=0, n_errors=0)
    return ExtractResult(url=row["url"], kind="unknown", text="", spans=[],
                         n_pages=0, n_errors=1)


def extract_table(rows: list[dict], recognizer=None) -> list[ExtractResult]:
    """Sequential reference-semantics run over a whole table."""
    recognizer = recognizer or StubRecognizer()
    return [extract_row(r, recognizer) for r in rows]


# ---------------------------------------------------------------------------
# EPUB assembly path (routing + gaps-and-islands), SURVEY.md §2 F2/F3/W1/A2
# ---------------------------------------------------------------------------


def route_items(
    pages: list[tuple[int, str]], illustration_pages: set[int]
) -> list[dict]:
    """Split pages into OCR items and illustration items
    (``epub_processor.py:95-111``): illustration pages get
    ``id='img_pdf_{n}'`` and kind 'image'; others kind 'text'."""
    items = []
    for page_number, page_text in pages:
        if page_number in illustration_pages:
            items.append({"page": page_number, "kind": "image",
                          "id": f"img_pdf_{page_number}", "text": None})
        else:
            items.append({"page": page_number, "kind": "text",
                          "id": f"page_{page_number}", "text": page_text})
    return items


def chapter_islands(items: list[dict]) -> list[dict]:
    """Gaps-and-islands chapter grouping (``epub_processor.py:221-236``):
    image items close the current text run; each maximal run of
    consecutive text items becomes one merged chapter whose id/title
    comes from the run's first page."""
    chapters: list[dict] = []
    run: list[dict] = []
    for item in sorted(items, key=lambda x: x["page"]):
        if item["kind"] == "image":
            if run:
                chapters.append(_merge_run(run))
                run = []
            chapters.append({"kind": "image", "first_page": item["page"],
                             "n_pages": 1, "html": None})
        else:
            run.append(item)
    if run:
        chapters.append(_merge_run(run))
    return chapters


def _merge_run(run: list[dict]) -> dict:
    """Merged text chapter (``epub_processor.py:200-219``):
    per-page HTML block ``<h2>Page {n}</h2><pre>{text}</pre>\\n``."""
    html = "".join(f"<h2>Page {it['page']}</h2><pre>{it['text']}</pre>\n" for it in run)
    return {"kind": "text", "first_page": run[0]["page"], "n_pages": len(run), "html": html}
