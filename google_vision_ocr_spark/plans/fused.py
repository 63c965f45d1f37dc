"""Scale-optimal extraction plan: ONE scan, over ONE per-row kernel,
and no shuffle unless page-level salting asks for one.

The kernel has two halves:

- :func:`explode` — classify an input row by magic bytes and yield its
  page items ``(url, page, kind, image, text)``: decode + rasterize
  SPDF pages (``image`` is the RGB raster), normalize GIF to PNG (T3),
  strip HTML (T11), pass text through.
- :func:`make_recognize_item` — per-task recognizer state plus the
  per-item body: grayscale [+ optional dpi/deskew/otsu] + PNG for PDF
  rasters only (the reference's folder path skips preprocessing,
  ``ocr_service.py:173-174``), then recognition with rate limiting,
  retries and error-as-data (``operators/recognize.make_recognize``).
  Its signature is the only declaration of the kernel's seven options
  (recognizer, rate limit, retries, backoff, Otsu, deskew, DPI) and
  their defaults; every plan takes them as ``**kernel`` and binds them
  to that signature while the plan is built, so a misspelt option fails
  there, not in a Spark task.

Every Python stage is one ``mapInArrow`` built by ``_stage``; the
recognizing ones go through ``_recognize_stage``, which maps each input
row's page items through one per-task ``make_recognize_item(**kernel)``.

Default shape (``extract_fused``): ONE ``mapInArrow`` stage composing
both halves, the raster handed across in-process, that folds each input
row's recognized pages into one document row ``(url, kind, ps,
n_errors)`` — the reference extracts a PDF whole in one worker and puts
its pages back in order (``ocr_service.py:109-123``).  1 scan, no
shuffle, no aggregate.

Staged shape (``page_level_salt=True``) for pathological page-count
skew: the same two halves split around a ``(url, page)`` exchange.

1. ``scan_items``   — ``mapInArrow`` over :func:`explode`; PDF rasters
   cross the exchange as SIMG.
2. repartition on ``(url, page)`` — spreads one enormous document's
   pages across the cluster (BASELINE.json north_star), at the cost of
   shuffling raster bytes.
3. ``recognize_items`` — ``mapInArrow`` over the recognize half.
4. ``groupBy(url)`` — gathers each document's pages back into the same
   ``(url, kind, ps, n_errors)`` row.

Both shapes end in ``finish_docs``, one select: PDF docs get the ordered
framed concat + byte spans (``ocr_service.py:116, 119-122``),
single-item kinds pass their text through.  Both are byte-identical to
the oracle for every payload kind (asserted in tests).
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import formats
from ..functions.html import strip_html_bytes
from ..operators.assemble import FRAMED_FROM_PS, SPANS_FROM_FRAMED, SPANS_TYPE
from ..operators.preprocess import deskew as _deskew
from ..operators.preprocess import dpi_normalize, otsu_binarize
from ..operators.recognize import make_recognize

ITEM_SCHEMA = "url string, page int, kind string, image binary, text string"
RECOGNIZED_SCHEMA = "url string, page int, kind string, text string, ocr_error boolean"
_ITEM_SCHEMA_PA = pa.schema([
    ("url", pa.string()), ("page", pa.int32()), ("kind", pa.string()),
    ("image", pa.binary()), ("text", pa.string()),
])
_RECOGNIZED_SCHEMA_PA = pa.schema([
    ("url", pa.string()), ("page", pa.int32()), ("kind", pa.string()),
    ("text", pa.string()), ("ocr_error", pa.bool_()),
])
DOC_SCHEMA = "url string, kind string, ps array<struct<page:int,text:string>>, n_errors int"
_DOC_SCHEMA_PA = pa.schema([
    ("url", pa.string()), ("kind", pa.string()),
    ("ps", pa.list_(pa.struct([("page", pa.int32()), ("text", pa.string())]))),
    ("n_errors", pa.int32()),
])
_CHUNK_ROWS = 256
# keep-format rule (ocr_service.py:177): PNG/JPEG/BMP/TIFF pass through
# unchanged; GIF re-encodes to PNG
_IMAGE_FORMATS = ("PNG", "JPEG", "BMP", "TIFF", "GIF")


# --- the kernel --------------------------------------------------------------


def explode(url: str, payload: bytes | None, text: str | None) -> Iterator[tuple]:
    """Explode half: classify one input row by magic bytes and yield its
    page items ``(url, page, kind, image, text)``.  PDF pages are
    rendered lazily, one raster in memory at a time."""
    fmt = formats.sniff_format(payload)
    if fmt == "SPDF":
        try:
            page_texts = formats.decode_spdf(payload)
        except Exception:
            # fault isolation (T10): a corrupt document must not fail the
            # job — one imageless page becomes error-as-data downstream
            yield url, 1, "pdf", None, None
            return
        if not page_texts:
            # zero-page document: the reference writes an empty .txt
            # (ocr_service.py:119 loop body never runs) — emit a marker
            # row, never drop the url
            yield url, 0, "pdf0", None, ""
            return
        for page_no, page_text in enumerate(page_texts, start=1):
            yield url, page_no, "pdf", formats.render_page_rgb(page_text), None
    elif fmt in _IMAGE_FORMATS:
        if fmt == "GIF":
            try:
                payload = formats.encode_png(formats.decode_gif_gray(payload))
            except Exception:
                pass  # undecodable: recognition reports it as data
        yield url, 1, "image", payload, None
    elif fmt == "HTML":
        yield url, 1, "html", None, strip_html_bytes(payload)
    elif fmt == "none":
        yield url, 1, "text", None, text if text is not None else ""
    else:
        yield url, 1, "unknown", None, None


def make_recognize_item(
    recognizer: str = "stub",
    rate_limit_qps: float | None = None,
    max_retries: int = 3,
    backoff_base_s: float = 0.05,
    otsu: bool = False,
    do_deskew: bool = False,
    dpi: bool = False,
) -> Callable[[tuple], tuple]:
    """Recognize half: per-task state plus ``recognize_item``, which maps
    one page item to its recognized row
    ``(url, page, kind, text, ocr_error)``.  The only declaration of the
    kernel's options and their defaults."""
    recognize = make_recognize(recognizer, rate_limit_qps, max_retries, backoff_base_s)

    def recognize_item(item: tuple) -> tuple:
        url, page, kind, image, text = item
        if kind == "pdf":
            if image is None:
                return url, page, kind, f"OCR Error for ID {page}: corrupt document payload", True
            gray = formats.rgb_to_gray(image)
            if dpi:
                gray = dpi_normalize(gray)
            if do_deskew:
                gray = _deskew(gray)
            if otsu:
                gray = otsu_binarize(gray)
            return (url, page, kind, *recognize(formats.encode_png(gray), page))
        if kind == "image":
            return (url, page, kind, *recognize(image, url))  # NO preprocess
        if kind == "unknown":
            return url, page, kind, "", True
        return url, page, kind, text, False  # html / text / pdf0: already extracted

    return recognize_item


# --- Arrow plumbing ------------------------------------------------------------


def _rows(batches: Iterable[pa.RecordBatch]) -> Iterator[tuple]:
    """Python rows of each record batch, in selected column order."""
    for rb in batches:
        yield from zip(*(col.to_pylist() for col in rb.columns))


def _batched(rows: Iterable[tuple], schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """Record batches of at most ``_CHUNK_ROWS`` rows, so a
    many-thousand-page document never grows one batch unbounded."""

    def to_batch(buf: list[tuple]) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [pa.array(col, type=field.type) for col, field in zip(zip(*buf), schema)],
            schema=schema,
        )

    buf: list[tuple] = []
    for row in rows:
        buf.append(row)
        if len(buf) >= _CHUNK_ROWS:
            yield to_batch(buf)
            buf = []
    if buf:
        yield to_batch(buf)


def _stage(df: DataFrame, cols: list[str], rows_out: Callable[[Iterator[tuple]], Iterable[tuple]],
           schema: str, schema_pa: pa.Schema) -> DataFrame:
    """Every Python stage of the plans below: a ``mapInArrow`` over ``df``'s
    ``cols`` that maps each task's rows through ``rows_out`` and emits
    bounded record batches of ``schema``."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from _batched(rows_out(_rows(batches)), schema_pa)

    return df.select(*cols).mapInArrow(run, schema)


def _recognize_stage(df: DataFrame, cols: list[str],
                     items_of: Callable[..., Iterable[tuple]],
                     kernel: dict, per_document: bool = False) -> DataFrame:
    """A :func:`_stage` whose task maps each row's page items,
    ``items_of(*row)``, through one per-task
    ``make_recognize_item(**kernel)``: one recognized row per page item
    or, ``per_document``, one :func:`_document` row per input row.  The
    options are bound to that signature here, before any task runs, so
    a misspelt one raises ``TypeError`` while the plan is built."""
    inspect.signature(make_recognize_item).bind(**kernel)

    def rows_out(rows: Iterator[tuple]) -> Iterator[tuple]:
        recognize_item = make_recognize_item(**kernel)
        for row in rows:
            recognized = map(recognize_item, items_of(*row))
            if per_document:
                yield _document(recognized)
            else:
                yield from recognized

    if per_document:
        return _stage(df, cols, rows_out, DOC_SCHEMA, _DOC_SCHEMA_PA)
    return _stage(df, cols, rows_out, RECOGNIZED_SCHEMA, _RECOGNIZED_SCHEMA_PA)


def _document(recognized: Iterator[tuple]) -> tuple:
    """Fold one input row's recognized page items into its document row
    ``(url, kind, ps, n_errors)``, the row :func:`gather_docs` builds in
    the salted shape.  :func:`explode` yields a row's pages in order and
    renders each raster only when it is recognized, so only the page
    texts are held."""
    ps, n_errors = [], 0
    for url, page, kind, text, ocr_error in recognized:
        ps.append((page, text))
        n_errors += ocr_error
    return url, kind, ps, n_errors


# --- plans -------------------------------------------------------------------


def scan_items(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """The explode half as its own ``mapInArrow``: input rows → page
    items, PDF rasters serialized as SIMG for the exchange that follows."""

    def items(rows: Iterator[tuple]) -> Iterator[tuple]:
        for row in rows:
            for url, page, kind, image, text in explode(*row):
                if kind == "pdf" and image is not None:
                    image = formats.encode_simg(image)
                yield url, page, kind, image, text

    return _stage(df, ["url", payload_col, "text"], items, ITEM_SCHEMA, _ITEM_SCHEMA_PA)


def recognize_items(items: DataFrame, **kernel) -> DataFrame:
    """The recognize half as its own ``mapInArrow``: page items (SIMG
    rasters) → recognized rows."""

    def decoded(url, page, kind, image, text) -> tuple[tuple]:
        if kind == "pdf" and image is not None:
            image = formats.decode_simg(image)
        return ((url, page, kind, image, text),)

    return _recognize_stage(items, ["url", "page", "kind", "image", "text"], decoded, kernel)


def gather_docs(recognized: DataFrame) -> DataFrame:
    """The salted shape's one ``groupBy(url)``: recognized page items,
    spread across tasks, → document rows ``(url, kind, ps, n_errors)``."""
    return recognized.groupBy("url").agg(
        # max() not first(): every url emits one kind by construction, but
        # max is deterministic under shuffle order if that ever changes
        F.max("kind").alias("kind"),
        F.array_sort(F.collect_list(F.struct("page", "text"))).alias("ps"),
        F.sum(F.col("ocr_error").cast("int")).alias("n_errors"),
    )


def finish_docs(docs: DataFrame) -> DataFrame:
    """Both shapes' one finishing select: document rows ``(url, kind,
    ps, n_errors)`` → the output contract ``(url, kind, text, spans,
    n_pages, n_errors)``."""
    # frame only pdf docs; others reuse their single row's text as-is
    with_framed = docs.withColumn(
        "framed",
        F.when(F.col("kind") == "pdf", F.expr(FRAMED_FROM_PS))
        .otherwise(F.expr("cast(array() as array<string>)")),
    )
    return with_framed.select(
        "url",
        F.when(F.col("kind") == "pdf0", F.lit("pdf")).otherwise(F.col("kind")).alias("kind"),
        F.when(F.col("kind") == "pdf", F.expr("array_join(framed, '')"))
        .otherwise(F.element_at(F.col("ps"), 1)["text"]).alias("text"),
        F.when(F.col("kind") == "pdf", F.expr(SPANS_FROM_FRAMED))
        .otherwise(F.expr(f"cast(array() as {SPANS_TYPE})")).alias("spans"),
        F.when(F.col("kind") == "pdf", F.size("ps"))
        .when(F.col("kind").isin("image", "html"), F.lit(1))
        .otherwise(F.lit(0)).cast("int").alias("n_pages"),
        F.col("n_errors").cast("int").alias("n_errors"),
    )


def process_items(df: DataFrame, payload_col: str = "html", **kernel) -> DataFrame:
    """Single Python stage: both kernel halves, input row → recognized
    page items, one row per page.  The default shape's stage is the
    same, folding each input row's items into its document row.

    Composing the halves in one stage keeps the raster intermediate
    (the largest byte stream in the job — decompressed page images)
    inside one Python worker instead of round-tripping it through the
    JVM and a shuffle.  Measured on this box: the staged variant
    anti-scales beyond ~8 cores purely from moving rasters
    JVM↔Python↔shuffle; the fused stage scales with cores.

    Runs over ``mapInArrow``: pandas boxing of the multi-KB binary
    payload column costs ~3× the bare Arrow stream on this job
    (measured: 26.1s vs 7.5s passthrough at 32 cores on a 4.5 GB
    input), so record batches are consumed directly.
    """
    return _recognize_stage(df, ["url", payload_col, "text"], explode, kernel)


def extract_documents_fused(documents: DataFrame, **kernel) -> DataFrame:
    """The flagship's end-to-end plan with payload synthesis fused into
    the recognition stage: ``documents`` → one Python stage (per-doc
    SPDF payload build → both kernel halves → one document row per
    document) → the finishing select.  No shuffle after the stage.

    Logically identical to ``documents_to_pages(df)`` piped through
    :func:`extract_fused` — the same :func:`~..sources.documents.doc_rows`
    projection, the SPDF payload still encoded per document and
    classified by magic bytes through the SAME kernel — but the payload
    bytes stay inside one Python worker instead of crossing
    JVM→Python→JVM→Python across an ArrowEvalPython + MapInArrow pair
    (guide §4.1: you can't remove the boundary cost, but you control
    how many times it is paid).  Byte-identical output verified by
    ``exceptAll`` both ways vs the staged path and by the DuckDB hash
    gate."""
    from ..sources.documents import chunk_text, doc_rows

    def items_of(url: str, text: str) -> Iterator[tuple]:
        return explode(url, formats.encode_spdf(chunk_text(text)), None)

    return finish_docs(_recognize_stage(doc_rows(documents), ["url", "text"], items_of,
                                        kernel, per_document=True))


def extract_fused(
    df: DataFrame,
    payload_col: str = "html",
    salt_partitions: int | None = None,
    page_level_salt: bool = False,
    **kernel,
) -> DataFrame:
    """The scale-default extraction plan: 1 scan, no shuffle by default.

    ``url`` is the input's key (as ``sources/catalog.url_bucket`` and
    the checkpoint assume): the output has one row per input row, as
    ``oracle.extract_table`` does.

    Default shape: [optional input-row repartition] → one fused
    explode/recognize Python stage that emits each input row's document
    row → the finishing select.  A document's pages never leave the
    task that extracted them, so there is no assembly shuffle or
    aggregate.  The optional repartition salts on the *compressed input
    payloads* (cheap) rather than on exploded rasters (expensive);
    documents are the unit of work, which is the right granularity
    while page counts are bounded (1-8 typical, hundreds worst-case ⇒
    sub-second per task).

    ``page_level_salt=True`` splits the same kernel around a
    per-(url, page) shuffle (explode → exchange → recognize) for
    pathological page-count skew — many-thousand-page documents whose
    *single-document* work would otherwise straggle one task — and
    gathers each document's pages back with one ``groupBy(url)``.

    ``kernel`` holds :func:`make_recognize_item`'s options.
    """
    if page_level_salt:
        items = scan_items(df, payload_col)
        if salt_partitions:
            items = items.repartition(salt_partitions, "url", "page")
        return finish_docs(gather_docs(recognize_items(items, **kernel)))
    src = df
    if salt_partitions:
        src = src.repartition(salt_partitions, "url")
    return finish_docs(_recognize_stage(src, ["url", payload_col, "text"], explode, kernel,
                                        per_document=True))
