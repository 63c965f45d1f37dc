"""A1/A2/W1/O1/O2 + routing: assembly operators, all JVM-side built-ins.

- :func:`framed_concat` — the reference's ordered group-concat
  (``ocr_service.py:116`` sort + ``:119-122`` framed write loop) as a
  single shuffle-backed aggregation: ``collect_list`` (partial,
  map-side) → ``array_sort`` on the explicit page key (sort *within*
  group, never a global ``orderBy``) → higher-order ``transform`` /
  ``aggregate`` for the framing and byte-span offsets.  Everything
  stays in whole-stage codegen; no Python.
- :func:`tag_kind` — F2/F3 illustration routing as one broadcast join
  that tags each page ``text`` or ``image`` with the reference's ids
  (``epub_processor.py:95-111``).
- :func:`chapter_islands` — W1 gaps-and-islands run grouping
  (``epub_processor.py:221-236``) + A2 merged-chapter aggregation
  (``epub_processor.py:200-219``) via a window running-sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# exact reference framing: ocr_service.py:120-122
FRAME_SQL = r"format_string('\n--- Page %d ---\n%s\n\n', {page}, {text})"

SPANS_TYPE = "array<struct<page:int,start:bigint,end:bigint>>"

# framed blocks computed ONCE per page into a `framed` column; text and
# spans both derive from it (format_string is the hot expression here)
FRAMED_FROM_PS = "transform(ps, x -> {frame})".format(
    frame=FRAME_SQL.format(page="x.page", text="x.text")
)
SPANS_FROM_FRAMED = f"""
    aggregate(
        zip_with(ps, framed, (p, f) -> struct(p.page as page, octet_length(f) as len)),
        struct(cast(0 as bigint) as off, cast(array() as {SPANS_TYPE}) as spans),
        (acc, y) -> struct(
            acc.off + y.len as off,
            array_append(acc.spans,
                         struct(y.page as page, acc.off as start,
                                acc.off + y.len as `end`)) as spans),
        acc -> acc.spans)
"""


def framed_concat(df: DataFrame, doc_col: str = "url", page_col: str = "page",
                  text_col: str = "text", error_col: str | None = "ocr_error") -> DataFrame:
    """GroupBy document → ordered framed concat + byte spans.

    Output: ``(url, text, spans, n_pages, n_errors)`` — one row per
    document, bytes identical to the reference's per-PDF ``.txt``
    (golden ``result/MergedTest.pdf.txt``), spans carrying each page's
    framed block's byte offsets (BASELINE.json north_star).
    """
    err_expr = (
        F.sum(F.col(error_col).cast("int")) if error_col else F.lit(0)
    ).alias("n_errors")
    grouped = df.groupBy(F.col(doc_col).alias("url")).agg(
        F.array_sort(F.collect_list(F.struct(F.col(page_col).cast("int").alias("page"),
                                             F.col(text_col).alias("text")))).alias("ps"),
        F.count(F.lit(1)).alias("n_pages"),
        err_expr,
    )
    return (
        grouped.withColumn("framed", F.expr(FRAMED_FROM_PS))
        .select(
            "url",
            F.expr("array_join(framed, '')").alias("text"),
            F.expr(SPANS_FROM_FRAMED).alias("spans"),
            F.col("n_pages").cast("int").alias("n_pages"),
            F.col("n_errors").cast("int").alias("n_errors"),
        )
    )


def tag_kind(pages: DataFrame, designations: DataFrame,
             keys: tuple[str, ...] = ("url", "page")) -> DataFrame:
    """Route pages against the illustration designations: add
    ``kind ∈ {text, image}`` and the reference's id scheme
    (``epub_processor.py:95-106``: ``page_{n}`` / ``img_pdf_{n}``).

    The designation side is tiny (user-entered page/path lists,
    ``epub_processor.py:29-30``), so it is a **broadcast** join — no
    shuffle of the big side."""
    d = F.broadcast(
        designations.select(*keys).dropDuplicates(list(keys)).withColumn("__illust", F.lit(True))
    )
    joined = pages.join(d, list(keys), "left")
    return joined.withColumn(
        "kind", F.when(F.col("__illust").isNotNull(), F.lit("image")).otherwise(F.lit("text"))
    ).withColumn(
        "item_id",
        F.when(F.col("__illust").isNotNull(), F.concat(F.lit("img_pdf_"), F.col("page")))
        .otherwise(F.concat(F.lit("page_"), F.col("page"))),
    ).drop("__illust")


def chapter_islands(items: DataFrame, doc_col: str = "url", page_col: str = "page",
                    kind_col: str = "kind", text_col: str = "text") -> DataFrame:
    """W1 + A2: image rows close text runs; each maximal run of text
    rows becomes one merged chapter (id/title = run's first page).

    Output: ``(url, kind, first_page, n_pages, html)`` — image chapters
    carry NULL html; merged text chapters carry the reference's
    per-page HTML blocks (``epub_processor.py:211``).
    """
    w = Window.partitionBy(doc_col).orderBy(page_col)
    with_island = items.withColumn(
        "island",
        F.sum(F.when(F.col(kind_col) == "image", 1).otherwise(0)).over(w),
    )
    # image rows are single-item chapters; give each a unique sub-island
    grouped = with_island.groupBy(
        F.col(doc_col).alias("url"),
        F.col("island"),
        F.col(kind_col).alias("kind"),
        # for image rows, split per page so each image is its own chapter
        F.when(F.col(kind_col) == "image", F.col(page_col)).otherwise(F.lit(-1)).alias("sub"),
    ).agg(
        F.min(page_col).alias("first_page"),
        F.count(F.lit(1)).cast("int").alias("n_pages"),
        F.when(
            F.first(kind_col) == "text",
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col(page_col).alias("page"),
                                                         F.col(text_col).alias("text")))),
                    lambda x: F.format_string(
                        "<h2>Page %d</h2><pre>%s</pre>\n", x["page"], x["text"]
                    ),
                ),
                "",
            ),
        ).alias("html"),
    )
    return grouped.select("url", "kind", "first_page", "n_pages", "html")
