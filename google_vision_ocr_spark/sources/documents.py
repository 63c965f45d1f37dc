"""Derive the north-rule input table from the driver's ``documents``.

The driver testdata has no ``(url, warc_ts, html, ...)`` table, so the
flagship query builds one deterministically from ``documents``: each
document becomes a multi-page SPDF payload whose pages are fixed-width
character chunks of its text.  The chunk rule is simple enough to
restate in ANSI SQL (``substr`` + ``generate_series``), which makes the
*entire* extraction pipeline — rasterize → grayscale → PNG → recognize
→ ordered framed concat — oracle-checkable end-to-end in DuckDB.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from .. import formats

PAGE_CHARS = 500


def chunk_text(text: str, page_chars: int = PAGE_CHARS) -> list[str]:
    """Split into character-offset pages; always at least one page."""
    text = text or ""
    n_pages = max(1, math.ceil(len(text) / page_chars))
    return [text[i * page_chars : (i + 1) * page_chars] for i in range(n_pages)]


@F.pandas_udf(BinaryType())
def _spdf_from_text_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: formats.encode_spdf(chunk_text(t)))


def doc_rows(documents: DataFrame) -> DataFrame:
    """``documents`` fanned out on ``doc_id``, plus each document's
    ``url = doc://<source>/<doc_id>``: the projection both the staged
    (:func:`documents_to_pages`) and the fused
    (``plans/fused.extract_documents_fused``) flagship plans start from.
    Selects nothing else, so frames of only ``doc_id``, ``source`` and
    ``text`` qualify."""
    from ..fanout import fanout

    return fanout(documents, "doc_id").withColumn(
        "url", F.concat(F.lit("doc://"), F.col("source"), F.lit("/"), F.col("doc_id")))


def documents_to_pages(documents: DataFrame) -> DataFrame:
    """``documents`` → ``(url, warc_ts, html, text, lang)`` input table.

    The input is fanned out to cluster parallelism before the payload
    UDF: the bench's ``documents`` table is one parquet row group (an
    unsplittable single-task scan), and everything downstream —
    payload synthesis here, the fused rasterize/recognize stage in
    ``plans/fused.py`` — would otherwise run on one core
    (r7 measurement: 5.6 s single-task vs ~0.17 s of distributed CPU
    at sf1.0).  ``fanout`` is a no-op when the scan already carries
    enough partitions (real-scale inputs), so this never *adds* a
    shuffle at 100 TB.
    """
    return doc_rows(documents).select(
        "url",
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(mins=F.col("doc_id").cast("int"))).alias("warc_ts"),
        _spdf_from_text_udf(F.col("text")).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
