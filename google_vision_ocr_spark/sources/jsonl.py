"""JSONL corpus source — the lingua franca of LLM training data.

Reads a third-party JSONL drop with an explicit schema and splits it
into parsed rows and quarantined malformed lines.  Writing needs no
wrapper: the corpus pipeline (``plans/pipeline.py``) writes its gzip
JSONL with Spark's JSON datasource in one pass, a fixed column subset
and order, and lets AQE size the files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .. import cache


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: StructType,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Read a JSONL corpus in PERMISSIVE mode, returning
    ``(good_rows, bad_rows)`` — error-as-data for the ingest boundary.

    Third-party JSONL drops always contain some malformed lines; a
    FAILFAST read kills a 100 TB job on line one of shard 40k, and
    DROPMALFORMED silently changes the corpus.  PERMISSIVE with an
    explicit corrupt-record column keeps the job running AND the
    damage auditable: bad lines come back as (raw_line) rows the
    caller can count, sample, and quarantine — the same per-row
    error-capture posture as the extraction plan's ocr_error column.

    The schema must be explicit (never inferred: inference costs an
    extra full scan and locks in whatever the first shards happened
    to contain)."""
    full = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
    # Spark requires a materialization barrier (cache) before a
    # corrupt-record-only projection; cache.release_all() frees it
    df = cache.track(df.cache())
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, bad

