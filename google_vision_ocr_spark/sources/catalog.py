"""Table layout for the 10^12-row pages table: partitioning + pruning.

North rule targets **Iceberg** tables partitioned for pruning
(SURVEY.md §4: ``days(warc_ts)`` + url bucket).  This sandbox has no
Iceberg runtime jars, so the layout is hive-style partitioned parquet,
``warc_day=YYYY-MM-DD/url_bucket=K/`` — the same partition spec as
Iceberg's ``days(warc_ts), bucket(N, url)``.  Partition pruning works
through Spark's file-source partition discovery — asserted in tests by
checking the scan's partition filters.

The url-bucket rule, :func:`url_bucket`, is written once here: the
checkpointed extraction (``plans/checkpoint.py``) cuts its work and
commit units with the same rule.

The query-side contract: filters on ``warc_ts``-derived days and on url
buckets prune I/O *before* any payload byte is read — the 100 TB
version of the reference's filter-before-load discipline
(``main_gui.py:276-278``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def url_bucket(n_buckets: int) -> Column:
    """Bucket ``pmod(xxhash64(url), n_buckets)`` of each row's url."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


def write_pages_partitioned(df: DataFrame, path: str, n_buckets: int = 16,
                            mode: str = "overwrite") -> None:
    """Write ``df`` in the Iceberg-equivalent partition layout."""
    (
        df.withColumn("warc_day", F.date_format(F.col("warc_ts"), "yyyy-MM-dd"))
        .withColumn("url_bucket", url_bucket(n_buckets))
        .repartition("warc_day", "url_bucket")  # one writer wave per partition dir
        .write.mode(mode)
        .partitionBy("warc_day", "url_bucket")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a frame bucketed (and optionally sorted) on its join key.

    This is the CO-LOCATED JOIN layout: two tables bucketed on the same
    key with the same bucket count join with ZERO exchange — at 100 TB
    that deletes the single most expensive shuffle in any fact-fact
    join (asserted in ``tests/test_plan_shapes.py``).  With Iceberg on
    the classpath the equivalent is ``bucket(N, key)`` in the partition
    spec; this writer uses the session catalog's parquet bucketing,
    which Spark's scan planner exploits the same way."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(name)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on ``cluster_cols``: range-repartition
    (one contiguous key range per output file) + sort-within-partition
    (monotone pages inside each file) — the ``OPTIMIZE ... ZORDER BY``
    layout step, minus a table format.

    Why it matters at 100 TB: parquet row-group min/max statistics only
    prune when values are CLUSTERED — a randomly-laid-out table has
    every row group spanning the whole domain and nothing skips.  After
    this writer, each file owns a disjoint range of the cluster key
    (verified via pyarrow statistics in the tests), so a point or range
    predicate touches O(selectivity) files instead of all of them.
    For multi-dimensional pruning pass a Z-key from
    :func:`functions.zorder.morton2` as the single cluster column."""
    from pyspark.sql import functions as F

    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def read_pages_partitioned(
    spark: SparkSession,
    path: str,
    days: list[str] | None = None,
    url_buckets: list[int] | None = None,
) -> DataFrame:
    """Read with partition pruning on day / url-bucket predicates."""
    df = spark.read.parquet(path)
    if days is not None:
        df = df.filter(F.col("warc_day").isin(days))
    if url_buckets is not None:
        df = df.filter(F.col("url_bucket").isin(url_buckets))
    return df.drop("warc_day", "url_bucket")
