"""M5: resumable partitioned extraction with lineage + counters.

North rule: "resumable from checkpoint with per-partition lineage +
metrics".  The reference has no such notion (a killed run restarts from
scratch); this is the batch-job equivalent of its tempdir spool
(``epub_processor.py:84-91``) done properly for a 10^12-row table.

The **unit of commit** is a bucket; the **unit of execution** is a
batch of buckets.

- The input is cut into deterministic buckets of the url space
  (``pmod(xxhash64(url), n_buckets)``), the stand-in for Iceberg
  partitions (``days(warc_ts)`` + url bucket) in this parquet-only
  sandbox.
- Pending buckets are grouped into batches of as many buckets as fit in
  one scan split: ``max(1, maxPartitionBytes × n_buckets ÷ input
  size)``, the size being the optimizer's estimate
  (:func:`batch_size`).  Those buckets would run as one task anyway, so
  batching them loses no parallelism, and a kill loses at most one
  split's worth of work.  At cluster scale (~20 GB a bucket) and
  whenever the size is unknown, a batch is one bucket.
- Each batch is **one** ``extract_fused`` job over
  ``filter(bucket ∈ batch)``, written once with ``partitionBy`` on the
  bucket into ``data/part=<k>/`` under dynamic partition overwrite, so
  only the batch's buckets are replaced.  Per-bucket counters (docs,
  pages, OCR calls, bytes extracted, errors) come from the batch's
  single ``df.observe`` as per-bucket conditional sums — no second pass.
- Then each bucket of the batch gets its **manifest**
  ``manifest/part-<k>.json`` (lineage: bucket count, batch, output path;
  and its counters), in bucket order, each by an atomic rename.  A
  bucket is complete exactly when its manifest exists: a kill before or
  during a batch's manifests leaves some of its data uncommitted, and a
  rerun redoes those buckets idempotently (deterministic results ⇒ the
  overwrite converges to identical bytes).
- On restart, completed buckets are skipped by reading the manifests —
  the anti-join of work units against lineage — and
  :func:`read_checkpointed_output` reads committed buckets only.

At real scale each bucket is one Iceberg partition and batches run from
a driver loop (or N drivers on disjoint bucket ranges); the per-batch
work is still fully distributed across the cluster.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .fused import extract_fused

MANIFEST_DIR = "manifest"
DATA_DIR = "data"
PART_COL = "part"
COUNTERS = ("docs", "pages", "ocr_calls", "bytes_extracted", "errors")


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


def completed_buckets(output_path: str) -> dict[int, dict]:
    mdir = os.path.join(output_path, MANIFEST_DIR)
    done: dict[int, dict] = {}
    if not os.path.isdir(mdir):
        return done
    for fn in os.listdir(mdir):
        if fn.startswith("part-") and fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                m = json.load(f)
            done[m["bucket"]] = m
    return done


def batch_size(input_df: DataFrame, n_buckets: int) -> int:
    """Buckets per Spark job: as many as fit in one scan split,
    ``max(1, maxPartitionBytes × n_buckets ÷ input size)``.  An unknown
    size (the optimizer's ``spark.sql.defaultSizeInBytes`` fallback)
    gives 1."""
    conf = input_df.sparkSession._jsparkSession.sessionState().conf()
    size = int(input_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size >= conf.defaultSizeInBytes():
        return 1
    return max(1, conf.filesMaxPartitionBytes() * n_buckets // max(size, 1))


def _bucket_counters(k: int):
    """Bucket ``k``'s counters as one struct of conditional sums, for
    the batch's single ``observe``.  SQL text rather than Column calls:
    in a batch of 256 buckets their py4j round trips alone cost seconds
    of driver time."""
    mine = f"{PART_COL} = {k}"
    return F.expr(
        f"struct(count_if({mine}) AS docs,"
        f" sum(if({mine}, n_pages, 0)) AS pages,"
        f" sum(if({mine} AND kind IN ('pdf', 'image'), n_pages, 0)) AS ocr_calls,"
        f" sum(if({mine}, octet_length(text), 0)) AS bytes_extracted,"
        f" sum(if({mine}, n_errors, 0)) AS errors) AS b{k}"
    )


def run_checkpointed_extract(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    n_buckets: int = 8,
    fail_after_bucket: int | None = None,
    **extract_kwargs,
) -> dict:
    """Extract ``input_df`` batch by batch, committing bucket by bucket
    and resuming past committed buckets.  Returns a summary with
    per-bucket counters and the ``batches`` this run executed.

    ``fail_after_bucket`` injects a crash after the given bucket's
    manifest is committed (for kill/resume tests).
    """
    os.makedirs(os.path.join(output_path, MANIFEST_DIR), exist_ok=True)
    done = completed_buckets(output_path)
    begun_with = sorted({m["n_buckets"] for m in done.values()})
    if begun_with and begun_with != [n_buckets]:
        raise ValueError(
            f"{output_path} was begun with n_buckets={begun_with[0]} but is "
            f"resumed with n_buckets={n_buckets}; resume with the same count"
        )
    bucketed = input_df.withColumn(PART_COL, _bucket_col(n_buckets))
    pending = [b for b in range(n_buckets) if b not in done]
    size = batch_size(input_df, n_buckets)
    batches = [pending[i:i + size] for i in range(0, len(pending), size)]
    summary = {
        "resumed_buckets": sorted(done),
        "processed_buckets": [],
        "counters": {b: done[b]["counters"] for b in sorted(done)},
        "batches": batches,
    }
    data_dir = os.path.join(output_path, DATA_DIR)
    for batch in batches:
        part = bucketed.filter(F.col(PART_COL).isin(batch)).drop(PART_COL)
        result = extract_fused(part, **extract_kwargs).withColumn(
            PART_COL, _bucket_col(n_buckets))
        obs = Observation(f"extract-b{batch[0]}-{batch[-1]}")
        observed = result.observe(obs, *(_bucket_counters(k) for k in batch))
        (observed.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy(PART_COL).parquet(data_dir))
        observed_counters = obs.get
        for bucket in batch:
            row = observed_counters[f"b{bucket}"]
            counters = {c: int(row[c] or 0) for c in COUNTERS}
            manifest = {
                "bucket": bucket,
                "n_buckets": n_buckets,
                "batch": batch,
                "counters": counters,
                "completed_at_unix": int(time.time()),
                "output": os.path.join(data_dir, f"{PART_COL}={bucket}"),
            }
            tmp = os.path.join(output_path, MANIFEST_DIR, f".part-{bucket}.json.tmp")
            final = os.path.join(output_path, MANIFEST_DIR, f"part-{bucket}.json")
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, final)  # atomic: manifest appears only when done
            summary["processed_buckets"].append(bucket)
            summary["counters"][bucket] = counters
            if fail_after_bucket is not None and bucket >= fail_after_bucket:
                raise RuntimeError(f"injected failure after bucket {bucket}")
    summary["counters"] = dict(sorted(summary["counters"].items()))
    return summary


def read_checkpointed_output(spark: SparkSession, output_path: str) -> DataFrame:
    """The committed buckets' output: only buckets with a manifest, so
    data a killed run wrote but never committed is not read.  A
    committed bucket with no documents has no directory of its own."""
    paths = [m["output"] for _, m in sorted(completed_buckets(output_path).items())
             if m["counters"]["docs"] > 0]
    return (spark.read.option("basePath", os.path.join(output_path, DATA_DIR))
            .parquet(*paths))
