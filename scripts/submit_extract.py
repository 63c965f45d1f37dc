"""spark-submit entry point for the extraction job.

Launch (BASELINE.json north_star: ``spark-submit --py-files``):

    # package the library once
    cd /root/repo && zip -qr /tmp/gvos.zip google_vision_ocr_spark

    spark-submit --py-files /tmp/gvos.zip scripts/submit_extract.py \\
        --input  /path/to/pages_parquet \\
        --output /path/to/output \\
        --n-buckets 64 --salt-partitions 256 --rate-limit-qps 0

On a cluster, add ``--master yarn``/``--master k8s://...`` and executor
confs to spark-submit; the job code is identical (the session is
obtained via ``SparkSession.builder.getOrCreate`` so submit-time confs
win).  The run is resumable: re-submitting with the same ``--output``
skips completed buckets via the manifest (per-partition lineage).
The printed JSON summary carries per-bucket counters and the
``batches`` of buckets the run executed, one Spark job each; a resume
must use the same ``--n-buckets``.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--rate-limit-qps", type=float, default=None)
    ap.add_argument("--recognizer", default="stub",
                    choices=["stub", "google-vision"])
    ap.add_argument("--otsu", action="store_true")
    ap.add_argument("--deskew", action="store_true")
    ap.add_argument("--dpi-normalize", action="store_true")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("extract-pages")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    from google_vision_ocr_spark.plans.checkpoint import run_checkpointed_extract

    df = spark.read.parquet(args.input)
    summary = run_checkpointed_extract(
        spark,
        df,
        args.output,
        n_buckets=args.n_buckets,
        salt_partitions=args.salt_partitions,
        rate_limit_qps=args.rate_limit_qps,
        recognizer=args.recognizer,
        otsu=args.otsu,
        do_deskew=args.deskew,
        dpi=args.dpi_normalize,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
