"""spark-submit entry point for the full training-corpus pipeline.

    cd /root/repo && zip -qr /tmp/gvos.zip google_vision_ocr_spark

    spark-submit --py-files /tmp/gvos.zip scripts/submit_curate.py \\
        --input  /path/to/pages_parquet \\
        --output /path/to/corpus_out \\
        --langs en de --min-quality 0.3 --budget 100000

Stages: extract → quality/lang/repetition gates → exact + MinHash near
dedup → global paragraph dedup → PII redaction → unigram-LM scoring →
deterministic split → token-budget shard packing → sharded JSONL +
manifest + JSON report.  See ``plans/pipeline.py``.

Each flag maps to one keyword of ``run_corpus_pipeline`` and is passed
only when given, so the defaults are the library's: those of
``run_corpus_pipeline`` and, for the gates, of ``plans.curate.curate``.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser(argument_default=argparse.SUPPRESS)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", dest="min_quality", type=float)
    ap.add_argument("--min-tokens", dest="min_tokens", type=int)
    ap.add_argument("--langs", dest="allowed_langs", nargs="*")
    ap.add_argument("--max-dup-line-frac", dest="max_dup_line_frac", type=float)
    ap.add_argument("--lm-vocab", dest="lm_vocab", type=int)
    ap.add_argument("--max-avg-neg-logprob", dest="max_avg_neg_logprob",
                    type=float)
    ap.add_argument("--budget", dest="shard_token_budget", type=int,
                    help="tokens per training shard")
    options = vars(ap.parse_args())
    input_dir, output_dir = options.pop("input"), options.pop("output")
    if "allowed_langs" in options:
        options["allowed_langs"] = tuple(options["allowed_langs"]) or None

    spark = (
        SparkSession.builder.appName("curate-corpus")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    from google_vision_ocr_spark.plans.pipeline import run_corpus_pipeline

    report = run_corpus_pipeline(spark.read.parquet(input_dir), output_dir,
                                 **options)
    print(json.dumps(report, sort_keys=True))


if __name__ == "__main__":
    main()
