"""End-to-end training-corpus pipeline: pages → packed JSONL shards.

The composition a 100 TB training-data run actually executes, wired
from the operators this package already ships:

1. :func:`..plans.curate.curate` — extraction, quality/lang/repetition
   gates, exact + MinHash near dedup (one fused scan, funnel counters
   via ``df.observe``);
2. global paragraph-level dedup (boilerplate strip across documents);
3. PII redaction (scan-side regexp chain);
4. unigram-LM scoring with an optional cross-entropy cutoff (CCNet
   shape: train one hash-agg, broadcast, score in one pass);
5. deterministic md5 train/val/test split;
6. token-budget shard packing (two-pass distributed prefix sum) within
   each split;
7. sharded ``*.json.gz`` corpus + a parquet shard manifest + a JSON
   report with every funnel counter;
8. optionally (``chunk_size``): fixed-size token-window training
   sequences written as a parquet table alongside the corpus —
   scan-side generate over the corpus frame, no extra shuffle.

Each stage is the scale-shape variant documented in ``docs/PLANS.md``;
the pipeline adds no new shuffle beyond its stages' own.  The lineage
is cut (``localCheckpoint(eager=True)``) at its four reuse points:
curate's gate survivors, MinHash signatures and curated corpus (see
:func:`..plans.curate.curate`), and the corpus after paragraph dedup
and redaction, which the LM-training pass, the packing pass, the
writes and the report all read.
Each Python stage therefore runs once per pipeline, and later actions
plan from the cut instead of the whole lineage (``docs/SCALE.md``).
The report counts the manifest and chunks from the files just written.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache
from ..functions.redact import redact_pii
from ..operators.dedup import drop_repeated_paragraphs
from ..operators.packing import shard_manifest
from ..operators.sampling import deterministic_split
from ..operators.replayable import tokens_sql
from ..operators.scoring import unigram_logprob_scores
from .curate import curate, curation_report


def run_corpus_pipeline(
    pages: DataFrame,
    out_dir: str,
    min_quality: float = 0.3,
    min_tokens: int = 5,
    allowed_langs: tuple[str, ...] | None = None,
    max_dup_line_frac: float | None = 0.5,
    lm_vocab: int = 1000,
    max_avg_neg_logprob: float | None = None,
    shard_token_budget: int = 2000,
    chunk_size: int | None = None,
    chunk_stride: int | None = None,
    **curate_kwargs,
) -> dict:
    """Run the full pipeline; returns the report dict (also written to
    ``out_dir/report.json``)."""
    curated, obs = curate(
        pages,
        min_quality=min_quality,
        min_tokens=min_tokens,
        allowed_langs=allowed_langs,
        max_dup_line_frac=max_dup_line_frac,
        **curate_kwargs,
    )
    # global paragraph dedup on the curated text, then redact
    paras = drop_repeated_paragraphs(
        curated.select(F.col("url").alias("doc_id"), "text"),
    ).select(F.col("doc_id").alias("url"), F.col("text_dedup"))
    corpus = (
        curated.drop("text")
        .join(paras, "url")
        .withColumn("text", redact_pii(F.col("text_dedup")))
        .drop("text_dedup")
        .filter(F.octet_length("text") > 0)
    )
    corpus = cut_corpus = corpus.localCheckpoint(eager=True)
    cache.release_cut(curated)  # the corpus cut no longer reads it

    scored = unigram_logprob_scores(
        corpus, id_col="url", text_col="text", vocab_size=lm_vocab
    )
    corpus = corpus.join(scored.select("url", "avg_neg_logprob"), "url", "left")
    if max_avg_neg_logprob is not None:
        corpus = corpus.filter(
            F.coalesce(F.col("avg_neg_logprob"), F.lit(float("inf")))
            <= max_avg_neg_logprob
        )
    corpus = deterministic_split(corpus, id_col="url")

    tokens = corpus.select(
        "url", "split",
        F.size(F.expr(tokens_sql("text"))).cast("bigint")
        .alias("ws_tokens_final"),
    )
    manifest = shard_manifest(
        tokens, budget=shard_token_budget, part_col="split",
        id_col="url", tokens_col="ws_tokens_final",
    )
    manifest_dir = os.path.join(out_dir, "manifest")
    manifest.write.mode("overwrite").parquet(manifest_dir)

    from ..sources.jsonl import write_jsonl_corpus

    n_written = write_jsonl_corpus(
        corpus.select("url", "lang_guess", "quality", "avg_neg_logprob",
                      "split", "text"),
        os.path.join(out_dir, "corpus"),
    )
    report = curation_report(corpus, obs)
    report["docs_written"] = n_written
    # count what was written: recounting the frames would re-run them
    spark = pages.sparkSession
    report["n_shards"] = spark.read.schema(manifest.schema).parquet(manifest_dir).count()
    if chunk_size is not None:
        from ..operators.chunking import token_chunks

        chunks = token_chunks(
            corpus.select(F.col("url"), "split", "text"),
            id_col="url", size=chunk_size, stride=chunk_stride,
            passthrough_cols=("split",),
        )
        chunks_dir = os.path.join(out_dir, "chunks")
        chunks.write.mode("overwrite").partitionBy("split").parquet(chunks_dir)
        report["n_chunks"] = spark.read.schema(chunks.schema).parquet(chunks_dir).count()
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
    # every output is materialized by now; free the cut and the tracked
    # persists so a long-lived session running many pipelines doesn't
    # accumulate
    cache.release_cut(cut_corpus)
    cache.release_all()
    return report
