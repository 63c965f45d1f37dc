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
7. a parquet shard manifest, then the gzip JSONL corpus, each written
   once; the JSON report takes its counters from ``df.observe`` on
   those two writes and on curate's gates, so no job runs after the
   corpus is written.

Each stage is the scale-shape variant documented in ``docs/PLANS.md``;
the pipeline adds no new shuffle beyond its stages' own.  The lineage
is cut (``localCheckpoint(eager=True)``) at its four reuse points:
curate's gate survivors, MinHash signatures and curated corpus (see
:func:`..plans.curate.curate`), and the corpus after paragraph dedup
and redaction, which the LM-training pass and both writes read.
Each Python stage therefore runs once per pipeline, and later actions
plan from the cut instead of the whole lineage (``docs/SCALE.md``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import cache
from ..functions.redact import redact_pii
from ..operators.dedup import drop_repeated_paragraphs
from ..operators.packing import shard_manifest
from ..operators.sampling import deterministic_split
from ..operators.replayable import tokens_sql
from ..operators.scoring import unigram_logprob_scores
from .curate import curate


def run_corpus_pipeline(
    pages: DataFrame,
    out_dir: str,
    lm_vocab: int = 1000,
    max_avg_neg_logprob: float | None = None,
    shard_token_budget: int = 2000,
    **curate_options,
) -> dict:
    """Run the full pipeline; returns the report dict (also written to
    ``out_dir/report.json``).  ``curate_options`` go to
    :func:`..plans.curate.curate`, whose signature declares the gate
    options and their defaults."""
    curated, funnel = curate(pages, **curate_options)
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
    # the token count of the text as written, read by the manifest and
    # the report
    corpus = deterministic_split(corpus, id_col="url").withColumn(
        "tokens", F.size(F.expr(tokens_sql("text"))).cast("bigint")
    )

    shards, written = Observation("manifest"), Observation("corpus")
    manifest = shard_manifest(
        corpus.select("url", "split", "tokens"), budget=shard_token_budget,
        part_col="split", id_col="url", tokens_col="tokens",
    )
    (manifest.observe(shards, F.count(F.lit(1)).alias("n_shards"))
     .write.mode("overwrite").parquet(os.path.join(out_dir, "manifest")))
    (corpus.observe(
        written,
        F.count(F.lit(1)).alias("docs_out"),
        F.sum("tokens").alias("tokens_out"),
        F.sum(F.octet_length("text")).alias("bytes_out"),
    )
     .select("url", "lang_guess", "quality", "avg_neg_logprob", "split", "text")
     .write.mode("overwrite").option("compression", "gzip")
     .json(os.path.join(out_dir, "corpus")))

    report = {k: int(v or 0) for obs in (funnel, shards, written)
              for k, v in obs.get.items()}
    report["docs_written"] = report["docs_out"]
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
    # every output is materialized by now; free the cut and the tracked
    # persists so a long-lived session running many pipelines doesn't
    # accumulate
    cache.release_cut(cut_corpus)
    cache.release_all()
    return report
