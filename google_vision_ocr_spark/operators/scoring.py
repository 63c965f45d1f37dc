"""Unigram language-model scoring — the CCNet-style LM quality filter.

CCNet ranks web documents by an LM's perplexity and keeps the
best-scoring tail.  The distributed shape matters more than the model:
**train on the corpus in one aggregation, broadcast the model, score in
one pass**.

- vocabulary = top-``vocab_size`` words by corpus frequency (ties break
  on the word, so the model is deterministic);
- word probability = count / total_words; out-of-vocabulary words get
  1 / total_words (their true count is unknown after truncation — the
  floor keeps the score finite and monotone in OOV rate);
- document score = mean over its words of ``-ln p(word)`` (a
  cross-entropy; lower = more "in-distribution").

The model is a few thousand rows ⇒ broadcast join; the corpus is
scanned once for training (hash-agg on words) and once for scoring.
At 10^12 docs the trained vocab would be written as a table and the
scoring pass joins against it — same plan, persisted edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .replayable import tokens_sql


def _exploded_words(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col), F.explode(F.expr(tokens_sql(text_col))).alias("word")
    )


def train_unigram(docs: DataFrame, text_col: str = "text",
                  vocab_size: int = 1000) -> tuple[DataFrame, int]:
    """Returns (vocab frame ``(word, cnt)``, total word count).

    One Spark action at model-build time: the top-k vocabulary and the
    corpus word total ride the same collect (the total is a sentinel
    null-word row unioned under the top-k; both branches share the one
    word-count aggregate via exchange reuse).  The collected vocab
    (≤ ``vocab_size`` rows) is re-created as a local frame, so the
    scoring job broadcasts a materialized table instead of re-running
    the corpus aggregation — the persisted-vocab-table shape the
    docstring above describes, in miniature."""
    words = docs.select(
        F.explode(F.expr(tokens_sql(text_col))).alias("word")
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    topk = (
        counts.orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(vocab_size)
        .select("word", F.col("cnt").cast("bigint").alias("cnt"))
    )
    total_row = counts.agg(
        F.lit(None).cast("string").alias("word"),
        F.sum("cnt").cast("bigint").alias("cnt"),
    )
    rows = topk.unionByName(total_row).collect()
    total = 0
    vocab_data = []
    for r in rows:
        if r["word"] is None:
            total = int(r["cnt"] or 0)
        else:
            vocab_data.append((r["word"], int(r["cnt"])))
    vocab = docs.sparkSession.createDataFrame(
        vocab_data, "word string, cnt bigint"
    )
    return vocab, total


def unigram_logprob_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """``(id, n_words, avg_neg_logprob)`` per document (docs with no
    words are dropped, matching the exploded-join shape)."""
    from ..functions.exact import halfup_ratio

    vocab, total = train_unigram(docs, text_col, vocab_size)
    # per-word -logprob quantized to exact micro-units BEFORE the sum
    # (the bm25 pattern): the per-group float avg is order-dependent,
    # an integer sum is not, and the final 6-dp avg is integer half-up
    scored = (
        _exploded_words(docs, id_col, text_col)
        .join(F.broadcast(vocab), "word", "left")
        .select(
            F.col(id_col),
            F.round(
                -F.log(F.coalesce(F.col("cnt"), F.lit(1)) / F.lit(float(total)))
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("__nlp_u"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__nlp_u").alias("__s"),
        )
        .select(
            id_col,
            "n_words",
            halfup_ratio("__s", "1000000 * n_words", 6).alias(
                "avg_neg_logprob"
            ),
        )
    )
