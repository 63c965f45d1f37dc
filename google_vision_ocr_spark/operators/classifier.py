"""Hashed-linear quality classifier — fastText-style model-based filtering.

Modern corpus pipelines (DCLM, FineWeb-Edu) gate documents on a learned
quality classifier, almost always a linear model over hashed bag-of-words
features: each token hashes into one of ``n_buckets`` weight slots and the
document score is the sum (or mean) of the slot weights.  The *model* is
tiny (one weight per bucket); the *scoring pass* is the 100 TB part, so
the distributed shape is what matters:

- **Expression path** (default): the bucket hash AND the weight lookup are
  pure JVM expressions evaluated inside the scan's project — zero
  shuffle, zero Python, whole-stage-codegen'd (plan-asserted in
  ``tests/test_plan_shapes.py``).  Weights here are a deterministic
  stand-in (a Knuth multiplicative hash of the bucket id) standing where
  a trained model's coefficients would be — the fixture role, documented
  and mirrored bit-for-bit by the DuckDB oracle.
- **Weight-table path** (``weights=`` given): a real trained model arrives
  as a ``(bucket, weight)`` table; scoring explodes tokens to buckets,
  broadcast-joins the weight table (2M buckets × 16 B ≈ 32 MB — always
  broadcastable), and reduces per document with a map-side-combinable
  sum.  One shuffle on the document id, nothing keyed by the (skewed)
  token.  A pytest pins both paths to identical output when the table is
  generated from the stand-in formula.

All arithmetic is int64 (md5-derived buckets, integer weights in
[-4095, 4095]) so engine and oracle agree bit-for-bit; the mean is a
single IEEE division of identical integers — also bit-stable.

Reference parity note: absent from the reference (it has no notion of
corpus quality); this is part of the training-data toolkit mandated by
the build brief alongside dedup/ANN/curation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .replayable import tokens_sql

#: Knuth multiplicative-hash constant (2^32 / phi) — the stand-in "model".
WEIGHT_A = 2654435761
#: Mersenne prime 2^13 - 1; weights land in [-(MOD-1)/2, (MOD-1)/2].
WEIGHT_MOD = 8191
_HALF = (WEIGHT_MOD - 1) // 2


def token_bucket(word: Column, n_buckets: int) -> Column:
    """Stable feature bucket in [0, n_buckets) — first 8 hex digits of
    the token's md5 (engine-independent, uniform; same technique as
    :func:`..operators.sampling.md5_bucket`)."""
    return (
        F.conv(F.substring(F.md5(word.cast("binary")), 1, 8), 16, 10)
        .cast("bigint") % n_buckets
    )


def stand_in_weight(bucket: Column) -> Column:
    """Deterministic integer weight for a bucket, in [-4095, 4095].

    ``(bucket * A) % M - (M-1)/2`` — every term positive before the
    modulo, so Spark's and DuckDB's ``%`` agree.  ``bucket < n_buckets``
    keeps the product far under 2^63 for any sane ``n_buckets``.
    """
    return (bucket * F.lit(WEIGHT_A)) % F.lit(WEIGHT_MOD) - F.lit(_HALF)


def default_weights(spark: SparkSession, n_buckets: int) -> DataFrame:
    """The stand-in model materialized as a ``(bucket, weight)`` table —
    what a real trained model would look like on disk."""
    b = F.col("id").cast("bigint")
    return spark.range(n_buckets).select(
        b.alias("bucket"), stand_in_weight(b).alias("weight")
    )


def _word_bigrams(words: Column) -> Column:
    """Adjacent word pairs joined by a single space (fastText word
    n-grams).  The zip pads the shorter side with null and ``concat``
    propagates it, so the trailing partial pair filters away — one-word
    documents yield an empty list."""
    shifted = F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0)))
    return F.filter(
        F.zip_with(words, shifted, lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )


def score_hashed_linear(
    docs: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: DataFrame | None = None,
    keep_threshold: int = 0,
    word_bigrams: bool = False,
) -> DataFrame:
    """Score every document with the hashed-linear model; attach a keep
    flag (``sum_w > keep_threshold * n_tokens`` — an integer comparison,
    so the decision boundary cannot split on a float ULP).

    ``word_bigrams=True`` appends adjacent word pairs to the feature
    list (the fastText word-n-gram trick), hashed into the same bucket
    space; ``n_tokens`` then counts features, not words — still the
    quantity the mean and the keep threshold normalize by.

    Output: ``(id, n_tokens, sum_w, mean_w, keep)`` with ``keep`` as
    int64 0/1 (booleans hash differently across engines; ints do not).
    """
    words = F.expr(tokens_sql(text_col))
    if word_bigrams:
        words = F.concat(words, _word_bigrams(words))
    n_tok = F.size(words).cast("bigint")

    if weights is None:
        sum_w = F.aggregate(
            F.transform(words, lambda w: token_bucket(w, n_buckets)),
            F.lit(0).cast("bigint"),
            lambda acc, b: acc + stand_in_weight(b),
        )
        scored = docs.select(
            F.col(id_col),
            n_tok.alias("n_tokens"),
            sum_w.alias("sum_w"),
        )
    else:
        pairs = docs.select(
            F.col(id_col),
            F.explode(
                F.transform(words, lambda w: token_bucket(w, n_buckets))
            ).alias("bucket"),
        )
        # LEFT join + coalesce(weight, 0): a sparse model that stores
        # only non-zero buckets must not drop uncovered tokens from
        # n_tokens (that would shift mean_w and the keep threshold
        # relative to the expression path)
        summed = (
            pairs.join(F.broadcast(weights), "bucket", "left")
            .groupBy(id_col)
            .agg(
                F.sum(F.coalesce("weight", F.lit(0)))
                .cast("bigint")
                .alias("sum_w"),
                F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            )
        )
        # documents with zero tokens never reach the groupBy — restore them
        scored = (
            docs.select(F.col(id_col))
            .join(summed, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
                F.coalesce("sum_w", F.lit(0).cast("bigint")).alias("sum_w"),
            )
        )

    return scored.select(
        id_col,
        "n_tokens",
        "sum_w",
        F.when(
            F.col("n_tokens") > 0,
            F.col("sum_w").cast("double") / F.col("n_tokens").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_w"),
        (F.col("sum_w") > F.lit(keep_threshold) * F.col("n_tokens"))
        .cast("bigint")
        .alias("keep"),
    )
