"""Hashed-linear quality classifier (operators/classifier.py).

Pins the two scoring paths (scan-side expression vs broadcast
weight-table join) to identical output, the zero-token edge, the weight
bounds, and the scale-critical plan shape: the expression path must be a
pure scan-side project — no Exchange, no Python stage.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from google_vision_ocr_spark.operators.classifier import (
    WEIGHT_MOD,
    default_weights,
    score_hashed_linear,
    stand_in_weight,
    token_bucket,
)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "spark shuffles and scans and sorts"),
            (2, ""),  # zero tokens
            (3, "   "),  # whitespace-only: also zero tokens
            (4, "one"),
        ],
        "doc_id bigint, text string",
    )


def test_paths_identical(spark, docs):
    a = score_hashed_linear(docs).orderBy("doc_id").toPandas()
    b = (
        score_hashed_linear(docs, weights=default_weights(spark, 4096))
        .orderBy("doc_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_zero_token_docs_survive(docs):
    out = score_hashed_linear(docs).orderBy("doc_id").toPandas()
    assert len(out) == 5
    empty = out[out.doc_id.isin([2, 3])]
    assert (empty.n_tokens == 0).all()
    assert (empty.sum_w == 0).all()
    assert (empty.mean_w == 0.0).all()
    assert (empty.keep == 0).all()


def test_weight_bounds(spark):
    half = (WEIGHT_MOD - 1) // 2
    w = default_weights(spark, 4096).agg(
        F.min("weight").alias("lo"), F.max("weight").alias("hi")
    ).first()
    assert -half <= w.lo and w.hi <= half
    # the stand-in is not degenerate: both signs occur
    assert w.lo < 0 < w.hi


def test_same_token_same_bucket(spark):
    d = spark.createDataFrame([("alpha",), ("alpha",), ("beta",)], "w string")
    out = d.select(token_bucket(F.col("w"), 4096).alias("b")).toPandas()
    assert out.b[0] == out.b[1]
    assert 0 <= out.b.min() and out.b.max() < 4096


def test_expression_path_is_scan_side(spark, docs):
    plan = _plan(score_hashed_linear(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_join_path_broadcasts_weights(spark, docs):
    plan = _plan(score_hashed_linear(docs, weights=default_weights(spark, 4096)))
    assert "BroadcastHashJoin" in plan


def test_keep_threshold_is_integer_exact(spark):
    # a doc whose sum_w equals threshold * n exactly must NOT be kept
    d = spark.createDataFrame([(0, "x y z")], "doc_id bigint, text string")
    out = score_hashed_linear(d, keep_threshold=10**9).first()
    assert out.keep == 0


def test_stand_in_weight_matches_formula(spark):
    row = (
        spark.range(1)
        .select(stand_in_weight(F.lit(7).cast("bigint")).alias("w"))
        .first()
    )
    assert row.w == (7 * 2654435761) % WEIGHT_MOD - (WEIGHT_MOD - 1) // 2


def test_bigram_features(spark):
    from google_vision_ocr_spark.operators.classifier import _word_bigrams

    d = spark.createDataFrame(
        [(0, "a b c"), (1, "solo"), (2, "")], "doc_id bigint, text string"
    )
    from google_vision_ocr_spark.operators.replayable import tokens_sql

    words = F.expr(tokens_sql("text"))
    out = {
        r.doc_id: r.bg
        for r in d.select("doc_id", _word_bigrams(words).alias("bg")).collect()
    }
    assert out[0] == ["a b", "b c"]
    assert out[1] == []
    assert out[2] == []


def test_bigram_path_is_scan_side(spark, docs):
    plan = _plan(score_hashed_linear(docs, word_bigrams=True))
    assert "Exchange" not in plan


def test_bigram_n_tokens_counts_features(spark):
    d = spark.createDataFrame([(0, "a b c")], "doc_id bigint, text string")
    uni = score_hashed_linear(d).first()
    bi = score_hashed_linear(d, word_bigrams=True).first()
    assert uni.n_tokens == 3 and bi.n_tokens == 5


def test_sparse_weight_table_counts_uncovered_tokens(spark, docs):
    """A sparse real model stores only non-zero buckets; tokens whose
    bucket is absent must still count toward n_tokens (weight 0), so
    the sparse table scores exactly like the complete one with those
    buckets zeroed."""
    full = default_weights(spark, 4096)
    # zero out + drop every bucket hit by doc 0's tokens → doc 0 keeps
    # its n_tokens but sums only the remaining buckets
    from google_vision_ocr_spark.operators.classifier import token_bucket
    from pyspark.sql import functions as F

    hit = {
        r.bucket
        for r in docs.filter("doc_id = 0")
        .select(
            F.explode(
                F.transform(
                    F.expr(
                        "filter(split(lower(text), '\\\\s+'), x -> x <> '')"
                    ),
                    lambda w: token_bucket(w, 4096),
                )
            ).alias("bucket")
        )
        .collect()
    }
    sparse = full.filter(~F.col("bucket").isin(list(hit)))
    zeroed = full.withColumn(
        "weight",
        F.when(F.col("bucket").isin(list(hit)), F.lit(0)).otherwise(
            F.col("weight")
        ),
    )
    a = (
        score_hashed_linear(docs, weights=sparse)
        .orderBy("doc_id")
        .toPandas()
    )
    b = (
        score_hashed_linear(docs, weights=zeroed)
        .orderBy("doc_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)
    # and n_tokens is untouched relative to the expression path
    c = score_hashed_linear(docs).orderBy("doc_id").toPandas()
    assert list(a.n_tokens) == list(c.n_tokens)
