"""TF-IDF salient-term extraction — the classic "what is this document
about" signal used for topic tagging and quality triage in web-corpus
pipelines.

Plan shape (three aggregates, no all-pairs anything):

1. ``tf``  — explode words, count per (doc, word): map-side combinable;
2. ``df``  — count docs per word over the tf frame (vocabulary-sized);
3. score   — tf ⋈ df on word (the one vocabulary shuffle), corpus size
   cross-joined in as a broadcast 1-row frame, then a per-document
   top-k window (bounded per key: one document's vocabulary).

Cross-engine determinism: tf/df/n are exact integers; the only float
is ``tfidf = tf · ln(n/df)``, ROUNDED to 6 dp before it is either
output or used for ordering, with (tf DESC, word ASC) tie-breaks after
it — mathematically-equal scores from different (tf, df) pairs (e.g.
2·ln(10) vs ln(100)) land on the same rounded value in any IEEE engine
and resolve by the integer keys, never by the last ULP of a log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .replayable import tokens_sql


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = 1.25,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query by BM25
    (Robertson/Sparck-Jones +1 idf).  Returns (id, rank, score,
    n_matched).

    Cross-engine determinism: each per-term partial score is a fixed
    expression tree over exact integers (tf, df, dl, N) — identical
    doubles in any IEEE engine — but the per-document Σ over terms is
    a float sum whose ORDER differs per engine.  So each term's score
    is quantized to micro units (``round(s·1e6)`` → int64) and the
    document sum runs in integers: order-free, exact, the same trick
    as the money queries.  (Micro, not nano: a 1-ULP ln() disagreement
    moves s·1e6 by ~1e-9, far from any .5 rounding boundary; s·1e9
    would sit ~1e-6 away — too close at corpus scale.)  Ranking uses
    the integer micros with id tie-breaks; the reported score is
    micros/1e6.  Default k1=1.25, b=0.75: exact binary fractions, so
    a SQL oracle's decimal literals convert to the identical doubles
    (1.2 would not survive the trip).

    Plan shape: the query is a handful of literal terms — df lookup
    and idf are broadcast-sized; the corpus-side work is one tf pass
    filtered to query terms plus a scan-side doc-length, joined on the
    id, then a global top-k (TakeOrderedAndProject, never a full
    sort)."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.expr(tokens_sql(text_col))).alias("term"),
    )
    dl = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("dl").alias("__sum_dl"),
    )
    qt = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        words.filter(F.array_contains(qt, F.col("term")))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.round(
                F.log(
                    F.lit(1.0)
                    + ((F.col("__n") - F.col("df")).cast("double") + F.lit(0.5))
                    / (F.col("df").cast("double") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(float(k1) + 1.0))
                / (
                    F.col("tf")
                    + F.lit(float(k1))
                    * (
                        F.lit(1.0 - float(b))
                        + F.lit(float(b))
                        * F.col("dl")
                        / (F.col("__sum_dl").cast("double") / F.col("__n"))
                    )
                )
                * F.lit(1e6)
            ).cast("bigint").alias("__micro"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("__micro").alias("__micros"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    return (
        per_doc.orderBy(F.col("__micros").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            F.row_number().over(
                Window.orderBy(F.col("__micros").desc(), F.col(id_col))
            ).alias("rank"),
            (F.col("__micros").cast("double") / F.lit(1e6)).alias("score"),
            "n_matched",
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` terms per document by TF-IDF: returns
    (id, rank, term, tf, df, tfidf)."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.expr(tokens_sql(text_col))).alias("term"),
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("__n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("tf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "tfidf")
    )
