"""Inverted-index (postings list) construction — the search-shard build.

The classic index-build job: term → sorted list of documents containing
it, plus the document frequency.  TF-IDF/BM25 (operators/tfidf.py area)
consume per-document statistics; this emits the *index artifact* a
retrieval shard serves from.

100 TB shape — the hot-key trap and its bound:

- Within-document duplicates die in the scan (``array_distinct`` before
  the explode), so the shuffle carries unique (term, doc) pairs only.
- A naive ``groupBy(term).agg(collect_list(doc))`` materializes a
  stopword's posting list — ~every document — inside ONE task: the
  canonical skewed-key scale-killer.  Instead a df pre-pass (a plain
  count, map-side combinable, skew-immune) selects the *indexable*
  vocabulary ``min_df <= df <= max_df`` first; only those pairs reach
  the collect, so every posting list is bounded by ``max_df`` by
  construction.  Stopword-grade terms are excluded exactly as search
  engines exclude them (real engines serve them from impact-ordered /
  doc-range-segmented postings — a storage-layout concern, not a
  DataFrame one).
- Cost: two shuffles on the term (count, then join+collect) — both on
  bounded keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .replayable import tokens_sql


def inverted_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df: int = 300,
) -> DataFrame:
    """Build bounded postings: ``(term, df, postings)`` with ``postings``
    the comma-joined ascending id list (a string, so the artifact — and
    the cross-engine hash — is byte-stable)."""
    if min_df < 1 or max_df < min_df:
        raise ValueError(f"need 1 <= min_df <= max_df, got [{min_df}, {max_df}]")
    pairs = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.expr(tokens_sql(text_col)))
        ).alias("term"),
    )
    dfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    indexable = dfreq.filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    return (
        pairs.join(indexable, "term")
        .groupBy("term")
        .agg(
            F.max("df").alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.col(id_col))),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )


def merge_postings(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two segment indexes (Lucene-style incremental maintenance).

    Each input is an unfiltered ``inverted_postings`` output over a
    disjoint document range ("segment"): per-segment lists are bounded
    by segment size, and the merge is a full-outer join keyed by term
    whose per-key work is the sum of two bounded lists — so background
    index merging never needs to re-touch the corpus.  Any df-band
    (min_df/max_df) must be applied AFTER merging: frequency cutoffs do
    not commute with segment union.

    The invariant the contract query pins under the hash gate:
    ``merge(build(A), build(B)) == build(A ∪ B)`` for disjoint A, B.
    """
    pa = a.select(
        "term",
        F.col("df").alias("__dfa"),
        F.split(F.col("postings"), ",").alias("__pa"),
    )
    pb = b.select(
        "term",
        F.col("df").alias("__dfb"),
        F.split(F.col("postings"), ",").alias("__pb"),
    )
    empty = F.array().cast("array<string>")
    merged_ids = F.sort_array(
        F.transform(
            F.concat(F.coalesce("__pa", empty), F.coalesce("__pb", empty)),
            lambda x: x.cast("bigint"),
        )
    )
    return pa.join(pb, "term", "full_outer").select(
        "term",
        (F.coalesce("__dfa", F.lit(0)) + F.coalesce("__dfb", F.lit(0)))
        .cast("bigint")
        .alias("df"),
        F.array_join(
            F.transform(merged_ids, lambda x: x.cast("string")), ","
        ).alias("postings"),
    )
