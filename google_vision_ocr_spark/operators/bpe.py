"""Distributed BPE tokenizer training — the first N merges of a
byte-pair-encoding vocabulary, learned from the corpus.

Training a tokenizer is the step between curation and model training;
classic BPE (Sennrich et al. 2016) is inherently iterative: count
adjacent symbol pairs, merge the most frequent, repeat.  The distributed
decomposition is the standard one:

1. **One corpus-scale pass**: ``word -> frequency`` (a hash aggregation;
   at 10^12 documents the distinct-word dictionary is ~10^8 rows — the
   only pass that ever touches the corpus).
2. **Per merge round, dictionary-scale work only**: explode each
   dictionary word's adjacent character pairs weighted by word
   frequency, hash-aggregate (map-side combinable), take the arg-max
   pair (``max_by`` over weight with a lexicographic tie-break), and
   rewrite the dictionary with the merge applied.  Each round is one
   small aggregation plus a 1-row collect — the same driver-loop shape
   as the k-means rounds in operators/similarity.py.

The trick that keeps both application AND the SQL oracle exact: each
merged pair is assigned a fresh single character from the Unicode
private-use area (U+E000 + round), so *applying* a merge greedily
left-to-right is precisely the semantics of ``replace(word, pair,
symbol)`` — identical in Spark and DuckDB (non-overlapping left-to-right
scan; ``replace('aaa','aa',X) = 'Xa'`` in both).  Symbols stay single
characters forever, so pair extraction is always ``substr(word, i, 2)``.

Pair counting uses sequence bigrams (``'aaa'`` contributes ``'aa'``
twice), the standard BPE count.  Words containing private-use-area
characters (U+E000..U+F8FF) are dropped by ``word_frequencies`` — they
would alias merge symbols.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from .replayable import tokens_sql

#: first private-use codepoint used for merge symbols
PUA_BASE = 0xE000

# words shorter than 2 symbols have no pairs; Spark's sequence(1, 0)
# would DESCEND ([1, 0]), so the length guard is load-bearing
_PAIRS_EXPR = (
    "CASE WHEN length({col}) < 2 THEN array() "
    "ELSE transform(sequence(1, length({col}) - 1), "
    "i -> substr({col}, i, 2)) END"
)


def word_frequencies(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The one corpus-scale pass: ``(word, freq)`` dictionary."""
    return (
        docs.select(
            F.explode(F.expr(tokens_sql(text_col))).alias("word")
        )
        # private-use-area characters would alias merge symbols — drop
        # such words (a no-op on real text) rather than corrupt merges
        .filter(~F.col("word").rlike("[\\uE000-\\uF8FF]"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def bpe_train(
    word_freq: DataFrame, n_merges: int
) -> tuple[list[Row], DataFrame]:
    """Learn ``n_merges`` merges; returns (merge rows, final dictionary).

    Each merge row: ``(round, pair, merged, weight)`` — the two-symbol
    string merged, the fresh symbol it becomes, and its weighted pair
    count at selection time.  Deterministic: ties break on the
    lexicographically smallest pair.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    merges: list[Row] = []
    # cut lineage once up front (the corpus-scale pass runs exactly
    # once) and again each round, so round k never re-executes the
    # k-1 replace chain over the corpus — the components.py pattern
    wf = word_freq.localCheckpoint(eager=True)
    for k in range(1, n_merges + 1):
        pairs = wf.select(
            F.explode(F.expr(_PAIRS_EXPR.format(col="word"))).alias("pair"),
            "freq",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("weight"))
            .orderBy(F.col("weight").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break  # dictionary fully merged — nothing left to pair
        symbol = chr(PUA_BASE + k - 1)
        merges.append(
            Row(round=k, pair=best[0]["pair"], merged=symbol,
                weight=best[0]["weight"])
        )
        # Column-API replace: the learned pair is data, never spliced
        # into SQL text (a pair containing ' or \ must not parse)
        wf = wf.select(
            F.replace(
                F.col("word"), F.lit(best[0]["pair"]), F.lit(symbol)
            ).alias("word"),
            "freq",
        ).localCheckpoint(eager=True)
    return merges, wf


def bpe_train_merges(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> DataFrame:
    """End-to-end: corpus → dictionary → merge table DataFrame."""
    merges, _ = bpe_train(word_frequencies(docs, text_col), n_merges)
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "round bigint, pair string, merged string, weight bigint"
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[Row],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply learned merges to every document: token count after BPE.

    Scan-side only — the merge list is a handful of replaces folded
    into one projection (no join, no shuffle).  Built with the Column
    API so learned pairs are data, never SQL text."""

    def _post_merge_len(w):
        e = w
        for m in merges:
            e = F.replace(e, F.lit(m["pair"]), F.lit(m["merged"]))
        # token count of a word = its post-merge character count
        return F.length(e)

    words = F.expr(tokens_sql(text_col))
    return docs.withColumn(
        out_col,
        F.aggregate(
            F.transform(words, _post_merge_len),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
