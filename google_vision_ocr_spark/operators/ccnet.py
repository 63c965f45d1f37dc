"""CCNet perplexity bucketing (Wenzek et al., LREC 2020, §"LM filtering").

CCNet's defining curation move: score every document with a language
model, then split each language's corpus into ``head`` / ``middle`` /
``tail`` THIRDS by score — downstream consumers train on the head (or
head+middle) and drop the tail.  This module reuses the engine's two
proven primitives to make that exact and 100 TB-shaped:

- the **unigram LM** of ``operators/scoring.py`` (train in one
  hash-agg, broadcast, score in one pass; per-word −ln p quantized to
  exact micro-units so the per-doc sum is order-independent);
- a **DDSketch-style integer code** in the family of
  ``operators/sketch.py``'s ``_QS_CODE``, refined to the
  (octave, top-12-post-leading-bits) cell — monotone, ≤ 2^-12
  (~0.02 %) relative cell width, SQL-replayable.  The coarser
  1/32-octave sketch cell is too wide here: document LM scores
  cluster within a ~20 % band, which 1/32-octave squashes into a
  handful of cells (the tercile crossing then swallows most of the
  corpus and ``middle`` never fires); 12 post-leading bits give
  hundreds of cells across such a band while the code stays bounded
  (≤ 64·4096 values), the same widening the w2 granule needed
  (ADVICE r5).

Why the sketch code instead of an exact per-language rank: a window
``PARTITION BY lang`` over the raw corpus is the canonical skew trap —
5 language partitions at 10^12 docs means 5 hot tasks (SURVEY §8's
window-skew rule).  Bucketing scores through the sketch code first
reduces the cutoff computation to a **bounded** histogram (languages ×
≤ 64·4096 codes, realistically a few hundred per language), on which
the cumulative window is over thousands of rows regardless of corpus
size; cutoff codes then broadcast back.
The price is that cutoffs land on cell boundaries (ties within one
~3 %-wide cell bucket together) — exactly a sketch-quantile's
contract, and the published CCNet pipeline likewise derives its
cutoffs from precomputed percentile tables, not a per-run total sort.

Integer discipline: the per-doc score is the half-up integer mean of
the micro-quantized word scores — ``(2·Σ + n) div (2·n)``, valid for
the non-negative −ln p sums — so every comparison the bucket label
depends on is exact in both engines.

Tercile rule (per language, n scored docs): ``k1 = n div 3``,
``k2 = (2n) div 3``; the head cutoff is the smallest code whose
cumulative count reaches ``k1`` (NULL when ``k1 = 0`` — a 1-2 doc
language has no head), likewise ``k2`` for middle; ``bucket`` is
``head`` iff ``code <= t1``, else ``middle`` iff ``code <= t2``, else
``tail``.  Lower score = more in-distribution = head, matching CCNet.

The reference app has no curation stage (it OCRs page images); this
extends the engine's training-data axis (SURVEY §2 extensions)
alongside c4_filters / gopher metrics / dsir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .replayable import tokens_sql
from .scoring import train_unigram

# (octave, top-12-post-leading-bits) cell of the non-negative score:
# code = bit_length(c)*4096 + (c >> max(bit_length(c)-12, 0)).
# Monotone in c (octave majorizes; within an octave the top bits
# preserve order), exact for c < 4096, ≤ 2^-12 relative width above.
_CCN_CODE = (
    "CASE WHEN {c} = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(length(bin({c})) * 4096"
    "   + shiftright({c}, CAST(greatest(length(bin({c})) - 12, 0) AS INT))"
    "   AS BIGINT) END"
)


def perplexity_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Per-document CCNet bucket: ``(id, lang, n_words, nlp_micro,
    qs_code, bucket)``; docs with no words drop (they carry no score).

    One corpus-scale shuffle (the per-doc aggregation, keyed by the
    well-distributed ``id_col``); the vocabulary and the per-language
    cutoffs both travel as broadcasts.
    """
    vocab, total = train_unigram(docs, text_col, vocab_size)
    scored = (
        docs.select(
            F.col(id_col),
            F.col(lang_col),
            F.explode(F.expr(tokens_sql(text_col))).alias("word"),
        )
        .join(F.broadcast(vocab), "word", "left")
        .select(
            id_col,
            lang_col,
            F.round(
                -F.log(F.coalesce(F.col("cnt"), F.lit(1)) / F.lit(float(total)))
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("__u"),
        )
        .groupBy(id_col, lang_col)
        .agg(F.count(F.lit(1)).alias("n_words"), F.sum("__u").alias("__s"))
        # half-up integer mean of the (non-negative) micro scores
        .select(
            id_col,
            lang_col,
            F.col("n_words").cast("bigint").alias("n_words"),
            F.expr("(2 * __s + n_words) div (2 * n_words)").alias("nlp_micro"),
        )
        .withColumn("qs_code", F.expr(_CCN_CODE.format(c="nlp_micro")))
    )
    # bounded histogram (langs x <= 64*4096 codes) -> cumulative
    # window on the SMALL frame only -> cutoffs -> broadcast back
    hist = scored.groupBy(lang_col, "qs_code").agg(F.count(F.lit(1)).alias("cnt"))
    cum_w = Window.partitionBy(lang_col).orderBy("qs_code")
    tot_w = Window.partitionBy(lang_col)
    cum = hist.select(
        lang_col,
        "qs_code",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(tot_w).alias("n"),
    )
    cuts = cum.groupBy(lang_col).agg(
        F.min(
            F.when(
                (F.expr("n div 3") >= 1) & (F.col("cum") >= F.expr("n div 3")),
                F.col("qs_code"),
            )
        ).alias("__t1"),
        F.min(
            F.when(
                (F.expr("(2 * n) div 3") >= 1)
                & (F.col("cum") >= F.expr("(2 * n) div 3")),
                F.col("qs_code"),
            )
        ).alias("__t2"),
    )
    out = scored.join(
        F.broadcast(cuts),
        scored[lang_col].eqNullSafe(cuts[lang_col]),
    ).drop(cuts[lang_col])
    return out.select(
        id_col,
        lang_col,
        "n_words",
        "nlp_micro",
        "qs_code",
        F.expr(
            "CASE WHEN __t1 IS NOT NULL AND qs_code <= __t1 THEN 'head' "
            "WHEN __t2 IS NOT NULL AND qs_code <= __t2 THEN 'middle' "
            "ELSE 'tail' END"
        ).alias("bucket"),
    )
