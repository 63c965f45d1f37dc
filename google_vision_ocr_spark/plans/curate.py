"""Training-data curation plan: the 100 TB pipeline this engine exists
to run.

``pages table → extract (fused) → text metrics (tokens / quality /
lang-id) → quality + language gates → exact dedup → MinHash near-dup
removal → curated corpus + per-stage survival counters``

Design notes at scale:

- extraction is the fused single-scan plan (`plans/fused.py`);
- metrics are built-in Spark expressions (``functions/text.py``) in
  the stage after extraction, so extraction's ``mapInArrow`` is the
  only Python in the plan and the metrics need no extra scan;
- exact dedup shuffles 16-byte digests, never text;
- near-dup removal joins only inside LSH buckets and drops the
  *higher* id of each candidate pair (deterministic, order-free);
- every gate's survivor count is observed in the same action via
  ``df.observe`` — no second pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import cache
from ..functions.text import with_text_metrics
from ..operators.dedup import (
    drop_exact_dups,
    minhash_lsh_pairs,
    minhash_signatures,
)
from .fused import extract_fused


def curate(
    pages: DataFrame,
    min_quality: float = 0.3,
    min_tokens: int = 5,
    allowed_langs: tuple[str, ...] | None = None,
    near_dup_jaccard: float = 0.8,
    max_dup_line_frac: float | None = 0.5,
    **extract_kwargs,
) -> tuple[DataFrame, Observation]:
    """Returns (curated corpus, observation with per-stage counters).

    The observation resolves after the first action on the returned
    DataFrame.  It is taken once, on the extraction output before any
    gate: ``docs_in`` counts every extracted document, and
    ``pass_extract`` (no recognition error), ``pass_repetition``,
    ``pass_quality`` and ``pass_lang`` count the documents that pass
    that gate and all before it, so one pass yields the whole funnel.

    The lineage is cut three times with ``localCheckpoint(eager=True)``:
    once after the gates, where the survivors feed both sides of the
    exact-dedup semi-join, so extraction runs once and the funnel
    counters resolve on that action; once on the MinHash signatures,
    which the pair pipeline reads three times, so the signature fold
    runs once; and once on the returned corpus, so later plans start
    from its stored blocks instead of re-deriving the near-dup step.
    The first two cuts' blocks are released once the last exists.  Cut
    blocks live in executor storage: losing an executor fails the job
    instead of recomputing (``docs/SCALE.md``).
    """
    docs = extract_fused(pages, **extract_kwargs)
    # metrics are about the CONTENT: drop the page-frame headers the
    # byte-identity contract mandates in pdf outputs
    docs = with_text_metrics(
        docs.withColumn(
            "__mt", F.regexp_replace("text", "\n--- Page [0-9]+ ---\n", "\n")
        ),
        "__mt",
    ).drop("__mt")
    repetition_ok = F.lit(True)
    if max_dup_line_frac is not None:
        # Gopher repetition gate: zero-shuffle, rides the same scan
        from ..operators.quality_rules import repetition_metrics

        docs = repetition_metrics(docs).drop("n_lines", "dup_line_char_frac")
        repetition_ok = F.col("dup_line_frac") <= max_dup_line_frac
    gates = {
        "pass_extract": F.col("n_errors") == 0,
        "pass_repetition": repetition_ok,
        "pass_quality": (F.col("quality") >= min_quality) & (F.col("ws_tokens") >= min_tokens),
        "pass_lang": F.col("lang_guess").isin(*allowed_langs) if allowed_langs else F.lit(True),
    }

    # one observation on the extraction output, before any gate: each
    # counter is the number of documents that passed it and every gate
    # before it, so the funnel never widens
    obs = Observation("curation-funnel")
    passed, counters = F.lit(True), [F.count(F.lit(1)).alias("docs_in")]
    for name, ok in gates.items():
        passed = passed & ok
        counters.append(F.sum(passed.cast("int")).alias(name))
    gated = docs.withColumn("__kept", passed).observe(obs, *counters)
    kept = (
        gated.filter(F.col("__kept"))
        .drop("__kept", "dup_line_frac")
        .localCheckpoint(eager=True)
    )

    # exact dedup: keep the lexicographically-min url per identical text
    deduped = drop_exact_dups(kept, "url")

    # near-dup removal: drop the max-url side of each candidate pair.
    # The pair pipeline reads the signatures three times (banding and
    # both attaches), so they are cut once instead of folded thrice.
    sigs = minhash_signatures(deduped, "url").localCheckpoint(eager=True)
    pairs = minhash_lsh_pairs(
        deduped, id_col="url", text_col="text", signatures=sigs
    )
    losers = (
        pairs.filter(F.col("est_jaccard") >= near_dup_jaccard)
        .select(F.greatest("id_a", "id_b").alias("url"))
        .dropDuplicates(["url"])
    )
    curated = deduped.join(losers, "url", "left_anti").localCheckpoint(
        eager=True
    )
    cache.release_cut(kept)
    cache.release_cut(sigs)
    return curated, obs

