"""Benchmark decontamination: drop training documents that overlap an
evaluation set.

The standard pre-training step (GPT-3 §C / PaLM / Llama reports):
a document is *contaminated* if it shares any word k-gram (k≈8–13)
with any benchmark item.  Spark-first shape:

- both sides shingle with the same hashed-k-gram ids exact Jaccard
  uses (:func:`dedup.shingle_ids`: 60-bit md5 folds, injective at
  corpus scale, JVM expressions only);
- the benchmark side is tiny (thousands of eval items vs 10^12 docs)
  → **broadcast semi-join on the shingle hash**: the corpus never
  shuffles, each task probes the broadcast hash set;
- output is either flags (audit) or the filtered corpus (drop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_ids


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    sh = shingle_ids(df, id_col, text_col, k)
    return sh.select(id_col, F.explode("sh").alias("shingle"))


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Distinct corpus ids sharing at least one word k-gram with the
    benchmark.  The benchmark shingle set is broadcast."""
    corp = _exploded_shingles(corpus, id_col, text_col, k)
    bench = (
        _exploded_shingles(benchmark.select(F.col(bench_text_col).alias("text")
                                            ).withColumn("__bid", F.lit(0)),
                           "__bid", "text", k)
        .select("shingle")
        .distinct()
    )
    return (
        corp.join(F.broadcast(bench), "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )


def drop_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    bad = contaminated_ids(corpus, benchmark, k, id_col, text_col, bench_text_col)
    return corpus.join(bad, id_col, "left_anti")


def contamination_fraction(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Graded decontamination: per document, the fraction of its
    distinct word k-shingles that appear in the benchmark — what
    pre-training reports actually publish (an any-overlap flag calls a
    quote-a-benchmark-question doc and a verbatim test-set copy the
    same thing; the fraction separates them, letting the pipeline drop
    at a threshold instead of on a single 8-gram).

    Same 100 TB shape as the flag variant: the benchmark shingle set
    broadcasts, the corpus never shuffles on the shingle — the only
    shuffle is the per-document count aggregation (map-side
    combinable, keyed by the unskewed doc id)."""
    corp = _exploded_shingles(corpus, id_col, text_col, k)
    bench = (
        _exploded_shingles(benchmark.select(F.col(bench_text_col).alias("text")
                                            ).withColumn("__bid", F.lit(0)),
                           "__bid", "text", k)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        corp.join(F.broadcast(bench), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("bigint").alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_contaminated",
            (F.col("n_contaminated").cast("double")
             / F.col("n_shingles").cast("double")).alias("contaminated_frac"),
        )
    )


def contaminated_ids_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n_bits: int = 1 << 17,
    n_hashes: int = 3,
) -> DataFrame:
    """Same OUTPUT as :func:`contaminated_ids`, bloom-prefiltered.

    At 10^12 documents the eval shingle set can reach 10^8+ entries —
    an exact broadcast hash set costs GBs per executor; a bloom filter
    is a fixed ``n_bits/8`` bytes (16 KB here).  Build: each benchmark
    shingle sets ``n_hashes`` bits (seeded ``xxhash64`` probes), the
    bit words fold with a map-side-combinable ``bit_or`` aggregation
    (order-independent, so partitioning cannot change the filter), and
    the ≤ ``n_bits/64``-row word table collects to one array literal —
    the explicit version of the runtime-filter shape Spark\'s
    ``spark.sql.optimizer.runtime.bloomFilter`` injects into joins.
    Probe: a scan-side pure-expression membership test prunes ~all
    clean shingles before any shuffle; only the surviving candidates
    reach the exact broadcast semi-join, so bloom false positives
    CANNOT leak into the output — the result is row-identical to the
    exact operator, which is why the gate entry shares its oracle
    verbatim."""
    corp = _exploded_shingles(corpus, id_col, text_col, k)
    bench = (
        _exploded_shingles(
            benchmark.select(F.col(bench_text_col).alias("text")).withColumn(
                "__bid", F.lit(0)
            ),
            "__bid",
            "text",
            k,
        )
        .select("shingle")
        .distinct()
    )

    def probe(col, i):
        return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(n_bits))

    sets = None
    for i in range(n_hashes):
        part = bench.select(probe(F.col("shingle"), i).alias("__pos"))
        sets = part if sets is None else sets.unionByName(part)
    words = (
        sets.select(
            (F.col("__pos") / 64).cast("bigint").alias("__w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                " CAST(pmod(__pos, 64) AS INT))"
            ).alias("__bit"),
        )
        .groupBy("__w")
        .agg(F.expr("bit_or(__bit)").alias("__word"))
        .collect()
    )
    bits = [0] * (n_bits // 64)
    for r in words:
        bits[int(r["__w"])] = int(r["__word"])
    bits_lit = F.array(*[F.lit(b).cast("bigint") for b in bits])
    # project each probe position ONCE (3 xxhash64 per shingle, not 6),
    # test all bits against the array literal, then drop the scaffolding
    pos_cols = [probe(F.col("shingle"), i).alias(f"__p{i}") for i in range(n_hashes)]
    probed = corp.select("*", *pos_cols)
    cond = None
    for i in range(n_hashes):
        hit = F.element_at(
            bits_lit, (F.col(f"__p{i}") / 64).cast("int") + 1
        ).bitwiseAND(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(pmod(__p{i}, 64) AS INT))"
            )
        ) != 0
        cond = hit if cond is None else (cond & hit)
    cand = probed.filter(cond).drop(*[f"__p{i}" for i in range(n_hashes)])
    return (
        cand.join(F.broadcast(bench), "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )
