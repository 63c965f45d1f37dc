"""Focused tests for the r7 optimization internals.

Each r7 change is implementation-only (identical declared results);
these tests pin (a) the equivalences the optimizations rely on and
(b) the plan/partitioning behavior of the new fan-out helper.
"""

import itertools

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------- fanout

def test_fanout_noop_when_enough_partitions(spark):
    from google_vision_ocr_spark.fanout import fanout

    df = spark.range(0, 100).repartition(16, "id")
    out = fanout(df, "id")  # defaultParallelism is 4 in the test session
    assert out.rdd.getNumPartitions() == 16  # untouched — no coalesce


def test_fanout_repartitions_single_partition_input(spark):
    from google_vision_ocr_spark.fanout import fanout

    df = spark.range(0, 100).coalesce(1)
    out = fanout(df, "id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # values untouched
    assert sorted(r.id for r in out.collect()) == list(range(100))


# ------------------------------------------- minhash bucket pair-gen

def _reference_pairs(spark, df):
    """The pre-r7 shape: banded equality self-join + id_a < id_b +
    dropDuplicates — the declarative spec the oracle states."""
    from google_vision_ocr_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(df).filter(F.col("__ntok") >= 3)
    banded = sigs.select(
        F.col("doc_id"),
        F.col("minhash"),
        F.posexplode(
            F.expr(
                "transform(sequence(0, 15), band ->"
                " concat_ws(',', transform(slice(minhash, band * 4 + 1, 4),"
                " v -> CAST(v AS STRING))))"
            )
        ).alias("band", "band_key"),
    )
    left = banded.select("band", "band_key", F.col("doc_id").alias("id_a"),
                         F.col("minhash").alias("mh_a"))
    right = banded.select("band", "band_key", F.col("doc_id").alias("id_b"),
                          F.col("minhash").alias("mh_b"))
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (F.size(F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y),
                             lambda m: m)).cast("double") / F.lit(64.0)
             ).alias("est_jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def test_minhash_bucket_pairgen_matches_join_shape(spark):
    """The r7 one-exchange bucket pair expansion must emit EXACTLY the
    r6 self-join's pair set (planted near-dups, a disjoint doc, and
    sub-k-token docs that must be filtered, not paired)."""
    from google_vision_ocr_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " tail"),          # near-dup of 1
        (3, base.replace("quick", "slow")),
        (10, "completely different words about spark shuffles and scans"),
        (20, "too short"),            # < 3 tokens: must not pair
        (21, "too short"),            # identical, still filtered
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = minhash_lsh_pairs(df)
    ref = _reference_pairs(spark, df)
    # collected-set comparison: exceptAll over this dropDuplicates +
    # HOF-expression shape trips INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in
    # Spark 4.1.2's replication-count rewrite; the data is tiny
    new_rows = sorted(map(tuple, new.collect()))
    ref_rows = sorted(map(tuple, ref.collect()))
    assert new_rows == ref_rows
    got = {(r.id_a, r.id_b) for r in new.collect()}
    assert (20, 21) not in got  # sub-k docs filtered by __ntok guard
    assert all(a < b for a, b in got)
    assert len(got) == new.count()  # deduped


def test_minhash_banded_exchange_is_signature_free(spark):
    """The whole point of the r7 join diet: the 64-element signature
    array must not ride the bucket exchange — only (id, band, slice)."""
    from google_vision_ocr_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}") for i in range(10)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df)
    q = minhash_lsh_pairs(df, signatures=sigs)
    fmt = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted")
    # the exchange that buckets band membership must be signature-free:
    # find every hashpartitioning(band, band_key) exchange block and
    # assert its Input column list carries no minhash attribute
    blocks = fmt.split("\n\n")
    band_exchanges = [b for b in blocks if b.lstrip().startswith("(")
                      and "Exchange" in b.splitlines()[0]
                      and "hashpartitioning(band" in b]
    assert band_exchanges, fmt
    for b in band_exchanges:
        assert "minhash" not in b, b
    # and the bucket pair-gen shape is present (one skinny exchange +
    # sorted-id collect), replacing the two-sided banded self-join
    assert "sort_array(collect_list" in fmt


def test_minhash_signatures_fanout_and_invariance(spark):
    """r7 (second pass): the signature table fans out to cluster
    parallelism (the bench tables are single-row-group parquet, so the
    signature pass otherwise runs one-task) and per-row hashing is
    partition-invariant — the signature set must not depend on the
    fan-out."""
    from google_vision_ocr_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(40)],
        "doc_id long, text string",
    ).coalesce(1)
    out = minhash_signatures(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # same signatures as the pre-fanout (single-partition) evaluation
    ref = minhash_signatures(df.repartition(3, "doc_id"))
    a = sorted((r.doc_id, tuple(r.minhash)) for r in out.collect())
    b = sorted((r.doc_id, tuple(r.minhash)) for r in ref.collect())
    assert a == b


def test_minhash_headline_builder_runs_no_eager_job(spark, tmp_path):
    """r7 (second pass): building the dedup_minhash_lsh query must not
    run an eager materialization job — AQE sequences the pair
    pipeline's stages, so the first consumer (the bucket exchange map
    stage) fills the signature cache and every later stage reads it
    warm.  The old eager count() was one redundant full pass per
    build."""
    import __spark_entry__ as entry_mod
    from google_vision_ocr_spark import cache

    docs = spark.createDataFrame(
        [(i, f"one two three four five {i}") for i in range(20)],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    build = entry_mod.queries()["dedup_minhash_lsh"]
    build(spark, str(tmp_path))  # warm the _t schema memo (one footer job)
    cache.release_all()
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    build(spark, str(tmp_path))
    after = len(tracker.getJobIdsForGroup(None) or [])
    cache.release_all()
    # plan probes (rdd.getNumPartitions) may run zero-task bookkeeping,
    # but no job may scan the documents table during build
    assert after == before, "query build ran an eager Spark job"


# ------------------------------------------------ fused flagship path

def test_extract_documents_fused_equals_staged_path(spark):
    """Byte-identity of the r7 one-stage flagship vs the staged
    documents_to_pages → extract_fused path, including multi-page and
    empty documents."""
    from google_vision_ocr_spark.plans.fused import (
        extract_documents_fused,
        extract_fused,
    )
    from google_vision_ocr_spark.sources.documents import documents_to_pages

    rows = [
        (1, "src0", "x" * 1200, "en"),    # 3 pages
        (2, "src0", "short page", "en"),  # 1 page
        (3, "src1", "", "de"),            # empty text → 1 empty page
        (4, "src1", "y" * 501, "fr"),     # 2 pages, boundary
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string, lang string")
    fused = extract_documents_fused(docs).select("url", "text", "n_pages", "spans")
    staged = extract_fused(documents_to_pages(docs)).select(
        "url", "text", "n_pages", "spans")
    assert fused.exceptAll(staged).count() == 0
    assert staged.exceptAll(fused).count() == 0
    got = {r.url: r for r in fused.collect()}
    assert got["doc://src0/1"].n_pages == 3
    assert got["doc://src1/3"].text.startswith("\n--- Page 1 ---")


def test_fused_flagship_has_single_python_stage(spark):
    """The r7 fusion's reason to exist: one MapInArrow, zero
    ArrowEvalPython in the headline flagship plan."""
    from google_vision_ocr_spark.plans.fused import extract_documents_fused

    docs = spark.createDataFrame(
        [(1, "s", "hello world")], "doc_id long, source string, text string")
    plan = (extract_documents_fused(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("MapInArrow") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ------------------------------------------------------ q1 cents form

def test_floor_cents_equals_round_cents_on_money_domain(spark):
    """floor(x*100 + 0.5) == round(x*100) for nonnegative 2-decimal
    money doubles — the exact domain tpch_q1 relies on (plus the
    integer-quantity column)."""
    vals = [0.0, 0.01, 0.05, 290638.71, 144741.92, 999999.99, 50.0,
            0.10, 123456.78, 7.77]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    bad = df.filter(
        F.round(F.col("x") * 100).cast("bigint")
        != F.floor(F.col("x") * 100 + F.lit(0.5)).cast("bigint")
    ).count()
    assert bad == 0
