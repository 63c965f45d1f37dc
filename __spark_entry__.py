"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (plus the training-pipeline extensions); ``oracle_sql()``
gives the DuckDB-checkable ANSI-SQL twin for every SQL-expressible one.
Column names/types are aligned pairwise (the driver hashes values after
sorting columns by name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd  # noqa: F401  (needed to resolve pandas-UDF type hints)
from pyspark.sql import DataFrame, SparkSession

# make the sibling package importable regardless of the caller's cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from pyspark.sql import functions as F
from pyspark.sql import Window


#: schema memo per (sf_dir, table) — what a catalog/metastore provides
#: in a real deployment: with an explicit schema the reader skips the
#: per-query footer-inference pass (measured ~0.2-0.3 s per DataFrame
#: construction on this VM, paid once per table instead)
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    key = (sf_dir, name)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return spark.read.schema(schema).parquet(path)


def _reap_stale_scratch() -> None:
    """Remove /tmp/spark_graft_*_<pid> dirs whose owning process is
    gone (pid-keyed scratch would otherwise accumulate one full
    IVF/LSH/WARC index copy per finished driver/bench run)."""
    import glob
    import re
    import shutil

    for p in glob.glob("/tmp/spark_graft_*"):
        m = re.search(r"_(\d+)$", p)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(p, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid: leave it


_SCRATCH_REAPED = False


def _scratch_dir(kind: str, sf_dir: str) -> str:
    """Per-process scratch path for fixture artifacts (IVF index, WARC
    segments): keyed by SF dir AND pid so two concurrent runs over the
    same SF dir never overwrite each other's files mid-read; stable
    within a process so bench repeats reuse one directory.  This
    process's dirs are removed at interpreter exit, and dirs left by
    dead pids are reaped on first use, so /tmp never accumulates."""
    global _SCRATCH_REAPED
    if not _SCRATCH_REAPED:
        _SCRATCH_REAPED = True
        import atexit
        import shutil

        _reap_stale_scratch()

        def _cleanup_own(pid=os.getpid()):
            import glob
            import re

            for p in glob.glob("/tmp/spark_graft_*"):
                m = re.search(r"_(\d+)$", p)
                # exact pid match only: the glob alone would also hit a
                # LIVE sibling whose pid merely ends in ours (1234/234)
                if m and int(m.group(1)) == pid:
                    shutil.rmtree(p, ignore_errors=True)

        atexit.register(_cleanup_own)
    base = os.path.basename(os.path.normpath(sf_dir))
    return f"/tmp/spark_graft_{kind}_{base}_{os.getpid()}"


# round(p/q, n) by INTEGER half-up — the tie-proof recipe for every
# exact-rational output column (q3/moments defect class); shared
# implementation + rationale in functions/exact.py
from google_vision_ocr_spark.functions.exact import (  # noqa: E402
    halfup_ratio as _halfup_ratio,
    halfup_ratio_signed as _halfup_ratio_signed,
    halfup_ratio_signed_sql as _halfup_ratio_signed_sql,
    halfup_ratio_sql as _halfup_ratio_sql,
)
from google_vision_ocr_spark.operators import replayable as _replayable  # noqa: E402


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → synthetic multi-page payloads → full extraction
    pipeline (rasterize → grayscale → PNG → recognize → ordered framed
    concat).  SURVEY.md §3.2 shape; oracle-checkable end-to-end."""
    from google_vision_ocr_spark.plans.fused import extract_documents_fused

    # r7: payload synthesis fused into the recognition stage — one
    # Python boundary instead of two (ArrowEvalPython + MapInArrow),
    # same doc_rows projection and the same extraction kernel; identical
    # output (exceptAll-verified vs the staged documents_to_pages →
    # extract_fused path, which remains the default elsewhere)
    out = extract_documents_fused(_t(spark, sf_dir, "documents"))
    return out.select("url", "text", F.col("n_pages").cast("int").alias("n_pages"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _f1_filter(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .filter((F.col("lang") == "en") & F.col("n_chars").between(200, 2000))
        .select("doc_id", "lang", "n_chars")
    )


def _f7_tagged_projection(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(F.col("n_chars") < 500, F.lit("short")).otherwise(F.lit("long")).alias("size_kind"),
        F.when(F.col("lang") == "en", F.col("source")).otherwise(F.lit(None)).alias("en_source"),
    )


def _j1_equi_join(spark, sf_dir):
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


def _j2_semi_join(spark, sf_dir):
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


def _j3_anti_join(spark, sf_dir):
    # churned customers: no orders since 2000 (every customer has SOME
    # order, so the unfiltered anti-join returns zero rows and can't
    # catch a bug — round-3 vacuousness audit)
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    c = _t(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def _a1_group_concat(spark, sf_dir):
    # the reference's ordered framed concat (A1) over the documents table
    from google_vision_ocr_spark.operators.assemble import framed_concat

    d = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("url"), F.col("doc_id").cast("int").alias("page"), "text"
    )
    return framed_concat(d, error_col=None).select(
        F.col("url").alias("source"), F.col("text").alias("doc_text")
    )


def _w1_gaps_islands(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_island = e.withColumn(
        "island", F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)).over(w)
    )
    return with_island.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _a2_merged_chapters(spark, sf_dir):
    """W1 islands + A2 ordered merged concat per island over events
    (the EPUB chapter-merge shape, epub_processor.py:200-236)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_island = e.withColumn(
        "island", F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)).over(w)
    )
    return with_island.groupBy("user_id", "island").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("event_id").alias("eid"),
                                            F.col("event_type").alias("et")))
                ),
                lambda x: F.format_string("<h2>Event %d</h2><pre>%s</pre>\n",
                                          x["eid"], x["et"]),
            ),
            "",
        ).alias("merged_html"),
        F.min("event_id").alias("first_event"),
    )


# length(bin(x)) = exact bit length (no float-log2 edge cases); ids
# with equal bit length order by their top 10 post-leading bits (code
# in [1024, 2047] per octave, so stride 2048 keeps the combined key
# monotone across octaves).  Shared with tests/test_scale_features.py
# which pins the fan-out of clustered id bands on this exact key.
_W2_BUCKET_SQL = (
    "CAST(length(bin(doc_id)) * 2048"
    " + shiftright(doc_id, CAST(greatest(length(bin(doc_id)) - 11, 0)"
    " AS INT)) AS BIGINT)"
)


def _w2_row_number(spark, sf_dir):
    """Global per-lang sequential numbering WITHOUT a lang-partitioned
    window (5 langs over a web corpus = 5 hot tasks at scale — the
    banned shape).  pack_shards' two-pass prefix-sum instead: bucket
    by a monotone key (so bucket order ⊆ global order; nonneg ids),
    number within (lang, bucket) — each task bounded by the granule —
    then add broadcast per-(lang, bucket) exclusive-prefix offsets.
    The prefix pass is ONE driver action on a DATA-INDEPENDENT
    order-preserving granulation (r4 used range buckets whose width
    needed a separate max(doc_id) job first — two sequential barriers
    on the 100× path): bucket = (bit-length of doc_id, top 10 bits
    after the leading bit).  That key is monotone in doc_id (bucket
    order ⊆ global order), bounded by construction (≤ 64·1024
    granules regardless of data — the offsets collect stays a few-MB
    driver scalar), and splits every octave 1024 ways, so an id band
    clustered in one octave (offset/timestamp-prefixed ids sharing
    their top bits) still fans out across up to 1024 window tasks;
    only ids sharing their top ~11 bits land in one granule."""
    d = _t(spark, sf_dir, "documents")
    b = d.select("doc_id", "lang", F.expr(_W2_BUCKET_SQL).alias("__b"))
    counts = [
        (r["lang"], r["__b"], r["n"])
        for r in b.groupBy("lang", "__b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    if not counts:  # empty input: empty result, same schema
        return spark.createDataFrame([], "doc_id bigint, lang string, rn bigint")
    offsets, acc = [], {}
    # None-lang groups sort after strings (a NULL lang row is legal
    # input; the offset join below matches it via the null-safe key)
    for lang, bk, n in sorted(counts, key=lambda t: (t[0] is None, t[0] or "", t[1])):
        offsets.append((lang, bk, acc.get(lang, 0)))
        acc[lang] = acc.get(lang, 0) + n
    off = spark.createDataFrame(
        offsets, "lang string, __b bigint, __off bigint"
    ).withColumnsRenamed({"lang": "__ol", "__b": "__ob"})
    w = Window.partitionBy("lang", "__b").orderBy("doc_id")
    return (
        b.withColumn("__rn", F.row_number().over(w).cast("bigint"))
        # null-safe on lang: a NULL-lang group must find its offset
        # (a plain equality join would silently drop those rows)
        .join(
            F.broadcast(off),
            F.col("lang").eqNullSafe(F.col("__ol"))
            & (F.col("__b") == F.col("__ob")),
        )
        .select("doc_id", "lang", (F.col("__off") + F.col("__rn")).alias("rn"))
    )


def _o2_topk_per_lang(spark, sf_dir, n_buckets=32):
    """Top-3 documents per language, two-phase so no window partitions
    by bare lang (the hot-key shape _top_words_per_lang also avoids):
    per-(lang, doc_id%32-bucket) top-3 via a bounded window, then the
    ≤ 3·32 survivors per lang collapse through a tiny array-sort agg —
    zero lang-only windowspecdefinition in the plan (plan-asserted)."""
    d = _t(spark, sf_dir, "documents")
    w1 = Window.partitionBy("lang", "__b").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    cand = (
        d.select(
            "lang", "doc_id", "n_chars",
            F.pmod(F.col("doc_id"), F.lit(n_buckets)).alias("__b"),
        )
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= 3)
    )
    top = cand.groupBy("lang").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("n_chars")).alias("__neg"),
                        F.col("doc_id").alias("doc_id"),
                        F.col("n_chars").alias("n_chars"),
                    )
                )
            ),
            1,
            3,
        ).alias("__top")
    )
    return top.select(
        "lang", F.explode("__top").alias("__t")
    ).select("lang", F.col("__t.doc_id").alias("doc_id"), F.col("__t.n_chars").alias("n_chars"))


def _set_union_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    en = d.filter(F.col("lang") == "en").select("doc_id")
    short = d.filter(F.col("n_chars") < 400).select("doc_id")
    return en.unionByName(short).dropDuplicates(["doc_id"])


def _a3_counts(spark, sf_dir):
    # avg via integer half-up on (sum, count) — round(avg(double), 4)
    # of an exact rational is the q3 tie class
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            "source",
            "n_docs",
            "sum_chars",
            _halfup_ratio("sum_chars", "n_docs", 4).alias("avg_chars"),
        )
    )


def _t6_templating(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("<h2>Doc "), F.col("doc_id").cast("string"), F.lit("</h2><pre>"),
            F.substring(F.col("text"), 1, 40), F.lit("</pre>"),
        ).alias("html_block"),
    )


def _t8_id_derivation(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(F.col("source"), F.lit("_"), F.col("doc_id").cast("string")).alias("item_id"),
        F.regexp_extract(F.col("source"), r"([0-9]+)", 1).alias("src_num"),
    )


def _text_token_counts(spark, sf_dir):
    # single-row-group scan: fan out so the regex tokenizer runs on all
    # cores instead of one (projection only — row placement is free)
    from google_vision_ocr_spark.fanout import fanout

    d = fanout(_t(spark, sf_dir, "documents"), "doc_id")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"[ \t\n\f\r]+")).cast("bigint").alias("ws_tokens"),
    )


def _text_quality_punct(spark, sf_dir):
    # the corpus text carries no punctuation at all (ratio 0.0 for all
    # 500 docs — round-3 vacuousness audit), so plant a deterministic
    # doc_id%5-char '!' tail to make the ratio a real signal
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.expr("repeat('!', CAST(doc_id % 5 AS INT))")
        ).alias("text"),
    )
    n = F.length(F.col("text"))
    punct = n - F.length(F.regexp_replace(F.col("text"), r"[.,!?;:]", ""))
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_chars_calc"),
        punct.cast("bigint").alias("__p"),
    ).select(
        "doc_id",
        "n_chars_calc",
        _halfup_ratio("__p", "n_chars_calc", 6).alias("punct_ratio"),
    )


def _dedup_exact(spark, sf_dir):
    # every testdata text is unique (all 500 groups were size 1 —
    # round-3 vacuousness audit), so clone doc_id%13 documents under
    # +1e6 ids: those groups must report n_copies=2 with the ORIGINAL
    # id as keeper
    from google_vision_ocr_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return exact_dedup(d.unionByName(clones))


def _events_hourly(spark, sf_dir):
    # NO fan-out here, deliberately (r7): the partial agg collapses 1M
    # rows to ~3.4k groups map-side, so the 1-task scan shuffles only
    # KBs.  Repartitioning first shuffles every raw row before any
    # reduction — the guide-§2.3 "aggregate before you shuffle"
    # anti-pattern; measured 0.34 s (map-side agg) vs 0.89 s (keyed
    # fan-out) vs 1.48 s (keyless fan-out) at sf1.0.
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _ann_bruteforce(spark, sf_dir):
    from google_vision_ocr_spark.fanout import fanout
    from google_vision_ocr_spark.operators.similarity import cosine_topk

    # fan out the single-row-group embeddings scan before the per-row
    # HOF cosine folds (r7: the whole scoring pass ran on one core);
    # repartitioning only REORDERS rows — the top-k is a total order
    # on (cos_sim desc, vec_id), so the result set is unchanged
    return cosine_topk(
        fanout(_t(spark, sf_dir, "embeddings"), "vec_id"), query_id=0, k=10
    )


def _ann_lsh(spark, sf_dir):
    """OR-amplified hyperplane-LSH top-10 with REPLAYABLE randomness:
    the seeded Gaussian planes ship into the plan as one JSON literal
    and codes are left-fold expressions — the DuckDB oracle replays
    the codes, the any-table Hamming filter, and the cosine rerank, so
    the family carries hash evidence (partial recall and all).  The
    same family serves ann_lsh_planted, ann_lsh_pruned_multiprobe,
    embedding_near_dups and lsh_bucket_histogram."""
    from google_vision_ocr_spark.operators.similarity import hyperplane_lsh_topk

    return hyperplane_lsh_topk(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=10, dim=64
    )


def _ann_ivf(spark, sf_dir):
    """IVF-style ANN: coarse-quantize to deterministic centroids, probe
    the 4 nearest cells, exact-rerank within them.  Every step is
    cosine arithmetic, so the DuckDB oracle replays the whole
    algorithm (assignment, probe, rerank) — a falsifiable
    partial-recall search path."""
    from google_vision_ocr_spark.operators.similarity import ivf_topk

    return ivf_topk(_t(spark, sf_dir, "embeddings"), query_id=0, k=10,
                    centroid_mod=31, n_probe=4)


def _ann_ivf_pruned(spark, sf_dir):
    """The same IVF search as ann_ivf_cosine, but through the PHYSICAL
    index layout: the corpus is written hive-partitioned by cell
    (index build — fixture prep, one write per SF dir), and the rerank
    reads it back with a literal cell IN (...) predicate so the scan
    partition-prunes every unprobed cell.  Identical results to the
    in-memory operator — the shared oracle replays assignment, probe
    and rerank; tests/test_pruned_probe.py asserts the scan's
    PartitionFilters and that only the probed cells' files are read."""
    from google_vision_ocr_spark.operators.similarity import (
        ivf_topk_pruned,
        write_ivf_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    path = _scratch_dir("ivf", sf_dir)
    write_ivf_index(e, path, centroid_mod=31)
    return ivf_topk_pruned(
        spark, e, path, query_id=0, k=10, centroid_mod=31, n_probe=4
    )


def _ann_lsh_planted(spark, sf_dir):
    """Falsifiable ANN-LSH recall in its design regime: 10 graded
    near-neighbors of vector 0 are planted (deterministic integer
    perturbations scaled 0.001·j, cosines ≈0.9997…0.97), so the true
    top-10 is exactly the planted set.  The oracle is the brute-force
    cosine SQL over the same derived frame — any LSH retrieval miss
    changes the result and fails the hash gate.  (The companion
    ann_lsh_cosine query stays rows-only: on near-orthogonal random
    vectors at cos≈0.3, partial recall is the honest behavior of
    hyperplane LSH.)"""
    from google_vision_ocr_spark.operators.similarity import hyperplane_lsh_topk

    return hyperplane_lsh_topk(
        _planted_neighbor_frame(spark, sf_dir), query_id=0, k=10, dim=64
    )


def _planted_neighbor_frame(spark, sf_dir):
    """Embeddings + 10 graded planted near-neighbors of vector 0
    (deterministic integer perturbations scaled 0.001·j, cosines
    ≈0.9997…0.97) — the shared frame behind ann_lsh_planted and
    ann_lsh_pruned_multiprobe, mirrored verbatim in their common
    brute-force oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    planted = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.explode(F.sequence(F.lit(1), F.lit(10))).alias("j"), "embedding")
        .select(
            (F.lit(200000) + F.col("j")).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> cast(x as double)"
                " + 0.001 * cast(j as double)"
                " * cast(((i + 1) * 37) % 11 - 5 as double))"
            ).alias("embedding"),
        )
    )
    return base.unionByName(planted)


def _ann_lsh_pruned_multiprobe(spark, sf_dir):
    """The multi-table OR-amplified probe through its PHYSICAL layout:
    the planted frame is written hive-partitioned by (tbl, code) —
    every row once per hash table — and the probe's scan predicate is
    the OR of per-table radius-1 Hamming-ball literals, so EVERY
    branch statically prunes to its ball's directories
    (PartitionFilters plan-asserted in tests/test_pruned_probe.py,
    mirroring the IVF probe).  Results equal hyperplane_lsh_topk /
    the brute-force oracle on the planted neighbors — a retrieval
    miss anywhere in the 4-table union fails the hash gate."""
    from google_vision_ocr_spark.operators.similarity import (
        lsh_multiprobe_pruned,
        write_lsh_multi_index,
    )

    frame = _planted_neighbor_frame(spark, sf_dir)
    path = _scratch_dir("lshm", sf_dir)
    write_lsh_multi_index(frame, path, n_tables=4, n_planes=12, dim=64)
    return lsh_multiprobe_pruned(
        spark, frame, path, query_id=0, k=10, n_tables=4, n_planes=12,
        radius=1, dim=64,
    )


def _minhash_pairs(spark, sf_dir):
    """Banded MinHash-LSH near-dup pairs with REPLAYABLE randomness
    (r6, VERDICT r5 #3): shingle hashes are 60-bit md5 folds, the
    permutations a universal-hash family mod 2^31−1 with integer-hash
    parameters — every step replays in the DuckDB oracle, which states
    the declarative pair spec (∃ band with equal components) and so
    independently proves the banding lossless.  All JVM expressions
    (operators/dedup.py:minhash_lsh_pairs, the package's one MinHash).
    Same at-scale pattern: signatures materialized once so banding and
    both attaches read the cache instead of hashing every shingle once
    per read."""
    from google_vision_ocr_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    from google_vision_ocr_spark import cache

    d = _t(spark, sf_dir, "documents")
    # persist WITHOUT an eager count(): AQE runs the pair pipeline's
    # stages strictly in dependency order, so the first consumer (the
    # bucket exchange's map stage) materializes the cache and every
    # later stage (pair dedup, both signature attaches) reads it warm —
    # the old count() was a full extra pass over the table per build
    # (r7: one redundant job per bench iteration; at 100 TB a whole
    # extra read of the signature table).
    sigs = cache.track(minhash_signatures(d).persist())
    return minhash_lsh_pairs(d, signatures=sigs)


def _simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at hamming ≤ 10 with REPLAYABLE
    randomness (r6): 60-bit md5-fold token hashes, majority-bit code,
    pigeonhole-lossless banding (operators/dedup.py:
    simhash_candidates, the package's one SimHash).  The oracle states
    the exact spec — every (a < b) pair with bit_count(xor) ≤ 10 —
    over a cross join at gate scale, so a lossy banding bug would
    hash-fail."""
    from google_vision_ocr_spark.operators.dedup import simhash_candidates

    return simhash_candidates(_t(spark, sf_dir, "documents"), max_hamming=10)


def _lang_id(spark, sf_dir):
    from google_vision_ocr_spark.functions.text import with_text_metrics

    d = with_text_metrics(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang", "lang_guess")


def _quality_scores(spark, sf_dir):
    from google_vision_ocr_spark.functions.text import with_text_metrics

    d = with_text_metrics(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "quality")


def _tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary — the canonical partial+final hash-agg
    shape over the biggest table.

    Money arithmetic is exact INTEGER-CENTS: the stored doubles carry
    exactly 2 decimals, so round(x*100) recovers lossless int64 cents
    and every sum/product is exact and order-independent — float
    accumulation rounds half-cent ULP ties differently between Spark
    and DuckDB (that bug bit tpch_q3 in round 2).  Products carry
    10^-4 (disc_price) / 10^-6 (charge) dollar units; rounding back to
    cents happens half-up in the INTEGER domain ((S + half) div unit),
    so no cross-engine float-rounding algorithm is ever exercised on a
    tie.  This is ~2x faster than the equivalent DECIMAL(12,2)
    aggregation (pure int64 codegen, measured 0.35 s vs 0.74 s at
    sf0.1) — the decimal form (see tpch_q3/q5/q6/q18) remains the
    variant for >10^9-rows-per-group scales where the 10^-6-unit sums
    would overflow the 2^53-exact double window used in the final
    division."""
    li = _t(spark, sf_dir, "lineitem")

    # cents recovery via floor(x*100 + 0.5) instead of round(x*100):
    # Spark's round() on DOUBLE allocates a BigDecimal per value (24M
    # allocations/run here — measured 0.64 s vs 0.37 s for the whole
    # query at sf1.0).  For this data class the two are IDENTICAL: the
    # inputs are nonnegative 2-decimal money values, so x*100 lands
    # within ~1e-6 of an integer k — floor(k±1e-6 + 0.5) = k and
    # BigDecimal-HALF_UP of the same double = k; the forms can only
    # diverge when x*100 sits within one ulp of k+0.5, impossible for
    # near-integer x.  Verified 0 mismatches on every lineitem money
    # column at sf0.001/0.01/0.1/1.0 (r7), and the DuckDB oracle
    # (frozen, round-based) stays hash-green at the gate SFs.
    def cents(c: str):
        return F.floor(F.col(c) * 100 + F.lit(0.5)).cast("bigint")

    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    tax_c = cents("l_tax")
    qty_c = cents("l_quantity")
    cnt = F.count(F.lit(1))

    def to_cents(unit_sum, half, unit):
        # half-up in integers: (S + half) div unit, then cents -> dollars
        return (F.floor((unit_sum + F.lit(half)) / F.lit(float(unit)))
                .cast("bigint") / F.lit(100.0))

    # avgs ride integer half-up on (cent-sum, count) — round(double, 4)
    # of the exact rational sum/(100·n) is the q3/moments tie class
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("__sq"),
            F.sum(price_c).alias("__sp"),
            F.sum(disc_c).alias("__sd"),
            F.sum(price_c * (100 - disc_c)).alias("__sdp"),
            F.sum(price_c * (100 - disc_c) * (100 + tax_c)).alias("__sch"),
            cnt.alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("__sq") / F.lit(100.0)).alias("sum_qty"),
            (F.col("__sp") / F.lit(100.0)).alias("sum_base_price"),
            to_cents(F.col("__sdp"), 50, 100).alias("sum_disc_price"),
            to_cents(F.col("__sch"), 5000, 10000).alias("sum_charge"),
            _halfup_ratio("__sq", "100 * count_order", 4).alias("avg_qty"),
            _halfup_ratio("__sp", "100 * count_order", 4).alias("avg_price"),
            _halfup_ratio("__sd", "100 * count_order", 4).alias("avg_disc"),
            "count_order",
        )
    )


def _paragraph_dedup(spark, sf_dir):
    """Global paragraph dedup over a frame with planted cross-document
    boilerplate: every document gets a per-source subscribe-prompt
    paragraph appended, so exactly one document per source keeps it
    (the min (doc_id, pos) occurrence) and all others are stripped to
    their main text.  Falsifiable end to end: the oracle replays the
    keep-first-occurrence rule and the order-restoring reassembly."""
    from google_vision_ocr_spark.operators.dedup import drop_repeated_paragraphs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n\nSubscribe to "), F.col("source"),
            F.lit(" newsletter today"),
        ).alias("text"),
    )
    return drop_repeated_paragraphs(d)


def _lm_unigram_scores(spark, sf_dir):
    """CCNet-style LM quality filter: train a unigram model on the
    corpus (top-1000 words, one hash-agg), broadcast it, score every
    document by mean -ln p(word).  The oracle replays train + score in
    SQL, so vocabulary truncation, OOV flooring and the cross-entropy
    itself are all checked."""
    from google_vision_ocr_spark.operators.scoring import unigram_logprob_scores

    return unigram_logprob_scores(_t(spark, sf_dir, "documents"), vocab_size=1000)


def _pack_shards_manifest(spark, sf_dir):
    """Token-budget shard packing (sequence-packing layout): documents
    pack into ~2000-token shards within each language partition via a
    two-pass distributed prefix sum; the manifest is one row per shard."""
    from google_vision_ocr_spark.operators.packing import shard_manifest

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.size(F.expr(_replayable.tokens_sql("text"))).cast("bigint").alias("ws_tokens"),
    )
    return shard_manifest(d, budget=2000)


def _events_quantiles(spark, sf_dir):
    """Exact per-group interpolated quantiles, computed ENTIRELY in
    integers: values quantize to lossless cents, the percentile
    position splits as (k·(n−1)) div/mod 100, and the interpolated
    value v_lo·(100−r) + v_hi·r is an exact integer in cent-percent
    units — so the 4-dp output is U/10⁴ with NO rounding step at all
    (round(percentile(double), 4) was the tie class).  Exact
    percentiles need the full per-group sort either way; at 100 TB the
    approx_percentile sketch is the path (see profile_columns)."""
    e = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = F.round(F.col("value") * 100).cast("bigint")
    g = e.groupBy("event_type").agg(
        F.sort_array(F.collect_list(c)).alias("__c"),
        F.count(F.lit(1)).alias("n_events"),
    )

    def pct(k):
        pos = f"({k} * (n_events - 1))"
        lo = f"CAST(({pos} div 100) + 1 AS INT)"
        hi = f"CAST(least(({pos} div 100) + 2, n_events) AS INT)"
        r = f"({pos} % 100)"
        return F.expr(
            f"CAST(element_at(__c, {lo}) * (100 - {r})"
            f" + element_at(__c, {hi}) * {r} AS DOUBLE) / 10000.0"
        )

    return g.select(
        "event_type",
        pct(50).alias("p50"),
        pct(95).alias("p95"),
        "n_events",
    )


def _url_host_stats(spark, sf_dir):
    """URL canonicalization + per-host rollup: derive a realistic URL
    per document (source becomes the host, with tracking-param and
    fragment noise planted), canonicalize it JVM-side, and aggregate
    per host — the registrable-domain grouping every CC pipeline runs."""
    from google_vision_ocr_spark.functions.urls import canonicalize_url, url_host

    d = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.ORG:443/Docs/"),
        F.col("doc_id").cast("string"), F.lit("?utm_source=x&id="),
        F.col("doc_id").cast("string"), F.lit("#frag"),
    )
    u = d.select("doc_id", "n_chars", canonicalize_url(raw).alias("url"))
    return (
        u.withColumn("host", url_host(F.col("url")))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("url").alias("first_url"),
        )
    )


def _tpch_q3(spark, sf_dir):
    """TPC-H Q3 shipping-priority shape: selective filters pushed to all
    three scans, the small filtered customer side broadcast, fact-fact
    join shuffled on the order key."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # decimal-exact: float sums here round half-cent ULP ties
            # differently vs the oracle (2 of 1,236 groups in round 2)
            F.round(F.sum(price * (F.lit(1).cast("decimal(3,2)") - disc)), 2)
            .cast("double").alias("revenue")
        )
    )


def _tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecast-revenue shape: pure filter + global agg; every
    predicate must reach the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")
                           * F.col("l_discount").cast("decimal(12,2)")), 2)
             .cast("double").alias("revenue"))
    )


def _text_tokens_bpe(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]{1,3}|[^\sA-Za-z0-9]"))
        .cast("bigint").alias("bpe_tokens"),
    )


def _fingerprints(spark, sf_dir):
    import pandas as pd  # noqa: F811

    from google_vision_ocr_spark.functions.text import rolling_fingerprint

    @F.pandas_udf("string")
    def fp_udf(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(lambda t: f"{rolling_fingerprint(t):016x}")

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fp_udf(F.col("text")).alias("fingerprint"))


def _image_metadata(spark, sf_dir):
    """Multimodal contract entry: render each document's text into a
    real grayscale PNG (the engine's own codec), then parse the blob
    back with the image_metadata operator.  The oracle computes the
    expected dimensions from first principles — width is the fixed
    PAGE_WIDTH raster, height is max(8, ceil((utf8_len + 4) / width))
    from the render layout — so an IHDR mis-parse fails the hash."""
    import pandas as pd  # noqa: F811

    from google_vision_ocr_spark import formats
    from google_vision_ocr_spark.operators.multimodal import image_metadata

    @F.pandas_udf("binary")
    def png_udf(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(
            lambda t: formats.encode_png(formats.rgb_to_gray(formats.render_page_rgb(t)))
        )

    d = _t(spark, sf_dir, "documents")
    imgs = d.select("doc_id", png_udf(F.col("text")).alias("image"))
    meta = image_metadata(imgs, payload_col="image")
    return meta.select(
        "doc_id",
        F.col("image_meta.format").alias("format"),
        F.col("image_meta.width").cast("bigint").alias("width"),
        F.col("image_meta.height").cast("bigint").alias("height"),
        F.col("image_meta.channels").cast("bigint").alias("channels"),
    )


def _corpus_split(spark, sf_dir):
    """Deterministic md5-bucket train/val/test assignment — a pure
    function of doc_id (no RNG, no membership table), so the split is
    reproducible on any cluster size and usable as a scan-level filter."""
    from google_vision_ocr_spark.operators.sampling import deterministic_split

    d = _t(spark, sf_dir, "documents")
    return deterministic_split(d).select("doc_id", "bucket", "split")


def _repetition_metrics(spark, sf_dir):
    """Gopher-style repetition signals over a line-structured derivation
    of the documents (the testdata text is single-line, so line
    structure is planted deterministically by breaking at spaces —
    giving every doc a non-trivial duplicate-line profile).  Computed
    with zero-shuffle JVM higher-order functions."""
    from google_vision_ocr_spark.operators.quality_rules import _LINES

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.translate(F.col("text"), " ", "\n").alias("text")
    )
    # 6-dp fracs by integer half-up on the exact (count, count) /
    # (chars, chars) rationals — round(double, 6) is the tie class
    lines = _LINES.format(col="text")
    dup_chars = (
        f"aggregate(filter({lines}, x -> size(filter({lines}, y -> y = x))"
        f" > 1), 0L, (acc, x) -> acc + length(x))"
    )
    total_chars = f"aggregate({lines}, 0L, (acc, x) -> acc + length(x))"
    base = d.select(
        "doc_id",
        F.expr(f"size({lines})").cast("bigint").alias("n_lines"),
        F.expr(f"size(array_distinct({lines}))").cast("bigint").alias("__d"),
        F.expr(dup_chars).cast("bigint").alias("__dc"),
        F.expr(total_chars).cast("bigint").alias("__tc"),
    )
    return base.select(
        "doc_id",
        "n_lines",
        F.when(
            F.col("n_lines") > 0,
            _halfup_ratio("n_lines - __d", "n_lines", 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
        F.when(F.col("__tc") > 0, _halfup_ratio("__dc", "__tc", 6))
        .otherwise(F.lit(0.0))
        .alias("dup_line_char_frac"),
    )


_GOPHER_BANNER = "lorem ipsum dolor sit amet consectetur"


def _gopher_ngram_metrics(spark, sf_dir):
    """Gopher §A1.1 word-n-gram repetition fractions (top-{2,3,4}-gram
    and dup-{5,6}-gram character mass over the token stream) as 6-dp
    integer half-up rationals over the exact bigint masses from
    operators/quality_rules.py::ngram_repetition_metrics — the
    remaining Gopher repetition rules beside the line-based pair
    (`repetition_metrics`).

    The testdata text has no naturally repeated 5-grams (the dup arms
    would be vacuously zero), so every 4th document gets a 6-word
    banner appended TWICE — its repeated 5/6-grams make the dup
    fractions nonzero for exactly that planted subset, falsifiably
    mirrored in the oracle."""
    from google_vision_ocr_spark.operators.quality_rules import (
        ngram_repetition_metrics,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" " + _GOPHER_BANNER + " " + _GOPHER_BANNER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    m = ngram_repetition_metrics(d)
    cols = [F.col("doc_id"), F.col("stream_chars")]
    for c in (
        "top2_gram_chars",
        "top3_gram_chars",
        "top4_gram_chars",
        "dup5_gram_chars",
        "dup6_gram_chars",
    ):
        cols.append(
            F.when(
                F.col("stream_chars") > 0, _halfup_ratio(c, "stream_chars", 6)
            )
            .otherwise(F.lit(0.0))
            .alias(c.replace("_gram_chars", "_frac"))
        )
    return m.select(*cols)


def _c4_line_filter(spark, sf_dir):
    """C4 line/page curation rules (Raffel et al. 2020, §2.2) via
    operators/c4_filters.py::c4_line_stats — zero-shuffle scan-side
    verdicts plus the reassembled kept text, hash-compared in full.

    The testdata text is single-line word soup with no punctuation, so
    C4's line structure is planted deterministically: words are chunked
    into 8-word lines; line i gets a terminal '.' when
    pmod(doc_id + i, 3) < 2 (otherwise it fails the punctuation rule —
    and the final short chunk fails the 5-word rule); line 0 gains
    ' javascript' on every 7th doc; every 13th doc appends
    ' lorem ipsum' and every remaining 11th doc ' {' (page-drop
    plants).  Every counter and both page verdicts are exercised
    non-vacuously (pinned in test_oracle_nonvacuous.py)."""
    from google_vision_ocr_spark.operators.c4_filters import c4_line_stats

    line = (
        "array_join(slice(__w, i*8+1, 8), ' ')"
        " || (CASE WHEN pmod(doc_id + i, 3) < 2 THEN '.' ELSE '' END)"
        " || (CASE WHEN i = 0 AND doc_id % 7 = 0 THEN ' javascript' ELSE '' END)"
    )
    planted = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("__w"))
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN size(__w) > 0 THEN "
                f"array_join(transform(sequence(0, (size(__w)+7) div 8 - 1), "
                f"i -> {line}), chr(10)) ELSE '' END"
                " || (CASE WHEN doc_id % 13 = 0 THEN ' lorem ipsum'"
                " WHEN doc_id % 11 = 0 THEN ' {' ELSE '' END)"
            ).alias("text"),
        )
    )
    return c4_line_stats(planted).select(
        "doc_id", "n_lines", "n_kept", "n_short", "n_nopunct", "n_js",
        "page_keep", "kept_text",
    )


def _canon_duck(col: str) -> str:
    """Nested-expression DuckDB replay of
    functions/urls.py::canonicalize_url — one source for every oracle
    that rides the canonicalization chain (surt_url_dedup,
    link_graph_extraction).  DuckDB backrefs are \\1 where Spark's are
    $1; rules Spark applies globally get the explicit 'g' flag."""
    c = (
        f"lower(regexp_extract({col}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
        f" || '://' || lower(regexp_extract({col},"
        f" '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))"
        f" || regexp_extract({col},"
        f" '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1)"
    )
    for pat, rep, *flag in [
        (r"^(https://[^/?#:]*):443($|[/?#].*)", r"\1\2"),
        (r"^(http://[^/?#:]*):80($|[/?#].*)", r"\1\2"),
        (r"^(https?://)www\.", r"\1"),
        (r"#.*$", ""),
        (r"(utm_[a-z]+|fbclid|gclid)=[^&#]*", "", "g"),
        (r"&&+", "&", "g"),
        (r"\?&", "?"),
        (r"[?&]+$", ""),
    ]:
        f = f", '{flag[0]}'" if flag else ""
        c = f"regexp_replace({c}, '{pat}', '{rep}'{f})"
    return c


#: SURT assembly from a column holding the CANONICALIZED url (the
#: c -> (host, port, tail) -> reversed-host + sorted-query transform
#: of functions/urls.py::surt_key), as one DuckDB scalar expression.
def _surt_duck(c: str) -> str:
    host = f"regexp_extract({c}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)"
    port = f"regexp_extract({c}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]*:([0-9]+)', 1)"
    tail = f"regexp_extract({c}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1)"
    sq = (
        f"array_to_string(list_sort(list_filter(string_split("
        f"regexp_extract({tail}, '\\?(.*)$', 1), '&'), x -> x <> '')), '&')"
    )
    return (
        f"array_to_string(list_reverse(string_split({host}, '.')), ',')"
        f" || CASE WHEN {port} <> '' THEN ':' || {port} ELSE '' END || ')'"
        f" || regexp_replace({tail}, '\\?.*$', '')"
        f" || CASE WHEN {sq} <> '' THEN '?' || {sq} ELSE '' END"
    )


#: DuckDB list literal of operators/justext.py::STOPLIST (one source)
def _jx_stop_duck() -> str:
    from google_vision_ocr_spark.operators.justext import STOPLIST

    return "[" + ", ".join(f"'{w}'" for w in STOPLIST) + "]"


_DSIR_WIKI = "cite reference encyclopedia article neutral tone"
_DSIR_SPAM = "click here buy now free offer"


def _dsir_selection(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023) via
    operators/dsir.py::dsir_scores — hashed {1,2}-gram bag models for
    a seed target corpus vs the raw corpus, micro-nat-exact per-doc
    importance weights, mean-relative selection.

    The synthetic corpus has NO real distribution shift (all langs
    share one 31-word vocabulary), so one is planted: every 3rd doc
    gets a 6-word 'curated-style' suffix, the rest a 'spam-style'
    suffix; the seed target corpus is doc_id % 30 == 0 — a strict
    SUBSET of the curated-style docs, so selection must GENERALIZE
    from seed membership to style (at sf0.001: 167/167 curated
    selected, 150/150 of them outside the seed, vs 65/333 spam).
    Non-circular and non-vacuous, pinned in
    test_oracle_nonvacuous.py."""
    from google_vision_ocr_spark.operators.dsir import dsir_scores

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"CASE WHEN doc_id % 3 = 0 THEN text || ' {_DSIR_WIKI}'"
            f" ELSE text || ' {_DSIR_SPAM}' END"
        ).alias("text"),
        F.expr("CASE WHEN doc_id % 30 = 0 THEN 1 ELSE 0 END").alias(
            "is_target"
        ),
    )
    return dsir_scores(d)


def _justext_extraction(spark, sf_dir):
    """jusText-style DOM-heuristic main-content extraction (Pomikalek
    2011) via operators/justext.py::justext_blocks — link/stopword
    density bands plus the context-sensitive neighbour pass, zero
    shuffle, exact-integer thresholds, full main_text hash-compared.

    The testdata is plain text, so well-formed lowercase markup is
    planted deterministically: words chunk into 10-word blocks; block
    i takes a shape from pmod(doc_id + i, 5) — 0: link-farm <p> (bad)
    on even docs / stopword-padded good <p> on odd docs (so shorts on
    odd docs sit between two goods and flip), 1: 2-word short <p>,
    2: stopword-padded good <p>, 3: <li> in the near-good stopword
    band, 4: plain <p> at the corpus' natural density.  A <nav> and a
    <footer> wrap the blocks and must NOT be extracted.  Every
    context-free class and every context-pass transition (short->good,
    short->bad, near_good->good, near_good->bad) is exercised
    non-vacuously (pinned in test_oracle_nonvacuous.py)."""
    from google_vision_ocr_spark.operators.justext import justext_blocks

    chunk = "array_join(slice(__w, i*10+1, 10), ' ')"
    good_block = f"'<p>' || {chunk} || ' the of and to in a the of and to in a</p>'"
    block = (
        "CASE pmod(doc_id + i, 5) "
        "WHEN 0 THEN (CASE WHEN doc_id % 2 = 0 "
        f"THEN '<p class=\"m\"><a href=\"#\">' || {chunk} || '</a></p>' "
        f"ELSE {good_block} END) "
        "WHEN 1 THEN '<p>' || array_join(slice(__w, i*10+1, 2), ' ') || '</p>' "
        f"WHEN 2 THEN {good_block} "
        f"WHEN 3 THEN '<li>' || {chunk} || ' the of and</li>' "
        f"ELSE '<p>' || {chunk} || '</p>' END"
    )
    planted = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("__w"))
        .select(
            "doc_id",
            F.expr(
                "'<html><head><title>t</title></head><body>"
                "<nav><a href=\"#\">home</a> <a href=\"#\">about</a></nav>'"
                " || (CASE WHEN size(__w) > 0 THEN "
                f"array_join(transform(sequence(0, (size(__w)+9) div 10 - 1), "
                f"i -> {block}), '') ELSE '' END)"
                " || '<footer>fine print</footer></body></html>'"
            ).alias("html"),
        )
    )
    return justext_blocks(planted)


def _page_directives(spark, sf_dir):
    """Robots-meta flags + canonical-link SURT
    (operators/directives.py::page_directives).  Plant: doc_id%4==0
    pages carry a robots meta whose content rotates noindex /
    nofollow / 'noindex, nofollow' (by doc_id%3); doc_id%4==1 pages
    carry the DECOY content 'noindexfoo' which must NOT set either
    flag (token match, not substring); doc_id%3==0 pages declare a
    noisy absolute canonical (case/www/:443/params — must collapse
    under SURT); doc_id%3==1 pages declare a RELATIVE canonical that
    must be ignored; the rest declare none."""
    from google_vision_ocr_spark.operators.directives import page_directives

    robots = (
        "CASE WHEN doc_id % 4 = 0 THEN "
        "'<meta name=\"robots\" content=\"' || "
        "(CASE doc_id % 3 WHEN 0 THEN 'noindex' WHEN 1 THEN 'nofollow' "
        "ELSE 'noindex, nofollow' END) || '\">' "
        "WHEN doc_id % 4 = 1 THEN "
        "'<meta name=\"robots\" content=\"noindexfoo\">' "
        "ELSE '' END"
    )
    canon = (
        "CASE WHEN doc_id % 3 = 0 THEN "
        "'<link rel=\"canonical\" href=\"HTTPS://WWW.' || source "
        "  || '.Example.ORG:443/Canon/' || (doc_id % 40) "
        "  || '?b=2&a=1\">' "
        "WHEN doc_id % 3 = 1 THEN "
        "'<link rel=\"canonical\" href=\"/self\">' "
        "ELSE '' END"
    )
    planted = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"'<html><head>' || {robots} || {canon} "
            "|| '</head><body><p>x</p></body></html>'"
        ).alias("html"),
    )
    return page_directives(planted)


def _refinedweb_corrections(spark, sf_dir):
    """RefinedWeb line-wise corrections (Penedo 2023 §G) via
    operators/refinedweb.py::refinedweb_line_stats — counter /
    numeric / mostly-uppercase / nav-stub line removal plus the 5 %
    removed-character document drop, zero shuffle, kept_text
    hash-compared.

    Plant: 10-word chunk lines on a 16-cycle; shape 1 is a counter
    line (word rotating likes/comments/shares/views) — except on
    doc_id%5==0 docs, where it becomes a LONG mostly-uppercase line
    whose ~8 % removed mass crosses the 5 % budget and drops the
    document; shape 5 alternates a numeric-only line (even docs) with
    the exactly-half-uppercase boundary 'AAbb CCdd' (kept); shape 9
    alternates a 2-word nav stub (doc%3==0) with a 6-word
    'sign in ...' line that exceeds nav_max_words and must be KEPT.
    Every rule, both boundaries, and both document verdicts fire
    non-vacuously (pinned in test_oracle_nonvacuous.py)."""
    from google_vision_ocr_spark.operators.refinedweb import refinedweb_line_stats

    chunk = "array_join(slice(__w, i*10+1, 10), ' ')"
    line = (
        "CASE pmod(doc_id + i, 16) "
        "WHEN 1 THEN (CASE WHEN doc_id % 5 = 0 "
        f"THEN upper({chunk}) "
        "ELSE ((doc_id % 90) + 1) || ' ' || "
        "  (CASE pmod(doc_id, 4) WHEN 0 THEN 'likes' WHEN 1 THEN 'comments' "
        "   WHEN 2 THEN 'shares' ELSE 'views' END) END) "
        "WHEN 5 THEN (CASE WHEN doc_id % 2 = 0 "
        "THEN ((doc_id * 7 + i) % 997) || ' 12, 34' "
        "ELSE 'AAbb CCdd' END) "
        "WHEN 9 THEN (CASE WHEN doc_id % 3 = 0 "
        "THEN 'home menu' "
        "ELSE 'sign in now here more words' END) "
        f"ELSE {chunk} END"
    )
    planted = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("__w"))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN size(__w) > 0 THEN "
                f"array_join(transform(sequence(0, (size(__w)+9) div 10 - 1), "
                f"i -> {line}), chr(10)) ELSE '' END"
            ).alias("text"),
        )
    )
    return refinedweb_line_stats(planted).select(
        "doc_id", "n_lines", "n_kept", "n_counter", "n_numeric",
        "n_upper", "n_nav", "total_chars", "removed_chars", "doc_keep",
        "kept_text",
    )


def _link_graph_extraction(spark, sf_dir):
    """Hyperlink edge extraction (operators/linkgraph.py) — hrefs +
    anchor text out of planted markup, root-relative resolution
    against the page origin, non-fetchable schemes dropped, targets
    SURT-normalized, aggregated to (src_host, dst_surt) edges.  The
    oracle replays extraction, the zip pairing, the resolution rule
    AND the full canonicalize+SURT chain (shared _canon_duck /
    _surt_duck sources), so this gates the whole path from raw markup
    to graph edge.

    Plant: 1 + pmod(doc_id,3) anchors per doc — an absolute link in
    noisy form (case/www/:443/fragment/param-order, collapsing under
    SURT), a root-relative link, and on doc_id%3==2 a third
    non-fetchable href (#fragment or mailto:, alternating) that must
    NOT become an edge."""
    from google_vision_ocr_spark.operators.linkgraph import extract_link_graph

    link = (
        "CASE l "
        "WHEN 0 THEN '<a href=\"HTTPS://WWW.Dst' || pmod(doc_id, 10) "
        "  || '.Example.ORG:443/page/' || pmod(doc_id, 50) "
        "  || '?b=2&a=1#f\">zz abs link</a>' "
        "WHEN 1 THEN '<a href=\"/local/' || pmod(doc_id, 30) "
        "  || '?z=1\">rel link</a>' "
        "ELSE (CASE pmod(doc_id, 2) "
        "  WHEN 0 THEN '<a href=\"#top\">frag skip</a>' "
        "  ELSE '<a href=\"mailto:x@y.z\">mail skip</a>' END) END"
    )
    planted = _t(spark, sf_dir, "documents").select(
        F.expr("source || '.example.org'").alias("src_host"),
        F.expr("'https://' || source || '.example.org'").alias("base_url"),
        F.expr(
            f"'<p>' || array_join(transform(sequence(0, pmod(doc_id, 3)), "
            f"l -> {link}), ' ') || '</p>'"
        ).alias("html"),
    )
    return extract_link_graph(planted)


def _surt_url_dedup(spark, sf_dir):
    """Exact URL dedup on the SURT key (functions/urls.py::surt_key) —
    the web-archive canonical form: reversed-host prefix, sorted query
    params, riding the full canonicalize_url rule chain.  Unlike
    url_host_stats (whose oracle constructs a clean URL directly),
    this oracle REPLAYS the whole regex canonicalization + SURT
    transform on noisy variants, so every rule — case, :443, www,
    fragment, tracking-param removal, separator cleanup, host
    reversal, param sort — is hash-checked.

    Plant: each doc emits 1 + doc_id%3 raw variants that differ ONLY
    in case / default port / www / fragment / tracking params / param
    order (they must collapse to one SURT); docs with doc_id%7 == 0
    share a 'dup' host and a pair-wise path id, so cross-document
    dupes exist and the keep-min rule is observable.  Dedup is the
    de-skewed house shape: one groupBy on the SURT key (min-struct),
    no window."""
    from google_vision_ocr_spark.functions.urls import surt_key

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 7 = 0 THEN 'dup' ELSE source END"
        ).alias("__h"),
        F.expr(
            "CASE WHEN doc_id % 7 = 0 THEN doc_id - (doc_id % 14) "
            "ELSE doc_id END"
        ).alias("__pid"),
    )
    variants = d.select(
        "doc_id",
        F.explode(F.expr("sequence(0, doc_id % 3)")).alias("__v"),
        "__h",
        "__pid",
    ).select(
        "doc_id",
        F.expr(
            "CASE __v "
            "WHEN 0 THEN 'https://www.' || __h || '.example.org:443/Docs/' "
            "  || __pid || '?b=2&a=1#frag' "
            "WHEN 1 THEN 'HTTPS://' || __h || '.EXAMPLE.org/Docs/' "
            "  || __pid || '?a=1&utm_source=x&b=2' "
            "ELSE 'https://' || __h || '.example.org/Docs/' "
            "  || __pid || '?b=2&gclid=abc&a=1' END"
        ).alias("url"),
    )
    return (
        variants.select("doc_id", "url", surt_key(F.col("url")).alias("surt"))
        .groupBy("surt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.min("url").alias("first_raw_url"),
        )
    )


def _ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity terciles per language
    (Wenzek 2020) via operators/ccnet.py::perplexity_buckets — the
    unigram-LM micro scores bucketed through the DDSketch integer
    code so the per-lang cutoffs come from a BOUNDED histogram
    (no corpus-scale window; see the module docstring).  The oracle
    replays train -> score -> code -> cumulative cutoff -> label, so
    vocabulary truncation, the half-up integer mean, the monotone
    code and the tercile tie rule are all hash-checked per document."""
    from google_vision_ocr_spark.operators.ccnet import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents"))


def _boilerpipe_extraction(spark, sf_dir):
    """Boilerpipe NumWordsRules content extraction (Kohlschütter 2010)
    via operators/boilerpipe.py::boilerpipe_blocks — neighbour word
    counts + two integer link-density splits, zero shuffle, per-leaf
    counters and the full content_text hash-compared.

    The plant chunks each document's words into 3-word runs padded
    with ' x' filler to pin exact word counts; block i takes a shape
    from pmod(doc_id + i, 8), so every block's (prev, curr, next)
    triple is determined and ALL EIGHT leaves of the decision tree
    fire somewhere in the corpus (pinned non-vacuous in
    test_oracle_nonvacuous.py): shape 0 is a fully-linked block
    (leaf 1); its successor shape 1 sees prev link density 1 > 5/9
    and hits leaf 6 / 7 / 8 as doc_id % 3 varies the word counts;
    shapes 2-7 walk leaves 2-5 including both document edges (block 0
    and the last block see the 0-word sentinel neighbour)."""
    from google_vision_ocr_spark.operators.boilerpipe import boilerpipe_blocks

    chunk = "array_join(slice(__w, i*3+1, 3), ' ')"
    block = (
        "CASE pmod(doc_id + i, 8) "
        f"WHEN 0 THEN '<p><a href=\"#\">' || {chunk} || repeat(' x', 3) || '</a></p>' "
        f"WHEN 1 THEN '<p>' || {chunk} || repeat(' x', "
        "CASE WHEN doc_id % 3 = 1 THEN 47 ELSE 7 END) || '</p>' "
        f"WHEN 2 THEN '<p>' || {chunk} || repeat(' x', "
        "CASE WHEN doc_id % 3 = 2 THEN 17 ELSE 9 END) || '</p>' "
        f"WHEN 3 THEN '<p>' || {chunk} || repeat(' x', 17) || '</p>' "
        f"WHEN 4 THEN '<p>' || {chunk} || ' x</p>' "
        f"WHEN 5 THEN '<p>' || {chunk} || repeat(' x', 5) || '</p>' "
        f"WHEN 6 THEN '<li>' || {chunk} || repeat(' x', 3) || '</li>' "
        f"ELSE '<p>' || {chunk} || repeat(' x', 42) || '</p>' END"
    )
    planted = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("__w"))
        .select(
            "doc_id",
            F.expr(
                "'<html><head><title>t</title></head><body>"
                "<nav><a href=\"#\">home</a> <a href=\"#\">about</a></nav>'"
                " || (CASE WHEN size(__w) > 0 THEN "
                f"array_join(transform(sequence(0, (size(__w)+2) div 3 - 1), "
                f"i -> {block}), '') ELSE '' END)"
                " || '<footer>fine print</footer></body></html>'"
            ).alias("html"),
        )
    )
    return boilerpipe_blocks(planted)


def _pii_redaction(spark, sf_dir):
    """C4/CCNet-style PII scrub, falsifiable: every row gets planted
    PII (email, IPv4, long digit run derived from doc_id), then the
    JVM-side regexp chain must replace exactly what the oracle's RE2
    mirror replaces — full redacted text is hash-compared."""
    from google_vision_ocr_spark.functions.redact import redact_pii

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ref 9998887776 end"),
        ).alias("text"),
    )
    return planted.select("doc_id", redact_pii(F.col("text")).alias("text_redacted"))


def _decontamination(spark, sf_dir):
    """Benchmark decontamination audit: the eval set is the first 120
    chars of every 50th document; a doc is contaminated if it shares
    any word 8-gram with the eval set (broadcast semi-join on hashed
    shingles).  The oracle recomputes the overlap with string shingles
    in SQL — hash-injectivity makes the two equivalent."""
    from google_vision_ocr_spark.operators.decontaminate import contaminated_ids

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.substring("text", 1, 120).alias("text")
    )
    return contaminated_ids(d, bench, k=8)


def _decontamination_bloom(spark, sf_dir):
    """The decontamination audit through the bloom-prefilter path:
    a 16 KB bit_or-folded bloom over the eval shingles prunes ~all
    clean shingles scan-side; only the survivors reach the exact
    broadcast semi-join, so false positives can't leak and the output
    is row-identical to `decontamination` — whose oracle this entry
    shares verbatim.  The explicit runtime-filter/semi-join-reduction
    shape for eval sets too large to broadcast exactly."""
    from google_vision_ocr_spark.operators.decontaminate import (
        contaminated_ids_bloom,
    )

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.substring("text", 1, 120).alias("text")
    )
    return contaminated_ids_bloom(d, bench, k=8)


def _domain_blocklist_filter(spark, sf_dir):
    """Domain blocklist gate: planted per-source URLs (distinct
    registrable domains, unlike the shared example.org of
    url_host_stats), three domains blocklisted, survivors returned with
    their attached domain.  Broadcast anti-join — the corpus never
    shuffles.  The oracle re-derives the domain from the URL string
    independently, so a host-parsing or last-two-labels bug mismatches."""
    from google_vision_ocr_spark.functions.urls import filter_blocklisted_domains

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.lit("https://www."), F.col("source"), F.lit("-site.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    block = spark.createDataFrame(
        [("src3-site.com",), ("src7-site.com",), ("src11-site.com",)],
        "domain string",
    )
    return filter_blocklisted_domains(planted, block).select(
        "doc_id", "url", "domain"
    )


def _normalized_text(spark, sf_dir):
    """Unicode NFC + control-strip + whitespace-collapse cleanup with
    planted dirt: every doc gets a decomposed 'café' (e + U+0301), a
    decomposed 'für' (u + U+0308), a BEL control, runs of spaces and a
    trailing tab.  The pandas-UDF normalizer must match DuckDB's
    nfc_normalize + RE2 chain byte-for-byte — full text under the hash.
    Python's \\s is pinned to ASCII to match RE2's."""
    from google_vision_ocr_spark.functions.text import normalize_text_series

    udf = F.pandas_udf("string")(normalize_text_series)
    d = _t(spark, sf_dir, "documents")
    dirt = " cafe\u0301 \x07  fu\u0308r\t"
    planted = d.select(
        "doc_id", F.concat(F.col("text"), F.lit(dirt)).alias("text")
    )
    return planted.select(
        "doc_id",
        udf(F.col("text")).alias("norm_text"),
        F.length(udf(F.col("text"))).cast("bigint").alias("n_chars"),
    )


def _contamination_fraction(spark, sf_dir):
    """Graded decontamination over the same planted eval set as the
    flag variant: per-doc fraction of distinct 8-shingles found in the
    benchmark.  Every 50th doc is contaminated by construction (its own
    prefix is in the eval set) with fraction < 1 for long docs — so the
    output separates verbatim copies from partial overlap, which the
    boolean audit cannot."""
    from google_vision_ocr_spark.operators.decontaminate import (
        contamination_fraction,
    )

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.substring("text", 1, 120).alias("text")
    )
    return contamination_fraction(d, bench, k=8)


def _lsh_bucket_histogram(spark, sf_dir):
    """Bucket-occupancy histogram over REPLAYABLE table-0 codes (r6)
    — the balance check a deployment watches, with a full DuckDB
    oracle (the package's only bucket histogram)."""
    from google_vision_ocr_spark.operators.similarity import lsh_bucket_histogram

    return lsh_bucket_histogram(_t(spark, sf_dir, "embeddings"), dim=64)


# Deterministic near-duplicate planting for the embedding-LSH recall test.
# The perturbation is pure integer arithmetic promoted to double —
# 0.002 * (((i+1)*37) % 11 - 5) per component — so Spark and DuckDB
# compute bit-identical vectors (no libm / transcendental dependence).
_PLANT_EVERY = 10
_PLANT_ID_OFFSET = 100_000
_PLANT_EXPR_SPARK = (
    "transform(embedding, (x, i) -> cast(x as double)"
    " + 0.002 * cast(((i + 1) * 37) % 11 - 5 as double))"
)


def _embedding_near_dups(spark, sf_dir):
    """LSH near-dup pairs over the embeddings table with planted
    near-duplicates (every 10th vector gets a tiny deterministic
    perturbation copy, cosine ≈ 0.999).  Oracled against the exact
    O(n²) cosine SQL: if the banded LSH misses even one planted pair
    (recall < 1.0) or admits a sub-threshold pair, the driver's hash
    check fails — this replaces the r1 entry that was vacuously empty
    (threshold 0.9 vs testdata max cosine ≈ 0.33)."""
    from google_vision_ocr_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    planted = emb.filter(F.col("vec_id") % _PLANT_EVERY == 0).select(
        (F.col("vec_id") + F.lit(_PLANT_ID_OFFSET)).alias("vec_id"),
        F.expr(_PLANT_EXPR_SPARK).alias("embedding"),
    )
    return embedding_near_dup_pairs(
        base.unionByName(planted), threshold=0.9, dim=64, materialize=True
    )


def _semdedup_keep(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table with the
    same planted near-duplicates as `embedding_near_dups`: k-means
    cluster (2 Lloyd rounds, SQL-replayable), then within each cluster
    drop rows with a smaller-id neighbor above cosine 0.9.  Planted
    copies sit at cosine ≈ 0.999 to their source while the natural max
    is ≈ 0.33, so every planted pair that lands in one cluster must
    produce exactly one keep=0 row — cluster-split misses (the
    documented SemDeDup recall trade-off) are deterministic and
    mirrored by the oracle's identical clustering replay."""
    from google_vision_ocr_spark.operators.similarity import semdedup_keep

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    planted = emb.filter(F.col("vec_id") % _PLANT_EVERY == 0).select(
        (F.col("vec_id") + F.lit(_PLANT_ID_OFFSET)).alias("vec_id"),
        F.expr(_PLANT_EXPR_SPARK).alias("embedding"),
    )
    return semdedup_keep(
        base.unionByName(planted), centroid_mod=31, iters=2, threshold=0.9
    )


def _minhash_containment(spark, sf_dir):
    """Recall-containment check for the MinHash family: every exact
    3-shingle-Jaccard pair >= 0.8 must appear in the banded-LSH
    candidate set.  The oracle is the exact-Jaccard SQL alone, so one
    LSH recall miss drops a row and fails the contract's hash gate.
    The pair set itself is gated by `dedup_minhash_lsh`; this entry
    pins the family's recall against exact Jaccard."""
    from google_vision_ocr_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(d, k=3, threshold=0.8)
    cands = minhash_lsh_pairs(d).select("id_a", "id_b")
    return exact.join(cands, ["id_a", "id_b"], "left_semi").select(
        "id_a", "id_b", "jaccard"
    )


def _simhash_containment(spark, sf_dir):
    """Same recall-containment pattern for the SimHash blocking family
    (band-blocked hamming candidates must cover every exact near-dup).

    Radius note: "Jaccard >= 0.8 implies hamming <= h" is statistical,
    not guaranteed — the radius must dominate the data's worst case.
    Measured max hamming of the 60-bit replayable codes over the exact
    pairs: 11 at sf0.001 (28 pairs), 9 at sf0.01 (25), 12 at sf0.1
    (256; two pairs at 12); 13 holds at every shipped SF, and the
    pigeonhole banding stays lossless at any radius (n_bands = h+1)."""
    from google_vision_ocr_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_candidates,
    )

    d = _t(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(d, k=3, threshold=0.8)
    cands = simhash_candidates(d, max_hamming=13).select("id_a", "id_b")
    return exact.join(cands, ["id_a", "id_b"], "left_semi").select(
        "id_a", "id_b", "jaccard"
    )


def _ngram_jaccard(spark, sf_dir):
    """Exact word-3-shingle Jaccard near-dup pairs (the verification
    baseline for the MinHash family; SURVEY.md §2 dedup extensions)."""
    from google_vision_ocr_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), k=3, threshold=0.5)
    return pairs.select("id_a", "id_b", "jaccard")


def _embedding_near_dups_exact(spark, sf_dir):
    """Brute-force cosine near-dup pairs — the exact baseline the LSH
    variant approximates; fully JVM-side (zip_with/aggregate)."""
    from google_vision_ocr_spark.operators.similarity import cosine_pairs_bruteforce

    return cosine_pairs_bruteforce(_t(spark, sf_dir, "embeddings"), threshold=0.3)


def _events_sessionize(spark, sf_dir):
    """Gap-based sessionization (batch twin of the stateful streaming
    operator in streaming/sessions.py)."""
    from google_vision_ocr_spark.streaming.sessions import sessionize_batch

    return sessionize_batch(_t(spark, sf_dir, "events")).select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


def _events_first_crossing(spark, sf_dir):
    """Batch twin of the streaming exactly-once threshold detector
    (streaming/heavy_hitters.py::power_users_stream), under the hash
    gate: the exact event at which each crossing user's running count
    (ordered by ts, event_id) first reaches the threshold.  The
    threshold derives inside the plan (mean events/user + 1 — one
    scalar agg broadcast, no driver action) so it splits the users at
    any SF; the oracle replays the running row_number window.  The
    stream's emitted key set equals this frame's user set (pinned in
    tests/test_streaming_heavy_hitters.py), closing the loop between
    the checkpointed stateful operator and a SQL-checkable contract."""
    from google_vision_ocr_spark.streaming.heavy_hitters import (
        first_crossing_batch,
    )

    return first_crossing_batch(_t(spark, sf_dir, "events"))


def _curate_documents(spark, sf_dir):
    """End-to-end curation funnel (extract -> quality/lang gates ->
    exact + near dedup) over the documents-derived pages table."""
    from google_vision_ocr_spark.plans.curate import curate
    from google_vision_ocr_spark.sources.documents import documents_to_pages

    pages = documents_to_pages(_t(spark, sf_dir, "documents"))
    curated, _obs = curate(pages, min_quality=0.2, min_tokens=5)
    # quality rides at its native 6-decimal quantization (the exact
    # half-up of functions/text.py, one spec in both engines, checked
    # by the quality_scores gate entry at every SF).  Re-rounding to 4
    # here created a fresh half-tie surface: at sf0.1 one row's 0.634550
    # split 0.6346 (Spark) vs 0.6345 (DuckDB).  Never re-round a value
    # both engines already agree on (the tpch_q3 lesson, float edition).
    return curated.select("url", "ws_tokens", "lang_guess", "quality")


def _asof_purchase_view(spark, sf_dir):
    """As-of join (operator Spark lacks natively): each purchase event
    picks up the user's most recent at-or-before view event via the
    union + keyed-window construction in operators/asof.py — one
    shuffle of |L|+|R| rows, per-key work bounded by events-per-user.
    The oracle replays the identical construction, so tie handling
    (right-before-left at equal ts, largest event_id wins) is pinned."""
    from google_vision_ocr_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts",
        F.col("ts").alias("view_ts"), F.col("value").alias("view_value"),
    )
    joined = asof_join(
        purchases, views,
        key_cols=["user_id"], ts_col="ts",
        payload_cols=["view_ts", "view_value"], tiebreak_col="event_id",
    )
    # null-safe gate projection: no-prior-view sentinels keep the hash
    # free of nullable-timestamp encoding differences across engines
    return joined.select(
        "event_id", "user_id", "ts", "purchase_value",
        F.coalesce(F.unix_micros(F.col("view_ts").cast("timestamp")), F.lit(-1))
        .alias("view_ts_us"),
        F.coalesce(F.col("view_value"), F.lit(-1.0)).alias("view_value"),
    )


def _events_rollup(spark, sf_dir):
    """OLAP rollup: per (event_type, day) + per event_type + grand
    total in one pass (partial-agg friendly), with the grouping-id
    bitmask distinguishing the levels.  Money sums are decimal-exact
    (the r2 tpch_q3 lesson)."""
    e = _t(spark, sf_dir, "events")
    rolled = (
        e.withColumn("day", F.date_trunc("day", F.col("ts")))
        .rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double").alias("sum_value"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )
    # rolled-up levels surface as 'ALL' (gid already disambiguates);
    # keeps the hash free of nullable-timestamp encodings
    return rolled.select(
        F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
        F.coalesce(F.date_format(F.col("day"), "yyyy-MM-dd"), F.lit("ALL"))
        .alias("day"),
        "n_events", "sum_value", "gid",
    )


def _retention_cohorts(spark, sf_dir):
    """Cohort retention: users cohorted by first-activity week, counted
    in each later week they were active — two hash-aggs and one join on
    user_id, all-integer output."""
    # DAY cohorts, not weeks: the events table spans 30 days, so week
    # cohorts collapsed to a single cohort_week=0 (round-3 vacuousness
    # audit); days give a real 2-cohort x 30-day retention matrix
    e = _t(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("bigint")
    ev = e.select("user_id", day.alias("day")).distinct()
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .select(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("days_since"),
            "user_id",
        )
        .groupBy("cohort_day", "days_since")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def _kmeans_assignments(spark, sf_dir):
    """Two Lloyd iterations of cosine k-means (deterministic init:
    every 31st vector) — the iterative-algorithm shape, integer-valued
    output, full-algorithm SQL oracle (both rounds replayed)."""
    from google_vision_ocr_spark.operators.similarity import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, centroid_mod=31, iters=2)


def _tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: a 6-way star join — three broadcast dims
    (region→nation filter chain, supplier), customer/orders/lineitem
    shuffled on their keys — with decimal-exact revenue."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), (li["l_suppkey"] == s["s_suppkey"])
              & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum(price * (F.lit(1).cast("decimal(3,2)") - disc)), 2)
            .cast("double").alias("revenue")
        )
    )


def _tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape: semi-join against a HAVING aggregate (large
    orders), then re-aggregate with customer detail attached."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("__q"))
        .filter(F.col("__q") > 220)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum(qty), 2).cast("double").alias("sum_qty"))
    )


def _tpch_q10(spark, sf_dir):
    """TPC-H Q10 returned-item reporting: 4-way join, decimal-exact
    revenue, top-20 by revenue via TakeOrderedAndProject (never a
    global sort).  The tie-break (revenue DESC, c_custkey) is part of
    the contract so the LIMIT selection matches the oracle exactly."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1).cast("decimal(3,2)")
              - F.col("l_discount").cast("decimal(12,2)")))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def _tpch_q14(spark, sf_dir):
    """TPC-H Q14 promo-revenue shape: fact⋈dim join (part broadcast)
    feeding a conditional aggregate ratio; decimal-exact money."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1).cast("decimal(3,2)")
              - F.col("l_discount").cast("decimal(12,2)")))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(12,2)"))
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return (
        joined.agg(
            F.sum(promo).alias("__p"),
            F.sum(rev).alias("__t"),
        )
        .select(
            # pct via integer half-up on exact 1e-4-dollar units
            _halfup_ratio(
                "CAST(__p * 10000 AS BIGINT) * 100",
                "CAST(__t * 10000 AS BIGINT)",
                4,
            ).alias("promo_revenue_pct"),
            F.round(F.col("__t"), 2).cast("double").alias("total_revenue"),
        )
    )


def _tpch_q4(spark, sf_dir):
    """TPC-H Q4 order-priority-count shape: EXISTS decorrelated to a
    left-semi join whose condition mixes the key equality with a
    cross-table inequality (late-shipment probe).

    Adaptation: the testdata lineitem carries no l_commitdate /
    l_receiptdate, so the "late line" predicate is l_shipdate >
    o_orderdate — same plan shape (filtered fact semi-joined against a
    bigger fact, tiny-group count), different column."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _tpch_q12(spark, sf_dir):
    """TPC-H Q12 shipmode-priority shape: fact-fact equi-join feeding
    two conditional counts per class.

    Adaptation: no l_shipmode in the testdata — l_returnflag plays the
    class column; the priority CASE and the one-year shipdate window
    are verbatim Q12."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint")
            .alias("low_line_count"),
        )
    )


def _tpch_q13(spark, sf_dir):
    """TPC-H Q13 customer-order-distribution shape: left OUTER join with
    an extra join-side predicate (customers with zero qualifying orders
    must survive as c_count = 0), then a second aggregation over the
    first's output — the double-shuffle histogram plan.

    Adaptation: orders has no o_comment, so the NOT LIKE filter becomes
    o_orderpriority <> '1-URGENT' (same position in the join condition,
    same must-not-be-pushed-to-WHERE trap)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def _tpch_q17(spark, sf_dir):
    """TPC-H Q17 small-quantity-order shape: correlated aggregate
    subquery (per-part 0.2×avg quantity threshold) decorrelated into an
    aggregate-then-join; decimal-exact price sum.

    The threshold math is cross-engine exact: l_quantity is
    integer-valued, so sum/count (avg) is exact in doubles and
    0.2*avg is a single IEEE multiply on identical inputs.
    Adaptation: no p_container column, so the part filter is brand
    only."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    thresh = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")), 2)
             .cast("double") / F.lit(7.0)).alias("avg_yearly")
        )
    )


def _tpch_q19(spark, sf_dir):
    """TPC-H Q19 discounted-revenue shape: broadcast dim join under a
    disjunction of conjunctive brand/size/quantity windows — the
    OR-of-ANDs predicate Catalyst must keep joint (it cannot push any
    single conjunct alone).  Decimal-exact revenue.

    Adaptation: no p_container / l_shipmode / l_shipinstruct columns;
    the three (brand, p_size window, l_quantity window) arms preserve
    the disjunctive structure."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    arm = lambda b, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == b)
        & F.col("p_size").between(1, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1).cast("decimal(3,2)")
              - F.col("l_discount").cast("decimal(12,2)")))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(arm("Brand#12", 5, 1, 11) | arm("Brand#23", 10, 10, 20)
                | arm("Brand#34", 15, 20, 30))
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


def _tpch_q7(spark, sf_dir):
    """TPC-H Q7 volume-shipping shape: the two-nation trade query —
    lineitem⋈orders⋈customer⋈nation(cust) and ⋈supplier⋈nation(supp),
    with the symmetric nation-pair disjunction applied AFTER both
    joins (it references both sides), grouped by year.  Both nation
    dims and the supplier table broadcast; decimal-exact revenue."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1).cast("decimal(3,2)")
              - F.col("l_discount").cast("decimal(12,2)")))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .filter(
            ((F.col("cust_nation") == "NATION_3")
             & (F.col("supp_nation") == "NATION_7"))
            | ((F.col("cust_nation") == "NATION_7")
               & (F.col("supp_nation") == "NATION_3"))
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


def _tpch_q22(spark, sf_dir):
    """TPC-H Q22 global-sales-opportunity shape: scalar aggregate
    subquery (corpus-wide positive-balance average) feeding a filter,
    anti-joined against recent orders, grouped by nation.

    The above-average test is EXACT INTEGER: acctbal_cents · n >
    Σcents avoids comparing against a float average whose summation
    order differs per engine — a boundary customer would otherwise
    flip (the tpch_q3 lesson applied to thresholds).  Adaptation: no
    c_phone column, so grouping is by c_nationkey; 'no recent orders'
    replaces 'no orders' (every testdata customer has some order)."""
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    cc = c.select("c_custkey", "c_nationkey", "c_acctbal", cents.alias("__c"))
    pos = cc.filter(F.col("__c") > 0).agg(
        F.sum("__c").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cc.crossJoin(F.broadcast(pos))
        .filter(F.col("__c") * F.col("__n") > F.col("__s"))
        .join(recent, cc["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")), 2)
            .cast("double").alias("totacctbal"),
        )
    )


def _tpch_q8(spark, sf_dir):
    """TPC-H Q8 national-market-share shape: a 7-table star (two nation
    roles + region) feeding a conditional-revenue ratio per year.  All
    dims broadcast; the share is decimal-exact sums CAST to double
    before one division (the q14 pattern)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1).cast("decimal(3,2)")
              - F.col("l_discount").cast("decimal(12,2)")))
    n3 = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
        F.lit(0).cast("decimal(12,2)"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(n3).alias("__n3"),
            F.sum(rev).alias("__rev"),
        )
        .select(
            "o_year",
            # share via integer half-up on exact 1e-4-dollar units —
            # round(double ratio, 6) is the tie class
            _halfup_ratio(
                "CAST(__n3 * 10000 AS BIGINT)",
                "CAST(__rev * 10000 AS BIGINT)",
                6,
            ).alias("mkt_share"),
            F.round(F.col("__rev"), 2).cast("double").alias("total_revenue"),
        )
    )


def _derived_partsupp(spark, sf_dir):
    """Deterministic partsupp derived from the shipped tables — the
    driver testdata carries no partsupp, so the 7 remaining TPC-H plan
    shapes (Q2/Q9/Q11/Q15/Q16/Q20/Q21) build it identically in engine
    and oracle: each part gets 4 suppliers at stride S/4 around its own
    key, with integer availqty and supply cost in cents derived from
    the keys.  Mirrored verbatim by _PARTSUPP_SQL (SURVEY §8).

    All arithmetic is int64 on key columns, so the two engines cannot
    disagree; the explode(sequence) is scan-side (4× row generate, no
    shuffle) and the supplier count is a broadcast 1-row aggregate."""
    p = _t(spark, sf_dir, "part").select("p_partkey")
    s_cnt = (
        _t(spark, sf_dir, "supplier")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__scnt"))
    )
    sk = (F.col("p_partkey") + F.col("__i") * F.expr("__scnt div 4")) % F.col(
        "__scnt"
    )
    return (
        p.crossJoin(F.broadcast(s_cnt))
        .select(
            "p_partkey",
            "__scnt",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("__i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            sk.cast("bigint").alias("ps_suppkey"),
        )
        .select(
            "ps_partkey",
            "ps_suppkey",
            ((F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 11) % 9999 + 1)
            .cast("bigint")
            .alias("ps_availqty"),
            ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 99999 + 1)
            .cast("bigint")
            .alias("ps_supplycost_cents"),
        )
    )


#: DuckDB twin of _derived_partsupp — prepend to every partsupp oracle
_PARTSUPP_SQL = """
            partsupp AS (
                SELECT p_partkey AS ps_partkey,
                       (p_partkey + i * (scnt // 4)) % scnt AS ps_suppkey,
                       (p_partkey * 37
                        + ((p_partkey + i * (scnt // 4)) % scnt) * 11)
                           % 9999 + 1 AS ps_availqty,
                       (p_partkey * 31
                        + ((p_partkey + i * (scnt // 4)) % scnt) * 17)
                           % 99999 + 1 AS ps_supplycost_cents
                FROM part,
                     (SELECT CAST(count(*) AS BIGINT) AS scnt
                      FROM supplier) s,
                     (SELECT unnest(range(0, 4)) AS i) g
            )
"""


def _tpch_q2(spark, sf_dir):
    """TPC-H Q2 minimum-cost-supplier shape: the correlated MIN
    subquery (cheapest regional supplier per part) decorrelated into a
    groupBy-min + join-back on the equality of cost — the classic
    argmin-per-group over a 5-table dim chain.  Dims broadcast; cost
    stays in integer cents so the min and the equality are exact.
    Adaptation: derived partsupp; p_brand stands in for the missing
    p_mfgr; no LIMIT (the gate hash is order-insensitive)."""
    ps = _derived_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    regional = (
        ps.join(F.broadcast(s), ps["ps_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    min_cost = regional.groupBy("ps_partkey").agg(
        F.min("ps_supplycost_cents").alias("__min_cents")
    )
    return (
        regional.join(min_cost, "ps_partkey")
        .filter(F.col("ps_supplycost_cents") == F.col("__min_cents"))
        .join(F.broadcast(p), F.col("ps_partkey") == p["p_partkey"])
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            (F.col("ps_supplycost_cents").cast("double") / F.lit(100.0)).alias(
                "supplycost"
            ),
        )
    )


def _tpch_q9(spark, sf_dir):
    """TPC-H Q9 product-profit shape: the 6-table star over parts
    matching a name token, profit = revenue − supply cost, grouped by
    supplier nation × order year.  Profit rides exact 10⁻⁴-dollar
    integers (the q1 cents recipe: cents(ext)·(100−disc_pct) minus
    cost_cents·qty·100), so the per-group sums hash identically.
    Adaptation: derived partsupp; p_name token 'bolt'."""
    ps = _derived_partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    ext_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    amount_e4 = ext_c * (F.lit(100) - disc_pct) - F.col(
        "ps_supplycost_cents"
    ) * qty * F.lit(100)
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(
            ps,
            (li["l_partkey"] == ps["ps_partkey"])
            & (li["l_suppkey"] == ps["ps_suppkey"]),
        )
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.sum(amount_e4).cast("double") / F.lit(10000.0)).alias(
                "sum_profit"
            )
        )
    )


def _tpch_q11(spark, sf_dir):
    """TPC-H Q11 important-stock shape: per-part inventory value for
    one nation's suppliers, kept only when the part's value exceeds
    2× the mean share — the global-scalar-subquery HAVING.  The
    threshold compare is pure int64 (value·K > 2·total, K = number of
    parts in scope), so no float fraction splits the engines; the
    1-row total/K aggregate is a broadcast cross join."""
    ps = _derived_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    scoped = (
        ps.join(F.broadcast(s), ps["ps_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias(
                "__v_cents"
            ),
        )
    )
    per_part = scoped.groupBy("ps_partkey").agg(
        F.sum("__v_cents").alias("__value_cents")
    )
    totals = per_part.agg(
        F.sum("__value_cents").alias("__total_cents"),
        F.count(F.lit(1)).alias("__k"),
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .filter(
            F.col("__value_cents") * F.col("__k")
            > F.lit(2) * F.col("__total_cents")
        )
        .select(
            "ps_partkey",
            (F.col("__value_cents").cast("double") / F.lit(100.0)).alias(
                "stock_value"
            ),
        )
    )


def _tpch_q15(spark, sf_dir):
    """TPC-H Q15 top-supplier shape: the revenue view (one quarter of
    lineitem) joined against its own MAX — a scalar subquery over an
    aggregate, kept as an exact-integer revenue so the equality with
    the max cannot miss by a ULP.  Ties (impossible here, allowed in
    general) would all be returned, per the spec."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev_e4).alias("__rev_e4")
    )
    mx = revenue.agg(F.max("__rev_e4").alias("__max_e4"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("__rev_e4") == F.col("__max_e4"))
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select(
            "supplier_no",
            "s_name",
            (F.col("__rev_e4").cast("double") / F.lit(10000.0)).alias(
                "total_revenue"
            ),
        )
    )


def _tpch_q16(spark, sf_dir):
    """TPC-H Q16 parts-supplier-relationship shape: distinct-supplier
    counts per (brand, type, size) bucket with a NOT-IN blacklist
    anti-join on the supplier side.  Adaptation: derived partsupp; the
    missing s_comment complaints filter becomes the deterministic
    s_suppkey % 10 = 0 blacklist; p_size over an explicit IN list."""
    ps = _derived_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 14, 23, 30, 36, 45, 49)
    )
    blacklist = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 0)
        .select(F.col("s_suppkey").alias("__bad"))
    )
    return (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .join(
            F.broadcast(blacklist),
            ps["ps_suppkey"] == F.col("__bad"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("ps_suppkey").cast("bigint").alias("supplier_cnt")
        )
    )


def _tpch_q20(spark, sf_dir):
    """TPC-H Q20 excess-stock shape: the nested IN-subquery chain —
    suppliers whose available quantity of a name-filtered part exceeds
    half what they shipped of it in 1996 — decorrelated into an
    aggregate join.  The compare is integer (2·availqty > qty_sum on
    exact integral quantities).  Adaptation: derived partsupp; p_name
    prefix 'blue'; no nation filter (keeps the result non-vacuous at
    every shipped SF)."""
    ps = _derived_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("blue%"))
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    qty = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("__qty")
    )
    keep = (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .join(
            qty,
            (ps["ps_partkey"] == qty["l_partkey"])
            & (ps["ps_suppkey"] == qty["l_suppkey"]),
        )
        .filter(F.lit(2) * F.col("ps_availqty") > F.col("__qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return keep.join(
        F.broadcast(s), keep["ps_suppkey"] == s["s_suppkey"]
    ).select(F.col("s_suppkey"), F.col("s_name"))


def _tpch_q21(spark, sf_dir):
    """TPC-H Q21 waiting-supplier shape: the EXISTS / NOT-EXISTS chain
    — count, per supplier, finalized multi-supplier orders where ONLY
    that supplier's item was late — as one semi-join plus one
    anti-join with inequality conditions.  l_commitdate/l_receiptdate
    don't ship in the testdata; both are derived as deterministic
    key-hash day offsets of l_shipdate, identically in the oracle
    (SURVEY §8)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            (F.col("l_orderkey") * 2 + F.col("l_linenumber")) % 31
            + 1
            > (F.col("l_orderkey") + 3 * F.col("l_linenumber")) % 61 - 30
        ).alias("__late"),
    )
    f_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = _t(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("__late")).join(
        f_orders, F.col("l_orderkey") == F.col("o_orderkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_suppkey").alias("__sk"),
        F.col("__late").alias("__olate"),
    )
    waiting = (
        l1.join(
            others,
            (F.col("l_orderkey") == F.col("__ok"))
            & (F.col("l_suppkey") != F.col("__sk")),
            "left_semi",
        )
        .join(
            others.filter(F.col("__olate")),
            (F.col("l_orderkey") == F.col("__ok"))
            & (F.col("l_suppkey") != F.col("__sk")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


def _top_words_per_lang(spark, sf_dir):
    """Heavy hitters: top-5 words per language by corpus frequency.
    Two-phase top-k: per (lang, hash-bucket) top-5 first, then the
    global top-5 over the ≤ 5×32 survivors — no window ever sorts a
    whole language's vocabulary in one task."""

    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(F.expr(_replayable.tokens_sql("text"))).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bucket = F.pmod(F.xxhash64("word"), F.lit(32))
    w_local = Window.partitionBy("lang", bucket).orderBy(
        F.col("cnt").desc(), F.col("word")
    )
    w_global = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("word"))
    return (
        counts.withColumn("__r", F.row_number().over(w_local))
        .filter(F.col("__r") <= 5)
        .withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", "word", F.col("cnt").cast("bigint").alias("cnt"))
    )


def _merge_upsert_snapshot(spark, sf_dir):
    """Incremental MERGE: a deterministic delta (every 10th doc
    re-crawled with doubled text length, every 25th deleted, 20 brand
    new docs) merged into the documents snapshot via full-outer-join
    upsert.  The oracle reconstructs the merged snapshot with CASE
    arithmetic, so matched-update, append, carry-forward and
    soft-delete paths are all hash-checked."""
    from google_vision_ocr_spark.operators.merge import merge_upsert

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    updates = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            F.lit("re").alias("lang"),
            (F.col("n_chars") * 2).alias("n_chars"),
            (F.col("doc_id") % 25 == 0).alias("is_delete"),
        )
        .unionByName(
            d.filter(F.col("doc_id") < 20).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.lit("new").alias("lang"),
                F.col("n_chars"),
                F.lit(False).alias("is_delete"),
            )
        )
    )
    return merge_upsert(d, updates, ["doc_id"], delete_col="is_delete")


def _events_user_lag(spark, sf_dir):
    """Per-user sequential analytics: seconds since the user's previous
    event (lag) and a 3-row moving average of value — the bounded
    per-key window shape (events-per-user, never corpus-size)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wavg = w.rowsBetween(-2, 0)
    # moving avg via integer half-up on (cent-sum, count) — the tie-
    # proof ratio recipe (functions/exact.py)
    cs = F.sum(F.round(F.col("value") * 100).cast("bigint")).over(wavg)
    return e.select(
        "event_id", "user_id",
        F.coalesce(
            (F.unix_micros(F.col("ts").cast("timestamp"))
             - F.unix_micros(F.lag("ts", 1).over(w).cast("timestamp"))) / 1000000,
            F.lit(-1.0),
        ).alias("delta_s"),
        cs.alias("__cs"),
        F.count(F.lit(1)).over(wavg).alias("__cn"),
    ).select(
        "event_id", "user_id", "delta_s",
        # signed: a windowed cent-sum goes negative on refund-shaped
        # values, where truncating div (Spark) and flooring // (DuckDB)
        # would round opposite ways
        _halfup_ratio_signed("__cs", "100 * __cn", 4).alias("value_ma3"),
    )


def _events_props_json(spark, sf_dir):
    """Semi-structured column handling: parse the JSON props payload
    JVM-side (get_json_object) and aggregate the extracted field —
    no Python, pushdown-friendly scan."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


def _events_interval_join(spark, sf_dir):
    """Range (interval) join: each purchase joins the same user's views
    from the preceding hour.  The identical code path runs as a
    watermarked stream-stream join (streaming/events.py, twin-tested);
    here the batch shape is hash-gated against a DuckDB range join."""
    from google_vision_ocr_spark.streaming.events import purchases_with_recent_views

    return purchases_with_recent_views(_t(spark, sf_dir, "events"))


def _events_pivot_daily(spark, sf_dir):
    """PIVOT: one row per day, one count column per event type.  Spark
    plans pivot as a single pass of conditional aggregates (no extra
    shuffle vs the base groupBy); the oracle states the same thing as
    explicit FILTERed counts."""
    e = _t(spark, sf_dir, "events")
    types = ["signup", "click", "view", "purchase", "error"]
    return (
        e.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def _events_funnel(spark, sf_dir):
    """Conversion funnel: users who signed up, clicked AFTER their
    first signup, and purchased AFTER that first click — three ordered
    min-timestamp aggregates per user, then one global rollup.  The
    per-user frame is a single hash-agg (conditional min), no window."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
    )
    # first click after signup needs the signup time first: one more
    # conditional pass joined back (broadcast — per-user frame is small
    # relative to events, and keyed identically)
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    first_click_after = (
        clicks.join(per_user.select("user_id", "t_signup"), "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    purchased_after = (
        purchases.join(first_click_after, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .select("user_id")
        .distinct()
        .withColumn("__p", F.lit(1))
    )
    flags = (
        per_user.join(first_click_after, "user_id", "left")
        .join(purchased_after, "user_id", "left")
    )
    return flags.agg(
        F.count(F.when(F.col("t_signup").isNotNull(), 1)).alias("n_signed_up"),
        F.count("t_click").alias("n_clicked_after"),
        F.count("__p").alias("n_purchased_after"),
    )


def _events_daily_distinct(spark, sf_dir):
    """Daily actives: exact distinct users per day (the two-phase
    distinct-agg shuffle shape) plus event count."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def _url_domain_stats_psl(spark, sf_dir):
    """PSL-aware registrable-domain rollup: hosts are constructed with
    multi-label public suffixes (`co.uk`, `ac.uk`) where the last-two-
    labels heuristic is WRONG, and the operator must pick the longest
    matching suffix from a broadcast PSL frame.  The oracle constructs
    the expected domain independently (source + chosen suffix), so a
    longest-match bug — e.g. matching bare `uk` — shifts every co.uk
    group and breaks the hash."""
    from google_vision_ocr_spark.functions.urls import with_registrable_domain

    d = _t(spark, sf_dir, "documents")
    suffix = (
        F.when(F.col("doc_id") % 4 == 0, "co.uk")
        .when(F.col("doc_id") % 4 == 1, "com")
        .when(F.col("doc_id") % 4 == 2, "ac.uk")
        .otherwise("org")
    )
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://sub"), (F.col("doc_id") % 3).cast("string"), F.lit("."),
            F.col("source"), F.lit("."), suffix, F.lit("/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    psl = spark.createDataFrame(
        [("com",), ("org",), ("uk",), ("co.uk",), ("ac.uk",)], ["suffix"]
    )
    return (
        with_registrable_domain(u, "url", psl=psl)
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").cast("bigint").alias("first_doc"))
    )


def _dedup_clusters(spark, sf_dir):
    """Pairs → clusters: connected components (min-label propagation)
    over the exact-Jaccard duplicate graph, the step that turns every
    dedup family's pair output into "keep one doc per cluster".  The
    oracle recomputes the same edge set and replays reachability with a
    recursive CTE, so component IDS are hash-checked, not just sizes."""
    from google_vision_ocr_spark.operators.components import connected_components
    from google_vision_ocr_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.5).select("id_a", "id_b")
    return connected_components(pairs).select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    )


def _dedup_keep_one(spark, sf_dir):
    """The dedup endgame: keep exactly one document per duplicate
    CLUSTER (the min doc id), everything unclustered survives.
    Composes connected components with an anti-join of the cluster
    losers — the operation every pair-emitting dedup family ultimately
    feeds.  Oracle: same recursive reachability, losers = nodes whose
    component id differs from their own id."""
    from google_vision_ocr_spark.operators.components import connected_components
    from google_vision_ocr_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.5).select("id_a", "id_b")
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return (
        d.join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )


def _warc_roundtrip(spark, sf_dir):
    """WARC IO under the driver gate: archive the documents table into
    per-source WARC segments (alternating plain/gzipped, the CC layout
    being one gzip member per record), read them back through the
    ``binaryFile`` + ``mapInArrow`` source, and project the decoded
    fields.  The oracle reconstructs the same rows from the documents
    table directly, so any codec/envelope drift — URL header, WARC-Date
    formatting/parsing, HTTP envelope stripping, body bytes, record
    framing, gzip member handling — breaks the value hash.

    The driver-side collect here is fixture PREP (writing the archive
    segments), not the measured operator; ``read_warc`` itself is one
    task per segment with streamed Arrow batches.  Prep is BOUNDED by
    a deterministic doc_id % 7 == 0 sample (mirrored in the oracle) so
    it stays a fixed fraction of the corpus at any SF."""
    import shutil
    from datetime import datetime, timedelta, timezone

    from google_vision_ocr_spark.sources.warc import read_warc, write_warc_file

    out_dir = _scratch_dir("warc", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", "text", "source")
        .collect()
    )
    epoch = datetime(2020, 1, 1, tzinfo=timezone.utc)
    by_source: dict[str, list] = {}
    for r in docs:
        by_source.setdefault(r["source"], []).append(r)
    for i, (src, rows) in enumerate(sorted(by_source.items())):
        recs = [
            {
                "url": f"doc://{src}/{r['doc_id']}",
                "ts": epoch + timedelta(seconds=int(r["doc_id"])),
                "body": r["text"].encode("utf-8"),
            }
            for r in sorted(rows, key=lambda r: int(r["doc_id"]))
        ]
        ext = ".warc.gz" if i % 2 else ".warc"
        write_warc_file(os.path.join(out_dir, f"seg-{src}{ext}"), recs)
    back = read_warc(spark, out_dir)
    return back.select(
        "url",
        "warc_ts",
        F.col("html").cast("string").alias("body_text"),
        F.length("html").cast("bigint").alias("n_bytes"),
    )


def _token_chunks(spark, sf_dir):
    """LM training-sequence prep: every document explodes into 64-token
    windows starting every 48 tokens (overlapping context).  Scan-side
    JVM generate — no shuffle, no Python; the oracle replays the window
    enumeration and slicing exactly."""
    from google_vision_ocr_spark.operators.chunking import token_chunks

    return token_chunks(
        _t(spark, sf_dir, "documents"), size=64, stride=48
    )


def _target_mix_resample(spark, sf_dir):
    """Deterministic importance resampling toward a target language mix
    (keep 50% of en, 25% of zh, all others): md5-hash accept test in
    integer parts-per-million, so the threshold is exact across engines
    and runs — the DSIR-style rebalancing step of a data pipeline."""
    from google_vision_ocr_spark.operators.sampling import target_mix_resample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return target_mix_resample(d, {"en": 500_000, "zh": 250_000})


def _profile_documents(spark, sf_dir):
    """ANALYZE-style column profile of the documents table: one pass,
    all per-column null/distinct/min/max aggregates in a single agg,
    unpivoted with stack.  Exact distincts here (auditable by the
    oracle); the approx_count_distinct mode is the 100 TB path."""
    from google_vision_ocr_spark.operators.profile import profile_columns

    return profile_columns(_t(spark, sf_dir, "documents"))


def _scd2_user_state(spark, sf_dir):
    """Type-2 history of each user's event-type state: gaps-and-islands
    runs with [valid_from, valid_to) epoch-micro bounds, -1 closing the
    open interval.  Windows partition by user_id (bounded per key — the
    skew-safe kind)."""
    from google_vision_ocr_spark.operators.scd2 import type2_history

    return type2_history(_t(spark, sf_dir, "events"))


def _cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch frequency estimates for the corpus's heavy
    words (exact count ≥ 50), reported beside the exact counts.  The
    sketch is a FIXED-SIZE (4×256) mergeable counter table — the only
    corpus-scale pass reduces to it with map-side partial aggregation,
    and estimation broadcasts it — so the shape survives 10^12 rows
    where an exact word dictionary would not.  md5-derived row hashes
    make every counter ANSI-SQL-replayable: the oracle rebuilds the
    sketch AND the estimates, so a single hash/bucket drift anywhere
    fails the value hash (est ≥ true by construction; equality unless
    buckets collide)."""
    from google_vision_ocr_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
    )

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.expr(_replayable.tokens_sql("text"))).alias("word")
    )
    sketch = count_min_build(words, "word", depth=4, width=256)
    truth = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        .filter(F.col("true_cnt") >= 50)
    )
    est = count_min_estimate(
        sketch, truth.select("word"), "word", depth=4, width=256
    )
    return truth.join(est, "word").select("word", "true_cnt", "cms_est")


def _cms_segment_merge(spark, sf_dir):
    """Incremental sketch maintenance, gate-proven: build per-segment
    count-min sketches over two disjoint halves of the corpus
    (doc_id parity), merge them by counter addition, and hash-compare
    against the ORACLE OF THE FULL BUILD — the same merge==rebuild
    contract the postings segment merge carries.  At 10^12 docs this
    is how daily sketches roll up without rescanning history."""
    from google_vision_ocr_spark.operators.sketch import (
        count_min_build,
        count_min_merge,
    )

    d = _t(spark, sf_dir, "documents")
    words = lambda df: df.select(  # noqa: E731
        F.explode(F.expr(_replayable.tokens_sql("text"))).alias("word")
    )
    a = count_min_build(words(d.filter(F.col("doc_id") % 2 == 0)), "word")
    b = count_min_build(words(d.filter(F.col("doc_id") % 2 == 1)), "word")
    return count_min_merge([a, b])


def _distinct_words_linear_counting(spark, sf_dir):
    """Fixed-size distinct estimation: the corpus's word occurrences
    fold into a 4096-bit occupancy bitmap (map-side-combinable bit_or
    over 64 words of 64 bits), V occupied buckets give the linear-
    counting estimate −m·ln((m−V)/m).  The oracle re-derives V as
    COUNT(DISTINCT md5-bucket) — set-equivalent to the bitmap — and
    replays the estimate; the estimate ships as exact 1e-4 integer
    units (single ln+round expression, identical in both engines).
    The SQL-replayable stand-in for approx_count_distinct's opaque
    HLL registers (profile_columns documents that as the 100 TB
    default)."""
    from google_vision_ocr_spark.operators.sketch import (
        distinct_linear_counting,
    )

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.expr(_replayable.tokens_sql("text"))).alias("word")
    )
    return distinct_linear_counting(words, "word", m=4096)


def _quantile_sketch(spark, sf_dir):
    """Mergeable quantile sketch (DDSketch-style base-2 log buckets on
    integer cents) over events.value per event_type: the corpus
    reduces to ≤ ~4K deterministic counters per key with map-side
    partial aggregation, and p50/p95 come from a CDF walk over the
    sketch alone.  The profiling-sketch family's third member next to
    the CMS (frequencies) and linear counting (distincts) — and unlike
    KLL/GK the buckets are fixed integers, so the oracle replays the
    whole build+estimate in SQL and a single bucket-boundary drift
    fails the value hash.  Exact quantiles (events_value_quantiles)
    need the full per-group sort; at 100 TB this sketch is the path."""
    from google_vision_ocr_spark.operators.sketch import (
        quantile_sketch_build,
        quantile_sketch_quantiles,
    )

    e = _t(spark, sf_dir, "events")
    sk = quantile_sketch_build(e, "value", "event_type")
    return quantile_sketch_quantiles(sk, "event_type", percents=(50, 95))


def _quantile_sketch_merge(spark, sf_dir):
    """Incremental quantile-sketch maintenance, gate-proven: build
    per-segment sketches over two disjoint halves (event_id parity),
    merge by counter addition, estimate from the merged sketch — and
    hash-compare against the ORACLE OF THE FULL BUILD (shared with
    quantile_sketch), the same merge==rebuild contract the CMS and
    postings merges carry.  Daily sketches roll up without rescanning
    history."""
    from google_vision_ocr_spark.operators.sketch import (
        quantile_sketch_build,
        quantile_sketch_merge,
        quantile_sketch_quantiles,
    )

    e = _t(spark, sf_dir, "events")
    # the two halves must PARTITION the input for merge==rebuild to be
    # a theorem: Spark's % returns -1 for negative ids, so the odd
    # half is "!= 0" (catches -1 and 1), never "== 1"
    a = quantile_sketch_build(
        e.filter(F.col("event_id") % 2 == 0), "value", "event_type"
    )
    b = quantile_sketch_build(
        e.filter(F.col("event_id") % 2 != 0), "value", "event_type"
    )
    merged = quantile_sketch_merge([a, b])
    return quantile_sketch_quantiles(merged, "event_type", percents=(50, 95))


def _host_triangles(spark, sf_dir):
    """Per-host triangle counts over the same deterministic host-link
    graph as host_pagerank — the graph-cohesion metric (spam-farm /
    link-ring detection reads off dense triangles).  Oriented
    two-path join + closing-edge semi-join: two equi-join shuffles,
    each triangle generated exactly once (operators/components.py:
    triangle_counts); the oracle replays edges, orientation, joins."""
    from google_vision_ocr_spark.operators.components import triangle_counts

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    dst = F.concat(
        F.lit("src"),
        (F.expr("(doc_id div 20) * 13 + doc_id * 3 + 5") % 20).cast("string"),
    )
    edges = (
        d.select(F.col("source").alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return triangle_counts(edges)


def _host_pagerank(spark, sf_dir):
    """PageRank over a deterministic host-link graph (each document
    links its source host to a doc_id-derived host), 3 iterations in
    exact fixed-point int64 — the oracle unrolls all three rounds in
    SQL and matches bit-for-bit, which float PageRank can never do.

    Edge-rule care (two round-3 traps): the testdata assigns source =
    'src'||(doc_id%20) EXACTLY, so (a) any dst of the form f(doc_id)
    mod 20 with f affine is CONSTANT within a source's residue class —
    dst = doc_id%20 makes every edge a self-loop (empty graph,
    silently vacuous gate pass) and any other affine f yields a
    perfect permutation (all ranks exactly uniform — falsifiable in
    name only); (b) a dense rule gives the complete digraph (uniform
    again).  The rule here takes a sparse doc subset (doc_id%7=0) and
    mixes in doc_id div 20, which DOES vary within a residue class:
    measured out-degrees 2-4, visibly non-uniform ranks."""
    from google_vision_ocr_spark.operators.pagerank import pagerank_fixed_point

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    dst = F.concat(
        F.lit("src"),
        (F.expr("(doc_id div 20) * 13 + doc_id * 3 + 5") % 20).cast("string"),
    )
    edges = (
        d.select(F.col("source").alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return (
        pagerank_fixed_point(edges, iterations=3)
        .select("node", F.col("rank").alias("rank_fp"))
    )


def _tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document: tf and df exact integers, the
    score rounded to 6 dp BEFORE ordering with integer tie-breaks, so
    mathematically-equal scores from different (tf, df) pairs never
    resolve by a log's last ULP."""
    from google_vision_ocr_spark.operators.tfidf import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def _snapshot_diff_cdc(spark, sf_dir):
    """Change-data-capture between two corpus snapshots: the new
    snapshot is a deterministic mutation of documents (drop doc_id%97,
    bump n_chars on doc_id%89, clone doc_id%101 with +1e6 ids), so the
    diff has all three op kinds and the oracle replays the full-outer
    classification with IS DISTINCT FROM equality."""
    from google_vision_ocr_spark.operators.merge import snapshot_diff

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    updated = d.filter(F.col("doc_id") % 97 != 0).withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 89 == 0, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars")),
    )
    inserted = d.filter(F.col("doc_id") % 101 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "lang", "source", "n_chars"
    )
    return snapshot_diff(d, updated.unionByName(inserted), ["doc_id"])


def _events_rolling_7d(spark, sf_dir):
    """Trailing-7-day rolling count/sum per user via a RANGE window
    frame on epoch-microseconds — the time-decayed feature shape.  The
    rolled sum rides exact integer cents (float window sums are
    order-dependent); windows partition by user_id, bounded per key."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("__c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-7 * 86400 * 1000000, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        (F.sum("__c").over(w).cast("double") / F.lit(100.0))
        .alias("sum_value_7d"),
    )


def _events_moments(spark, sf_dir):
    """Exact per-group mean/variance/stddev from integer-cents moments,
    TIE-PROOF: every 6-dp output is produced by half-up rounding in
    INTEGER space, never by round(double, 6).  n, Σc, Σc² are exact
    int64; mean_micro = halfup(10⁴·Σc, n), var_micro = halfup(100·num,
    den) with num = n·Σc² − (Σc)², den = n(n−1), both via an exact
    quotient/remainder split so the int64 bound is num itself (~9e18;
    the DECIMAL variant applies beyond — the q1 trade).  std_micro =
    round-half-up(10⁴·√(num/den)) is seeded from IEEE sqrt then
    corrected by the exact integer predicate (2m±1)²·den ≶ 4·10⁸·num
    evaluated in DECIMAL(38,0), so a float half-tie (hypothesis found
    var = 639.2540875 splitting Spark vs an exact replay one ULP
    apart) cannot flip the last digit on either engine."""
    e = _t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("bigint")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(c).alias("__s1"),
        F.sum(c * c).alias("__s2"),
    )
    x = agg.select(
        "event_type",
        "n_events",
        "__s1",
        F.expr("n_events * __s2 - __s1 * __s1").alias("__num"),
        F.expr("n_events * (n_events - 1)").alias("__den"),
    )
    r = x.select(
        "event_type",
        "n_events",
        "__num",
        "__den",
        F.expr(
            "CASE WHEN __s1 >= 0 THEN"
            " (20000 * __s1 + n_events) div (2 * n_events)"
            " ELSE -((-20000 * __s1 + n_events) div (2 * n_events)) END"
        ).alias("__mean_u"),
        # n = 1 ⇒ den = 0: sample variance undefined — NULL, not an
        # ANSI divide-by-zero (the CASE keeps the div un-evaluated)
        F.expr(
            "CASE WHEN __den = 0 THEN NULL ELSE"
            " 100 * (__num div __den)"
            " + (200 * (__num % __den) + __den) div (2 * __den) END"
        ).alias("__var_u"),
        F.expr(
            "CASE WHEN __den = 0 THEN NULL ELSE"
            " CAST(floor(sqrt(CAST(__num AS DOUBLE) / CAST(__den AS DOUBLE))"
            " * 10000.0 + 0.5) AS BIGINT) END"
        ).alias("__m0"),
    )
    four_t = "CAST(__num AS DECIMAL(38,0)) * 400000000"
    up = (
        "CAST(2 * __m0 + 1 AS DECIMAL(38,0))"
        " * CAST(2 * __m0 + 1 AS DECIMAL(38,0))"
        " * CAST(__den AS DECIMAL(38,0))"
    )
    dn = (
        "CAST(2 * __m0 - 1 AS DECIMAL(38,0))"
        " * CAST(2 * __m0 - 1 AS DECIMAL(38,0))"
        " * CAST(__den AS DECIMAL(38,0))"
    )
    std_u = (
        f"CASE WHEN {four_t} >= {up} THEN __m0 + 1"
        f" WHEN __m0 > 0 AND {four_t} < {dn} THEN __m0 - 1"
        " ELSE __m0 END"
    )
    return r.select(
        "event_type",
        "n_events",
        (F.col("__mean_u").cast("double") / F.lit(1000000.0)).alias(
            "mean_value"
        ),
        (F.col("__var_u").cast("double") / F.lit(1000000.0)).alias(
            "var_value"
        ),
        (F.expr(std_u).cast("double") / F.lit(1000000.0)).alias("std_value"),
    )


def _bm25_search(spark, sf_dir):
    """BM25 top-20 for a 3-term query: per-term partials are fixed
    IEEE expression trees over exact integers, quantized to micro
    units before the per-document sum so the fold is order-free; the
    oracle replays idf, saturation, length normalization and ranking."""
    from google_vision_ocr_spark.operators.tfidf import bm25_search

    return bm25_search(
        _t(spark, sf_dir, "documents"), ["data", "fast", "order"], k=20
    )


def _events_histogram(spark, sf_dir):
    """Exact equi-depth histogram of event values (10 bins) — CBO-style
    distribution statistics computed entirely in integers: quantize to
    cents, count per distinct value, exclusive running count, and the
    closed-form bin assignment (cum_prev*bins) div n.  No percentile
    interpolation, so no float edge for two engines to disagree on."""
    from google_vision_ocr_spark.operators.profile import equi_depth_histogram

    return equi_depth_histogram(_t(spark, sf_dir, "events"), "value", bins=10)


def _zorder_keys(spark, sf_dir):
    """Z-order layout keys over (user_id, value-cents): the Morton
    interleave that clusters rows close in BOTH dimensions for
    row-group pruning.  Pure int64 shift/mask projection; the oracle
    is generated from the same helper so engine and oracle can't
    drift."""
    from google_vision_ocr_spark.functions.zorder import morton2

    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return e.select(
        "event_id",
        morton2(F.col("user_id"), cents, bits=16).alias("zkey"),
    )


def _fuzzy_vocab_pairs(spark, sf_dir):
    """SymSpell deletion-neighborhood fuzzy matching with PLANTED
    typos: the corpus vocabulary alone has no Levenshtein-1 pairs
    (checked — the query would be vacuous), so every doc_id%37
    document contributes its first word with the 2nd character
    dropped, and the operator must recover exactly those planted
    (word, typo) pairs.  The oracle replays the typo derivation, the
    blocking, and the distance check."""
    from google_vision_ocr_spark.operators.fuzzy import fuzzy_word_pairs

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.explode(F.expr(_replayable.tokens_sql("text"))).alias("word")
    )
    first = F.element_at(F.expr(_replayable.tokens_sql("text")), 1)
    typos = (
        d.filter(F.col("doc_id") % 37 == 0)
        .select(first.alias("w0"))
        .filter(F.length("w0") >= 3)
        .select(
            F.concat(F.expr("substring(w0, 1, 1)"), F.expr("substring(w0, 3)"))
            .alias("word")
        )
    )
    return fuzzy_word_pairs(base.union(typos))


def _duplicate_windows(spark, sf_dir):
    """Substring-level dedup signal (Lee et al. 2022 at the 20-token
    grain): every doc_id%11 document gets a 22-token per-language
    boilerplate appended, so its 3 fully-interior windows are
    duplicated across every planted same-language document while the
    boundary-spanning windows stay unique.  The oracle replays window
    enumeration, hashing, and the distinct-document count."""
    from google_vision_ocr_spark.operators.dedup import duplicate_token_windows

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" please subscribe to our "),
                F.col("lang"),
                F.lit(
                    " newsletter for daily updates and exclusive content"
                    " delivered straight to your inbox every single"
                    " morning without fail"
                ),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return duplicate_token_windows(d, window=20)


def _events_anomalies(spark, sf_dir):
    """Data-quality anomaly detection: flag events whose value sits
    more than 3σ from its event-type mean.  The test is derived
    entirely from exact integer cent moments — the comparison
    (c·n − s1)²·(n−1) > 9·n·(n·s2 − s1²) is evaluated EXACTLY in
    DECIMAL(38,0) (HUGEINT on the oracle side), so the boundary is
    bit-deterministic with no float cast at all.  One pass for
    moments (broadcast back), one scan-side filter."""
    e = _t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("bigint")
    m = (
        e.select(F.col("event_type"), c.alias("__c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__c").alias("__s1"),
            F.sum(F.col("__c") * F.col("__c")).alias("__s2"),
        )
    )
    j = e.select("event_id", "event_type", "value", c.alias("__c")).join(
        F.broadcast(m), "event_type"
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    dev = dec.format("__c * __n - __s1")
    lhs = f"{dev} * {dev} * {dec.format('__n - 1')}"
    rhs = (
        f"9 * {dec.format('__n')}"
        f" * {dec.format('__n * __s2 - __s1 * __s1')}"
    )
    return j.filter(F.expr(f"{lhs} > {rhs}")).select(
        "event_id", "event_type", "value"
    )


def _jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss 64→16 projection with a deterministic ±1
    sign matrix and a left-fold dot product — the dimensionality
    reduction step ahead of ANN, exploded to (vec_id, dim, value) rows
    so the typed-hash gate can check every coordinate."""
    from google_vision_ocr_spark.operators.similarity import random_projection

    p = random_projection(_t(spark, sf_dir, "embeddings"), out_dim=16)
    return p.select(
        "vec_id", F.posexplode("proj").alias("dim", "__v")
    ).select("vec_id", "dim", F.round("__v", 6).alias("proj_value"))


def _set_intersect_except(spark, sf_dir):
    """The two set operators not yet under the gate: English documents
    INTERSECT longer-than-median documents (n_chars > 300), EXCEPT
    anything from src0 — Spark intersect/exceptAll against DuckDB's
    native INTERSECT/EXCEPT, at the doc grain with thresholds chosen
    against the data so every set genuinely eliminates rows (n_chars
    spans 48-553; an earlier >1000 cut made the result empty — the
    vacuousness audit again)."""
    d = _t(spark, sf_dir, "documents")
    en = d.filter(F.col("lang") == "en").select("doc_id")
    long_ = d.filter(F.col("n_chars") > 300).select("doc_id")
    src0 = d.filter(F.col("source") == "src0").select("doc_id")
    return en.intersect(long_).exceptAll(src0)


def _session_window_builtin(spark, sf_dir):
    """Spark's built-in session_window aggregation (the declarative
    twin of the applyInPandasWithState sessionizer already under the
    gate): 30-minute-gap sessions per user, counted in one groupBy.
    The oracle replays the gap rule as gaps-and-islands SQL — start =
    min(ts), end = max(ts) + gap — in epoch micros."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start").cast("timestamp"))
            .alias("session_start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp"))
            .alias("session_end_us"),
            "n_events",
        )
    )


def _events_cube(spark, sf_dir):
    """CUBE over (event_type, week): all four grouping sets — rollup's
    missing sibling (it skips the per-week-across-types slice).  Same
    'ALL' + grouping-id hygiene as events_rollup, integer-cents sums."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    cubed = (
        e.withColumn("week", (F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ) / 7).cast("bigint"))
        .withColumn("__c", cents)
        .cube("event_type", "week")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("__c").cast("double") / F.lit(100.0)).alias("sum_value"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )
    return cubed.select(
        F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
        F.coalesce(F.col("week").cast("string"), F.lit("ALL")).alias("week"),
        "n_events", "sum_value", "gid",
    )


def _weighted_median(spark, sf_dir):
    """Custom aggregation through the GROUPED_AGG pandas-UDF surface:
    exact lower weighted median of event values per type, with
    deterministic integer weights (1 + event_id%5).  The oracle
    replays the rule in pure SQL (value-grain weight sums + running
    total + min-where-2cum>=total), so the Arrow UDAF path itself is
    hash-checked."""
    from google_vision_ocr_spark.operators.udaf import weighted_median_by

    e = _t(spark, sf_dir, "events").select(
        "event_type", "value",
        (F.lit(1) + F.col("event_id") % 5).cast("bigint").alias("wt"),
    )
    return weighted_median_by(e, "event_type", "value", "wt")


def _bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training, first 4 merges: one
    corpus-scale word-frequency pass, then dictionary-scale pair-count
    rounds (each a map-side-combinable agg + 1-row collect, the k-means
    driver-loop shape).  Merge symbols are private-use chars so greedy
    merge application IS string replace — identical in both engines —
    and the oracle unrolls all four rounds in one SQL statement."""
    from google_vision_ocr_spark.operators.bpe import bpe_train_merges

    return bpe_train_merges(_t(spark, sf_dir, "documents"), n_merges=4)


def _inverted_postings(spark, sf_dir):
    """Inverted-index build over the documents table with planted
    keyword terms (kw{doc_id%37} / kw{doc_id%23}) so the df spectrum is
    realistic: ~38 indexable terms between the thresholds and ~30
    stopword-grade terms the max_df cap excludes — demonstrating the
    bounded-postings shape (no stopword list ever materializes in one
    task).  Postings serialize as a comma-joined ascending id string,
    byte-stable across engines."""
    from google_vision_ocr_spark.operators.indexing import inverted_postings

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" kw"), (F.col("doc_id") % 37).cast("string"),
            F.lit(" kw"), (F.col("doc_id") % 23).cast("string"),
        ).alias("text"),
    )
    return inverted_postings(d, min_df=2, max_df=300)


def _postings_segment_merge(spark, sf_dir):
    """Incremental index maintenance, pinned by algebra: build postings
    over two disjoint document segments, merge them (full-outer on
    term, bounded list concat), then apply the df band — and the oracle
    is simply the FULL build's SQL, so the gate proves
    merge(build(A), build(B)) == build(A ∪ B) hash-exactly."""
    from google_vision_ocr_spark.operators.indexing import (
        inverted_postings,
        merge_postings,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" kw"), (F.col("doc_id") % 37).cast("string"),
            F.lit(" kw"), (F.col("doc_id") % 23).cast("string"),
        ).alias("text"),
    )
    seg_a = inverted_postings(d.filter(F.col("doc_id") < 250),
                              min_df=1, max_df=2**62)
    seg_b = inverted_postings(d.filter(F.col("doc_id") >= 250),
                              min_df=1, max_df=2**62)
    merged = merge_postings(seg_a, seg_b)
    return merged.filter((F.col("df") >= 2) & (F.col("df") <= 300))


def _quality_classifier(spark, sf_dir):
    """Hashed-linear quality classifier — the model-based filter gate
    (DCLM/FineWeb-Edu shape): tokens hash into weight buckets, the
    document score is the weight sum, evaluated entirely inside the
    scan's project (zero shuffle, plan-asserted).  Weights are a
    deterministic stand-in replayed bit-for-bit by the oracle; a real
    trained model rides the broadcast weight-table path, pinned equal
    to this one in tests/test_classifier.py."""
    from google_vision_ocr_spark.operators.classifier import score_hashed_linear

    return score_hashed_linear(_t(spark, sf_dir, "documents"))


def _shingle_novelty(spark, sf_dir):
    """Inter-document novelty with planted boilerplate: ~40% of docs
    get one of two 10-word banners appended, so their 8-shingle sets
    overlap corpus-wide and novelty drops below 1.0 — falsifiable in
    both directions (clean docs must stay fully novel).  The novelty
    ratio is one IEEE division of identical ints; no rounding."""
    from google_vision_ocr_spark.operators.dedup import shingle_novelty

    d = _t(spark, sf_dir, "documents")
    b0 = "please accept cookies to continue reading this free article today"
    b1 = "subscribe to our newsletter for daily updates delivered every morning"
    banner = F.when(F.col("doc_id") % 2 == 0, F.lit(b0)).otherwise(F.lit(b1))
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 < 2,
            F.concat(F.col("text"), F.lit(" "), banner),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return shingle_novelty(planted, k=8)


def _bpe_encoded_tokens(spark, sf_dir):
    """Train 4 BPE merges on the corpus, then encode every document —
    the end-to-end tokenizer lifecycle under one hash gate.  Encoding
    is a scan-side fold (the learned merges are literal replaces inside
    one projection, zero shuffle); the oracle extends the unrolled
    training replay with the same replace chain applied per word."""
    from google_vision_ocr_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        word_frequencies,
    )

    d = _t(spark, sf_dir, "documents")
    merges, _ = bpe_train(word_frequencies(d), n_merges=4)
    return bpe_encode(d, merges).select(
        "doc_id", F.col("bpe_tokens").cast("bigint").alias("bpe_tokens")
    )


def _quality_classifier_bigrams(spark, sf_dir):
    """The classifier with fastText word-bigram features: adjacent word
    pairs hash into the same bucket space as unigrams; n_tokens counts
    features.  Still a zero-shuffle scan-side expression."""
    from google_vision_ocr_spark.operators.classifier import score_hashed_linear

    return score_hashed_linear(
        _t(spark, sf_dir, "documents"), word_bigrams=True
    )


def _ann_projected(spark, sf_dir):
    """ANN in JL-projected space: project corpus and query 64→16, then
    brute-force cosine top-10 over the 16-d vectors — the JL end-use
    (4× cheaper per comparison).  Projection and left-fold dot product
    are both bit-exact cross-engine, scores round to 6 dp BEFORE
    ranking with id tie-breaks, and the oracle replays projection,
    cosine, and ranking in full."""
    from google_vision_ocr_spark.operators.similarity import (
        DOT_EXPR,
        random_projection,
    )

    p = random_projection(_t(spark, sf_dir, "embeddings"), out_dim=16)
    q = p.filter(F.col("vec_id") == 0).select(F.col("proj").alias("qv"))
    dot = DOT_EXPR.format(a="proj", b="qv")
    na = DOT_EXPR.format(a="proj", b="proj")
    nb = DOT_EXPR.format(a="qv", b="qv")
    scored = (
        p.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(F.expr(f"({dot}) / (sqrt({na}) * sqrt({nb}))"), 6)
            .alias("cos_sim"),
        )
    )
    return (
        scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
        .select(
            "vec_id",
            F.row_number().over(
                Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
            ).alias("rank"),
            "cos_sim",
        )
    )


def _tier_extraction(spark, sf_dir):
    """THE composite this engine exists for — web-corpus tier
    extraction in one declarative plan: near-dup keep-one (3-shingle
    Jaccard pairs -> connected components -> anti-join the cluster
    losers), per-document quality scoring, and fixed-point host
    PageRank authority, joined and classified into head/mid/tail
    tiers.  Every stage reuses an already-hash-gated operator, and the
    oracle replays the ENTIRE composite — dedup reachability
    (recursive CTE), the quality formula, all three PageRank rounds,
    and the tier CASE — in a single SQL statement."""
    from google_vision_ocr_spark.functions.text import with_text_metrics
    from google_vision_ocr_spark.operators.components import connected_components
    from google_vision_ocr_spark.operators.dedup import ngram_jaccard_pairs
    from google_vision_ocr_spark.operators.pagerank import pagerank_fixed_point

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.5).select("id_a", "id_b")
    losers = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )

    sparse = d.filter(F.col("doc_id") % 7 == 0)
    dst = F.concat(
        F.lit("src"),
        (F.expr("(doc_id div 20) * 13 + doc_id * 3 + 5") % 20).cast("string"),
    )
    edges = sparse.select(F.col("source").alias("src"), dst.alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    pr = pagerank_fixed_point(edges, iterations=3).withColumnRenamed(
        "node", "source"
    )
    scored = (
        with_text_metrics(d.join(losers, "doc_id", "left_anti"))
        .select("doc_id", "lang", "source", "quality")
        .join(F.broadcast(pr), "source")
    )
    tier = (
        F.when(
            (F.col("quality") >= 0.6) & (F.col("rank") > 50000000000),
            F.lit("head"),
        )
        .when(F.col("quality") >= 0.6, F.lit("mid"))
        .otherwise(F.lit("tail"))
    )
    return scored.select(
        "doc_id", "lang", "source", "quality",
        F.col("rank").alias("host_rank_fp"), tier.alias("tier"),
    )


# The driver's CORRECTNESS sweep hashes only the FIRST 50 entries of
# queries().  STEADY-STATE ROTATION POLICY (SURVEY §8, VERDICT r5 #6):
# slots 1-9 pin the flagship + one representative per SURVEY §2
# family; slots 10-50 are filled each round by (a) entries with no
# hash evidence yet, then (b) entries whose code changed this round,
# then (c) the OLDEST-EVIDENCE entries (the round whose window last
# hash-checked them, ascending; alphabetical within a round for
# determinism) — so any drift is re-caught within ~2 rounds (127
# oracled − 9 pinned = 118 rotating / 41 slots ≈ 2.9 rounds worst
# case, less in practice because changed code jumps the queue).
# The dict literal below keeps family grouping for readability;
# _DRIVER_WINDOW defines the actual order.
_DRIVER_WINDOW = [
    # slots 1-9: pinned flagship + §2 family representatives
    "extract_documents_flagship",
    "f1_filter_project",
    "j2_semi_join",
    "a1_group_concat_framed",
    "w1_gaps_islands",
    "o2_topk_per_lang",
    "set_union_dedup",
    "t6_templating",
    "events_sessionize",
    # r7 window (policy above, executed per VERDICT r6 #2): no
    # never-checked entries remain, so slots 10-50 are (b) changed-code
    # this round, then (c) oldest evidence ascending, alphabetical
    # within a round — the full r3-age set first, then the
    # alphabetically-first 25 of the r4-age set.
    # slots 10-13: code changed this round (r7 optimization:
    # replayable-minhash bucket pair-gen + fan-out, cosine fan-out,
    # tokenizer fan-out, q1 floor-cents)
    "dedup_minhash_lsh",
    "ann_bruteforce_cosine",
    "text_token_counts",
    "tpch_q1_pricing_summary",
    # slots 14-23: oldest evidence — last hash-green in the r3 window
    "paragraph_dedup",
    "pii_redaction",
    "quality_scores",
    "repetition_metrics",
    "t8_id_derivation",
    "text_quality_punct",
    "text_tokens_bpe",
    "tpch_q3_shipping_priority",
    "tpch_q6_revenue_filter",
    "url_host_stats",
    # slots 24-50: next-oldest (last hash-green in the r4 window,
    # alphabetical; the rest of the r4 set + the r5 set rotate in r8)
    "ann_ivf_pruned_probe",
    "asof_purchase_view",
    "bpe_encoded_tokens",
    "bpe_train_merges",
    "cms_heavy_hitters",
    "cms_segment_merge",
    "decontamination_bloom",
    "dedup_clusters",
    "dedup_keep_one",
    "distinct_words_linear_counting",
    "events_value_anomalies",
    "host_pagerank",
    "host_triangles",
    "inverted_postings",
    "postings_segment_merge",
    "quality_classifier_bigrams",
    "quality_classifier_scores",
    "scd2_user_state",
    "snapshot_diff_cdc",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_priority_classes",
    "tpch_q13_order_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_part_supplier_counts",
    "tpch_q17_small_quantity",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        "extract_documents_flagship": _flagship,
        "f1_filter_project": _f1_filter,
        "j2_semi_join": _j2_semi_join,
        "a1_group_concat_framed": _a1_group_concat,
        "w1_gaps_islands": _w1_gaps_islands,
        "o2_topk_per_lang": _o2_topk_per_lang,
        "set_union_dedup": _set_union_dedup,
        "t6_templating": _t6_templating,
        "events_sessionize": _events_sessionize,
        "merge_upsert_snapshot": _merge_upsert_snapshot,
        "tfidf_top_terms": _tfidf_top_terms,
        "bm25_search": _bm25_search,
        "fuzzy_vocab_pairs": _fuzzy_vocab_pairs,
        "duplicate_token_windows": _duplicate_windows,
        "events_rollup": _events_rollup,
        "retention_cohorts": _retention_cohorts,
        "kmeans_assignments": _kmeans_assignments,
        "top_words_per_lang": _top_words_per_lang,
        "url_domain_stats_psl": _url_domain_stats_psl,
        "events_interval_join": _events_interval_join,
        "events_pivot_daily": _events_pivot_daily,
        "events_funnel": _events_funnel,
        "events_daily_distinct": _events_daily_distinct,
        "events_user_lag": _events_user_lag,
        "events_props_json": _events_props_json,
        "token_chunks": _token_chunks,
        "target_mix_resample": _target_mix_resample,
        "profile_documents": _profile_documents,
        "events_rolling_7d": _events_rolling_7d,
        "events_equidepth_histogram": _events_histogram,
        "zorder_keys": _zorder_keys,
        "jl_projection": _jl_projection,
        "set_intersect_except": _set_intersect_except,
        "events_weighted_median": _weighted_median,
        "events_cube_weekly": _events_cube,
        "events_session_window": _session_window_builtin,
        "ann_projected_cosine": _ann_projected,
        "shingle_novelty": _shingle_novelty,
        "contamination_fraction": _contamination_fraction,
        "normalized_text": _normalized_text,
        "domain_blocklist_filter": _domain_blocklist_filter,
        "quantile_sketch": _quantile_sketch,
        "quantile_sketch_merge": _quantile_sketch_merge,
        "events_first_crossing": _events_first_crossing,
        "ann_lsh_pruned_multiprobe": _ann_lsh_pruned_multiprobe,
        "w2_row_number": _w2_row_number,
        "events_value_quantiles": _events_quantiles,
        "a3_counts": _a3_counts,
        "events_value_moments": _events_moments,
        "tier_extraction": _tier_extraction,
        # --- outside the window: all driver-checked in rounds 1-4
        # (union of CORRECTNESS_r01-r04 windows) and continuously
        # re-verified by the local gate at sf0.001/0.01/0.1 ----------
        "tpch_q2_min_cost_supplier": _tpch_q2,
        "tpch_q9_product_profit": _tpch_q9,
        "tpch_q11_important_stock": _tpch_q11,
        "tpch_q15_top_supplier": _tpch_q15,
        "tpch_q16_part_supplier_counts": _tpch_q16,
        "tpch_q20_excess_stock": _tpch_q20,
        "tpch_q21_waiting_suppliers": _tpch_q21,
        "ann_ivf_pruned_probe": _ann_ivf_pruned,
        "cms_heavy_hitters": _cms_heavy_hitters,
        "host_triangles": _host_triangles,
        "decontamination_bloom": _decontamination_bloom,
        "cms_segment_merge": _cms_segment_merge,
        "distinct_words_linear_counting": _distinct_words_linear_counting,
        "bpe_train_merges": _bpe_merges,
        "bpe_encoded_tokens": _bpe_encoded_tokens,
        "inverted_postings": _inverted_postings,
        "postings_segment_merge": _postings_segment_merge,
        "quality_classifier_scores": _quality_classifier,
        "quality_classifier_bigrams": _quality_classifier_bigrams,
        "host_pagerank": _host_pagerank,
        "warc_roundtrip": _warc_roundtrip,
        "tpch_q4_priority_count": _tpch_q4,
        "tpch_q5_local_supplier": _tpch_q5,
        "tpch_q7_two_nation_volume": _tpch_q7,
        "tpch_q8_market_share": _tpch_q8,
        "tpch_q10_returned_items": _tpch_q10,
        "tpch_q12_priority_classes": _tpch_q12,
        "tpch_q13_order_distribution": _tpch_q13,
        "tpch_q14_promo_revenue": _tpch_q14,
        "tpch_q17_small_quantity": _tpch_q17,
        "tpch_q18_large_orders": _tpch_q18,
        "tpch_q19_disjunctive_revenue": _tpch_q19,
        "tpch_q22_sales_opportunity": _tpch_q22,
        "dedup_clusters": _dedup_clusters,
        "dedup_keep_one": _dedup_keep_one,
        "asof_purchase_view": _asof_purchase_view,
        "scd2_user_state": _scd2_user_state,
        "snapshot_diff_cdc": _snapshot_diff_cdc,
        "events_value_anomalies": _events_anomalies,
        "f7_tagged_projection": _f7_tagged_projection,
        "j1_equi_join": _j1_equi_join,
        "j3_anti_join": _j3_anti_join,
        "a2_merged_chapters": _a2_merged_chapters,
        "t8_id_derivation": _t8_id_derivation,
        "text_token_counts": _text_token_counts,
        "text_quality_punct": _text_quality_punct,
        "dedup_exact": _dedup_exact,
        "events_hourly": _events_hourly,
        "ann_bruteforce_cosine": _ann_bruteforce,
        "ann_lsh_planted": _ann_lsh_planted,
        "ann_ivf_cosine": _ann_ivf,
        "dedup_ngram_jaccard": _ngram_jaccard,
        "dedup_minhash_containment": _minhash_containment,
        "dedup_simhash_containment": _simhash_containment,
        "embedding_near_dups_exact": _embedding_near_dups_exact,
        "lang_id_heuristic": _lang_id,
        "quality_scores": _quality_scores,
        "paragraph_dedup": _paragraph_dedup,
        "lm_unigram_scores": _lm_unigram_scores,
        "pack_shards_manifest": _pack_shards_manifest,
        "url_host_stats": _url_host_stats,
        "tpch_q1_pricing_summary": _tpch_q1,
        "tpch_q3_shipping_priority": _tpch_q3,
        "tpch_q6_revenue_filter": _tpch_q6,
        "text_tokens_bpe": _text_tokens_bpe,
        "doc_fingerprints": _fingerprints,
        "image_metadata": _image_metadata,
        "corpus_split": _corpus_split,
        "repetition_metrics": _repetition_metrics,
        "gopher_ngram_metrics": _gopher_ngram_metrics,
        "semdedup_keep": _semdedup_keep,
        "c4_line_filter": _c4_line_filter,
        "dsir_selection": _dsir_selection,
        "justext_extraction": _justext_extraction,
        "boilerpipe_extraction": _boilerpipe_extraction,
        "ccnet_perplexity_buckets": _ccnet_buckets,
        "surt_url_dedup": _surt_url_dedup,
        "link_graph_extraction": _link_graph_extraction,
        "refinedweb_corrections": _refinedweb_corrections,
        "page_directives": _page_directives,
        "pii_redaction": _pii_redaction,
        "decontamination": _decontamination,
        "embedding_near_dups": _embedding_near_dups,
        "curate_documents": _curate_documents,
        # --- replayable LSH (r6: full oracles, no longer rows-only) --
        "ann_lsh_cosine": _ann_lsh,
        "dedup_minhash_lsh": _minhash_pairs,
        "dedup_simhash": _simhash_pairs,
        "lsh_bucket_histogram": _lsh_bucket_histogram,

    }
    ordered = {k: base.pop(k) for k in _DRIVER_WINDOW}
    ordered.update(base)
    return ordered


# --- DuckDB twins of the text metrics (functions/text.py holds both
# engines' forms; the Spark side is with_text_metrics)
from google_vision_ocr_spark.functions.text import (  # noqa: E402
    _LANG_CASE_SQL,
    _QUALITY_CASE_SQL,
    _TOKEN_STATS_SQL,
    _lang_scores_sql,
    _quality_feature_sql,
)


def _lang_id_oracle() -> str:
    return f"""
            WITH s AS (
                SELECT doc_id, lang, lower(substr(coalesce(text,''),1,4000)) AS t
                FROM documents
            ), sc AS (
                SELECT doc_id, lang, t,
                   {_lang_scores_sql('t')}
                FROM s
            )
            SELECT doc_id, lang,
              {_LANG_CASE_SQL.format(t='t')} AS lang_guess
            FROM sc
        """


def _quality_oracle() -> str:
    return f"""
            WITH d AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
            feat AS (
                SELECT doc_id, {_quality_feature_sql('t')}
                FROM d
            ), f2 AS (
                SELECT doc_id, n_chars, punct, non_space, alnum,
                {_TOKEN_STATS_SQL}
                FROM feat
            )
            SELECT doc_id, {_QUALITY_CASE_SQL} AS quality
            FROM f2
        """


def _fingerprint_oracle() -> str:
    """Polynomial rolling hash over UTF-8 bytes, mod 2^64, folded with
    HUGEINT arithmetic (bytes recovered from the hex-encoded blob)."""
    return """
            WITH d AS (SELECT doc_id, hex(encode(coalesce(text,''))) AS hx
                       FROM documents),
            b AS (
                SELECT doc_id,
                    list_transform(generate_series(1, length(hx)//2),
                      i -> CAST((strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)*16
                              + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1) AS HUGEINT)) AS bytes
                FROM d
            )
            SELECT doc_id,
              lower(lpad(hex(CAST(list_reduce(
                  list_prepend(CAST(1469598103934665603 AS HUGEINT), bytes),
                  (h, x) -> (h * 1000003 + x) % CAST(18446744073709551616 AS HUGEINT)
              ) AS UBIGINT)), 16, '0')) AS fingerprint
            FROM b
        """


def _curate_oracle() -> str:
    """The whole curation funnel in SQL: extraction (framed 500-char
    chunks) → frame-strip → metrics → quality/token gates → exact dedup
    (min url per text) → near-dup removal.  Near-dups use exact shingle
    Jaccard >= 0.8 where Spark uses the 64-perm replayable MinHash
    estimate (md5-fold shingle hashes, banded candidates); on the
    planted near-dups (true J ~ 0.97) the two are identical."""
    return f"""
            WITH pages AS (
                SELECT source, doc_id, text AS orig,
                       unnest(generate_series(
                           1, greatest(1, cast(ceil(length(text)/500.0) AS bigint)))) AS p
                FROM documents
            ), extracted AS (
                SELECT 'doc://' || source || '/' || doc_id AS url,
                       string_agg(chr(10) || '--- Page ' || p || ' ---' || chr(10)
                                  || substr(orig,(p-1)*500+1,500) || chr(10) || chr(10),
                                  '' ORDER BY p) AS text
                FROM pages GROUP BY 1
            ), metric AS (
                SELECT url, text,
                       regexp_replace(text, chr(10) || '--- Page [0-9]+ ---' || chr(10),
                                      chr(10), 'g') AS mt
                FROM extracted
            ), feat AS (
                SELECT url, text, lower(substr(mt,1,4000)) AS lt,
                {_quality_feature_sql('mt')}
                FROM metric
            ), f2 AS (
                SELECT url, text, lt, n_chars, punct, non_space, alnum,
                       cast(len(toks) AS bigint) AS ws_tokens,
                {_TOKEN_STATS_SQL},
                   {_lang_scores_sql('lt')}
                FROM feat
            ), scored AS (
                SELECT url, text, ws_tokens,
                  {_QUALITY_CASE_SQL} AS quality,
                  {_LANG_CASE_SQL.format(t='lt')} AS lang_guess
                FROM f2
            ), gated AS (
                SELECT * FROM scored WHERE quality >= 0.2 AND ws_tokens >= 5
            ), deduped AS (
                SELECT * FROM gated QUALIFY url = min(url) OVER (PARTITION BY text)
            ), toks2 AS (
                SELECT url, list_filter(string_split_regex(lower(text), '\\s+'),
                                        t -> t <> '') AS w
                FROM deduped
            ), sh AS (
                SELECT url,
                  CASE WHEN len(w) = 0 THEN ['']
                       WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_distinct(list_transform(generate_series(1, len(w)-2),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS s
                FROM toks2
            ), ex AS (SELECT url, unnest(s) AS shingle, len(s) AS n FROM sh
            ), losers AS (
                SELECT DISTINCT greatest(a.url, b.url) AS url
                FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.url < b.url
                GROUP BY a.url, b.url, a.n, b.n
                HAVING 1000000 * count(*) >= 800000 * (a.n + b.n - count(*))
            )
            SELECT url, ws_tokens, lang_guess, quality
            FROM deduped WHERE url NOT IN (SELECT url FROM losers)
        """


def _exact_jaccard_oracle(threshold: float) -> str:
    """Exact word-3-shingle Jaccard pairs >= threshold over documents.
    Threshold compare and the reported 6-dp jaccard are both integer-
    exact (ppm compare + half-up ratio) — no double round at a tie."""
    from google_vision_ocr_spark.functions.exact import ppm

    t_ppm = ppm(threshold)
    return rf"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '') AS w
                FROM documents
            ), sh AS (
                SELECT doc_id,
                  CASE WHEN len(w) = 0 THEN ['']
                       WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_distinct(list_transform(
                            generate_series(1, len(w)-2),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS s
                FROM toks
            ), ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   {_halfup_ratio_sql("count(*)", "a.n + b.n - count(*)", 6)}
                       AS jaccard
            FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.n, b.n
            HAVING 1000000 * count(*) >= {t_ppm} * (a.n + b.n - count(*))
        """


def _tier_oracle_sql() -> str:
    """The whole tier-extraction composite in one SQL statement:
    near-dup keep-one (3-shingle Jaccard >= 0.5 -> recursive
    reachability), the quality-heuristic mirror, and the 3-iteration
    fixed-point host PageRank, joined and classified into tiers."""
    return f"""
            WITH RECURSIVE toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS w
                FROM documents
            ), sh AS (
                SELECT doc_id,
                  CASE WHEN len(w) = 0 THEN ['']
                       WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_distinct(list_transform(
                            generate_series(1, len(w)-2),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS s
                FROM toks
            ), ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
            jpairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id, a.n, b.n
                HAVING 1000000 * count(*) >= 500000 * (a.n + b.n - count(*))
            ), uedges AS (
                SELECT id_a AS u, id_b AS v FROM jpairs
                UNION SELECT id_b, id_a FROM jpairs
            ), reach AS (
                SELECT u AS node, v AS r FROM uedges
                UNION
                SELECT e.u, r.r FROM uedges e JOIN reach r ON e.v = r.node
            ), losers AS (
                SELECT node FROM reach GROUP BY node
                HAVING least(node, min(r)) <> node
            ), dq AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
            feat AS (
                SELECT doc_id, {_quality_feature_sql('t')}
                FROM dq
            ), f2 AS (
                SELECT doc_id, n_chars, punct, non_space, alnum,
                {_TOKEN_STATS_SQL}
                FROM feat
            ), q AS (
                SELECT doc_id, {_QUALITY_CASE_SQL} AS quality
                FROM f2
            ), hedges AS (
                SELECT DISTINCT source AS src,
                       'src' || CAST(((doc_id // 20) * 13 + doc_id * 3 + 5)
                                     % 20 AS VARCHAR) AS dst
                FROM documents
                WHERE doc_id % 7 = 0
                  AND source <> 'src'
                      || CAST(((doc_id // 20) * 13 + doc_id * 3 + 5)
                              % 20 AS VARCHAR)
            ),
            -- NOT "a UNION b": inside a WITH RECURSIVE clause DuckDB
            -- treats ANY top-level UNION as the recursive base/step
            -- operator and skips the dedup (hnodes came back 134 rows
            -- for 20 nodes, multiplying every rank downstream)
            hnodes AS (SELECT DISTINCT node FROM (
                           SELECT src AS node FROM hedges
                           UNION ALL SELECT dst FROM hedges)),
            hn AS (SELECT count(*) AS n FROM hnodes),
            hdeg AS (SELECT src, count(*) AS deg FROM hedges GROUP BY src),
            prb AS (
                SELECT node,
                       15000000000000 // (100 * n) AS t,
                       1000000000000 // n AS r
                FROM hnodes CROSS JOIN hn
            ),
            pr1 AS (
                SELECT b.node, b.t,
                       b.t + (85 * coalesce(f.inflow, 0)) // 100 AS r
                FROM prb b LEFT JOIN (
                    SELECT e.dst AS node, sum(p.r // d.deg) AS inflow
                    FROM hedges e
                    JOIN prb p ON p.node = e.src
                    JOIN hdeg d ON d.src = e.src
                    GROUP BY e.dst) f ON f.node = b.node
            ),
            pr2 AS (
                SELECT b.node, b.t,
                       b.t + (85 * coalesce(f.inflow, 0)) // 100 AS r
                FROM prb b LEFT JOIN (
                    SELECT e.dst AS node, sum(p.r // d.deg) AS inflow
                    FROM hedges e
                    JOIN pr1 p ON p.node = e.src
                    JOIN hdeg d ON d.src = e.src
                    GROUP BY e.dst) f ON f.node = b.node
            ),
            pr3 AS (
                SELECT b.node, b.t,
                       b.t + (85 * coalesce(f.inflow, 0)) // 100 AS r
                FROM prb b LEFT JOIN (
                    SELECT e.dst AS node, sum(p.r // d.deg) AS inflow
                    FROM hedges e
                    JOIN pr2 p ON p.node = e.src
                    JOIN hdeg d ON d.src = e.src
                    GROUP BY e.dst) f ON f.node = b.node
            )
            SELECT d.doc_id, d.lang, d.source, q.quality,
                   CAST(pr3.r AS BIGINT) AS host_rank_fp,
                   CASE WHEN q.quality >= 0.6 AND pr3.r > 50000000000
                        THEN 'head'
                        WHEN q.quality >= 0.6 THEN 'mid'
                        ELSE 'tail' END AS tier
            FROM documents d
            JOIN q USING (doc_id)
            JOIN pr3 ON pr3.node = d.source
            WHERE d.doc_id NOT IN (SELECT node FROM losers)
        """


def _zorder_oracle_sql() -> str:
    from google_vision_ocr_spark.functions.zorder import morton2_sql

    z = morton2_sql("user_id", "CAST(round(value * 100) AS BIGINT)", bits=16)
    return f"SELECT event_id, CAST({z} AS BIGINT) AS zkey FROM events"


# brute-force cosine truth over the planted-neighbor frame (shared by
# ann_lsh_planted and ann_lsh_pruned_multiprobe)
_PLANTED_LSH_SQL = """
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), planted AS (
        SELECT 200000 + j AS vec_id,
               list_transform(generate_series(1, len(embedding)),
                   i -> CAST(embedding[i] AS DOUBLE)
                        + 0.001 * j * ((i * 37) % 11 - 5)) AS v
        FROM embeddings CROSS JOIN generate_series(1, 10) AS t(j)
        WHERE vec_id = 0
    ), allv AS (
        SELECT * FROM base UNION ALL SELECT * FROM planted
    ), q AS (SELECT v AS qv FROM allv WHERE vec_id = 0)
    SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS cos_sim
    FROM allv, q
    WHERE vec_id <> 0
    ORDER BY list_cosine_similarity(v, qv) DESC, vec_id
    LIMIT 10
"""


# DuckDB replay of the full quantile-sketch build + CDF-walk estimate
# (operators/sketch.py::quantile_sketch_*): cents → signed (octave,
# 1/32-octave) bucket code, per-key counts, cumulative walk to the
# (p·(n−1)) div 100 + 1 rank, answer = bucket lower bound.  Shared by
# quantile_sketch AND quantile_sketch_merge — merge==rebuild is the
# hash-gate claim itself.
_QSKETCH_SQL = """
    WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL
    ), b AS (
        SELECT event_type,
               CASE WHEN c = 0 THEN CAST(0 AS BIGINT)
                    WHEN c > 0 THEN CAST(length(bin(c)) * 64
                         + (c >> greatest(length(bin(c)) - 6, 0)) AS BIGINT)
                    ELSE -CAST(length(bin(-c)) * 64
                         + ((-c) >> greatest(length(bin(-c)) - 6, 0))
                         AS BIGINT)
               END AS bucket
        FROM c
    ), s AS (
        SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY event_type, bucket
    ), w AS (
        SELECT event_type, bucket,
               CAST(sum(cnt) OVER (PARTITION BY event_type
                                   ORDER BY bucket) AS BIGINT) AS cum,
               CAST(sum(cnt) OVER (PARTITION BY event_type)
                    AS BIGINT) AS tot
        FROM s
    ), k AS (
        SELECT event_type,
               CAST(max(tot) AS BIGINT) AS n_events,
               min(bucket) FILTER (
                   WHERE cum >= (50 * (tot - 1)) // 100 + 1) AS k50,
               min(bucket) FILTER (
                   WHERE cum >= (95 * (tot - 1)) // 100 + 1) AS k95
        FROM w GROUP BY event_type
    )
    SELECT event_type,
           CAST(CASE WHEN k50 = 0 THEN 0
                     ELSE (CASE WHEN k50 < 0 THEN -1 ELSE 1 END)
                          * ((abs(k50) % 64)
                             << greatest((abs(k50) // 64) - 6, 0)) END
                AS DOUBLE) / 100.0 AS p50_est,
           CAST(CASE WHEN k95 = 0 THEN 0
                     ELSE (CASE WHEN k95 < 0 THEN -1 ELSE 1 END)
                          * ((abs(k95) % 64)
                             << greatest((abs(k95) // 64) - 6, 0)) END
                AS DOUBLE) / 100.0 AS p95_est,
           n_events
    FROM k
"""


def oracle_sql() -> dict[str, str]:
    frame = (
        "chr(10) || '--- Page ' || {page} || ' ---' || chr(10) || {text} "
        "|| chr(10) || chr(10)"
    )
    sql = _oracle_sql_entries(frame)
    # the pruned-probe query is the same IVF search through the
    # cell-partitioned physical layout — identical algorithm, so it
    # shares ann_ivf_cosine's oracle verbatim
    sql["ann_ivf_pruned_probe"] = sql["ann_ivf_cosine"]
    # bloom prefilter + exact confirm is row-identical to the exact
    # decontamination audit — same oracle by construction
    sql["decontamination_bloom"] = sql["decontamination"]
    return sql


def _oracle_sql_entries(frame: str) -> dict[str, str]:
    return {
        "extract_documents_flagship": f"""
            WITH pages AS (
                SELECT source, doc_id, text,
                       unnest(generate_series(
                           1, greatest(1, cast(ceil(length(text)/500.0) AS bigint)))) AS p
                FROM documents
            )
            SELECT 'doc://' || source || '/' || doc_id AS url,
                   string_agg({frame.format(page="p", text="substr(text, (p-1)*500+1, 500)")},
                              '' ORDER BY p) AS text,
                   cast(max(p) AS int) AS n_pages
            FROM pages
            GROUP BY 1
        """,
        "f1_filter_project": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE lang = 'en' AND n_chars BETWEEN 200 AND 2000
        """,
        "f7_tagged_projection": """
            SELECT doc_id,
                   CASE WHEN n_chars < 500 THEN 'short' ELSE 'long' END AS size_kind,
                   CASE WHEN lang = 'en' THEN source ELSE NULL END AS en_source
            FROM documents
        """,
        "j1_equi_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "j2_semi_join": """
            SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "j3_anti_join": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >=
                                    TIMESTAMP '2000-01-01 00:00:00')
        """,
        "a1_group_concat_framed": f"""
            SELECT source,
                   string_agg({frame.format(page="doc_id", text="text")},
                              '' ORDER BY doc_id) AS doc_text
            FROM documents GROUP BY source
        """,
        "a2_merged_chapters": """
            WITH marked AS (
                SELECT user_id, event_id, event_type, ts,
                       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS island
                FROM events
            )
            SELECT user_id, island,
                   string_agg('<h2>Event ' || event_id || '</h2><pre>' || event_type
                              || '</pre>' || chr(10), '' ORDER BY event_id) AS merged_html,
                   min(event_id) AS first_event
            FROM marked GROUP BY user_id, island
        """,
        "w1_gaps_islands": """
            WITH marked AS (
                SELECT user_id, value,
                       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS island
                FROM events
            )
            SELECT user_id, island, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM marked GROUP BY user_id, island
        """,
        "w2_row_number": """
            SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
            FROM documents
        """,
        "o2_topk_per_lang": """
            SELECT lang, doc_id, n_chars FROM (
                SELECT lang, doc_id, n_chars,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY n_chars DESC, doc_id) AS rn
                FROM documents
            ) WHERE rn <= 3
        """,
        "set_union_dedup": """
            SELECT DISTINCT doc_id FROM (
                SELECT doc_id FROM documents WHERE lang = 'en'
                UNION ALL
                SELECT doc_id FROM documents WHERE n_chars < 400
            )
        """,
        "a3_counts": f"""
            WITH g AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_chars) AS BIGINT) AS sum_chars
                FROM documents GROUP BY source
            )
            SELECT source, n_docs, sum_chars,
                   {_halfup_ratio_sql("sum_chars", "n_docs", 4)} AS avg_chars
            FROM g
        """,
        "t6_templating": """
            SELECT doc_id,
                   '<h2>Doc ' || doc_id || '</h2><pre>' || substr(text, 1, 40)
                   || '</pre>' AS html_block
            FROM documents
        """,
        "t8_id_derivation": """
            SELECT doc_id, source || '_' || doc_id AS item_id,
                   regexp_extract(source, '([0-9]+)', 1) AS src_num
            FROM documents
        """,
        "text_token_counts": r"""
            SELECT doc_id,
                   cast(len(string_split_regex(trim(text), '\s+')) AS bigint) AS ws_tokens
            FROM documents
        """,
        "text_quality_punct": f"""
            WITH d AS (
                SELECT doc_id,
                       text || repeat('!', CAST(doc_id % 5 AS INT)) AS text
                FROM documents
            ), m AS (
                SELECT doc_id,
                       CAST(length(text) AS BIGINT) AS n_chars_calc,
                       CAST(length(text)
                            - length(regexp_replace(text, '[.,!?;:]', '',
                                                    'g')) AS BIGINT) AS p
                FROM d
            )
            SELECT doc_id, n_chars_calc,
                   {_halfup_ratio_sql("p", "n_chars_calc", 6)}
                       AS punct_ratio
            FROM m
        """,
        "dedup_exact": """
            WITH d AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents
                WHERE doc_id % 13 = 0
            )
            SELECT md5(text) AS text_hash, count(*) AS n_copies,
                   min(doc_id) AS keeper_doc_id
            FROM d GROUP BY md5(text)
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour_ts, event_type,
                   count(*) AS n_events, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "ann_bruteforce_cosine": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                CAST(qe AS DOUBLE[])), 4) AS cos_sim
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            CAST(qe AS DOUBLE[])) DESC, vec_id
            LIMIT 10
        """,
        # the oracle replays the IVF algorithm itself: nearest-centroid
        # assignment, probe-cell selection, exact rerank — all cosine
        "ann_ivf_cosine": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), c AS (
                SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 31 = 0
            ), assign AS (
                SELECT vec_id, v, cid AS cell FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(c.cv, e.v) DESC,
                                        c.cid) AS rn
                    FROM e CROSS JOIN c
                ) WHERE rn = 1
            ), q AS (
                SELECT v AS qv FROM e WHERE vec_id = 0
            ), probe AS (
                SELECT cid FROM c, q
                ORDER BY list_cosine_similarity(cv, qv) DESC, cid
                LIMIT 4
            )
            SELECT a.vec_id, round(list_cosine_similarity(a.v, qv), 4) AS cos_sim
            FROM assign a, q
            WHERE a.cell IN (SELECT cid FROM probe) AND a.vec_id <> 0
            ORDER BY list_cosine_similarity(a.v, qv) DESC, a.vec_id
            LIMIT 10
        """,
        # brute-force top-10 over the same planted frame the Spark LSH
        # query builds; the true top-10 is the planted neighbor set
        "ann_lsh_planted": _PLANTED_LSH_SQL,
        # the physical multiprobe must retrieve the same planted set —
        # shared brute-force oracle (a pruning/retrieval miss anywhere
        # in the 4-table union breaks the hash)
        "ann_lsh_pruned_multiprobe": _PLANTED_LSH_SQL,
        # exact integer-cents money arithmetic mirroring the Spark
        # side: round(x*100) recovers lossless int64 cents; product
        # sums carry 10^-4/10^-6 dollar units and round back to cents
        # HALF-UP IN INTEGERS, so no float tie is ever rounded
        "tpch_q1_pricing_summary": f"""
            WITH d AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                       CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
                       CAST(round(l_tax * 100) AS BIGINT) AS tax_c
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            ), g AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(sum(qty_c) AS BIGINT) AS sq,
                       CAST(sum(price_c) AS BIGINT) AS sp,
                       CAST(sum(disc_c) AS BIGINT) AS sd,
                       CAST(sum(price_c * (100 - disc_c)) AS BIGINT) AS sdp,
                       CAST(sum(price_c * (100 - disc_c) * (100 + tax_c))
                            AS BIGINT) AS sch,
                       count(*) AS count_order
                FROM d
                GROUP BY l_returnflag, l_linestatus
            )
            SELECT l_returnflag, l_linestatus,
                   sq / 100.0 AS sum_qty,
                   sp / 100.0 AS sum_base_price,
                   CAST(floor((sdp + 50) / 100.0) AS BIGINT) / 100.0
                       AS sum_disc_price,
                   CAST(floor((sch + 5000) / 10000.0) AS BIGINT) / 100.0
                       AS sum_charge,
                   {_halfup_ratio_sql("sq", "100 * count_order", 4)}
                       AS avg_qty,
                   {_halfup_ratio_sql("sp", "100 * count_order", 4)}
                       AS avg_price,
                   {_halfup_ratio_sql("sd", "100 * count_order", 4)}
                       AS avg_disc,
                   count_order
            FROM g
        """,
        # width = PAGE_WIDTH (64); height = max(8, ceil((4 + utf8 bytes)
        # / 64)) per formats.render_page_rgb's layout; gray PNG => 1 ch
        "image_metadata": """
            SELECT doc_id, 'PNG' AS format,
                   CAST(64 AS BIGINT) AS width,
                   CAST(greatest(8, CAST(ceil((octet_length(encode(text)) + 4)
                        / 64.0) AS BIGINT)) AS BIGINT) AS height,
                   CAST(1 AS BIGINT) AS channels
            FROM documents
        """,
        # RE2 mirrors of functions/redact.py (patterns restricted to the
        # Java-regex ∩ RE2 common subset; 'g' = replace-all like Spark)
        "pii_redaction": r"""
            WITH planted AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id || '@example.com from 10.0.'
                            || (doc_id % 256) || '.7 ref 9998887776 end' AS text
                FROM documents
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                       '\b[0-9]{9,}\b', '<NUM>', 'g') AS text_redacted
            FROM planted
        """,
        "decontamination": r"""
            WITH sh8 AS (
                SELECT doc_id, w,
                  CASE WHEN len(w) = 0 THEN ['']
                       WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
                       ELSE list_distinct(list_transform(
                            generate_series(1, len(w)-7),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                                 || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]
                                 || ' ' || w[i+6] || ' ' || w[i+7])) END AS s
                FROM (SELECT doc_id,
                             list_filter(string_split_regex(lower(text), '\s+'),
                                         t -> t <> '') AS w
                      FROM documents)
            ), bsh AS (
                SELECT DISTINCT unnest(
                  CASE WHEN len(w) = 0 THEN ['']
                       WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
                       ELSE list_distinct(list_transform(
                            generate_series(1, len(w)-7),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                                 || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]
                                 || ' ' || w[i+6] || ' ' || w[i+7])) END) AS shingle
                FROM (SELECT list_filter(string_split_regex(
                                 lower(substr(text, 1, 120)), '\s+'),
                             t -> t <> '') AS w
                      FROM documents WHERE doc_id % 50 = 0)
            )
            SELECT DISTINCT doc_id
            FROM (SELECT doc_id, unnest(s) AS shingle FROM sh8) e
            WHERE shingle IN (SELECT shingle FROM bsh)
        """,
        # independent derivation: host from the URL string, registrable
        # domain from the host — a parsing bug on either side mismatches
        "domain_blocklist_filter": r"""
            WITH u AS (
                SELECT doc_id,
                       'https://www.' || source || '-site.com/p/' || doc_id
                           AS url
                FROM documents
            ), h AS (
                SELECT doc_id, url,
                       lower(regexp_extract(
                           regexp_extract(url, '^[a-z]+://([^/]+)', 1),
                           '([^.]+\.[^.]+)$', 1)) AS domain
                FROM u
            )
            SELECT doc_id, url, domain FROM h
            WHERE domain NOT IN
                  ('src3-site.com', 'src7-site.com', 'src11-site.com')
        """,
        # the same decomposed dirt rebuilt from codepoints; nfc_normalize
        # must compose exactly what Python's unicodedata composes
        "normalized_text": r"""
            WITH planted AS (
                SELECT doc_id,
                       text || ' cafe' || chr(769) || ' ' || chr(7)
                            || '  fu' || chr(776) || 'r' || chr(9) AS text
                FROM documents
            ), n AS (
                SELECT doc_id,
                       trim(regexp_replace(regexp_replace(
                           nfc_normalize(text),
                           '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                           '\s+', ' ', 'g')) AS norm_text
                FROM planted
            )
            SELECT doc_id, norm_text,
                   CAST(length(norm_text) AS BIGINT) AS n_chars
            FROM n
        """,
        # the graded twin of the decontamination oracle: same shingle
        # construction, fraction instead of flag
        "contamination_fraction": r"""
            WITH sh8 AS (
                SELECT doc_id, w,
                  CASE WHEN len(w) = 0 THEN ['']
                       WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
                       ELSE list_distinct(list_transform(
                            generate_series(1, len(w)-7),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                                 || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]
                                 || ' ' || w[i+6] || ' ' || w[i+7])) END AS s
                FROM (SELECT doc_id,
                             list_filter(string_split_regex(lower(text), '\s+'),
                                         t -> t <> '') AS w
                      FROM documents)
            ), bsh AS (
                SELECT DISTINCT unnest(
                  CASE WHEN len(w) = 0 THEN ['']
                       WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
                       ELSE list_distinct(list_transform(
                            generate_series(1, len(w)-7),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                                 || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]
                                 || ' ' || w[i+6] || ' ' || w[i+7])) END) AS shingle
                FROM (SELECT list_filter(string_split_regex(
                                 lower(substr(text, 1, 120)), '\s+'),
                             t -> t <> '') AS w
                      FROM documents WHERE doc_id % 50 = 0)
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(count(*) FILTER (shingle IN (SELECT shingle FROM bsh))
                        AS BIGINT) AS n_contaminated,
                   CAST(count(*) FILTER (shingle IN (SELECT shingle FROM bsh))
                        AS DOUBLE) / count(*) AS contaminated_frac
            FROM (SELECT doc_id, unnest(s) AS shingle FROM sh8) e
            GROUP BY doc_id
        """,
        # md5 hex digits reduced to an int bucket — md5 is md5 in both
        # engines, so the assignment matches bit-for-bit
        "corpus_split": """
            WITH h AS (
                SELECT doc_id,
                       list_reduce(list_transform(generate_series(1, 8),
                           i -> strpos('0123456789abcdef',
                                substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1),
                           (a, b) -> a * 16 + b) % 100 AS bucket
                FROM documents
            )
            SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
                   CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM h
        """,
        "repetition_metrics": f"""
            WITH l AS (
                SELECT doc_id,
                       list_filter(string_split(replace(text, ' ', chr(10)),
                                                chr(10)), x -> x <> '') AS lines
                FROM documents
            ), agg AS (
                SELECT doc_id, lines,
                       coalesce(list_sum(list_transform(
                           list_filter(lines,
                               x -> len(list_filter(lines, y -> y = x)) > 1),
                           x -> length(x))), 0) AS dup_chars,
                       coalesce(list_sum(list_transform(lines,
                           x -> length(x))), 0) AS total_chars
                FROM l
            )
            SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
                   CASE WHEN len(lines) > 0
                        THEN {_halfup_ratio_sql(
                            "CAST(len(lines) - len(list_distinct(lines))"
                            " AS BIGINT)",
                            "CAST(len(lines) AS BIGINT)", 6)}
                        ELSE 0.0 END AS dup_line_frac,
                   CASE WHEN total_chars > 0
                        THEN {_halfup_ratio_sql(
                            "CAST(dup_chars AS BIGINT)",
                            "CAST(total_chars AS BIGINT)", 6)}
                        ELSE 0.0 END AS dup_line_char_frac
            FROM agg
        """,
        # Gopher n-gram rules: top gram by max(struct(cnt, chars)) —
        # lexicographic struct ordering is identical in both engines,
        # and equal (cnt, chars) ties all yield the same chars value
        "gopher_ngram_metrics": rf"""
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 = 0
                            THEN text || ' {_GOPHER_BANNER} {_GOPHER_BANNER}'
                            ELSE text END AS text
                FROM documents
            ), w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(text)),
                                                      '\s+'),
                                   x -> x <> '') AS w
                FROM d
            ), b AS (
                SELECT doc_id,
                       CAST(length(array_to_string(w, ' ')) AS BIGINT)
                           AS stream_chars,
                       w
                FROM w
            ), g AS (
                SELECT doc_id, n,
                       unnest(CASE WHEN len(w) >= n
                              THEN list_transform(
                                  generate_series(1, len(w) - n + 1),
                                  i -> array_to_string(w[i:i+n-1], ' '))
                              ELSE [] END) AS gram
                FROM b, (VALUES (2), (3), (4), (5), (6)) ns(n)
            ), c AS (
                SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS cnt,
                       CAST(count(*) * length(gram) AS BIGINT) AS chars
                FROM g GROUP BY doc_id, n, gram
            ), a AS (
                SELECT doc_id,
                       max(CASE WHEN n = 2 THEN {{'cnt': cnt, 'chars': chars}} END).chars AS top2,
                       max(CASE WHEN n = 3 THEN {{'cnt': cnt, 'chars': chars}} END).chars AS top3,
                       max(CASE WHEN n = 4 THEN {{'cnt': cnt, 'chars': chars}} END).chars AS top4,
                       CAST(coalesce(sum(CASE WHEN n = 5 AND cnt > 1
                                              THEN chars ELSE 0 END), 0)
                            AS BIGINT) AS dup5,
                       CAST(coalesce(sum(CASE WHEN n = 6 AND cnt > 1
                                              THEN chars ELSE 0 END), 0)
                            AS BIGINT) AS dup6
                FROM c GROUP BY doc_id
            )
            SELECT b.doc_id, b.stream_chars,
                   CASE WHEN stream_chars > 0
                        THEN {_halfup_ratio_sql(
                            "CAST(coalesce(top2, 0) AS BIGINT)",
                            "stream_chars", 6)}
                        ELSE 0.0 END AS top2_frac,
                   CASE WHEN stream_chars > 0
                        THEN {_halfup_ratio_sql(
                            "CAST(coalesce(top3, 0) AS BIGINT)",
                            "stream_chars", 6)}
                        ELSE 0.0 END AS top3_frac,
                   CASE WHEN stream_chars > 0
                        THEN {_halfup_ratio_sql(
                            "CAST(coalesce(top4, 0) AS BIGINT)",
                            "stream_chars", 6)}
                        ELSE 0.0 END AS top4_frac,
                   CASE WHEN stream_chars > 0
                        THEN {_halfup_ratio_sql(
                            "CAST(coalesce(dup5, 0) AS BIGINT)",
                            "stream_chars", 6)}
                        ELSE 0.0 END AS dup5_frac,
                   CASE WHEN stream_chars > 0
                        THEN {_halfup_ratio_sql(
                            "CAST(coalesce(dup6, 0) AS BIGINT)",
                            "stream_chars", 6)}
                        ELSE 0.0 END AS dup6_frac
            FROM b LEFT JOIN a USING (doc_id)
        """,
        # C4 line/page rules over the planted 8-word line structure;
        # list indexing is 1-based in DuckDB (cc[i+1]) vs 0-based
        # Spark element_at-style __c4_c[i] — both walk the same lines
        "c4_line_filter": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS ww
                FROM documents
            ), planted AS (
                SELECT doc_id,
                    (CASE WHEN len(ww) > 0 THEN array_to_string(
                       list_transform(range(0, (len(ww)+7)//8), i ->
                         array_to_string(list_slice(ww, i*8+1, i*8+8), ' ')
                         || (CASE WHEN (doc_id + i) % 3 < 2 THEN '.' ELSE '' END)
                         || (CASE WHEN i = 0 AND doc_id % 7 = 0
                             THEN ' javascript' ELSE '' END)
                       ), chr(10)) ELSE '' END)
                    || (CASE WHEN doc_id % 13 = 0 THEN ' lorem ipsum'
                        WHEN doc_id % 11 = 0 THEN ' {' ELSE '' END) AS text
                FROM w
            ), l AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, chr(10)), x -> x <> '') AS ll
                FROM planted
            ), c AS (
                SELECT doc_id, text, ll,
                    list_transform(ll, x ->
                        CASE WHEN contains(x, 'javascript') THEN 3
                             WHEN NOT (ends_with(x,'.') OR ends_with(x,'!')
                                       OR ends_with(x,'?') OR ends_with(x,'"')) THEN 2
                             WHEN len(list_filter(string_split(x, ' '),
                                                  y -> y <> '')) < 5 THEN 1
                             ELSE 0 END) AS cc
                FROM l
            )
            SELECT doc_id,
                CAST(len(ll) AS BIGINT) AS n_lines,
                CAST(len(list_filter(cc, c -> c = 0)) AS BIGINT) AS n_kept,
                CAST(len(list_filter(cc, c -> c = 1)) AS BIGINT) AS n_short,
                CAST(len(list_filter(cc, c -> c = 2)) AS BIGINT) AS n_nopunct,
                CAST(len(list_filter(cc, c -> c = 3)) AS BIGINT) AS n_js,
                CAST(CASE WHEN NOT contains(text, '{')
                          AND NOT contains(text, 'lorem ipsum')
                          AND len(list_filter(cc, c -> c = 0)) >= 3
                     THEN 1 ELSE 0 END AS INT) AS page_keep,
                CASE WHEN NOT contains(text, '{')
                     AND NOT contains(text, 'lorem ipsum')
                     AND len(list_filter(cc, c -> c = 0)) >= 3
                THEN array_to_string(list_filter(
                       list_transform(range(0, len(ll)), i ->
                         CASE WHEN cc[i+1] = 0 THEN ll[i+1] ELSE '' END),
                       x -> x <> ''), chr(10))
                ELSE '' END AS kept_text
            FROM c
        """,
        # jusText DOM heuristics over the planted markup; DuckDB lists
        # are 1-based (cc[i], b[i]) vs Spark's 0-based __jx_c[i]; the
        # 'g' flag on regexp_replace mirrors Spark's global default
        "justext_extraction": f"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS ww
                FROM documents
            ), h AS (
                SELECT doc_id,
                    '<html><head><title>t</title></head><body>'
                    || '<nav><a href="#">home</a> <a href="#">about</a></nav>'
                    || (CASE WHEN len(ww) > 0 THEN array_to_string(
                         list_transform(range(0, (len(ww)+9)//10), i ->
                           CASE (doc_id + i) % 5
                           WHEN 0 THEN (CASE WHEN doc_id % 2 = 0
                             THEN '<p class="m"><a href="#">'
                                  || array_to_string(list_slice(ww, i*10+1, i*10+10), ' ')
                                  || '</a></p>'
                             ELSE '<p>' || array_to_string(list_slice(ww, i*10+1, i*10+10), ' ')
                                  || ' the of and to in a the of and to in a</p>' END)
                           WHEN 1 THEN '<p>'
                                || array_to_string(list_slice(ww, i*10+1, i*10+2), ' ')
                                || '</p>'
                           WHEN 2 THEN '<p>' || array_to_string(list_slice(ww, i*10+1, i*10+10), ' ')
                                || ' the of and to in a the of and to in a</p>'
                           WHEN 3 THEN '<li>' || array_to_string(list_slice(ww, i*10+1, i*10+10), ' ')
                                || ' the of and</li>'
                           ELSE '<p>' || array_to_string(list_slice(ww, i*10+1, i*10+10), ' ')
                                || '</p>' END
                         ), '') ELSE '' END)
                    || '<footer>fine print</footer></body></html>' AS html
                FROM w
            ), fb AS (
                SELECT doc_id, list_filter(list_transform(
                    regexp_extract_all(html,
                        '<(?:p|li|h1)[^>]*>(.*?)</(?:p|li|h1)>', 1),
                    x -> {{
                      'txt': trim(regexp_replace(regexp_replace(x,
                                 '<[^>]+>', ' ', 'g'), ' +', ' ', 'g')),
                      'link_chars': coalesce(list_sum(list_transform(
                          regexp_extract_all(x, '<a[^>]*>(.*?)</a>', 1),
                          a -> len(trim(regexp_replace(regexp_replace(a,
                                   '<[^>]+>', ' ', 'g'), ' +', ' ', 'g'))))), 0)
                    }}), s -> s.txt <> '') AS f
                FROM h
            ), m AS (
                SELECT doc_id, list_transform(f, s -> {{
                    'txt': s.txt,
                    'chars': len(s.txt),
                    'words': len(string_split(s.txt, ' ')),
                    'stops': len(list_filter(string_split(s.txt, ' '),
                        w2 -> list_contains({_jx_stop_duck()}, w2))),
                    'link_chars': s.link_chars}}) AS b
                FROM fb
            ), c AS (
                SELECT doc_id, b, len(b) AS n,
                    list_transform(b, s ->
                        CASE WHEN 5 * s.link_chars > s.chars THEN 3
                             WHEN s.chars < 40 THEN
                                  (CASE WHEN s.link_chars > 0 THEN 3 ELSE 2 END)
                             WHEN 25 * s.stops >= 8 * s.words THEN
                                  (CASE WHEN s.chars > 80 THEN 0 ELSE 1 END)
                             WHEN 50 * s.stops >= 9 * s.words THEN 1
                             ELSE 3 END) AS cc
                FROM m
            ), fin AS (
                SELECT doc_id, b, cc, n,
                    list_transform(range(1, n + 1), i ->
                        CASE WHEN cc[i] = 0 THEN 0
                             WHEN cc[i] = 3 THEN 3
                             WHEN cc[i] = 1 THEN (CASE WHEN
                                coalesce((list_filter(list_slice(cc, 1, i - 1),
                                    c2 -> c2 = 0 OR c2 = 3))[-1], 3) = 0
                                OR coalesce((list_filter(list_slice(cc, i + 1, n),
                                    c2 -> c2 = 0 OR c2 = 3))[1], 3) = 0
                                THEN 0 ELSE 3 END)
                             ELSE (CASE WHEN
                                coalesce((list_filter(list_slice(cc, 1, i - 1),
                                    c2 -> c2 = 0 OR c2 = 3))[-1], 3) = 0
                                AND coalesce((list_filter(list_slice(cc, i + 1, n),
                                    c2 -> c2 = 0 OR c2 = 3))[1], 3) = 0
                                THEN 0 ELSE 3 END)
                        END) AS ff
                FROM c
            )
            SELECT doc_id,
                CAST(n AS BIGINT) AS n_blocks,
                CAST(len(list_filter(cc, c2 -> c2 = 0)) AS BIGINT) AS n_cf_good,
                CAST(len(list_filter(cc, c2 -> c2 = 1)) AS BIGINT) AS n_cf_neargood,
                CAST(len(list_filter(cc, c2 -> c2 = 2)) AS BIGINT) AS n_cf_short,
                CAST(len(list_filter(cc, c2 -> c2 = 3)) AS BIGINT) AS n_cf_bad,
                CAST(len(list_filter(ff, c2 -> c2 = 0)) AS BIGINT) AS n_final_good,
                coalesce(array_to_string(list_filter(
                    list_transform(range(1, n + 1),
                        i -> CASE WHEN ff[i] = 0 THEN b[i].txt ELSE '' END),
                    x -> x <> ''), chr(10)), '') AS main_text
            FROM fin
        """,
        # boilerpipe NumWordsRules over the planted markup; neighbour
        # access = out-of-range list index -> NULL -> coalesce(., 0)
        # (Spark side pads sentinel arrays instead); DuckDB lists are
        # 1-based so leaf[i]/bl[i] run over range(1, n+1)
        "boilerpipe_extraction": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS ww
                FROM documents
            ), h AS (
                SELECT doc_id,
                    '<html><head><title>t</title></head><body>'
                    || '<nav><a href="#">home</a> <a href="#">about</a></nav>'
                    || (CASE WHEN len(ww) > 0 THEN array_to_string(
                         list_transform(range(0, (len(ww)+2)//3), i ->
                           CASE (doc_id + i) % 8
                           WHEN 0 THEN '<p><a href="#">'
                                || array_to_string(list_slice(ww, i*3+1, i*3+3), ' ')
                                || repeat(' x', 3) || '</a></p>'
                           WHEN 1 THEN '<p>'
                                || array_to_string(list_slice(ww, i*3+1, i*3+3), ' ')
                                || repeat(' x', CASE WHEN doc_id % 3 = 1
                                                THEN 47 ELSE 7 END) || '</p>'
                           WHEN 2 THEN '<p>'
                                || array_to_string(list_slice(ww, i*3+1, i*3+3), ' ')
                                || repeat(' x', CASE WHEN doc_id % 3 = 2
                                                THEN 17 ELSE 9 END) || '</p>'
                           WHEN 3 THEN '<p>'
                                || array_to_string(list_slice(ww, i*3+1, i*3+3), ' ')
                                || repeat(' x', 17) || '</p>'
                           WHEN 4 THEN '<p>'
                                || array_to_string(list_slice(ww, i*3+1, i*3+3), ' ')
                                || ' x</p>'
                           WHEN 5 THEN '<p>'
                                || array_to_string(list_slice(ww, i*3+1, i*3+3), ' ')
                                || repeat(' x', 5) || '</p>'
                           WHEN 6 THEN '<li>'
                                || array_to_string(list_slice(ww, i*3+1, i*3+3), ' ')
                                || repeat(' x', 3) || '</li>'
                           ELSE '<p>'
                                || array_to_string(list_slice(ww, i*3+1, i*3+3), ' ')
                                || repeat(' x', 42) || '</p>' END
                         ), '') ELSE '' END)
                    || '<footer>fine print</footer></body></html>' AS html
                FROM w
            ), fb AS (
                SELECT doc_id, list_filter(list_transform(
                    regexp_extract_all(html,
                        '<(?:p|li|h1)[^>]*>(.*?)</(?:p|li|h1)>', 1),
                    x -> {
                      'txt': trim(regexp_replace(regexp_replace(x,
                                 '<[^>]+>', ' ', 'g'), ' +', ' ', 'g')),
                      'lw': coalesce(list_sum(list_transform(
                          list_filter(list_transform(
                              regexp_extract_all(x, '<a[^>]*>(.*?)</a>', 1),
                              a -> trim(regexp_replace(regexp_replace(a,
                                       '<[^>]+>', ' ', 'g'), ' +', ' ', 'g'))),
                              t -> t <> ''),
                          t -> len(string_split(t, ' ')))), 0)
                    }), s -> s.txt <> '') AS bl
                FROM h
            ), m AS (
                SELECT doc_id, len(bl) AS n, bl,
                    list_transform(bl, s -> len(string_split(s.txt, ' '))) AS wl,
                    list_transform(bl, s -> CAST(s.lw AS BIGINT)) AS ll
                FROM fb
            ), lv AS (
                SELECT doc_id, n, bl,
                    list_transform(range(1, n + 1), i ->
                        CASE WHEN 3 * ll[i] > wl[i] THEN 1
                             WHEN 9 * coalesce(ll[i-1], 0)
                                  <= 5 * coalesce(wl[i-1], 0) THEN
                                  (CASE WHEN wl[i] > 16 THEN 5
                                        WHEN coalesce(wl[i+1], 0) > 15 THEN 4
                                        WHEN coalesce(wl[i-1], 0) > 4 THEN 3
                                        ELSE 2 END)
                             ELSE (CASE WHEN wl[i] > 40 THEN 8
                                        WHEN coalesce(wl[i+1], 0) > 17 THEN 7
                                        ELSE 6 END)
                        END) AS leaf
                FROM m
            )
            SELECT doc_id,
                CAST(n AS BIGINT) AS n_blocks,
                CAST(len(list_filter(leaf, c -> c IN (3,4,5,7,8)))
                     AS BIGINT) AS n_content,
                CAST(len(list_filter(leaf, c -> c NOT IN (3,4,5,7,8)))
                     AS BIGINT) AS n_boiler,
                CAST(len(list_filter(leaf, c -> c = 1)) AS BIGINT) AS n_l1,
                CAST(len(list_filter(leaf, c -> c = 2)) AS BIGINT) AS n_l2,
                CAST(len(list_filter(leaf, c -> c = 3)) AS BIGINT) AS n_l3,
                CAST(len(list_filter(leaf, c -> c = 4)) AS BIGINT) AS n_l4,
                CAST(len(list_filter(leaf, c -> c = 5)) AS BIGINT) AS n_l5,
                CAST(len(list_filter(leaf, c -> c = 6)) AS BIGINT) AS n_l6,
                CAST(len(list_filter(leaf, c -> c = 7)) AS BIGINT) AS n_l7,
                CAST(len(list_filter(leaf, c -> c = 8)) AS BIGINT) AS n_l8,
                coalesce(array_to_string(list_filter(
                    list_transform(range(1, n + 1),
                        i -> CASE WHEN leaf[i] IN (3,4,5,7,8)
                                  THEN bl[i].txt ELSE '' END),
                    x -> x <> ''), chr(10)), '') AS content_text
            FROM lv
        """,
        # CCNet terciles: replay train -> micro score -> half-up mean
        # -> DDSketch code -> bounded cumulative cutoffs -> label.
        # All values non-negative, so DuckDB // == Spark div here.
        "ccnet_perplexity_buckets": r"""
            WITH w AS (
                SELECT doc_id, lang,
                       unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                          t -> t <> '')) AS word
                FROM documents
            ), counts AS (
                SELECT word, count(*) AS cnt FROM w GROUP BY word
            ), tot AS (
                SELECT sum(cnt) AS total FROM counts
            ), vocab AS (
                SELECT word, cnt FROM counts ORDER BY cnt DESC, word LIMIT 1000
            ), scored AS (
                SELECT doc_id, lang,
                       CAST(round(-ln(coalesce(v.cnt, 1)
                                      / CAST(total AS DOUBLE)) * 1000000.0)
                            AS BIGINT) AS nlp_u
                FROM w LEFT JOIN vocab v USING (word), tot
            ), g AS (
                SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(nlp_u) AS BIGINT) AS s
                FROM scored GROUP BY doc_id, lang
            ), sc AS (
                SELECT doc_id, lang, n_words,
                       CAST((2 * s + n_words) // (2 * n_words) AS BIGINT)
                           AS nlp_micro
                FROM g
            ), cd AS (
                SELECT *,
                    CASE WHEN nlp_micro = 0 THEN CAST(0 AS BIGINT)
                         ELSE CAST(length(bin(nlp_micro)) * 4096
                              + (nlp_micro >> greatest(
                                    length(bin(nlp_micro)) - 12, 0))
                              AS BIGINT) END AS qs_code
                FROM sc
            ), hist AS (
                SELECT lang, qs_code, count(*) AS cnt
                FROM cd GROUP BY lang, qs_code
            ), cw AS (
                SELECT lang, qs_code,
                       sum(cnt) OVER (PARTITION BY lang
                                      ORDER BY qs_code) AS cum,
                       sum(cnt) OVER (PARTITION BY lang) AS n
                FROM hist
            ), cuts AS (
                SELECT lang,
                       min(qs_code) FILTER (WHERE n // 3 >= 1
                                            AND cum >= n // 3) AS t1,
                       min(qs_code) FILTER (WHERE (2 * n) // 3 >= 1
                                            AND cum >= (2 * n) // 3) AS t2
                FROM cw GROUP BY lang
            )
            SELECT cd.doc_id, cd.lang, cd.n_words, cd.nlp_micro, cd.qs_code,
                   CASE WHEN t1 IS NOT NULL AND qs_code <= t1 THEN 'head'
                        WHEN t2 IS NOT NULL AND qs_code <= t2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM cd JOIN cuts ON cd.lang IS NOT DISTINCT FROM cuts.lang
        """,
        # full canonicalize_url + SURT replay on the noisy variants;
        # DuckDB backrefs are \1 where Spark's are $1, and tracking /
        # separator cleanup rules need the explicit 'g' flag to match
        # Spark's global-by-default regexp_replace
        "surt_url_dedup": r"""
            WITH d AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 7 = 0 THEN 'dup' ELSE source END AS h,
                    CASE WHEN doc_id % 7 = 0 THEN doc_id - (doc_id % 14)
                         ELSE doc_id END AS pid
                FROM documents
            ), v AS (
                SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS vv, h, pid
                FROM d
            ), raw AS (
                SELECT doc_id,
                    CASE vv
                    WHEN 0 THEN 'https://www.' || h || '.example.org:443/Docs/'
                         || pid || '?b=2&a=1#frag'
                    WHEN 1 THEN 'HTTPS://' || h || '.EXAMPLE.org/Docs/'
                         || pid || '?a=1&utm_source=x&b=2'
                    ELSE 'https://' || h || '.example.org/Docs/'
                         || pid || '?b=2&gclid=abc&a=1' END AS url
                FROM v
            ), c8 AS (
                SELECT doc_id, url, {canon_url} AS c FROM raw
            ), surted AS (
                SELECT doc_id, url, {surt_c} AS surt FROM c8
            )
            SELECT surt,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   min(doc_id) AS keep_doc_id,
                   min(url) AS first_raw_url
            FROM surted GROUP BY surt
        """.replace("{canon_url}", _canon_duck("url"))
           .replace("{surt_c}", _surt_duck("c")),
        # robots flags are TOKEN matches over the split content list;
        # relative canonicals ignored; SURT via the shared helpers
        "page_directives": """
            WITH d AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 4 = 0 THEN
                        (CASE doc_id % 3 WHEN 0 THEN 'noindex'
                         WHEN 1 THEN 'nofollow'
                         ELSE 'noindex, nofollow' END)
                    WHEN doc_id % 4 = 1 THEN 'noindexfoo'
                    ELSE '' END AS robots,
                    CASE WHEN doc_id % 3 = 0 THEN
                        'HTTPS://WWW.' || source || '.Example.ORG:443/Canon/'
                        || (doc_id % 40) || '?b=2&a=1'
                    WHEN doc_id % 3 = 1 THEN '/self'
                    ELSE '' END AS href
                FROM documents
            ), f AS (
                SELECT doc_id,
                    list_filter(string_split_regex(lower(robots), '[ ,]+'),
                                x -> x <> '') AS toks,
                    href
                FROM d
            ), c AS (
                SELECT doc_id,
                    CAST(list_contains(toks, 'noindex') AS INTEGER)
                        AS noindex,
                    CAST(list_contains(toks, 'nofollow') AS INTEGER)
                        AS nofollow,
                    CASE WHEN regexp_matches(href, '(?i)^https?://')
                         THEN {canon_href} ELSE '' END AS cu
                FROM f
            )
            SELECT doc_id, noindex, nofollow,
                   CASE WHEN cu <> '' THEN {surt_cu} ELSE '' END
                       AS canonical_surt
            FROM c
        """.replace("{canon_href}", _canon_duck("href"))
           .replace("{surt_cu}", _surt_duck("cu")),
        # RefinedWeb line corrections: plant + first-matching rules +
        # removal budget replayed; DuckDB lists are 1-based (cc[i],
        # lf[i] over range(1, n+1)) vs Spark's 0-based transforms
        "refinedweb_corrections": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS ww
                FROM documents
            ), t AS (
                SELECT doc_id,
                    CASE WHEN len(ww) > 0 THEN
                      list_transform(range(0, (len(ww)+9)//10), i ->
                        CASE (doc_id + i) % 16
                        WHEN 1 THEN (CASE WHEN doc_id % 5 = 0
                          THEN upper(array_to_string(
                              list_slice(ww, i*10+1, i*10+10), ' '))
                          ELSE ((doc_id % 90) + 1) || ' ' ||
                            (CASE doc_id % 4 WHEN 0 THEN 'likes'
                             WHEN 1 THEN 'comments' WHEN 2 THEN 'shares'
                             ELSE 'views' END) END)
                        WHEN 5 THEN (CASE WHEN doc_id % 2 = 0
                          THEN ((doc_id * 7 + i) % 997) || ' 12, 34'
                          ELSE 'AAbb CCdd' END)
                        WHEN 9 THEN (CASE WHEN doc_id % 3 = 0
                          THEN 'home menu'
                          ELSE 'sign in now here more words' END)
                        ELSE array_to_string(
                            list_slice(ww, i*10+1, i*10+10), ' ') END)
                    ELSE []::VARCHAR[] END AS ls
                FROM w
            ), c AS (
                SELECT doc_id,
                    list_filter(ls, x -> x <> '') AS lf,
                    list_transform(list_filter(ls, x -> x <> ''), x ->
                        CASE WHEN regexp_matches(x,
                            '^[0-9]+ (likes|comments|shares|views)$') THEN 1
                        WHEN regexp_matches(x, '^[0-9][0-9 .,%:/-]*$') THEN 2
                        WHEN 2 * len(regexp_replace(x, '[^A-Z]', '', 'g'))
                           > len(regexp_replace(x, '[^A-Za-z]', '', 'g'))
                           THEN 3
                        WHEN len(list_filter(string_split(x, ' '),
                                             y -> y <> '')) <= 4
                           AND (x LIKE '%home%' OR x LIKE '%menu%'
                                OR x LIKE '%sign in%' OR x LIKE '%log in%')
                           THEN 4
                        ELSE 0 END) AS cc
                FROM t
            ), g AS (
                SELECT doc_id, lf, cc, len(lf) AS n,
                    CAST(coalesce(list_sum(list_transform(lf,
                        x -> len(x))), 0) AS BIGINT) AS total_chars,
                    CAST(coalesce(list_sum(list_transform(range(1, len(lf)+1),
                        i -> CASE WHEN cc[i] <> 0 THEN len(lf[i])
                             ELSE 0 END)), 0) AS BIGINT) AS removed_chars
                FROM c
            )
            SELECT doc_id,
                CAST(n AS BIGINT) AS n_lines,
                CAST(len(list_filter(cc, v -> v = 0)) AS BIGINT) AS n_kept,
                CAST(len(list_filter(cc, v -> v = 1)) AS BIGINT) AS n_counter,
                CAST(len(list_filter(cc, v -> v = 2)) AS BIGINT) AS n_numeric,
                CAST(len(list_filter(cc, v -> v = 3)) AS BIGINT) AS n_upper,
                CAST(len(list_filter(cc, v -> v = 4)) AS BIGINT) AS n_nav,
                total_chars, removed_chars,
                CAST(CASE WHEN 100 * removed_chars <= 5 * total_chars
                     THEN 1 ELSE 0 END AS INTEGER) AS doc_keep,
                CASE WHEN 100 * removed_chars <= 5 * total_chars
                     THEN coalesce(array_to_string(list_filter(
                         list_transform(range(1, n + 1),
                             i -> CASE WHEN cc[i] = 0 THEN lf[i]
                                  ELSE '' END),
                         x -> x <> ''), chr(10)), '')
                     ELSE '' END AS kept_text
            FROM g
        """,
        # link-graph: extraction + zip pairing + resolution + the same
        # shared canonicalize/SURT replay, aggregated to edges
        "link_graph_extraction": r"""
            WITH d AS (
                SELECT doc_id,
                       source || '.example.org' AS src_host,
                       'https://' || source || '.example.org' AS base_url,
                       '<p>' || array_to_string(
                         list_transform(range(0, 1 + doc_id % 3), l ->
                           CASE l
                           WHEN 0 THEN '<a href="HTTPS://WWW.Dst'
                             || (doc_id % 10) || '.Example.ORG:443/page/'
                             || (doc_id % 50) || '?b=2&a=1#f">zz abs link</a>'
                           WHEN 1 THEN '<a href="/local/' || (doc_id % 30)
                             || '?z=1">rel link</a>'
                           ELSE (CASE doc_id % 2
                             WHEN 0 THEN '<a href="#top">frag skip</a>'
                             ELSE '<a href="mailto:x@y.z">mail skip</a>'
                             END) END), ' ') || '</p>' AS html
                FROM documents
            ), pz AS (
                SELECT src_host, base_url,
                       unnest(list_zip(
                           regexp_extract_all(html,
                               '<a[^>]*href="([^"]*)"[^>]*>.*?</a>', 1),
                           regexp_extract_all(html,
                               '<a[^>]*href="[^"]*"[^>]*>(.*?)</a>', 1)
                       )) AS p
                FROM d
            ), e AS (
                SELECT src_host, base_url, p[1] AS href,
                       trim(regexp_replace(regexp_replace(p[2],
                           '<[^>]+>', ' ', 'g'), ' +', ' ', 'g')) AS anchor
                FROM pz
                WHERE p[1] IS NOT NULL AND p[2] IS NOT NULL
            ), kept AS (
                SELECT src_host, anchor,
                       CASE WHEN regexp_matches(href, '(?i)^https?://')
                            THEN href ELSE base_url || href END AS resolved
                FROM e
                WHERE regexp_matches(href, '(?i)^https?://')
                   OR regexp_matches(href, '^/($|[^/])')
            ), canon AS (
                SELECT src_host, anchor, {canon_resolved} AS c FROM kept
            ), s AS (
                SELECT src_host, anchor, {surt_c} AS dst_surt FROM canon
            )
            SELECT src_host, dst_surt,
                   CAST(count(*) AS BIGINT) AS n_links,
                   min(anchor) AS first_anchor
            FROM s GROUP BY src_host, dst_surt
        """.replace("{canon_resolved}", _canon_duck("resolved"))
           .replace("{surt_c}", _surt_duck("c")),
        # DSIR: hashed {1,2}-gram bag models (md5-fold buckets replay
        # bit-for-bit), micro-nat log-ratios, away-from-zero integer
        # avg (// and % truncate toward zero in both engines),
        # mean-relative selection
        "dsir_selection": f"""
            WITH p AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 3 = 0 THEN text || ' {_DSIR_WIKI}'
                         ELSE text || ' {_DSIR_SPAM}' END AS text,
                    CASE WHEN doc_id % 30 = 0 THEN 1 ELSE 0 END AS is_target
                FROM documents
            ), t AS (
                SELECT doc_id, is_target,
                       {_replayable.tokens_duck('text')} AS tt
                FROM p
            ), f AS (
                SELECT doc_id, is_target,
                    unnest(flatten([tt, CASE WHEN len(tt) >= 2 THEN
                        list_transform(range(1, len(tt)),
                                       i -> tt[i] || ' ' || tt[i+1])
                        ELSE [] END])) AS feat
                FROM t
            ), b AS (
                SELECT doc_id, is_target,
                       ({_replayable._md5_int_duck('feat')}) % 4096 AS bucket
                FROM f
            ), src AS (
                SELECT bucket, CAST(count(*) AS BIGINT) AS s_cnt
                FROM b GROUP BY bucket
            ), tgt AS (
                SELECT bucket, CAST(count(*) AS BIGINT) AS t_cnt
                FROM b WHERE is_target = 1 GROUP BY bucket
            ), model AS (
                SELECT bucket, s_cnt,
                       CAST(coalesce(t_cnt, 0) AS BIGINT) AS t_cnt
                FROM src LEFT JOIN tgt USING (bucket)
            ), tot AS (
                SELECT CAST(sum(s_cnt) AS BIGINT) AS S,
                       CAST(sum(t_cnt) AS BIGINT) AS T
                FROM model
            ), lmodel AS (
                SELECT bucket,
                    CAST(round((ln(CAST(t_cnt + 1 AS DOUBLE)
                                   / CAST(T + 4096 AS DOUBLE))
                              - ln(CAST(s_cnt + 1 AS DOUBLE)
                                   / CAST(S + 4096 AS DOUBLE)))
                               * 1000000.0) AS BIGINT) AS l_micro
                FROM model, tot
            ), g AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                       CAST(sum(l_micro) AS BIGINT) AS logratio_micro
                FROM b JOIN lmodel USING (bucket) GROUP BY doc_id
            ), s AS (
                SELECT doc_id, n_feats, logratio_micro,
                    CAST((logratio_micro // n_feats)
                         + (CASE WHEN logratio_micro >= 0
                                 AND 2 * (logratio_micro % n_feats) >= n_feats
                                 THEN 1
                                 WHEN logratio_micro < 0
                                 AND -2 * (logratio_micro % n_feats) >= n_feats
                                 THEN -1 ELSE 0 END) AS BIGINT) AS avg_micro
                FROM g
            ), thr AS (
                SELECT CAST(sum(avg_micro) AS BIGINT) AS A,
                       CAST(count(*) AS BIGINT) AS N
                FROM s
            )
            SELECT doc_id, n_feats, logratio_micro, avg_micro,
                CAST(CASE WHEN avg_micro * N > A THEN 1 ELSE 0 END AS INT)
                    AS selected
            FROM s, thr
        """,
        # SemDeDup: the kmeans_assignments replay over the planted
        # union, then within-cluster smaller-id-neighbor victims
        "semdedup_keep": f"""
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), planted AS (
                SELECT vec_id + {_PLANT_ID_OFFSET} AS vec_id,
                       list_transform(generate_series(1, len(embedding)),
                           i -> CAST(embedding[i] AS DOUBLE)
                                + 0.002 * ((i * 37) % 11 - 5)) AS v
                FROM embeddings WHERE vec_id % {_PLANT_EVERY} = 0
            ), e AS (
                SELECT * FROM base UNION ALL SELECT * FROM planted
            ), c0 AS (
                SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 31 = 0
            ), a1 AS (
                SELECT vec_id, v, cid AS cell FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(c.cv, e.v) DESC,
                                        c.cid) AS rn
                    FROM e CROSS JOIN c0 c
                ) WHERE rn = 1
            ), u1 AS (
                SELECT cell, i, avg(v[i]) AS m
                FROM a1 CROSS JOIN generate_series(1, 64) AS g(i)
                GROUP BY cell, i
            ), c1 AS (
                SELECT cell AS cid, list(m ORDER BY i) AS cv FROM u1 GROUP BY cell
            ), a2 AS (
                SELECT vec_id, cid AS cell FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(c.cv, e.v) DESC,
                                        c.cid) AS rn
                    FROM e CROSS JOIN c1 c
                ) WHERE rn = 1
            ), withv AS (
                SELECT a2.vec_id, a2.cell, e.v FROM a2 JOIN e USING (vec_id)
            ), vict AS (
                SELECT DISTINCT x.vec_id
                FROM withv x JOIN withv y
                  ON x.cell = y.cell AND x.vec_id > y.vec_id
                WHERE list_cosine_similarity(x.v, y.v) > 0.9
            )
            SELECT w.vec_id, CAST(w.cell AS BIGINT) AS cell,
                   CAST(CASE WHEN vict.vec_id IS NULL THEN 1 ELSE 0 END
                        AS INT) AS keep
            FROM withv w LEFT JOIN vict ON w.vec_id = vict.vec_id
        """,
        "paragraph_dedup": """
            WITH d AS (
                SELECT doc_id,
                       text || chr(10) || chr(10) || 'Subscribe to ' || source
                            || ' newsletter today' AS t
                FROM documents
            ), sp AS (
                SELECT doc_id, string_split(t, chr(10) || chr(10)) AS paras FROM d
            ), ex AS (
                SELECT doc_id, paras,
                       unnest(generate_series(1, len(paras))) AS i
                FROM sp
            ), px AS (
                SELECT doc_id, i - 1 AS pos, paras[i] AS para FROM ex
            ), keep AS (
                SELECT doc_id, pos, para,
                       row_number() OVER (PARTITION BY para
                                          ORDER BY doc_id, pos) AS rn
                FROM px
            )
            SELECT d.doc_id,
                   coalesce(string_agg(k.para, chr(10) || chr(10) ORDER BY k.pos),
                            '') AS text_dedup
            FROM d LEFT JOIN (SELECT * FROM keep WHERE rn = 1) k USING (doc_id)
            GROUP BY d.doc_id
        """,
        "lm_unigram_scores": r"""
            WITH w AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                          t -> t <> '')) AS word
                FROM documents
            ), counts AS (
                SELECT word, count(*) AS cnt FROM w GROUP BY word
            ), tot AS (
                SELECT sum(cnt) AS total FROM counts
            ), vocab AS (
                SELECT word, cnt FROM counts ORDER BY cnt DESC, word LIMIT 1000
            )
            , scored AS (
                SELECT doc_id,
                       CAST(round(-ln(coalesce(v.cnt, 1)
                                      / CAST(total AS DOUBLE)) * 1000000.0)
                            AS BIGINT) AS nlp_u
                FROM w LEFT JOIN vocab v USING (word), tot
            ), g AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(nlp_u) AS BIGINT) AS s
                FROM scored GROUP BY doc_id
            )
            SELECT doc_id, n_words,
                   {halfup} AS avg_neg_logprob
            FROM g
        """.replace("{halfup}",
                    _halfup_ratio_sql("s", "1000000 * n_words", 6)),
        "pack_shards_manifest": r"""
            WITH t AS (
                SELECT doc_id, lang,
                       CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS BIGINT) AS ws_tokens
                FROM documents
            ), packed AS (
                SELECT lang, doc_id, ws_tokens,
                       CAST(floor((sum(ws_tokens) OVER (PARTITION BY lang
                                 ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - ws_tokens) * 1.0 / 2000)
                            AS BIGINT) AS shard_id
                FROM t
            )
            SELECT lang, shard_id, count(*) AS n_docs,
                   CAST(sum(ws_tokens) AS BIGINT) AS sum_tokens,
                   min(doc_id) AS first_id, max(doc_id) AS last_id
            FROM packed GROUP BY lang, shard_id
        """,
        "events_value_quantiles": """
            WITH g AS (
                SELECT event_type,
                       list_sort(list(CAST(round(value * 100) AS BIGINT)))
                           AS c,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM events WHERE value IS NOT NULL
                GROUP BY event_type
            )
            SELECT event_type,
                   CAST(c[CAST((50 * (n_events - 1)) // 100 + 1 AS INT)]
                            * (100 - (50 * (n_events - 1)) % 100)
                        + c[CAST(least((50 * (n_events - 1)) // 100 + 2,
                                       n_events) AS INT)]
                            * ((50 * (n_events - 1)) % 100)
                        AS DOUBLE) / 10000.0 AS p50,
                   CAST(c[CAST((95 * (n_events - 1)) // 100 + 1 AS INT)]
                            * (100 - (95 * (n_events - 1)) % 100)
                        + c[CAST(least((95 * (n_events - 1)) // 100 + 2,
                                       n_events) AS INT)]
                            * ((95 * (n_events - 1)) % 100)
                        AS DOUBLE) / 10000.0 AS p95,
                   n_events
            FROM g
        """,
        # independent derivation: instead of replaying the regex chain,
        # the oracle constructs the canonical form the rules SHOULD
        # produce from the same planted raw URL — a rule bug mismatches
        "url_host_stats": """
            WITH u AS (
                SELECT doc_id, n_chars,
                       source || '.example.org' AS host,
                       'https://' || source || '.example.org/Docs/' || doc_id
                           || '?id=' || doc_id AS url
                FROM documents
            )
            SELECT host, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   min(url) AS first_url
            FROM u GROUP BY host
        """,
        "tpch_q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(12,2)))), 2)
                        AS DOUBLE) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
        """,
        "tpch_q6_revenue_filter": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * CAST(l_discount AS DECIMAL(12,2))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        # replays the asof_join union+window construction verbatim so
        # tie semantics (right-before-left at equal ts, largest
        # event_id among tied right rows) are pinned, not assumed
        "asof_purchase_view": """
            WITH u AS (
                SELECT event_id, user_id, ts, value AS purchase_value,
                       CAST(NULL AS TIMESTAMP) AS view_ts,
                       CAST(NULL AS DOUBLE) AS view_value, 1 AS side
                FROM events WHERE event_type = 'purchase'
                UNION ALL
                SELECT event_id, user_id, ts, NULL, ts, value, 0
                FROM events WHERE event_type = 'view'
            ), f AS (
                SELECT event_id, user_id, ts, purchase_value, side,
                       last_value(view_ts IGNORE NULLS) OVER w AS view_ts,
                       last_value(view_value IGNORE NULLS) OVER w AS view_value
                FROM u
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, side, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id, ts, purchase_value,
                   coalesce(epoch_us(view_ts), -1) AS view_ts_us,
                   coalesce(view_value, -1.0) AS view_value
            FROM f WHERE side = 1
        """,
        "events_rollup": """
            WITH e AS (
                SELECT event_type,
                       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       value
                FROM events
            )
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(strftime(day, '%Y-%m-%d'), 'ALL') AS day,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                       AS sum_value,
                   CAST(GROUPING(event_type, day) AS BIGINT) AS gid
            FROM e
            GROUP BY ROLLUP(event_type, day)
        """,
        "retention_cohorts": """
            WITH ev AS (
                SELECT DISTINCT user_id,
                       CAST(datediff('day', DATE '2024-01-01',
                                     CAST(ts AS DATE)) AS BIGINT) AS day
                FROM events
            ), first AS (
                SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id
            )
            SELECT f.cohort_day, e.day - f.cohort_day AS days_since,
                   count(DISTINCT e.user_id) AS n_users
            FROM ev e JOIN first f USING (user_id)
            GROUP BY 1, 2
        """,
        # full two-round Lloyd replay: init = every 31st vector,
        # assign (min-cid tie-break) -> per-dim mean -> re-assign.
        # dim is 64 (the embeddings table's width)
        "kmeans_assignments": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), c0 AS (
                SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 31 = 0
            ), a1 AS (
                SELECT vec_id, v, cid AS cell FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(c.cv, e.v) DESC,
                                        c.cid) AS rn
                    FROM e CROSS JOIN c0 c
                ) WHERE rn = 1
            ), u1 AS (
                SELECT cell, i, avg(v[i]) AS m
                FROM a1 CROSS JOIN generate_series(1, 64) AS g(i)
                GROUP BY cell, i
            ), c1 AS (
                SELECT cell AS cid, list(m ORDER BY i) AS cv FROM u1 GROUP BY cell
            ), a2 AS (
                SELECT vec_id, cid AS cell FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(c.cv, e.v) DESC,
                                        c.cid) AS rn
                    FROM e CROSS JOIN c1 c
                ) WHERE rn = 1
            )
            SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM a2
        """,
        "tpch_q5_local_supplier": """
            SELECT n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(12,2)))), 2)
                        AS DOUBLE) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'AMERICA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
        """,
        "tpch_q18_large_orders": """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2)
                        AS DOUBLE) AS sum_qty
            FROM customer, orders, lineitem
            WHERE o_orderkey IN (
                SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 220)
              AND c_custkey = o_custkey AND o_orderkey = l_orderkey
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        """,
        "tpch_q10_returned_items": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(12,2)))), 2)
                        AS DOUBLE) AS revenue
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND c_nationkey = n_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "tpch_q14_promo_revenue": f"""
            WITH j AS (
                SELECT CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2))
                          - CAST(l_discount AS DECIMAL(12,2))) AS rev,
                       p_type
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
            ), g AS (
                SELECT sum(CASE WHEN p_type = 'PROMO' THEN rev
                                ELSE CAST(0 AS DECIMAL(12,2)) END) AS p,
                       sum(rev) AS t
                FROM j
            )
            SELECT {_halfup_ratio_sql("CAST(p * 10000 AS BIGINT) * 100",
                                      "CAST(t * 10000 AS BIGINT)", 4)}
                       AS promo_revenue_pct,
                   CAST(round(t, 2) AS DOUBLE) AS total_revenue
            FROM g
        """,
        "token_chunks": r"""
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS t
                FROM documents
            ), sized AS (
                SELECT doc_id, t, len(t) AS n FROM base WHERE len(t) > 0
            ), e AS (
                SELECT doc_id, t,
                       unnest(generate_series(0, (n - 1) // 48)) AS i
                FROM sized
            )
            SELECT doc_id,
                   CAST(i AS INT) AS chunk_id,
                   array_to_string(list_slice(t, i*48 + 1, i*48 + 64), ' ')
                       AS chunk_text,
                   CAST(len(list_slice(t, i*48 + 1, i*48 + 64)) AS INT)
                       AS n_tokens
            FROM e
        """,
        "target_mix_resample": """
            WITH h AS (
                SELECT doc_id, lang, source,
                       list_reduce(list_transform(generate_series(1, 8),
                           i -> strpos('0123456789abcdef',
                                substr(md5(lang || chr(31)
                                           || CAST(doc_id AS VARCHAR)), i, 1))
                                - 1),
                           (a, b) -> a * 16 + b) % 1000000 AS bucket
                FROM documents
            )
            SELECT doc_id, lang, source
            FROM h
            WHERE bucket < CASE lang WHEN 'en' THEN 500000
                                     WHEN 'zh' THEN 250000
                                     ELSE 1000000 END
        """,
        "profile_documents": """
            SELECT 'doc_id' AS column_name,
                   CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS null_count,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
                   CAST(min(doc_id) AS VARCHAR) AS min_value,
                   CAST(max(doc_id) AS VARCHAR) AS max_value
            FROM documents
            UNION ALL
            SELECT 'text',
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT text) AS BIGINT),
                   CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'lang',
                   CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT lang) AS BIGINT),
                   CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'source',
                   CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT source) AS BIGINT),
                   CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'n_chars',
                   CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT n_chars) AS BIGINT),
                   CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
            FROM documents
        """,
        "scd2_user_state": """
            WITH ordered AS (
                SELECT user_id, event_type, ts, event_id,
                       CASE WHEN lag(event_type) OVER w IS NULL
                              OR lag(event_type) OVER w <> event_type
                            THEN 1 ELSE 0 END AS chg
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), runs AS (
                SELECT user_id, event_type, ts,
                       sum(chg) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS run
                FROM ordered
            ), grouped AS (
                SELECT user_id, run, event_type AS state,
                       min(epoch_us(ts)) AS valid_from_us,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM runs GROUP BY user_id, run, event_type
            )
            SELECT user_id, state, valid_from_us,
                   coalesce(lead(valid_from_us) OVER (PARTITION BY user_id
                                                      ORDER BY run),
                            -1) AS valid_to_us,
                   n_events
            FROM grouped
        """,
        "duplicate_token_windows": r"""
            WITH planted AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 11 = 0
                            THEN text || ' please subscribe to our '
                                 || lang
                                 || ' newsletter for daily updates and'
                                 || ' exclusive content delivered'
                                 || ' straight to your inbox every'
                                 || ' single morning without fail'
                            ELSE text END AS text
                FROM documents
            ), base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x <> '') AS t
                FROM planted
            ), sized AS (
                SELECT doc_id, t, len(t) AS n FROM base WHERE len(t) >= 20
            ), occ AS (
                SELECT doc_id, i AS pos,
                       substr(md5(array_to_string(
                           list_slice(t, i + 1, i + 20), ' ')), 1, 16)
                           AS win_key
                FROM (SELECT doc_id, t,
                             unnest(generate_series(0, n - 20)) AS i
                      FROM sized)
            ), dup AS (
                SELECT win_key,
                       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                FROM occ GROUP BY win_key
                HAVING count(DISTINCT doc_id) > 1
            )
            SELECT occ.doc_id, CAST(pos AS INT) AS pos,
                   occ.win_key, n_docs
            FROM occ JOIN dup USING (win_key)
        """,
        "zorder_keys": _zorder_oracle_sql(),
        "tier_extraction": _tier_oracle_sql(),
        "ann_projected_cosine": """
            WITH p AS (
                SELECT vec_id,
                       list_transform(generate_series(0, 15), j ->
                           list_reduce(
                               list_prepend(CAST(0.0 AS DOUBLE),
                                   list_transform(generate_series(0, 63), i ->
                                       CAST(embedding[i + 1] AS DOUBLE)
                                       * (CASE WHEN ((j * 1315423911
                                                      + i * 2654435761)
                                                     % 1000003) % 2 = 0
                                               THEN CAST(1.0 AS DOUBLE)
                                               ELSE CAST(-1.0 AS DOUBLE)
                                          END))),
                               (a, b) -> a + b)
                           / sqrt(CAST(16 AS DOUBLE))) AS proj
                FROM embeddings
            ), q AS (
                SELECT proj AS qv FROM p WHERE vec_id = 0
            ), scored AS (
                SELECT p.vec_id,
                       round(
                           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                               list_transform(generate_series(1, 16),
                                   i -> p.proj[i] * q.qv[i])),
                               (a, b) -> a + b)
                           / (sqrt(list_reduce(
                                  list_prepend(CAST(0.0 AS DOUBLE),
                                  list_transform(generate_series(1, 16),
                                      i -> p.proj[i] * p.proj[i])),
                                  (a, b) -> a + b))
                              * sqrt(list_reduce(
                                  list_prepend(CAST(0.0 AS DOUBLE),
                                  list_transform(generate_series(1, 16),
                                      i -> q.qv[i] * q.qv[i])),
                                  (a, b) -> a + b))), 6) AS cos_sim
                FROM p CROSS JOIN q
                WHERE p.vec_id <> 0
            )
            SELECT vec_id,
                   CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
                        AS INT) AS rank,
                   cos_sim
            FROM scored
            ORDER BY cos_sim DESC, vec_id
            LIMIT 10
        """,
        # the stand-in model replayed in full: md5-hex bucket (same
        # reduce as corpus_split), Knuth-multiplicative weight, integer
        # sum; the mean is one IEEE division of identical ints and the
        # keep flag is an integer comparison — nothing can tie-split
        "quality_classifier_scores": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x <> '') AS words
                FROM documents
            ), s AS (
                SELECT doc_id, len(words) AS n_tokens,
                       coalesce(list_sum(list_transform(words,
                           w -> (list_reduce(list_transform(generate_series(1, 8),
                                     i -> CAST(strpos('0123456789abcdef',
                                              substr(md5(w), i, 1)) - 1 AS BIGINT)),
                                 (a, b) -> a * 16 + b) % 4096)
                                * 2654435761 % 8191 - 4095)),
                         0) AS sum_w
                FROM t
            )
            SELECT doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(sum_w AS BIGINT) AS sum_w,
                   CASE WHEN n_tokens > 0
                        THEN CAST(sum_w AS DOUBLE) / n_tokens
                        ELSE 0.0 END AS mean_w,
                   CAST(sum_w > 0 AS BIGINT) AS keep
            FROM s
        """,
        # unigram + word-bigram features in one bucket space; the
        # trailing zip pad is NULL and || propagates it, so the partial
        # pair filters away in both engines
        "quality_classifier_bigrams": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x <> '') AS words
                FROM documents
            ), f AS (
                SELECT doc_id,
                       words || list_filter(list_transform(
                           list_zip(words, words[2:]),
                           s -> s[1] || ' ' || s[2]),
                           x -> x IS NOT NULL) AS feats
                FROM t
            ), s AS (
                SELECT doc_id, len(feats) AS n_tokens,
                       coalesce(list_sum(list_transform(feats,
                           w -> (list_reduce(list_transform(generate_series(1, 8),
                                     i -> CAST(strpos('0123456789abcdef',
                                              substr(md5(w), i, 1)) - 1 AS BIGINT)),
                                 (a, b) -> a * 16 + b) % 4096)
                                * 2654435761 % 8191 - 4095)),
                         0) AS sum_w
                FROM f
            )
            SELECT doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(sum_w AS BIGINT) AS sum_w,
                   CASE WHEN n_tokens > 0
                        THEN CAST(sum_w AS DOUBLE) / n_tokens
                        ELSE 0.0 END AS mean_w,
                   CAST(sum_w > 0 AS BIGINT) AS keep
            FROM s
        """,
        "inverted_postings": r"""
            WITH d AS (
                SELECT doc_id,
                       text || ' kw' || (doc_id % 37)
                            || ' kw' || (doc_id % 23) AS text
                FROM documents
            ), pairs AS (
                SELECT doc_id,
                       unnest(list_distinct(list_filter(
                           string_split_regex(lower(text), '\s+'),
                           x -> x <> ''))) AS term
                FROM d
            ), g AS (
                SELECT term, count(*) AS df,
                       array_to_string(list_transform(list_sort(list(doc_id)),
                           x -> CAST(x AS VARCHAR)), ',') AS postings
                FROM pairs GROUP BY term
            )
            SELECT term, CAST(df AS BIGINT) AS df, postings
            FROM g WHERE df BETWEEN 2 AND 300
        """,
        # deliberately the SAME SQL as inverted_postings: the engine side
        # builds two disjoint segments and merges them, so a hash match
        # here proves merge(build(A), build(B)) == build(A ∪ B)
        "postings_segment_merge": r"""
            WITH d AS (
                SELECT doc_id,
                       text || ' kw' || (doc_id % 37)
                            || ' kw' || (doc_id % 23) AS text
                FROM documents
            ), pairs AS (
                SELECT doc_id,
                       unnest(list_distinct(list_filter(
                           string_split_regex(lower(text), '\s+'),
                           x -> x <> ''))) AS term
                FROM d
            ), g AS (
                SELECT term, count(*) AS df,
                       array_to_string(list_transform(list_sort(list(doc_id)),
                           x -> CAST(x AS VARCHAR)), ',') AS postings
                FROM pairs GROUP BY term
            )
            SELECT term, CAST(df AS BIGINT) AS df, postings
            FROM g WHERE df BETWEEN 2 AND 300
        """,
        # four BPE rounds unrolled (the k-means replay precedent): pair
        # counts are sequence bigrams, arg-max ties break on the pair,
        # merge application is replace() with a private-use symbol —
        # left-to-right non-overlapping in both engines
        "bpe_train_merges": r"""
            WITH wf0 AS (
                SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
                    SELECT unnest(list_filter(
                        string_split_regex(lower(text), '\s+'),
                        x -> x <> '')) AS word
                    FROM documents)
                WHERE NOT regexp_matches(word, '[\x{E000}-\x{F8FF}]')
                GROUP BY word
            ),
            p1 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS weight FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, length(word) - 1),
                        i -> substr(word, i, 2))) AS pair, freq FROM wf0)
                   GROUP BY pair),
            b1 AS (SELECT pair, weight FROM p1
                   ORDER BY weight DESC, pair LIMIT 1),
            wf1 AS (SELECT replace(word, (SELECT pair FROM b1),
                                   chr(57344)) AS word, freq FROM wf0),
            p2 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS weight FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, length(word) - 1),
                        i -> substr(word, i, 2))) AS pair, freq FROM wf1)
                   GROUP BY pair),
            b2 AS (SELECT pair, weight FROM p2
                   ORDER BY weight DESC, pair LIMIT 1),
            wf2 AS (SELECT replace(word, (SELECT pair FROM b2),
                                   chr(57345)) AS word, freq FROM wf1),
            p3 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS weight FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, length(word) - 1),
                        i -> substr(word, i, 2))) AS pair, freq FROM wf2)
                   GROUP BY pair),
            b3 AS (SELECT pair, weight FROM p3
                   ORDER BY weight DESC, pair LIMIT 1),
            wf3 AS (SELECT replace(word, (SELECT pair FROM b3),
                                   chr(57346)) AS word, freq FROM wf2),
            p4 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS weight FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, length(word) - 1),
                        i -> substr(word, i, 2))) AS pair, freq FROM wf3)
                   GROUP BY pair),
            b4 AS (SELECT pair, weight FROM p4
                   ORDER BY weight DESC, pair LIMIT 1)
            SELECT CAST(1 AS BIGINT) AS round, pair, chr(57344) AS merged,
                   weight FROM b1
            UNION ALL SELECT 2, pair, chr(57345), weight FROM b2
            UNION ALL SELECT 3, pair, chr(57346), weight FROM b3
            UNION ALL SELECT 4, pair, chr(57347), weight FROM b4
        """,
        # same planted banners; shingle ownership replayed via the same
        # count/min aggregation — novelty is n_unique/n_shingles exactly
        "shingle_novelty": r"""
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 < 2 THEN text || ' ' ||
                            CASE WHEN doc_id % 2 = 0
                                 THEN 'please accept cookies to continue reading this free article today'
                                 ELSE 'subscribe to our newsletter for daily updates delivered every morning'
                            END
                            ELSE text END AS text
                FROM documents
            ), t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x <> '') AS words
                FROM d
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(words) < 8 THEN []
                            ELSE list_distinct(list_transform(
                                generate_series(1, len(words) - 7),
                                i -> array_to_string(words[i:i+7], ' ')))
                       END AS shs
                FROM t
            ), pairs AS (
                SELECT doc_id, unnest(shs) AS s FROM sh
            ), g AS (
                SELECT s, count(*) AS n, min(doc_id) AS doc_id
                FROM pairs GROUP BY s
            ), u AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_unique
                FROM g WHERE n = 1 GROUP BY doc_id
            )
            SELECT sh.doc_id,
                   CAST(len(shs) AS BIGINT) AS n_shingles,
                   coalesce(u.n_unique, 0) AS n_unique,
                   CASE WHEN len(shs) > 0
                        THEN CAST(coalesce(u.n_unique, 0) AS DOUBLE)
                             / len(shs)
                        ELSE 1.0 END AS novelty
            FROM sh LEFT JOIN u ON sh.doc_id = u.doc_id
        """,
        # the training replay above, extended: the four learned pairs
        # (scalar CTEs) ride a cross join into a correlated lambda that
        # applies the replace chain per word — a doc's BPE token count
        # is the summed post-merge character count
        "bpe_encoded_tokens": r"""
            WITH wf0 AS (
                SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
                    SELECT unnest(list_filter(
                        string_split_regex(lower(text), '\s+'),
                        x -> x <> '')) AS word
                    FROM documents)
                WHERE NOT regexp_matches(word, '[\x{E000}-\x{F8FF}]')
                GROUP BY word
            ),
            p1 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS weight FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, length(word) - 1),
                        i -> substr(word, i, 2))) AS pair, freq FROM wf0)
                   GROUP BY pair),
            b1 AS (SELECT pair FROM p1 ORDER BY weight DESC, pair LIMIT 1),
            wf1 AS (SELECT replace(word, (SELECT pair FROM b1),
                                   chr(57344)) AS word, freq FROM wf0),
            p2 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS weight FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, length(word) - 1),
                        i -> substr(word, i, 2))) AS pair, freq FROM wf1)
                   GROUP BY pair),
            b2 AS (SELECT pair FROM p2 ORDER BY weight DESC, pair LIMIT 1),
            wf2 AS (SELECT replace(word, (SELECT pair FROM b2),
                                   chr(57345)) AS word, freq FROM wf1),
            p3 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS weight FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, length(word) - 1),
                        i -> substr(word, i, 2))) AS pair, freq FROM wf2)
                   GROUP BY pair),
            b3 AS (SELECT pair FROM p3 ORDER BY weight DESC, pair LIMIT 1),
            wf3 AS (SELECT replace(word, (SELECT pair FROM b3),
                                   chr(57346)) AS word, freq FROM wf2),
            p4 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS weight FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, length(word) - 1),
                        i -> substr(word, i, 2))) AS pair, freq FROM wf3)
                   GROUP BY pair),
            b4 AS (SELECT pair FROM p4 ORDER BY weight DESC, pair LIMIT 1),
            t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x <> '') AS words
                FROM documents
            )
            SELECT doc_id,
                   CAST(coalesce(list_sum(list_transform(words,
                       w -> length(
                           replace(replace(replace(replace(w,
                               b1.pair, chr(57344)),
                               b2.pair, chr(57345)),
                               b3.pair, chr(57346)),
                               b4.pair, chr(57347))))), 0) AS BIGINT)
                       AS bpe_tokens
            FROM t, b1, b2, b3, b4
        """,
        "events_session_window": """
            WITH ordered AS (
                SELECT user_id, ts,
                       CASE WHEN epoch_us(ts)
                                 - lag(epoch_us(ts)) OVER w > 1800000000
                              OR lag(ts) OVER w IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), runs AS (
                SELECT user_id, ts,
                       sum(new_session) OVER (PARTITION BY user_id
                                              ORDER BY ts
                                              ROWS UNBOUNDED PRECEDING)
                           AS sid
                FROM ordered
            )
            SELECT user_id,
                   min(epoch_us(ts)) AS session_start_us,
                   max(epoch_us(ts)) + 1800000000 AS session_end_us,
                   count(*) AS n_events
            FROM runs GROUP BY user_id, sid
        """,
        "events_cube_weekly": """
            WITH e AS (
                SELECT event_type,
                       CAST(datediff('day', DATE '2024-01-01',
                                     CAST(ts AS DATE)) // 7 AS BIGINT)
                           AS week,
                       CAST(round(value * 100) AS BIGINT) AS c
                FROM events
            )
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(CAST(week AS VARCHAR), 'ALL') AS week,
                   count(*) AS n_events,
                   CAST(sum(c) AS DOUBLE) / 100.0 AS sum_value,
                   CAST(GROUPING(event_type, week) AS BIGINT) AS gid
            FROM e
            GROUP BY CUBE(event_type, week)
        """,
        "events_weighted_median": """
            WITH w AS (
                SELECT event_type, value,
                       CAST(sum(1 + event_id % 5) AS BIGINT) AS wt
                FROM events GROUP BY event_type, value
            ), c AS (
                SELECT event_type, value, wt,
                       CAST(sum(wt) OVER (PARTITION BY event_type
                                          ORDER BY value
                                          ROWS UNBOUNDED PRECEDING)
                            AS BIGINT) AS cum,
                       CAST(sum(wt) OVER (PARTITION BY event_type)
                            AS BIGINT) AS total
                FROM w
            )
            SELECT event_type, min(value) AS weighted_median
            FROM c WHERE 2 * cum >= total
            GROUP BY event_type
        """,
        "set_intersect_except": """
            SELECT doc_id FROM documents WHERE lang = 'en'
            INTERSECT
            SELECT doc_id FROM documents WHERE n_chars > 300
            EXCEPT
            SELECT doc_id FROM documents WHERE source = 'src0'
        """,
        "jl_projection": """
            WITH p AS (
                SELECT vec_id,
                       list_transform(generate_series(0, 15), j ->
                           list_reduce(
                               list_prepend(CAST(0.0 AS DOUBLE),
                                   list_transform(generate_series(0, 63), i ->
                                       CAST(embedding[i + 1] AS DOUBLE)
                                       * (CASE WHEN ((j * 1315423911
                                                      + i * 2654435761)
                                                     % 1000003) % 2 = 0
                                               THEN CAST(1.0 AS DOUBLE)
                                               ELSE CAST(-1.0 AS DOUBLE)
                                          END))),
                               (a, b) -> a + b)
                           / sqrt(CAST(16 AS DOUBLE))) AS proj
                FROM embeddings
            )
            SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                   round(proj[i], 6) AS proj_value
            FROM (SELECT vec_id, proj,
                         unnest(generate_series(1, 16)) AS i
                  FROM p)
        """,
        "events_value_anomalies": """
            WITH m AS (
                SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(c) AS BIGINT) AS s1,
                       CAST(sum(c * c) AS BIGINT) AS s2
                FROM (SELECT event_type,
                             CAST(round(value * 100) AS BIGINT) AS c
                      FROM events)
                GROUP BY event_type
            )
            SELECT event_id, e.event_type, value
            FROM (SELECT event_id, event_type, value,
                         CAST(round(value * 100) AS BIGINT) AS c
                  FROM events) e
            JOIN m ON m.event_type = e.event_type
            WHERE CAST(c * n - s1 AS HUGEINT) * CAST(c * n - s1 AS HUGEINT)
                  * CAST(n - 1 AS HUGEINT)
                > 9 * CAST(n AS HUGEINT) * CAST(n * s2 - s1 * s1 AS HUGEINT)
        """,
        "fuzzy_vocab_pairs": r"""
            WITH base_words AS (
                SELECT unnest(list_filter(string_split_regex(lower(text),
                                                             '\s+'),
                              x -> x <> '')) AS w
                FROM documents
            ), typos AS (
                SELECT substr(w0, 1, 1) || substr(w0, 3) AS w
                FROM (SELECT list_filter(string_split_regex(lower(text),
                                                            '\s+'),
                             x -> x <> '')[1] AS w0
                      FROM documents WHERE doc_id % 37 = 0)
                WHERE length(w0) >= 3
            ), vocab AS (
                SELECT DISTINCT w
                FROM (SELECT w FROM base_words
                      UNION ALL SELECT w FROM typos)
            ), keyed AS (
                SELECT DISTINCT w, v FROM (
                    SELECT w, unnest(list_prepend(w,
                        list_transform(generate_series(1, length(w)),
                            i -> substr(w, 1, i - 1) || substr(w, i + 1))))
                        AS v
                    FROM vocab
                )
            )
            SELECT DISTINCT a.w AS w1, b.w AS w2
            FROM keyed a JOIN keyed b ON a.v = b.v
            WHERE a.w < b.w AND levenshtein(a.w, b.w) <= 1
        """,
        "bm25_search": r"""
            WITH words AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text),
                                                             '\s+'),
                                          x -> x <> '')) AS term
                FROM documents
            ), dl AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
                FROM words GROUP BY doc_id
            ), stats AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(dl) AS BIGINT) AS sum_dl
                FROM dl
            ), tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM words WHERE term IN ('data', 'fast', 'order')
                GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY term
            ), micro AS (
                SELECT tf.doc_id,
                       CAST(round(
                           ln(CAST(1.0 AS DOUBLE)
                              + (CAST(n - df AS DOUBLE)
                                 + CAST(0.5 AS DOUBLE))
                                / (CAST(df AS DOUBLE)
                                   + CAST(0.5 AS DOUBLE)))
                           * (tf * CAST(2.25 AS DOUBLE))
                           / (tf + CAST(1.25 AS DOUBLE)
                                   * (CAST(0.25 AS DOUBLE)
                                      + CAST(0.75 AS DOUBLE) * dl
                                        / (CAST(sum_dl AS DOUBLE) / n)))
                           * 1e6) AS BIGINT) AS m
                FROM tf
                JOIN dfreq USING (term)
                JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats
            ), per_doc AS (
                SELECT doc_id, CAST(sum(m) AS BIGINT) AS micros,
                       CAST(count(*) AS BIGINT) AS n_matched
                FROM micro GROUP BY doc_id
            )
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY micros DESC, doc_id)
                        AS INT) AS rank,
                   CAST(micros AS DOUBLE) / 1e6 AS score,
                   n_matched
            FROM per_doc
            ORDER BY micros DESC, doc_id
            LIMIT 20
        """,
        "events_equidepth_histogram": """
            WITH c AS (
                SELECT CAST(round(value * 100) AS BIGINT) AS q,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1
            ), nn AS (
                SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c
            ), cum AS (
                SELECT q, cnt,
                       CAST(coalesce(sum(cnt) OVER (
                                ORDER BY q
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT)
                           AS cum_prev
                FROM c
            )
            SELECT (cum_prev * 10) // n AS bin,
                   CAST(sum(cnt) AS BIGINT) AS n_rows,
                   CAST(min(q) AS DOUBLE) / 100.0 AS lo_value,
                   CAST(max(q) AS DOUBLE) / 100.0 AS hi_value
            FROM cum CROSS JOIN nn
            GROUP BY 1
        """,
        "snapshot_diff_cdc": """
            WITH base AS (
                SELECT doc_id, lang, source, n_chars FROM documents
            ), newsnap AS (
                SELECT doc_id, lang, source,
                       CASE WHEN doc_id % 89 = 0 THEN n_chars + 1
                            ELSE n_chars END AS n_chars
                FROM base WHERE doc_id % 97 <> 0
                UNION ALL
                SELECT doc_id + 1000000, lang, source, n_chars
                FROM base WHERE doc_id % 101 = 0
            ), j AS (
                SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                       o.doc_id IS NOT NULL AS in_o,
                       n.doc_id IS NOT NULL AS in_n,
                       o.lang AS ol, o.source AS os, o.n_chars AS oc,
                       n.lang AS nl, n.source AS ns, n.n_chars AS nc
                FROM base o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
            )
            SELECT CASE WHEN NOT in_o THEN 'insert'
                        WHEN NOT in_n THEN 'delete'
                        ELSE 'update' END AS op,
                   doc_id,
                   CASE WHEN NOT in_n THEN ol ELSE nl END AS lang,
                   CASE WHEN NOT in_n THEN os ELSE ns END AS source,
                   CASE WHEN NOT in_n THEN oc ELSE nc END AS n_chars
            FROM j
            WHERE NOT in_o OR NOT in_n
               OR ol IS DISTINCT FROM nl
               OR os IS DISTINCT FROM ns
               OR oc IS DISTINCT FROM nc
        """,
        "events_rolling_7d": """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   CAST(count(*) OVER w AS BIGINT) AS n_7d,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
                        AS DOUBLE) / 100.0 AS sum_value_7d
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 604800000000 PRECEDING
                               AND CURRENT ROW)
        """,
        "events_value_moments": """
            WITH m AS (
                SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n_events,
                       CAST(sum(c) AS BIGINT) AS s1,
                       CAST(sum(c * c) AS BIGINT) AS s2
                FROM (SELECT event_type,
                             CAST(round(value * 100) AS BIGINT) AS c
                      FROM events)
                GROUP BY event_type
            ), x AS (
                SELECT event_type, n_events, s1,
                       n_events * s2 - s1 * s1 AS num,
                       n_events * (n_events - 1) AS den
                FROM m
            ), r AS (
                SELECT event_type, n_events, num, den,
                       CASE WHEN s1 >= 0 THEN
                            (20000 * s1 + n_events) // (2 * n_events)
                            ELSE -((-20000 * s1 + n_events)
                                   // (2 * n_events)) END AS mean_u,
                       CASE WHEN den = 0 THEN NULL ELSE
                           100 * (num // den)
                           + (200 * (num % den) + den) // (2 * den)
                       END AS var_u,
                       CASE WHEN den = 0 THEN NULL ELSE
                           CAST(floor(sqrt(CAST(num AS DOUBLE)
                                           / CAST(den AS DOUBLE)) * 10000.0
                                      + 0.5) AS BIGINT)
                       END AS m0
                FROM x
            )
            SELECT event_type, n_events,
                   CAST(mean_u AS DOUBLE) / 1000000.0 AS mean_value,
                   CAST(var_u AS DOUBLE) / 1000000.0 AS var_value,
                   CAST(CASE WHEN CAST(num AS HUGEINT) * 400000000
                                  >= CAST(2 * m0 + 1 AS HUGEINT)
                                     * CAST(2 * m0 + 1 AS HUGEINT)
                                     * CAST(den AS HUGEINT)
                             THEN m0 + 1
                             WHEN m0 > 0
                                  AND CAST(num AS HUGEINT) * 400000000
                                      < CAST(2 * m0 - 1 AS HUGEINT)
                                        * CAST(2 * m0 - 1 AS HUGEINT)
                                        * CAST(den AS HUGEINT)
                             THEN m0 - 1
                             ELSE m0 END AS DOUBLE) / 1000000.0
                       AS std_value
            FROM r
        """,
        "tfidf_top_terms": r"""
            WITH words AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text),
                                                             '\s+'),
                                          x -> x <> '')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM words GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY term
            ), nn AS (
                SELECT count(*) AS n FROM documents
            ), scored AS (
                SELECT doc_id, term, tf, df,
                       round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
                FROM tf JOIN dfreq USING (term) CROSS JOIN nn
            )
            SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, tfidf
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY tfidf DESC, tf DESC, term) AS rank
                FROM scored
            ) WHERE rank <= 3
        """,
        "cms_heavy_hitters": r"""
            WITH w AS (
                SELECT unnest(list_filter(string_split_regex(lower(text),
                                                             '\s+'),
                              t -> t <> '')) AS word
                FROM documents
            ), fan AS (
                SELECT word, unnest(range(0, 4)) AS row FROM w
            ), hashed AS (
                SELECT row,
                       (list_reduce(list_transform(generate_series(1, 8),
                           i -> strpos('0123456789abcdef',
                                substr(md5(CAST(row AS VARCHAR) || ':'
                                           || CAST(word AS VARCHAR)),
                                       i, 1)) - 1),
                           (a, b) -> a * 16 + b) % 256) AS bucket
                FROM fan
            ), sk AS (
                SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
                FROM hashed GROUP BY row, bucket
            ), truth AS (
                SELECT word, CAST(count(*) AS BIGINT) AS true_cnt
                FROM w GROUP BY word HAVING count(*) >= 50
            ), probes AS (
                SELECT word, true_cnt, unnest(range(0, 4)) AS row
                FROM truth
            ), pb AS (
                SELECT word, true_cnt, row,
                       (list_reduce(list_transform(generate_series(1, 8),
                           i -> strpos('0123456789abcdef',
                                substr(md5(CAST(row AS VARCHAR) || ':'
                                           || CAST(word AS VARCHAR)),
                                       i, 1)) - 1),
                           (a, b) -> a * 16 + b) % 256) AS bucket
                FROM probes
            )
            SELECT word, true_cnt,
                   CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_est
            FROM pb LEFT JOIN sk USING (row, bucket)
            GROUP BY word, true_cnt
        """,
        # the merge query's oracle is the FULL BUILD's sketch — the
        # gate thereby proves merge(build(A), build(B)) == build(A∪B)
        "cms_segment_merge": r"""
            WITH w AS (
                SELECT unnest(list_filter(string_split_regex(lower(text),
                                                             '\s+'),
                              t -> t <> '')) AS word
                FROM documents
            ), fan AS (
                SELECT word, unnest(range(0, 4)) AS row FROM w
            ), hashed AS (
                SELECT row,
                       (list_reduce(list_transform(generate_series(1, 8),
                           i -> strpos('0123456789abcdef',
                                substr(md5(CAST(row AS VARCHAR) || ':'
                                           || CAST(word AS VARCHAR)),
                                       i, 1)) - 1),
                           (a, b) -> a * 16 + b) % 256) AS bucket
                FROM fan
            )
            SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM hashed GROUP BY row, bucket
        """,
        "distinct_words_linear_counting": r"""
            WITH w AS (
                SELECT unnest(list_filter(string_split_regex(lower(text),
                                                             '\s+'),
                              t -> t <> '')) AS word
                FROM documents
            ), occ AS (
                SELECT CAST(count(DISTINCT
                           list_reduce(list_transform(generate_series(1, 8),
                               i -> strpos('0123456789abcdef',
                                    substr(md5(word), i, 1)) - 1),
                               (a, b) -> a * 16 + b) % 4096)
                           AS BIGINT) AS occupied
                FROM w
            )
            SELECT CAST(4096 AS BIGINT) AS n_buckets, occupied,
                   CASE WHEN occupied >= 4096 THEN NULL ELSE
                       CAST(round(-4096.0 * ln(CAST(4096 - occupied
                                                    AS DOUBLE)
                                               / 4096.0) * 10000.0)
                            AS BIGINT) END AS estimate_e4
            FROM occ
        """,
        # merge==rebuild: the merge query shares the FULL build's
        # oracle verbatim (same contract as cms_segment_merge)
        "quantile_sketch": _QSKETCH_SQL,
        "quantile_sketch_merge": _QSKETCH_SQL,
        "host_triangles": """
            WITH e AS (
                SELECT source AS src,
                       'src' || CAST(((doc_id // 20) * 13 + doc_id * 3 + 5)
                                     % 20 AS VARCHAR) AS dst
                FROM documents WHERE doc_id % 7 = 0
            ), und AS (
                SELECT DISTINCT least(src, dst) AS a,
                                greatest(src, dst) AS b
                FROM e WHERE src <> dst
            ), tp AS (
                SELECT e1.a, e1.b, e2.b AS c
                FROM und e1 JOIN und e2 ON e1.b = e2.a
            ), tri AS (
                SELECT a, b, c FROM tp
                WHERE EXISTS (SELECT 1 FROM und u
                              WHERE u.a = tp.a AND u.b = tp.c)
            )
            SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
            FROM (SELECT unnest([a, b, c]) AS node FROM tri)
            GROUP BY node
        """,
        "host_pagerank": """
            WITH edges AS (
                SELECT DISTINCT source AS src,
                       'src' || CAST(((doc_id // 20) * 13 + doc_id * 3 + 5)
                                     % 20 AS VARCHAR) AS dst
                FROM documents
                WHERE doc_id % 7 = 0
                  AND source <> 'src'
                      || CAST(((doc_id // 20) * 13 + doc_id * 3 + 5)
                              % 20 AS VARCHAR)
            ),
            nodes AS (SELECT src AS node FROM edges
                      UNION SELECT dst FROM edges),
            nn AS (SELECT count(*) AS n FROM nodes),
            deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
            base AS (
                SELECT node,
                       15000000000000 // (100 * n) AS t,
                       1000000000000 // n AS r
                FROM nodes CROSS JOIN nn
            ),
            i1 AS (
                SELECT b.node, b.t,
                       b.t + (85 * coalesce(f.inflow, 0)) // 100 AS r
                FROM base b LEFT JOIN (
                    SELECT e.dst AS node, sum(p.r // d.deg) AS inflow
                    FROM edges e
                    JOIN base p ON p.node = e.src
                    JOIN deg d ON d.src = e.src
                    GROUP BY e.dst
                ) f ON f.node = b.node
            ),
            i2 AS (
                SELECT b.node, b.t,
                       b.t + (85 * coalesce(f.inflow, 0)) // 100 AS r
                FROM base b LEFT JOIN (
                    SELECT e.dst AS node, sum(p.r // d.deg) AS inflow
                    FROM edges e
                    JOIN i1 p ON p.node = e.src
                    JOIN deg d ON d.src = e.src
                    GROUP BY e.dst
                ) f ON f.node = b.node
            ),
            i3 AS (
                SELECT b.node, b.t,
                       b.t + (85 * coalesce(f.inflow, 0)) // 100 AS r
                FROM base b LEFT JOIN (
                    SELECT e.dst AS node, sum(p.r // d.deg) AS inflow
                    FROM edges e
                    JOIN i2 p ON p.node = e.src
                    JOIN deg d ON d.src = e.src
                    GROUP BY e.dst
                ) f ON f.node = b.node
            )
            SELECT node, CAST(r AS BIGINT) AS rank_fp FROM i3
        """,
        "tpch_q4_priority_count": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        "tpch_q12_priority_classes": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_returnflag
        """,
        "tpch_q13_order_distribution": """
            SELECT c_count, count(*) AS custdist
            FROM (
                SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
                FROM customer LEFT OUTER JOIN orders
                     ON c_custkey = o_custkey
                    AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "tpch_q17_small_quantity": """
            WITH t AS (
                SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
                FROM lineitem GROUP BY l_partkey
            )
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2)
                        AS DOUBLE) / 7.0 AS avg_yearly
            FROM lineitem
            JOIN part ON p_partkey = lineitem.l_partkey
            JOIN t ON t.l_partkey = lineitem.l_partkey
            WHERE p_brand = 'Brand#23' AND l_quantity < qty_thresh
        """,
        "tpch_q7_two_nation_volume": """
            SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(12,2)))),
                              2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
            GROUP BY 1, 2, 3
        """,
        "tpch_q8_market_share": f"""
            WITH j AS (
                SELECT year(o_orderdate) AS o_year,
                       CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2))
                          - CAST(l_discount AS DECIMAL(12,2))) AS rev,
                       sn.n_name AS supp_nation
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation cn ON c_nationkey = cn.n_nationkey
                JOIN region ON cn.n_regionkey = r_regionkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation sn ON s_nationkey = sn.n_nationkey
                JOIN part ON l_partkey = p_partkey
                WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
            )
            , g AS (
                SELECT o_year,
                       sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
                                ELSE CAST(0 AS DECIMAL(12,2)) END) AS n3,
                       sum(rev) AS total
                FROM j GROUP BY o_year
            )
            SELECT o_year,
                   {_halfup_ratio_sql("CAST(n3 * 10000 AS BIGINT)",
                                      "CAST(total * 10000 AS BIGINT)", 6)}
                       AS mkt_share,
                   CAST(round(total, 2) AS DOUBLE) AS total_revenue
            FROM g
        """,
        "tpch_q2_min_cost_supplier": f"""
            WITH {_PARTSUPP_SQL},
            regional AS (
                SELECT ps_partkey, ps_supplycost_cents, s_acctbal, s_name,
                       n_name
                FROM partsupp
                JOIN supplier ON ps_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'
            ), mc AS (
                SELECT ps_partkey,
                       min(ps_supplycost_cents) AS min_cents
                FROM regional GROUP BY 1
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
                   CAST(ps_supplycost_cents AS DOUBLE) / 100.0 AS supplycost
            FROM regional
            JOIN mc USING (ps_partkey)
            JOIN part ON ps_partkey = p_partkey
            WHERE ps_supplycost_cents = min_cents
              AND p_type = 'LARGE' AND p_size <= 10
        """,
        "tpch_q9_product_profit": f"""
            WITH {_PARTSUPP_SQL}
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   CAST(CAST(sum(amount_e4) AS BIGINT) AS DOUBLE) / 10000.0
                       AS sum_profit
            FROM (
                SELECT n_name, o_orderdate,
                       CAST(round(l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(round(l_discount * 100) AS BIGINT))
                       - ps_supplycost_cents
                           * CAST(round(l_quantity) AS BIGINT) * 100
                           AS amount_e4
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN partsupp ON l_partkey = ps_partkey
                             AND l_suppkey = ps_suppkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN orders ON l_orderkey = o_orderkey
                WHERE p_name LIKE '%bolt%'
            ) GROUP BY 1, 2
        """,
        "tpch_q11_important_stock": f"""
            WITH {_PARTSUPP_SQL},
            scoped AS (
                SELECT ps_partkey,
                       ps_supplycost_cents * ps_availqty AS v
                FROM partsupp
                JOIN supplier ON ps_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_3'
            ), per_part AS (
                SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_cents
                FROM scoped GROUP BY 1
            ), tot AS (
                SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents,
                       CAST(count(*) AS BIGINT) AS k
                FROM per_part
            )
            SELECT ps_partkey,
                   CAST(value_cents AS DOUBLE) / 100.0 AS stock_value
            FROM per_part, tot
            WHERE value_cents * k > 2 * total_cents
        """,
        "tpch_q15_top_supplier": """
            WITH revenue AS (
                SELECT l_suppkey AS supplier_no,
                       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                                * (100 - CAST(round(l_discount * 100)
                                          AS BIGINT))) AS BIGINT) AS rev_e4
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY 1
            )
            SELECT supplier_no, s_name,
                   CAST(rev_e4 AS DOUBLE) / 10000.0 AS total_revenue
            FROM revenue JOIN supplier ON supplier_no = s_suppkey
            WHERE rev_e4 = (SELECT max(rev_e4) FROM revenue)
        """,
        "tpch_q16_part_supplier_counts": f"""
            WITH {_PARTSUPP_SQL}
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT ps_suppkey) AS BIGINT)
                       AS supplier_cnt
            FROM partsupp JOIN part ON ps_partkey = p_partkey
            WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 7, 10, 14, 23, 30, 36, 45, 49)
              AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                     WHERE s_suppkey % 10 = 0)
            GROUP BY 1, 2, 3
        """,
        "tpch_q20_excess_stock": f"""
            WITH {_PARTSUPP_SQL},
            qty AS (
                SELECT l_partkey, l_suppkey,
                       CAST(sum(CAST(round(l_quantity) AS BIGINT))
                            AS BIGINT) AS q
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
                GROUP BY 1, 2
            )
            SELECT DISTINCT s_suppkey, s_name
            FROM partsupp
            JOIN part ON ps_partkey = p_partkey
            JOIN qty ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
            JOIN supplier ON ps_suppkey = s_suppkey
            WHERE p_name LIKE 'blue%' AND 2 * ps_availqty > q
        """,
        "tpch_q21_waiting_suppliers": """
            WITH li AS (
                SELECT l_orderkey, l_suppkey,
                       ((l_orderkey * 2 + l_linenumber) % 31 + 1)
                           > ((l_orderkey + 3 * l_linenumber) % 61 - 30)
                           AS late
                FROM lineitem
            )
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM li l1
            JOIN orders ON l1.l_orderkey = o_orderkey
                       AND o_orderstatus = 'F'
            JOIN supplier ON l1.l_suppkey = s_suppkey
            WHERE l1.late
              AND EXISTS (SELECT 1 FROM li l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM li l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.late)
            GROUP BY 1
        """,
        "tpch_q22_sales_opportunity": """
            WITH cc AS (
                SELECT c_custkey, c_nationkey, c_acctbal,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                FROM customer
            ), pos AS (
                SELECT CAST(sum(cents) AS BIGINT) AS s,
                       CAST(count(*) AS BIGINT) AS n
                FROM cc WHERE cents > 0
            )
            SELECT c_nationkey, count(*) AS numcust,
                   CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2)
                        AS DOUBLE) AS totacctbal
            FROM cc CROSS JOIN pos
            WHERE cents * n > s
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >=
                                    TIMESTAMP '2000-01-01 00:00:00')
            GROUP BY c_nationkey
        """,
        "tpch_q19_disjunctive_revenue": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(3,2))
                                     - CAST(l_discount AS DECIMAL(12,2)))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "top_words_per_lang": r"""
            WITH counts AS (
                SELECT lang, w AS word, count(*) AS cnt
                FROM (SELECT lang, unnest(list_filter(
                          string_split_regex(lower(text), '\s+'),
                          x -> x <> '')) AS w
                      FROM documents)
                GROUP BY lang, w
            )
            SELECT lang, rank, word, CAST(cnt AS BIGINT) AS cnt FROM (
                SELECT lang, word, cnt,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY cnt DESC, word) AS rank
                FROM counts
            ) WHERE rank <= 5
        """,
        "events_interval_join": """
            SELECT p.event_id, p.user_id, p.ts AS p_ts,
                   v.ts AS view_ts, v.value AS view_value
            FROM events p JOIN events v
              ON p.user_id = v.user_id
             AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
            WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        """,
        "events_pivot_daily": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
                   CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
                   CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
                   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
                       AS purchase,
                   CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
            FROM events GROUP BY 1
        """,
        "events_funnel": """
            WITH pu AS (
                SELECT user_id,
                       min(ts) FILTER (event_type = 'signup') AS t_signup
                FROM events GROUP BY user_id
            ), fca AS (
                SELECT e.user_id, min(e.ts) AS t_click
                FROM events e JOIN pu USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > pu.t_signup
                GROUP BY e.user_id
            ), pa AS (
                SELECT DISTINCT e.user_id
                FROM events e JOIN fca USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > fca.t_click
            )
            SELECT CAST((SELECT count(*) FROM pu WHERE t_signup IS NOT NULL)
                        AS BIGINT) AS n_signed_up,
                   CAST((SELECT count(*) FROM fca) AS BIGINT) AS n_clicked_after,
                   CAST((SELECT count(*) FROM pa) AS BIGINT) AS n_purchased_after
        """,
        "events_daily_distinct": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1
        """,
        # independent CASE-arithmetic reconstruction of the merged
        # snapshot: matched-update, soft-delete (doc_id % 50 == 0),
        # append, and carry-forward paths all hash-checked
        "merge_upsert_snapshot": """
            WITH d AS (SELECT doc_id, lang, n_chars FROM documents)
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0 THEN 're' ELSE lang END AS lang,
                   CASE WHEN doc_id % 10 = 0 THEN n_chars * 2
                        ELSE n_chars END AS n_chars
            FROM d
            WHERE NOT (doc_id % 10 = 0 AND doc_id % 25 = 0)
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, 'new' AS lang, n_chars
            FROM d WHERE doc_id < 20
        """,
        "events_user_lag": f"""
            WITH b AS (
                SELECT event_id, user_id,
                       coalesce((epoch_us(ts) - epoch_us(lag(ts, 1) OVER w))
                                / 1000000, -1.0) AS delta_s,
                       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w3
                            AS BIGINT) AS cs,
                       CAST(count(*) OVER w3 AS BIGINT) AS cn
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                       w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id, delta_s,
                   {_halfup_ratio_signed_sql("cs", "100 * cn", 4)}
                       AS value_ma3
            FROM b
        """,
        "events_props_json": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type
        """,
        # independent construction of the expected registrable domain:
        # the longest PSL suffix is the one planted per doc, so the
        # domain is source || '.' || suffix by arithmetic, while the
        # engine must DERIVE it via longest-suffix matching
        "url_domain_stats_psl": """
            WITH m AS (
                SELECT doc_id, source,
                       CASE CAST(doc_id % 4 AS INTEGER)
                            WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com'
                            WHEN 2 THEN 'ac.uk' ELSE 'org' END AS suffix
                FROM documents
            )
            SELECT source || '.' || suffix AS domain,
                   count(*) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS first_doc
            FROM m GROUP BY 1
        """,
        # mirrors _warc_roundtrip's archive construction row-for-row:
        # a drift anywhere in the WARC codec path breaks this hash
        "warc_roundtrip": """
            SELECT 'doc://' || source || '/' || doc_id AS url,
                   TIMESTAMP '2020-01-01' + INTERVAL (doc_id) SECOND AS warc_ts,
                   text AS body_text,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
            WHERE doc_id % 7 = 0
        """,
        "lang_id_heuristic": _lang_id_oracle(),
        "quality_scores": _quality_oracle(),
        "doc_fingerprints": _fingerprint_oracle(),
        "curate_documents": _curate_oracle(),
        # exact word-3-shingle Jaccard; Spark side hashes shingles
        # (64-bit keyed blake2b — injective at this scale) so distinct
        # counts and the Jaccard ratio are identical to the string form
        "dedup_ngram_jaccard": _exact_jaccard_oracle(0.5),
        # same >=0.5 exact-Jaccard edge set, components via recursive
        # reachability; component id = min node id, like the engine
        "dedup_clusters": r"""
            WITH RECURSIVE toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '') AS w
                FROM documents
            ), sh AS (
                SELECT doc_id,
                  CASE WHEN len(w) = 0 THEN ['']
                       WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_distinct(list_transform(
                            generate_series(1, len(w)-2),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS s
                FROM toks
            ), ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id, a.n, b.n
                HAVING 1000000 * count(*) >= 500000 * (a.n + b.n - count(*))
            ), edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT u AS node, v AS r FROM edges
                UNION
                SELECT e.u, r.r FROM edges e JOIN reach r ON e.v = r.node
            )
            SELECT node AS doc_id,
                   CAST(least(node, min(r)) AS BIGINT) AS component
            FROM reach GROUP BY node
        """,
        "dedup_keep_one": r"""
            WITH RECURSIVE toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '') AS w
                FROM documents
            ), sh AS (
                SELECT doc_id,
                  CASE WHEN len(w) = 0 THEN ['']
                       WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_distinct(list_transform(
                            generate_series(1, len(w)-2),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS s
                FROM toks
            ), ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id, a.n, b.n
                HAVING 1000000 * count(*) >= 500000 * (a.n + b.n - count(*))
            ), edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT u AS node, v AS r FROM edges
                UNION
                SELECT e.u, r.r FROM edges e JOIN reach r ON e.v = r.node
            ), losers AS (
                SELECT node FROM reach GROUP BY node
                HAVING least(node, min(r)) <> node
            )
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT node FROM losers)
        """,
        # containment twins: the Spark queries semi-join the exact
        # >=0.8 pairs against the MinHash-LSH / SimHash candidate sets,
        # so the oracle is the exact set alone — a recall miss in
        # either approximate family drops a row and fails the hash
        "dedup_minhash_containment": _exact_jaccard_oracle(0.8),
        "dedup_simhash_containment": _exact_jaccard_oracle(0.8),
        "embedding_near_dups_exact": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.3
        """,
        # exact O(n²) cosine over the same planted frame the Spark LSH
        # query builds — the LSH result must equal this set exactly
        # (recall 1.0 on the planted pairs, no sub-threshold admits)
        "embedding_near_dups": f"""
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), planted AS (
                SELECT vec_id + {_PLANT_ID_OFFSET} AS vec_id,
                       list_transform(generate_series(1, len(embedding)),
                           i -> CAST(embedding[i] AS DOUBLE)
                                + 0.002 * ((i * 37) % 11 - 5)) AS v
                FROM embeddings WHERE vec_id % {_PLANT_EVERY} = 0
            ), allv AS (
                SELECT * FROM base UNION ALL SELECT * FROM planted
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.9
        """,
        "text_tokens_bpe": r"""
            SELECT doc_id,
                   cast(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]{1,3}|[^\sA-Za-z0-9]')) AS bigint) AS bpe_tokens
            FROM documents
        """,
        "events_sessionize": """
            WITH marked AS (
                SELECT user_id, ts,
                       CASE WHEN epoch(ts) - lag(epoch(ts), 1, epoch(ts)) OVER
                                 (PARTITION BY user_id ORDER BY ts) > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
            ), sid AS (
                SELECT user_id, ts,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                FROM marked
            )
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events
            FROM sid GROUP BY user_id, session_id
        """,
        # window-SUM replay of the streaming detector's batch twin:
        # running rank per user (total order: ts, event_id tie-break),
        # threshold = integer mean events/user + 1, pick the rank-==-
        # threshold row
        "events_first_crossing": """
            WITH t AS (
                SELECT CAST(count(*) // count(DISTINCT user_id) + 1
                            AS BIGINT) AS threshold
                FROM events
            ), r AS (
                SELECT user_id, event_id, ts,
                       CAST(row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS BIGINT) AS rn,
                       CAST(count(*) OVER (PARTITION BY user_id)
                            AS BIGINT) AS total_events
                FROM events
            )
            SELECT r.user_id,
                   r.event_id AS crossed_event_id,
                   epoch_us(CAST(r.ts AS TIMESTAMP)) AS crossed_us,
                   r.total_events,
                   t.threshold
            FROM r, t WHERE r.rn = t.threshold
        """,
        # The four formerly-rows-only LSH entries (VERDICT r5 #3): their
        # randomness comes from md5 folds, integer-hash permutations
        # and the seeded hyperplanes shipped as one literal, so the
        # oracles replay every signature and state each pair set's
        # declarative spec (operators/replayable.py builds the SQL;
        # each family has exactly one implementation).
        "ann_lsh_cosine": _replayable.ann_lsh_oracle_sql(
            query_id=0, k=10, n_planes=12, n_tables=4,
            hamming_radius=3, dim=64,
        ),
        "dedup_minhash_lsh": _replayable.minhash_pairs_oracle_sql(
            n_perm=64, bands=16, k=3,
        ),
        "dedup_simhash": _replayable.simhash_pairs_oracle_sql(
            max_hamming=10,
        ),
        "lsh_bucket_histogram": _replayable.bucket_histogram_oracle_sql(
            n_planes=12, dim=64,
        ),
    }
