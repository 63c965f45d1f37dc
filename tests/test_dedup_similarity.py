"""Dedup + similarity operators on planted near-duplicates."""

import pytest
from pyspark.sql import functions as F

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside "
    "the old house near the river bank under the summer sun"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),                                  # exact dup of 1
        (3, BASE.replace("summer", "winter")),      # near dup of 1
        (4, "completely different content about spark partitions and "
            "shuffle joins at terabyte scale with adaptive execution"),
        (5, "yet another unrelated document mentioning embeddings "
            "vectors buckets and approximate nearest neighbor search"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    from google_vision_ocr_spark.operators.dedup import drop_exact_dups, exact_dedup

    agg = {r["keeper_doc_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert agg[1] == 2  # docs 1 and 2 collapse, min id kept
    kept = {r["doc_id"] for r in drop_exact_dups(docs).collect()}
    assert kept == {1, 3, 4, 5}


def test_minhash_lsh_finds_near_dup(docs):
    from google_vision_ocr_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_lsh_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0          # exact dups: all components match
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5
    assert (4, 5) not in pairs           # unrelated never bucket together


def test_simhash_finds_near_dup(docs):
    from google_vision_ocr_spark.operators.dedup import simhash_candidates

    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_candidates(docs).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs
    assert (4, 5) not in pairs


def test_ngram_jaccard_exact(docs):
    from google_vision_ocr_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.8 < pairs[(1, 3)] < 1.0     # one word changed in a long text
    assert (1, 4) not in pairs


def test_lsh_ann_recall(spark):
    from google_vision_ocr_spark.operators.similarity import (
        cosine_topk,
        hyperplane_lsh_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = {r["vec_id"] for r in cosine_topk(e, 7).collect()}
    lsh = {r["vec_id"] for r in hyperplane_lsh_topk(e, 7).collect()}
    assert len(bf & lsh) / 10 >= 0.3     # random near-orthogonal data


def test_brute_force_cosine_self_consistency(spark):
    from google_vision_ocr_spark.operators.similarity import cosine_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    top = cosine_topk(e, 0, k=5).collect()
    sims = [r["cos_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)
    # near-dup via embedding cosine: planting an identical vector
    dup = e.filter(F.col("vec_id") == 0).select((F.col("vec_id") + 10000).alias("vec_id"),
                                                "embedding", "label")
    top1 = cosine_topk(e.unionByName(dup), 0, k=1).collect()[0]
    assert top1["vec_id"] == 10000 and top1["cos_sim"] == 1.0


def test_cosine_pairs_bruteforce(spark):
    from google_vision_ocr_spark.operators.similarity import (
        cosine_pairs_bruteforce,
        embedding_near_dup_pairs,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # plant an identical vector: the (0, 10000) pair must surface at cos 1.0
    dup = e.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    planted = e.unionByName(dup)
    exact = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in cosine_pairs_bruteforce(planted, threshold=0.95).collect()}
    assert exact[(0, 10000)] == 1.0
    # at a high threshold the LSH prefilter is lossless: same pair set
    approx = {(r["id_a"], r["id_b"]): r["cos_sim"]
              for r in embedding_near_dup_pairs(planted, threshold=0.95).collect()}
    assert approx == exact


@pytest.mark.parametrize("radius", [3, 10])
def test_simhash_banding_pigeonhole_lossless(spark, radius):
    """n_bands = max_hamming + 1 must cover every pair within the radius:
    the band-blocked candidate set equals the exact O(n^2) hamming filter
    (on the real testdata documents, whose planted near-dups sit at
    hamming up to ~8 — the case that exposed the fixed 4x16 blocking).
    Checked twice: against a Spark cross join over the signature table,
    and, with the reported hamming, against the spec computed from the
    collected signatures — the claim the DuckDB oracle makes, pinned
    here so a banding regression fails fast in pytest."""
    from google_vision_ocr_spark.operators.dedup import (
        simhash_candidates,
        simhash_signatures,
    )

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_candidates(docs_df, max_hamming=radius).collect()
    }
    cands = {(a, b) for a, b, _ in got}
    sigs = simhash_signatures(docs_df)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= radius)
        .collect()
    }
    assert cands == exact, f"radius {radius}: blocking lost {exact - cands}"
    codes = {r.doc_id: r.simhash for r in sigs.collect()}
    ids = sorted(codes)
    expected = {
        (x, y, bin(codes[x] ^ codes[y]).count("1"))
        for i, x in enumerate(ids)
        for y in ids[i + 1:]
        if bin(codes[x] ^ codes[y]).count("1") <= radius
    }
    assert got == expected
    assert len(got) > 0


def test_simhash_rejects_lossy_banding(docs):
    from google_vision_ocr_spark.operators.dedup import simhash_candidates

    with pytest.raises(ValueError, match="lossy"):
        simhash_candidates(docs, max_hamming=5, n_bands=4)


def test_ivf_full_probe_equals_bruteforce(spark):
    """With every cell probed, IVF degenerates to exact search — the
    invariant that pins assignment + rerank correctness independent of
    centroid quality."""
    from google_vision_ocr_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = [(r["vec_id"], r["cos_sim"]) for r in
          cosine_topk(emb, query_id=0, k=10).collect()]
    for method in ("crossjoin", "matmul"):
        full = [(r["vec_id"], r["cos_sim"]) for r in
                ivf_topk(emb, query_id=0, k=10, centroid_mod=31, n_probe=10_000,
                         assign_method=method).collect()]
        assert full == bf, method


def test_ivf_assign_matmul_agrees_with_crossjoin(spark):
    """The BLAS matmul-argmax path (the only sane shape at real
    centroid counts — crossjoin is a n_centroids-fold row blowup) must
    produce the same cell assignment as the SQL-expressible path."""
    from pyspark.sql import functions as F
    from google_vision_ocr_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    a = {r["vec_id"]: r["cell"]
         for r in ivf_assign(emb, cents, method="crossjoin").collect()}
    b = {r["vec_id"]: r["cell"]
         for r in ivf_assign(emb, cents, method="matmul").collect()}
    assert a == b


def test_ivf_partial_probe_is_subset_of_corpus_and_sorted(spark):
    from google_vision_ocr_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = ivf_topk(emb, query_id=0, k=10, n_probe=2).collect()
    sims = [r["cos_sim"] for r in rows]
    assert len(rows) == 10 and sims == sorted(sims, reverse=True)
    assert all(r["vec_id"] != 0 for r in rows)


def test_drop_repeated_paragraphs_keeps_first_occurrence(spark):
    from google_vision_ocr_spark.operators.dedup import drop_repeated_paragraphs

    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"unique one\n\n{boiler}"),
        (2, f"{boiler}\n\nunique two"),
        (3, boiler),                       # everything dropped -> ''
        (4, "untouched document"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text_dedup"]
           for r in drop_repeated_paragraphs(df).collect()}
    # first global occurrence is (doc 1, pos 1); everyone else loses it
    assert got[1] == f"unique one\n\n{boiler}"
    assert got[2] == "unique two"
    assert got[3] == ""
    assert got[4] == "untouched document"


def test_drop_repeated_paragraphs_partitioning_invariant(spark):
    from google_vision_ocr_spark.operators.dedup import drop_repeated_paragraphs

    rows = [(i, f"body {i}\n\nshared footer") for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["doc_id"]: r["text_dedup"]
         for r in drop_repeated_paragraphs(df.repartition(1)).collect()}
    b = {r["doc_id"]: r["text_dedup"]
         for r in drop_repeated_paragraphs(df.repartition(16)).collect()}
    assert a == b
    assert a[0].endswith("shared footer") and all(
        a[i] == f"body {i}" for i in range(1, 50))


def test_shingle_novelty_hand_case(spark):
    from google_vision_ocr_spark.operators.dedup import shingle_novelty

    docs = spark.createDataFrame(
        [
            (0, "a b c d e"),   # shingles (k=3): abc bcd cde
            (1, "a b c x y"),   # shingles: abc bcx cxy — shares abc with 0
            (2, "p q"),         # too short: no shingles
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in shingle_novelty(docs, k=3).collect()}
    assert (out[0].n_shingles, out[0].n_unique) == (3, 2)
    assert out[0].novelty == pytest.approx(2 / 3)
    assert (out[1].n_shingles, out[1].n_unique) == (3, 2)
    assert (out[2].n_shingles, out[2].n_unique, out[2].novelty) == (0, 0, 1.0)


def test_shingle_novelty_repeated_shingle_within_doc_counts_once(spark):
    from google_vision_ocr_spark.operators.dedup import shingle_novelty

    # 'a b a b a b' has k=2 shingles {a b, b a} each appearing multiple
    # times within the doc — distinct per doc, so both stay unique
    docs = spark.createDataFrame(
        [(0, "a b a b a b")], "doc_id bigint, text string"
    )
    r = shingle_novelty(docs, k=2).first()
    assert (r.n_shingles, r.n_unique, r.novelty) == (2, 2, 1.0)


def test_ivf_assign_zero_vector_paths_agree(spark):
    """An all-zero embedding must land in the SAME cell (min centroid
    id) on both physical strategies — the matmul path's zero-norm
    guard and the crossjoin path's NaN tie-break."""
    from google_vision_ocr_spark.operators.similarity import ivf_assign

    vecs = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(7, [1.0, 0.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0, 0.0])],
        "cid bigint, cv array<double>",
    )
    a = {
        r.vec_id: r.cell
        for r in ivf_assign(vecs, cents, method="matmul").collect()
    }
    b = {
        r.vec_id: r.cell
        for r in ivf_assign(vecs, cents, method="crossjoin").collect()
    }
    assert a == b
    assert a[0] == 3  # min centroid id on the all-tie row
    assert a[1] == 7 and a[2] == 3


def test_semdedup_drops_within_cluster_near_dups(spark):
    from google_vision_ocr_spark.operators.similarity import semdedup_keep

    # two well-separated clusters (centroid_mod=3 -> init centroids 0, 3);
    # ids 1 and 2 are near-duplicates (cos ~ 0.9996) inside cluster 0
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.6, 0.8, 0.0, 0.0]),
            (2, [0.62, 0.79, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 0.6, 0.8]),
            (5, [0.0, 0.0, 0.8, -0.6]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = semdedup_keep(vecs, centroid_mod=3, iters=2, threshold=0.9)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == 6
    # only the larger id of the near-dup pair is dropped
    assert rows[2].keep == 0
    assert all(rows[i].keep == 1 for i in (0, 1, 3, 4, 5))
    # the two clusters stay separated
    assert rows[0].cell == rows[1].cell == rows[2].cell
    assert rows[3].cell == rows[4].cell == rows[5].cell
    assert rows[0].cell != rows[3].cell


def test_semdedup_pair_scan_is_cell_blocked(spark):
    from google_vision_ocr_spark.operators.similarity import semdedup_keep

    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id bigint, embedding array<double>",
    )
    plan = (
        semdedup_keep(vecs, centroid_mod=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the quadratic scan must be an equi-join on cell, never all-pairs
    # (the only nested-loop joins are the broadcast singleton patterns)
    assert "CartesianProduct" not in plan
