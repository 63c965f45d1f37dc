"""SQL-replayable LSH families (operators/replayable.py and the
pipelines built on it in operators/dedup.py, decontaminate.py and
similarity.py): cross-engine bit-identity of the primitives, the
seeded hyperplanes, planted-pair recall, the no-Python-UDF plan claim,
and exact Jaccard on edge-case texts.  The
SimHash banding's losslessness is pinned in test_dedup_similarity.
The full-pipeline hash evidence lives in the contract's hash gate
(ann_lsh_cosine / dedup_minhash_lsh / dedup_simhash /
lsh_bucket_histogram all carry DuckDB oracles since r6)."""

import os

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from google_vision_ocr_spark.operators import decontaminate as C
from google_vision_ocr_spark.operators import dedup as D
from google_vision_ocr_spark.operators import replayable as R
from google_vision_ocr_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.1")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_codes_cross_engine_bit_identity(spark):
    """The hyperplane codes — plane literal, left-fold dot, bit packing —
    must agree between engines on a literal vector (the pin behind
    the ann_lsh_cosine / lsh_bucket_histogram oracles)."""
    vals = "0.12, -0.5, 0.33, 0.9, -0.01, 0.07, -0.4, 0.25"
    sp = spark.sql(
        f"SELECT {R.codes_sql(f'array({vals})', 8, 10, 3)} AS c"
    ).first().c
    du = duckdb.sql(
        f"SELECT {R.codes_duck(f'[{vals}]', 8, 10, 3)} AS c"
    ).fetchone()[0]
    assert list(sp) == list(du)
    assert any(c != 0 for c in sp)


def test_codes_reject_wrong_width_vector(spark):
    """A vector whose length is not ``dim`` raises instead of getting
    codes from a null-padded dot product."""
    with pytest.raises(Exception, match="vectors of length 8, got 2"):
        spark.sql(
            f"SELECT {R.codes_sql('array(1.0D, 2.0D)', 8, 4, 1)} AS c"
        ).collect()


def test_hyperplane_family_keeps_seeded_planes(spark):
    """The one hyperplane family uses seeded Gaussian planes, table t
    from RandomState(42 + 1000·t): (a) the JSON plane literal parses
    back bit-exactly in both engines, and (b) the Spark codes of every
    sf0.1 embedding equal a numpy sign(P @ v), packed LSB-first.  The
    seed matters for recall: ±1 integer-hash planes missed planted
    cos≈0.9988 pairs in every table at once."""
    dim, n_planes, n_tables = 64, 12, 4
    want = [
        np.random.RandomState(42 + 1000 * t).standard_normal((n_planes, dim))
        for t in range(n_tables)
    ]
    lit = R.planes_json(dim, n_planes, n_tables)
    sp = spark.sql(
        f"SELECT from_json('{lit}', 'array<array<array<double>>>') AS p"
    ).first().p
    du = duckdb.sql(f"SELECT CAST('{lit}' AS DOUBLE[][][])").fetchone()[0]
    for t in range(n_tables):
        assert np.array_equal(np.array(sp[t], dtype=np.float64), want[t])
        assert np.array_equal(np.array(du[t], dtype=np.float64), want[t])

    weights = np.uint64(1) << np.arange(n_planes, dtype=np.uint64)
    rows = (
        spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
        .select(
            "embedding",
            F.expr(R.codes_sql("embedding", dim, n_planes, n_tables))
            .alias("codes"),
        )
        .collect()
    )
    assert len(rows) > 1000
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        ref = [int(((p @ v) > 0).astype(np.uint64) @ weights) for p in want]
        assert list(r.codes) == ref


def test_md5_fold_and_tokens_cross_engine(spark):
    # escape-free literal: Spark's SQL parser interprets backslash
    # escapes in string literals, DuckDB does not — real data reaches
    # the expressions as column values, covered by the signature test
    s = "the fast key  order"
    sp_h = spark.sql(f"SELECT {R._md5_int_sql(repr(s))} AS v").first().v
    du_h = duckdb.sql(f"SELECT {R._md5_int_duck(repr(s))} AS v").fetchone()[0]
    assert sp_h == du_h > 0
    sp_t = spark.sql(f"SELECT {R.tokens_sql(repr(s))} AS v").first().v
    du_t = duckdb.sql(f"SELECT {R.tokens_duck(repr(s))} AS v").fetchone()[0]
    assert list(sp_t) == list(du_t) == ["the", "fast", "key", "order"]


def test_minhash_replayable_recall_on_planted_pairs(spark, docs):
    """The testdata plants 25 near-dup pairs at 3-shingle Jaccard
    ≥ 0.97 — the replayable family must surface (nearly) all of them
    with est_jaccard ≈ 1 (16 bands × 4 rows: miss probability per
    pair ≤ (1 − J⁴)¹⁶ ≈ 1e-10 at J = 0.97)."""
    pairs = D.minhash_lsh_pairs(docs).collect()
    strong = [r for r in pairs if r.est_jaccard >= 0.9]
    assert len(strong) >= 20, (len(pairs), len(strong))


def test_minhash_short_docs_never_pair(spark):
    """Docs with fewer than k tokens carry the all-M sentinel
    signature; they must be excluded, not paired with est_jaccard 1."""
    df = spark.createDataFrame(
        [(1, "one two"), (2, "three four"), (3, "a b c d e f g"),
         (4, "a b c d e f g")],
        "doc_id bigint, text string",
    )
    pairs = D.minhash_lsh_pairs(df).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(3, 4)}
    assert pairs[0].est_jaccard == 1.0


def test_replayable_pipelines_have_no_python_udf(
    spark, docs, emb, tmp_path
):
    """The whole point of the replayable family at scale: pure JVM
    expressions — no ArrowEvalPython / BatchEvalPython stage anywhere
    (a Python UDF pays an Arrow round-trip per task).  Covers every
    text-sketch pipeline (MinHash, SimHash, exact Jaccard and both
    decontamination shingle joins) and every hyperplane operator."""
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.substring("text", 1, 120).alias("text")
    )
    pm = str(tmp_path / "lshm")
    S.write_lsh_multi_index(emb, pm, dim=64)
    for df in (
        D.minhash_lsh_pairs(docs),
        D.simhash_candidates(docs, max_hamming=10),
        D.ngram_jaccard_pairs(docs),
        C.contaminated_ids(docs, bench),
        C.contamination_fraction(docs, bench),
        S.hyperplane_lsh_topk(emb, query_id=0, dim=64),
        S.lsh_bucket_histogram(emb, dim=64),
        S.embedding_near_dup_pairs(emb, dim=64),
        S.lsh_multiprobe_pruned(spark, emb, pm, query_id=0, dim=64),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, plan[:2000]


def test_minhash_signature_matches_duckdb_on_sample(spark, docs):
    """Signature arrays themselves (not just the pair sets) agree
    cross-engine for a sample of documents."""
    sp = {
        r.doc_id: list(r.minhash)
        for r in D.minhash_signatures(docs)
        .filter(F.col("doc_id") < 50)
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/documents.parquet') WHERE doc_id < 50"
    )
    du = {
        d: list(m)
        for d, m in con.execute(
            f"""WITH hs AS (SELECT doc_id,
                    {R.shingle_hashes_duck("text")} AS h FROM documents)
                SELECT doc_id, {R.signature_from_hashes_duck("h")} FROM hs"""
        ).fetchall()
    }
    assert sp == du and len(sp) > 0


def test_exact_jaccard_edge_cases_match_oracle(spark):
    """The gate data has no document under 3 tokens, so the short-text
    branches of the shingle ids (0 tokens -> '', fewer than k -> the
    space-joined tokens) are pinned here: at threshold 0 every pair
    sharing a shingle is reported, and the Spark result must equal
    DuckDB running the exact-Jaccard oracle on the same rows."""
    import __spark_entry__ as entry_mod

    rows = [
        (1, ""),
        (2, "  \t \n "),                      # whitespace only
        (3, "alpha beta"),                     # two identical 2-token docs
        (4, "alpha beta"),
        (5, "solo"),                           # 1 token
        (6, "one\ttwo\fthree\rfour"),          # tab/form-feed separators
        (7, "one two three four"),
        (8, "Upper Case Twin Words"),          # case twins
        (9, "upper case twin words"),
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "the quick brown fox leaps over the lazy dog"),
        (12, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(df, threshold=0.0).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        (a, b, round(j, 6))
        for a, b, j in con.execute(entry_mod._exact_jaccard_oracle(0.0)).fetchall()
    )
    assert got == want
    assert (1, 2, 1.0) in got and (3, 4, 1.0) in got
    assert (6, 7, 1.0) in got and (8, 9, 1.0) in got
    assert any(r[:2] == (10, 11) for r in got)
