"""SQL-replayable LSH families (operators/replayable.py and the
pipelines built on it in operators/dedup.py and decontaminate.py):
cross-engine bit-identity of the primitives, planted-pair recall, the
no-Python-UDF plan claim, and exact Jaccard on edge-case texts.  The
SimHash banding's losslessness is pinned in test_dedup_similarity.
The full-pipeline hash evidence lives in the contract's hash gate
(ann_lsh_cosine / dedup_minhash_lsh / dedup_simhash /
lsh_bucket_histogram all carry DuckDB oracles since r6)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from google_vision_ocr_spark.operators import decontaminate as C
from google_vision_ocr_spark.operators import dedup as D
from google_vision_ocr_spark.operators import replayable as R

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_codes_cross_engine_bit_identity(spark):
    """The hyperplane codes — sign trick, left-fold dot, bit packing —
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


def test_replayable_pipelines_have_no_python_udf(spark, docs, emb):
    """The whole point of the replayable family at scale: pure JVM
    expressions — no ArrowEvalPython / BatchEvalPython stage anywhere
    (a Python UDF pays an Arrow round-trip per task).  Covers every
    text-sketch pipeline: MinHash, SimHash, exact Jaccard and both
    decontamination shingle joins."""
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.substring("text", 1, 120).alias("text")
    )
    for df in (
        D.minhash_lsh_pairs(docs),
        D.simhash_candidates(docs, max_hamming=10),
        D.ngram_jaccard_pairs(docs),
        C.contaminated_ids(docs, bench),
        C.contamination_fraction(docs, bench),
        R.hyperplane_lsh_topk_replayable(emb, query_id=0, dim=64),
        R.lsh_bucket_histogram_replayable(emb, dim=64),
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
