"""M2: routing (F2/F3), islands (W1), merged chapters (A2), joins —
Spark operators vs the oracle's sequential semantics."""

from pyspark.sql import functions as F

from google_vision_ocr_spark import oracle
from google_vision_ocr_spark.operators.assemble import (
    chapter_islands,
    tag_kind,
)


def _pages_df(spark, n=9):
    rows = [("doc", p, f"t{p}") for p in range(1, n + 1)]
    return spark.createDataFrame(rows, ["url", "page", "text"])


def _illust_df(spark, pages):
    return spark.createDataFrame([("doc", p) for p in pages], ["url", "page"])


def test_tag_kind_matches_oracle_ids(spark):
    pages = _pages_df(spark)
    illust = _illust_df(spark, [3, 4, 6])
    got = {r["page"]: (r["kind"], r["item_id"]) for r in tag_kind(pages, illust).collect()}
    exp_items = oracle.route_items([(p, f"t{p}") for p in range(1, 10)], {3, 4, 6})
    for it in exp_items:
        kind, item_id = got[it["page"]]
        assert kind == it["kind"]
        if kind == "image":
            assert item_id == it["id"]  # img_pdf_{n} scheme


def test_chapter_islands_matches_oracle(spark):
    pages = _pages_df(spark)
    illust = _illust_df(spark, [3, 4, 6])
    tagged = tag_kind(pages, illust).withColumn(
        "text", F.when(F.col("kind") == "image", F.lit(None)).otherwise(F.col("text"))
    )
    got = sorted(
        [(r["kind"], r["first_page"], r["n_pages"], r["html"])
         for r in chapter_islands(tagged).collect()],
        key=lambda x: x[1],
    )
    exp_items = oracle.route_items([(p, f"t{p}") for p in range(1, 10)], {3, 4, 6})
    exp = [(c["kind"], c["first_page"], c["n_pages"], c["html"])
           for c in oracle.chapter_islands(exp_items)]
    assert got == exp


def test_chapter_islands_multiple_docs(spark):
    rows = []
    for doc, illust_pages in (("a", {2}), ("b", set()), ("c", {1, 2, 3})):
        for p in range(1, 4):
            kind = "image" if p in illust_pages else "text"
            rows.append((doc, p, kind, None if kind == "image" else f"x{p}"))
    df = spark.createDataFrame(rows, ["url", "page", "kind", "text"])
    out = chapter_islands(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["url"], []).append((r["kind"], r["first_page"], r["n_pages"]))
    for doc in by_doc:
        by_doc[doc].sort(key=lambda x: x[1])
    assert by_doc["a"] == [("text", 1, 1), ("image", 2, 1), ("text", 3, 1)]
    assert by_doc["b"] == [("text", 1, 3)]
    assert by_doc["c"] == [("image", 1, 1), ("image", 2, 1), ("image", 3, 1)]
