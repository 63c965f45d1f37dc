"""§3.1 EPUB assembly path end-to-end: rasterize → route (F2) →
selective OCR (illustration pages never hit recognition) → islands
(W1) → merged chapters (A2), compared against the sequential oracle."""

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from google_vision_ocr_spark import formats, oracle
from google_vision_ocr_spark.operators.assemble import chapter_islands, tag_kind
from google_vision_ocr_spark.plans.fused import recognize_items, scan_items


def test_epub_assembly_matches_oracle(spark, fixture_dir):
    pages_tbl = pq.read_table(fixture_dir["pages"]).to_pylist()
    illust_tbl = pq.read_table(fixture_dir["illustrations"]).to_pylist()
    illust_by_url: dict[str, set[int]] = {}
    for r in illust_tbl:
        illust_by_url.setdefault(r["url"], set()).add(r["page"])

    pdf_rows = spark.read.parquet(fixture_dir["pages"]).filter(
        F.col("html").substr(1, 5) == F.lit(formats.SPDF_MAGIC)
    )
    illust_df = spark.read.parquet(fixture_dir["illustrations"])

    # distributed path
    pages = scan_items(pdf_rows).drop("kind")
    tagged = tag_kind(pages, illust_df)
    # only the text side reaches recognition, as a pdf page item
    ocr_side = tagged.filter(F.col("kind") == "text").withColumn("kind", F.lit("pdf"))
    recognized = recognize_items(ocr_side).withColumn("kind", F.lit("text"))
    img_side = tagged.filter(F.col("kind") == "image").select(
        "url", "page", "kind", F.lit(None).cast("string").alias("text")
    )
    items = recognized.select("url", "page", "kind", "text").unionByName(img_side)
    got_rows = chapter_islands(items).collect()
    got: dict[str, list] = {}
    for r in got_rows:
        got.setdefault(r["url"], []).append(
            (r["first_page"], r["kind"], r["n_pages"], r["html"])
        )
    for url in got:
        got[url].sort()

    # oracle path (sequential reference semantics)
    expected = {}
    for row in pages_tbl:
        if not formats.is_spdf(row["html"]):
            continue
        page_texts = formats.decode_spdf(row["html"])
        items_o = oracle.route_items(
            list(enumerate(page_texts, start=1)), illust_by_url.get(row["url"], set())
        )
        expected[row["url"]] = sorted(
            (c["first_page"], c["kind"], c["n_pages"], c["html"])
            for c in oracle.chapter_islands(items_o)
        )

    assert set(got) == set(expected)
    mismatches = [u for u in expected if got[u] != expected[u]]
    assert not mismatches, (mismatches[:2], got[mismatches[0]][:2] if mismatches else None,
                            expected[mismatches[0]][:2] if mismatches else None)
    # at least one doc actually has illustration routing in the fixture
    assert any(any(c[1] == "image" for c in chs) for chs in expected.values())
