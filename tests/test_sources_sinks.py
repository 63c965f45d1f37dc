"""S2 binaryFile folder source, §3.3 folder mode, W3 external append,
S6 EPUB sink."""

import zipfile

from pyspark.sql import functions as F

from google_vision_ocr_spark import formats, oracle


def _write_images(tmp_path):
    gray = lambda t: formats.rgb_to_gray(formats.render_page_rgb(t))  # noqa: E731
    files = {
        "b_scan.png": formats.encode_png(gray("png text")),
        "a_scan.bmp": formats.encode_bmp_gray(gray("bmp text")),
        "c_anim.gif": formats.encode_gif_gray(gray("gif text")),
        "notes.txt": b"not an image",  # must be filtered by extension
    }
    for name, data in files.items():
        (tmp_path / name).write_bytes(data)
    return files


def test_folder_scan_filters_and_orders(spark, tmp_path):
    from google_vision_ocr_spark.sources.binary_files import read_image_folder

    _write_images(tmp_path)
    df = read_image_folder(spark, str(tmp_path))
    rows = sorted(df.collect(), key=lambda r: r["page"])
    names = [r["url"].rsplit("/", 1)[-1] for r in rows]
    assert names == ["a_scan.bmp", "b_scan.png", "c_anim.gif"]  # sorted, no .txt
    assert [r["page"] for r in rows] == [1, 2, 3]


def test_folder_mode_extraction_matches_oracle(spark, tmp_path):
    """§3.3: per-image raw recognition, no preprocess, keep-format rule."""
    from google_vision_ocr_spark.plans.fused import extract_fused
    from google_vision_ocr_spark.sources.binary_files import read_image_folder, stem_txt_name

    files = _write_images(tmp_path)
    df = read_image_folder(spark, str(tmp_path)).drop("page")
    out = extract_fused(df).withColumn("txt_name", stem_txt_name())
    got = {r["url"].rsplit("/", 1)[-1]: (r["text"], r["txt_name"]) for r in out.collect()}
    for name, payload in files.items():
        if name.endswith(".txt"):
            assert name not in got
            continue
        exp = oracle.extract_image_text(name, payload)
        assert got[name][0] == exp.text, name
        assert got[name][1] == name.rsplit(".", 1)[0] + ".txt"


def test_external_illustration_append(spark):
    from google_vision_ocr_spark.operators.external import append_external_illustrations

    items = spark.createDataFrame(
        [("d", p, "text", f"t{p}", f"page_{p}") for p in range(1, 4)],
        ["url", "page", "kind", "text", "item_id"],
    )
    externals = spark.createDataFrame(
        [("d", "/x/a.png", 0, True), ("d", "/x/b.jpg", 1, True),
         ("d", "/x/missing.png", 2, False)],  # F4: does not exist
        ["url", "path", "ext_idx", "valid"],
    )
    existing = spark.createDataFrame([("/x/b.jpg",)], ["path"])  # J3 dedup
    out = append_external_illustrations(items, externals, existing_paths=existing)
    rows = sorted(out.collect(), key=lambda r: r["page"])
    # pages 1..3 original + one appended external at page 4 (a.png only)
    assert [r["page"] for r in rows] == [1, 2, 3, 4]
    ext = rows[-1]
    assert ext["kind"] == "image" and ext["item_id"] == "ext_illust_0.png"


def test_epub_sink_structure(spark, tmp_path):
    from google_vision_ocr_spark.operators.assemble import chapter_islands
    from google_vision_ocr_spark.sources.epub import write_epub

    rows = [("d", 1, "text", "hello"), ("d", 2, "image", None), ("d", 3, "text", "world")]
    df = spark.createDataFrame(rows, ["url", "page", "kind", "text"])
    chapters = [r.asDict() for r in chapter_islands(df).collect()]
    gray = formats.rgb_to_gray(formats.render_page_rgb("img"))
    path = write_epub(str(tmp_path / "out.epub"), "Title", "Author", "en",
                      chapters, images={2: formats.encode_png(gray)})
    with zipfile.ZipFile(path) as z:
        names = z.namelist()
        assert names[0] == "mimetype"
        assert z.read("mimetype") == b"application/epub+zip"
        assert z.getinfo("mimetype").compress_type == zipfile.ZIP_STORED
        assert "META-INF/container.xml" in names
        assert "OEBPS/content.opf" in names and "OEBPS/nav.xhtml" in names
        ch1 = z.read("OEBPS/ch0001.xhtml").decode()
        assert "<h2>Page 1</h2><pre>hello</pre>" in ch1
        assert "OEBPS/img00002.png" in names
        opf = z.read("OEBPS/content.opf").decode()
        assert "<dc:title>Title</dc:title>" in opf
        assert opf.count("<itemref") == 3


def test_f5_f6_driver_guards(spark):
    """F5 credential gate / F6 empty-input guard: plan-time
    short-circuits (app_service.py:50-56, main_gui.py:279-281)."""
    from google_vision_ocr_spark.plans.fused import scan_items

    empty = spark.createDataFrame([], "url string, html binary, text string")
    items = scan_items(empty)
    needs_ocr = items.filter(F.col("kind").isin("pdf", "image"))
    assert needs_ocr.limit(1).count() == 0  # → skip credential setup
    assert len(empty.head(1)) == 0          # → error to the user, no job
