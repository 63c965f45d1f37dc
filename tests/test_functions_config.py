"""Units: text metrics, fingerprints, normalization."""

from google_vision_ocr_spark.functions.text import (
    rolling_fingerprint,
    with_text_metrics,
)


def _metrics(spark, texts: list[str], col: str) -> list:
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    return [r[col] for r in with_text_metrics(df).orderBy("i").collect()]


def test_lang_id_heuristic(spark):
    assert _metrics(spark, [
        "the quick brown fox and the lazy dog went to the market",
        "der hund und die katze gingen schnell nach hause und schliefen",
        "el perro que corre en la casa de la playa",
        "这是一个中文句子",
        "これは日本語の文です",
        "",
        "xyzzy 12345 !!!",
    ], "lang_guess") == ["en", "de", "es", "zh", "jp", "und", "und"]


def test_quality_score_ordering(spark):
    good = ("The quick brown fox jumps over the lazy dog. " * 12).strip()
    junk = "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) !!!!"
    q_good, q_junk, q_empty = _metrics(spark, [good, junk, ""], "quality")
    assert q_good > q_junk
    assert q_empty == 0.0
    assert 0.0 <= q_junk <= 1.0


def test_fingerprint_deterministic_and_sensitive():
    a = rolling_fingerprint("some document text")
    assert a == rolling_fingerprint("some document text")
    assert a != rolling_fingerprint("some document text!")
    assert 0 <= a < 2**64


def test_parse_illustration_pages():
    from google_vision_ocr_spark.functions.paths import parse_illustration_pages

    assert parse_illustration_pages("1,5,10") == [1, 5, 10]
    assert parse_illustration_pages(" 3 , x, 1, 3,") == [1, 3]
    assert parse_illustration_pages("") == []
    assert parse_illustration_pages(None) == []


def test_normalize_path_col(spark):
    from pyspark.sql import functions as F

    from google_vision_ocr_spark.functions.paths import normalize_path_col

    df = spark.createDataFrame(
        [("https://a//b///c/./d/",), ("/x/y/.",), ("plain",)], ["p"]
    )
    got = [r["n"] for r in df.select(normalize_path_col(F.col("p")).alias("n")).collect()]
    assert got == ["https://a/b/c/d", "/x/y", "plain"]


def test_all_modules_import_without_spark_session():
    """Every package module must import from a sessionless process —
    spark-submit --py-files imports modules on executors before any
    session exists there, and module-level pandas_udf schema parsing
    would crash it."""
    import subprocess
    import sys

    code = (
        "import importlib, pkgutil; import google_vision_ocr_spark as p; "
        "[importlib.import_module(m.name) for m in "
        "pkgutil.walk_packages(p.__path__, p.__name__ + '.')]"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=120)


def test_normalize_text_composes_and_cleans():
    from google_vision_ocr_spark.functions.text import normalize_text

    # decomposed e + U+0301 composes to precomposed é under NFC
    assert normalize_text("café") == "café"
    assert normalize_text(" a \x07 b\t\tc  ") == "a b c"
    assert normalize_text("") == ""
    assert normalize_text(None) == ""
    # ASCII \s only: NBSP survives (RE2 parity — see _WS_RE comment)
    assert normalize_text("a b") == "a b"
    # tab/newline/CR are whitespace, not stripped controls
    assert normalize_text("a\nb\rc") == "a b c"
