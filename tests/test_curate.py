"""Curation pipeline: gates, dedup funnel, counters."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from google_vision_ocr_spark import formats


@pytest.fixture(scope="module")
def curation_input(spark, tmp_path_factory):
    """Pages table with planted exact dups, near dups, and junk."""
    good = (
        "the quick brown fox jumps over the lazy dog and the cat watches "
        "from the windowsill while birds sing in the garden near the old "
        "river bank under a warm summer sun with gentle wind in the trees"
    )
    near = good.replace("summer", "winter")
    junk = "@@ ## $$ %% ^^"
    rows = []
    for i, text in enumerate([good, good, near, junk, "tiny", good + " extra tail words here"]):
        rows.append((f"u{i:02d}", formats.encode_spdf([text])))
    t = pa.table({
        "url": pa.array([r[0] for r in rows]),
        "warc_ts": pa.array([None] * len(rows), pa.timestamp("us", tz="UTC")),
        "html": pa.array([r[1] for r in rows], pa.binary()),
        "text": pa.array([None] * len(rows), pa.string()),
        "lang": pa.array(["en"] * len(rows)),
    })
    p = tmp_path_factory.mktemp("curate") / "pages.parquet"
    pq.write_table(t, str(p))
    return str(p)


def test_curation_funnel(spark, curation_input):
    from pyspark.sql import functions as F

    from google_vision_ocr_spark.plans.curate import curate

    pages = spark.read.parquet(curation_input)
    curated, obs = curate(
        pages, min_quality=0.3, min_tokens=5,
        allowed_langs=("en",), near_dup_jaccard=0.5,
    )
    docs_out, tokens, n_bytes = curated.agg(
        F.count(F.lit(1)), F.sum("ws_tokens"), F.sum(F.octet_length("text"))
    ).collect()[0]
    kept = {r["url"] for r in curated.collect()}
    funnel = obs.get

    assert funnel["docs_in"] == 6
    assert funnel["pass_quality"] == 4          # junk + tiny rejected
    assert funnel["pass_lang"] == 4
    # u00/u01 identical -> min url u00 kept; u02 near-dup of u00 dropped;
    # u05 (extra tail) survives near-dup at jaccard 0.5? it shares most
    # shingles with u00 -> est_jaccard high -> dropped too
    assert "u00" in kept and "u01" not in kept and "u02" not in kept
    assert docs_out == len(kept)
    assert tokens > 0 and n_bytes > 0


def test_curation_deterministic(spark, curation_input):
    from google_vision_ocr_spark.plans.curate import curate

    pages = spark.read.parquet(curation_input)
    a = {r["url"] for r in curate(pages, allowed_langs=("en",))[0].collect()}
    b = {r["url"] for r in curate(pages.repartition(5), allowed_langs=("en",))[0].collect()}
    assert a == b  # partitioning-invariant


def test_curate_repetition_gate(spark, tmp_path):
    """max_dup_line_frac drops repetitive docs from the funnel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from google_vision_ocr_spark.plans.curate import curate

    spam = "repeat me\n" * 30
    fresh = "\n".join(f"unique line number {i} with content words" for i in range(30))
    t = pa.table({
        "url": pa.array(["u/spam", "u/fresh"]),
        "warc_ts": pa.array([None, None], pa.timestamp("us", tz="UTC")),
        "html": pa.array([None, None], pa.binary()),
        "text": pa.array([spam, fresh]),
        "lang": pa.array(["en", "en"]),
    })
    src = str(tmp_path / "pages.parquet")
    pq.write_table(t, src)
    pages = spark.read.parquet(src)
    with_gate, _ = curate(pages, min_quality=0.0, min_tokens=1,
                          max_dup_line_frac=0.3)
    without, _ = curate(pages, min_quality=0.0, min_tokens=1,
                        max_dup_line_frac=None)
    assert {r["url"] for r in with_gate.collect()} == {"u/fresh"}
    assert {r["url"] for r in without.collect()} == {"u/spam", "u/fresh"}
