"""M5: kill/resume — no completed bucket reprocessed, identical output.

The run executes batches of buckets (as many as fit in one scan split)
and commits bucket by bucket; these tests pin that the batching changes
neither the bytes, nor the counters, nor what a kill can lose.
"""

import json
import os
import time
from contextlib import contextmanager

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from google_vision_ocr_spark import oracle
from google_vision_ocr_spark.plans.checkpoint import (
    COUNTERS,
    _bucket_col,
    batch_size,
    completed_buckets,
    read_checkpointed_output,
    run_checkpointed_extract,
)
from google_vision_ocr_spark.plans.fused import extract_fused

SPLIT_CONF = "spark.sql.files.maxPartitionBytes"


@contextmanager
def split_bytes(spark, n_bytes):
    """Run with ``maxPartitionBytes`` set to ``n_bytes``, then restore it."""
    old = spark.conf.get(SPLIT_CONF)
    spark.conf.set(SPLIT_CONF, str(n_bytes))
    try:
        yield
    finally:
        spark.conf.set(SPLIT_CONF, old)


def jobs_run(spark, fn):
    """(result of ``fn()``, Spark jobs it submitted)."""
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    result = fn()
    return result, len(tracker.getJobIdsForGroup(None) or []) - before


def manifests(out):
    """Manifest file contents per bucket, as written."""
    mdir = os.path.join(out, "manifest")
    found = {}
    for fn in os.listdir(mdir):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                found[fn] = f.read()
    return found


def test_kill_and_resume(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "ckpt")
    df = spark.read.parquet(fixture_dir["pages"])

    # first run dies after bucket 2, in the middle of its only batch
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed_extract(spark, df, out, n_buckets=6, fail_after_bucket=2)
    done_after_crash = completed_buckets(out)
    assert sorted(done_after_crash) == [0, 1, 2]
    assert all(m["batch"] == [0, 1, 2, 3, 4, 5] for m in done_after_crash.values())
    committed = manifests(out)

    # resume: buckets 0-2 skipped, 3-5 processed
    summary = run_checkpointed_extract(spark, df, out, n_buckets=6)
    assert summary["resumed_buckets"] == [0, 1, 2]
    assert summary["processed_buckets"] == [3, 4, 5]
    assert summary["batches"] == [[3, 4, 5]]
    # no committed bucket was redone: its manifest is untouched
    after = manifests(out)
    assert {fn: after[fn] for fn in committed} == committed

    # output identical to the oracle, nothing lost or duplicated
    rows = pq.read_table(fixture_dir["pages"]).to_pylist()
    expected = {r.url: (r.kind, r.text, [(s.page, s.start, s.end) for s in r.spans],
                        r.n_pages, r.n_errors)
                for r in oracle.extract_table(rows)}
    got_rows = read_checkpointed_output(spark, out).collect()
    got = {r["url"]: (r["kind"], r["text"], [(s.page, s.start, s.end) for s in r["spans"] or []],
                      r["n_pages"], r["n_errors"])
           for r in got_rows}
    assert len(got_rows) == len(expected)
    assert got == expected

    # counters: lineage metrics add up
    total_docs = sum(c["docs"] for c in summary["counters"].values())
    assert total_docs == len(expected)
    total_errors = sum(c["errors"] for c in summary["counters"].values())
    assert total_errors == 0
    assert all(c["bytes_extracted"] > 0 for c in summary["counters"].values())


def test_second_resume_is_noop(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "ckpt2")
    df = spark.read.parquet(fixture_dir["pages"])
    run_checkpointed_extract(spark, df, out, n_buckets=3)
    summary = run_checkpointed_extract(spark, df, out, n_buckets=3)
    assert summary["resumed_buckets"] == [0, 1, 2]
    assert summary["processed_buckets"] == []
    assert summary["batches"] == []


def test_resume_with_other_bucket_count_raises(spark, fixture_dir, tmp_path):
    """The manifests key buckets by id, so resuming 8 buckets' manifests
    with 16 buckets would skip the wrong url sets."""
    out = str(tmp_path / "ckpt-nb")
    df = spark.read.parquet(fixture_dir["pages"])
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed_extract(spark, df, out, n_buckets=4, fail_after_bucket=0)
    with pytest.raises(ValueError, match=r"n_buckets=4.*n_buckets=6"):
        run_checkpointed_extract(spark, df, out, n_buckets=6)
    assert sorted(completed_buckets(out)) == [0]


def test_reader_skips_uncommitted_buckets(spark, fixture_dir, tmp_path):
    """A kill between a batch's write and its last manifests leaves
    uncommitted ``part=<k>`` directories; the reader must not see them."""
    out = str(tmp_path / "ckpt-read")
    df = spark.read.parquet(fixture_dir["pages"])
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed_extract(spark, df, out, n_buckets=6, fail_after_bucket=2)
    written = {d for d in os.listdir(os.path.join(out, "data")) if d.startswith("part=")}
    assert {"part=3", "part=4", "part=5"} <= written  # on disk, uncommitted

    committed_urls = {r["url"] for r in df.withColumn("b", _bucket_col(6))
                      .filter(F.col("b") <= 2).select("url").distinct().collect()}
    got = [r["url"] for r in read_checkpointed_output(spark, out).select("url").collect()]
    assert sorted(got) == sorted(committed_urls)


def test_batched_equals_one_bucket_per_job(spark, fixture_dir, tmp_path):
    """One job for all buckets vs one job per bucket (a split too small
    for two buckets): identical rows, identical per-bucket counters,
    and the counters sum to an unbucketed extraction's totals."""
    df = spark.read.parquet(fixture_dir["pages"])
    batched_out, single_out = str(tmp_path / "batched"), str(tmp_path / "single")
    batched, batched_jobs = jobs_run(
        spark, lambda: run_checkpointed_extract(spark, df, batched_out, n_buckets=6))
    with split_bytes(spark, 1024):
        single, single_jobs = jobs_run(
            spark, lambda: run_checkpointed_extract(spark, df, single_out, n_buckets=6))
    assert batched["batches"] == [[0, 1, 2, 3, 4, 5]]
    assert single["batches"] == [[b] for b in range(6)]
    # one bucket per job is today's plan: one batch's jobs per bucket
    assert single_jobs == 6 * batched_jobs

    a = read_checkpointed_output(spark, batched_out)
    b = read_checkpointed_output(spark, single_out)
    assert a.count() == b.count() == df.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    assert batched["counters"] == single["counters"]
    assert ({k: m["counters"] for k, m in completed_buckets(batched_out).items()}
            == {k: m["counters"] for k, m in completed_buckets(single_out).items()})

    totals = extract_fused(df).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_pages").alias("pages"),
        F.sum(F.when(F.col("kind").isin("pdf", "image"), F.col("n_pages")).otherwise(0))
        .alias("ocr_calls"),
        F.sum(F.octet_length("text")).alias("bytes_extracted"),
        F.sum("n_errors").alias("errors"),
    ).first().asDict()
    assert {c: sum(v[c] for v in batched["counters"].values()) for c in COUNTERS} == totals


def test_job_count_does_not_grow_with_buckets(spark, fixture_dir, tmp_path):
    """On a one-split input every bucket count runs as one batch, so the
    run submits the same jobs whether it has 1, 6 or 256 buckets.  The
    256-bucket batch's observe holds 256 per-bucket counter structs;
    that costs seconds, not the 256 jobs of one bucket per job."""
    df = spark.read.parquet(fixture_dir["pages"])
    jobs, seconds, counters = {}, {}, {}
    for n in (1, 6, 256):  # the first run also warms the session
        t = time.perf_counter()
        summary, jobs[n] = jobs_run(
            spark, lambda: run_checkpointed_extract(spark, df, str(tmp_path / f"n{n}"),
                                                    n_buckets=n))
        seconds[n] = time.perf_counter() - t
        assert summary["batches"] == [list(range(n))]
        counters[n] = {c: sum(v[c] for v in summary["counters"].values()) for c in COUNTERS}
    assert jobs[1] == jobs[6] == jobs[256]
    assert counters[1] == counters[6] == counters[256]
    assert seconds[256] < seconds[6] + 20.0, seconds
    with open(os.path.join(tmp_path, "n256", "manifest", "part-255.json")) as f:
        assert json.load(f)["batch"] == list(range(256))


def test_batch_size_rule(spark, fixture_dir):
    df = spark.read.parquet(fixture_dir["pages"])
    size = os.path.getsize(fixture_dir["pages"])
    split = int(spark.conf.get(SPLIT_CONF))
    assert batch_size(df, 16) == split * 16 // size
    # larger than split × n_buckets: one bucket per job
    with split_bytes(spark, size // 17):
        assert batch_size(df, 16) == 1
    with split_bytes(spark, size // 2 + 1):
        assert batch_size(df, 16) == 8
    # unknown size (an RDD-backed frame): one bucket per job
    unknown = spark.sparkContext.parallelize([("u", b"x")]).toDF(["url", "html"])
    assert batch_size(unknown, 16) == 1
