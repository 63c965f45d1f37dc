"""End-to-end corpus pipeline: pages → curate → dedup → redact → score
→ split → pack → JSONL, with the report's funnel counters."""

import glob
import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

PIPELINE_KWARGS = dict(min_quality=0.1, min_tokens=2, shard_token_budget=500,
                       chunk_size=32, chunk_stride=24)
PYTHON_NODES = {"MapInArrow", "ArrowEvalPython", "BatchEvalPython"}


def _last_execution_id(store) -> int:
    rows = store.executionsList()
    return max((rows.apply(i).executionId() for i in range(rows.size())), default=-1)


def _plan_nodes_since(spark, store, after_id: int) -> dict[int, set[str]]:
    """Plan node names of every SQL execution with an id above
    ``after_id``, read from the session's SQL status store."""
    # the status store is filled by an asynchronous listener
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    rows = store.executionsList()
    out = {}
    for i in range(rows.size()):
        eid = rows.apply(i).executionId()
        if eid > after_id:
            nodes = store.planGraph(eid).allNodes()
            out[eid] = {nodes.apply(k).name().strip() for k in range(nodes.size())}
    return out


def _run(spark, pages, out: str) -> dict:
    from google_vision_ocr_spark.plans.pipeline import run_corpus_pipeline

    os.makedirs(out, exist_ok=True)
    return run_corpus_pipeline(pages, out, **PIPELINE_KWARGS)


def _corpus_lines(out: str) -> list[str]:
    lines = []
    for p in glob.glob(os.path.join(out, "corpus", "*.json.gz")):
        with gzip.open(p, "rt") as f:
            lines.extend(f)
    return sorted(lines)


@pytest.fixture(scope="module")
def pipeline_run(spark, fixture_dir, tmp_path_factory):
    """One pipeline run on the fixture: (out dir, report, plan node
    names of each SQL execution it ran)."""
    store = spark._jsparkSession.sharedState().statusStore()
    mark = _last_execution_id(store)
    out = str(tmp_path_factory.mktemp("pipeline") / "corpus_out")
    report = _run(spark, spark.read.parquet(fixture_dir["pages"]), out)
    return out, report, _plan_nodes_since(spark, store, mark)


def test_corpus_pipeline_end_to_end(spark, pipeline_run):
    out, report, _ = pipeline_run
    # report sanity: the funnel only narrows
    assert report["docs_in"] >= report["pass_quality"] >= report["pass_lang"]
    assert report["docs_out"] == report["docs_written"] > 0
    assert report["n_shards"] > 0
    assert os.path.exists(os.path.join(out, "report.json"))

    # the written corpus is readable, has the contract columns, and
    # carries no un-redacted emails
    rows = [json.loads(line) for line in _corpus_lines(out)]
    assert len(rows) == report["docs_written"]
    assert set(rows[0]) == {"url", "lang_guess", "quality",
                            "avg_neg_logprob", "split", "text"}
    assert all("@" not in r["text"] or "<EMAIL>" in r["text"]
               for r in rows if "@" in r["text"])
    assert {r["split"] for r in rows} <= {"train", "val", "test"}

    # manifest shards respect the token budget within one-doc overshoot
    man = spark.read.parquet(os.path.join(out, "manifest"))
    worst = man.agg(F.max("sum_tokens")).collect()[0][0]
    biggest_doc = 2000  # fixture docs are far smaller than this
    assert worst < 500 + biggest_doc
    assert man.count() == report["n_shards"]

    # training-sequence chunks: split-partitioned parquet, windows of
    # at most 32 tokens, every written doc represented
    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    assert chunks.count() == report["n_chunks"] > 0
    assert chunks.agg(F.max("n_tokens")).collect()[0][0] <= 32
    assert chunks.select("url").distinct().count() == report["docs_written"]
    assert {r.split for r in chunks.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }


def test_each_python_stage_runs_once(pipeline_run):
    """Extraction's ``mapInArrow`` is the only Python in the pipeline,
    and it runs in exactly one SQL execution: no Python runs after
    extraction, and later actions start from the lineage cuts instead
    of re-running or re-planning it."""
    _, _, executions = pipeline_run
    extraction = [e for e, names in executions.items() if "MapInArrow" in names]
    python = {e: names & PYTHON_NODES for e, names in executions.items()
              if names & PYTHON_NODES}
    assert len(extraction) == 1, executions
    assert python == {extraction[0]: {"MapInArrow"}}, executions


def test_text_metrics_plans_have_no_python(spark, tmp_path):
    """Quality, language guess and token count are JVM expressions:
    no Python UDF in with_text_metrics or the entries that read it."""
    import __spark_entry__ as entry_mod
    from google_vision_ocr_spark.functions.text import with_text_metrics

    docs = spark.createDataFrame(
        [(0, "the cat and the dog", "en", "src1", 19)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    queries = entry_mod.queries()
    for df in (
        queries["lang_id_heuristic"](spark, str(tmp_path)),
        queries["quality_scores"](spark, str(tmp_path)),
        queries["tier_extraction"](spark, str(tmp_path)),
        with_text_metrics(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan[:2000]


def test_pipeline_partitioning_invariant(spark, fixture_dir, pipeline_run, tmp_path):
    out, report, _ = pipeline_run
    pages = spark.read.parquet(fixture_dir["pages"]).repartition(5)
    out5 = str(tmp_path / "corpus_out")
    assert _run(spark, pages, out5) == report
    assert _corpus_lines(out5) == _corpus_lines(out)
