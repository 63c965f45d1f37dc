"""End-to-end corpus pipeline: pages → curate → dedup → redact → score
→ split → pack → JSONL, with the report's funnel counters."""

import glob
import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

PIPELINE_KWARGS = dict(min_quality=0.1, min_tokens=2, shard_token_budget=500)
PYTHON_NODES = {"MapInArrow", "ArrowEvalPython", "BatchEvalPython"}


def _last_execution_id(store) -> int:
    rows = store.executionsList()
    return max((rows.apply(i).executionId() for i in range(rows.size())), default=-1)


def _plan_nodes_since(spark, store, after_id: int) -> dict[int, set[str]]:
    """Plan node names of every SQL execution with an id above
    ``after_id``, read from the session's SQL status store (so the
    listener has caught up for :func:`_plan_text` too)."""
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


def _plan_text(store, execution_id: int) -> str:
    return store.execution(execution_id).get().physicalPlanDescription()


def _run(spark, pages, out: str, **options) -> dict:
    from google_vision_ocr_spark.plans.pipeline import run_corpus_pipeline

    os.makedirs(out, exist_ok=True)
    return run_corpus_pipeline(pages, out, **{**PIPELINE_KWARGS, **options})


def _corpus_lines(out: str) -> list[str]:
    lines = []
    for p in glob.glob(os.path.join(out, "corpus", "*.json.gz")):
        with gzip.open(p, "rt") as f:
            lines.extend(f)
    return sorted(lines)


@pytest.fixture(scope="module")
def pipeline_run(spark, fixture_dir, tmp_path_factory):
    """One pipeline run on the fixture: (out dir, report, plan node
    names of each SQL execution it ran, plan text of the last one)."""
    store = spark._jsparkSession.sharedState().statusStore()
    mark = _last_execution_id(store)
    out = str(tmp_path_factory.mktemp("pipeline") / "corpus_out")
    report = _run(spark, spark.read.parquet(fixture_dir["pages"]), out)
    executions = _plan_nodes_since(spark, store, mark)
    return out, report, executions, _plan_text(store, max(executions))


def test_corpus_pipeline_end_to_end(spark, pipeline_run):
    out, report, *_ = pipeline_run
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


def test_nothing_runs_after_the_corpus_write(pipeline_run):
    """The report's counters come from the writes themselves: the run
    ends with the JSONL corpus write, which reads no persisted frame."""
    out, _, executions, last_plan = pipeline_run
    last = executions[max(executions)]
    assert "Execute InsertIntoHadoopFsRelationCommand" in last, last
    assert f"{os.path.join(out, 'corpus')}, false, JSON" in last_plan, last_plan[:2000]
    assert "InMemoryTableScan" not in last and "InMemoryTableScan" not in last_plan


def test_tokens_out_counts_the_written_text(spark, tmp_path):
    """``tokens_out`` counts the text after paragraph dedup, as the
    manifest does: two documents sharing one 11-token paragraph keep
    it once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shared = "this shared paragraph has exactly eleven tokens in every single document"
    texts = [
        f"alpha bravo charlie delta echo foxtrot golf hotel\n\n{shared}",
        f"{shared}\n\nindia juliet kilo lima mike november oscar papa quebec",
    ]
    pq.write_table(pa.table({
        "url": pa.array(["u/a", "u/b"]),
        "warc_ts": pa.array([None, None], pa.timestamp("us", tz="UTC")),
        "html": pa.array([None, None], pa.binary()),
        "text": pa.array(texts),
        "lang": pa.array(["en", "en"]),
    }), str(tmp_path / "pages.parquet"))
    out = str(tmp_path / "corpus_out")
    report = _run(spark, spark.read.parquet(str(tmp_path / "pages.parquet")), out,
                  min_quality=0.0, min_tokens=1)
    man = spark.read.parquet(os.path.join(out, "manifest"))
    assert report["docs_written"] == 2
    assert report["tokens_out"] == man.agg(F.sum("sum_tokens")).collect()[0][0]


def test_each_python_stage_runs_once(pipeline_run):
    """Extraction's ``mapInArrow`` is the only Python in the pipeline,
    and it runs in exactly one SQL execution: no Python runs after
    extraction, and later actions start from the lineage cuts instead
    of re-running or re-planning it."""
    _, _, executions, _ = pipeline_run
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
    out, report, *_ = pipeline_run
    pages = spark.read.parquet(fixture_dir["pages"]).repartition(5)
    out5 = str(tmp_path / "corpus_out")
    assert _run(spark, pages, out5) == report
    assert _corpus_lines(out5) == _corpus_lines(out)
