"""Per-layer metrics of the traced run.

Each function rolls the Spark SQL executions recorded under one of the
benchmark's calls into the metrics of one layer of the program.  The
names and units are declared in ``BENCHMARK.json``.
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

from google_vision_ocr_spark import formats
from google_vision_ocr_spark.functions.html import strip_html_bytes
from google_vision_ocr_spark.oracle import normalize_image_payload
from google_vision_ocr_spark.recognizers import StubRecognizer

from spans import Execution, Node, SqlStatus

MB = 1024.0 * 1024.0
_WRITE = "Execute InsertIntoHadoopFsRelationCommand"
_ASSEMBLY_PARTIAL = "partial_collect_list(struct(page"
_DEDUP_KEYS = ("hashpartitioning(text_hash", "hashpartitioning(id_a", "hashpartitioning(band")


def _nodes(execs: list[Execution], name: str) -> list[Node]:
    return [n for e in execs for n in e.find(name)]


def _sum(nodes: list[Node], metric: str) -> float:
    return sum(n.total(metric) for n in nodes)


def _write(execs: list[Execution]) -> tuple[float, float]:
    """(commit seconds, megabytes written) of every file write."""
    writes = _nodes(execs, _WRITE)
    return (_sum(writes, "task commit time") + _sum(writes, "job commit time"),
            _sum(writes, "written output") / MB)


def fused(execs: list[Execution], sql: SqlStatus) -> dict[str, float]:
    """The extraction Python stage: every MapInArrow node that ran."""
    runs = [n for n in _nodes(execs, "MapInArrow") if n.total("number of output rows") > 0]
    run_t = [n.metrics["time to run Python workers"] for n in runs
             if "time to run Python workers" in n.metrics]
    tasks = sum(sql.stage_tasks(m.stage) if m.stage is not None else 1 for m in run_t)
    return {
        "fused.tasks": tasks,
        "fused.py_start_s": _sum(runs, "time to start Python workers"),
        "fused.py_init_s": _sum(runs, "time to initialize Python workers"),
        "fused.py_run_s": sum(m.total for m in run_t),
        "fused.py_run_max_s": max((m.max for m in run_t), default=0.0),
        "fused.skew_ratio": statistics.median(m.max / m.med for m in run_t if m.med > 0)
        if any(m.med > 0 for m in run_t) else 0.0,
        "fused.mb_to_py": _sum(runs, "data sent to Python workers") / MB,
        "fused.mb_from_py": _sum(runs, "data returned from Python workers") / MB,
        "fused.rows_out": _sum(runs, "number of output rows"),
        "fused.stage_runs": len(runs),
    }


def assemble(execs: list[Execution]) -> dict[str, float]:
    """The ``groupBy(url)`` assembly: its aggregates and its exchange,
    the one whose map side is the partial assembly aggregate."""
    aggs = [n for n in _nodes(execs, "ObjectHashAggregate") if "collect_list(struct(page" in n.desc]
    exchanges = [x for e in execs for x in e.find("Exchange")
                 if any(_ASSEMBLY_PARTIAL in nb.desc for nb in e.neighbours(x))]
    return {
        "assemble.shuffle_mb": _sum(exchanges, "shuffle bytes written") / MB,
        "assemble.agg_build_s": _sum(aggs, "time in aggregation build"),
        "assemble.sort_fallback_tasks": _sum(aggs, "number of sort fallback tasks"),
        "assemble.fetch_wait_s": _sum(exchanges, "fetch wait time"),
        "assemble.spill_mb": _sum(aggs, "spill size") / MB,
    }


def spark_wide(execs: list[Execution], tasks: int) -> dict[str, float]:
    return {
        "spark.tasks": tasks,
        "spark.scan_s": _sum(_nodes(execs, "Scan parquet"), "scan time"),
        "spark.codegen_s": sum(n.total("duration") for e in execs for n in e.nodes
                               if n.name.startswith("WholeStageCodegen")),
    }


def checkpoint(execs: list[Execution], jobs: int, input_bytes: int) -> dict[str, float]:
    """One full ``run_checkpointed_extract``: one write execution per
    bucket."""
    buckets = [e.end_unix - e.start_unix for e in execs if e.find(_WRITE)]
    write_s, write_mb = _write(execs)
    return {
        "checkpoint.jobs": jobs,
        "checkpoint.scan_amplification":
            round(_sum(_nodes(execs, "Scan parquet"), "size of files read") / input_bytes, 2),
        "checkpoint.bucket_s_p50": statistics.median(buckets) if buckets else 0.0,
        "checkpoint.bucket_s_max": max(buckets, default=0.0),
        "checkpoint.write_s": write_s,
        "checkpoint.write_mb": write_mb,
    }


def pipeline(execs: list[Execution], jobs: int) -> dict[str, float]:
    """One ``run_corpus_pipeline``: curate's metrics UDF, the dedup
    steps and the writes."""
    metrics_udf = [n for n in _nodes(execs, "ArrowEvalPython") if "_metrics_udf(" in n.desc]
    # the pair dedup is an aggregate keyed on (id_a, id_b); the
    # threshold is a filter on est_jaccard above it
    pair_aggs = [n for n in _nodes(execs, "HashAggregate")
                 if n.desc.startswith("HashAggregate(keys=[id_a") and "partial_" not in n.desc]
    kept = [n for n in _nodes(execs, "Filter") if "est_jaccard" in n.desc and ">=" in n.desc]
    candidates = pair_aggs[0].total("number of output rows") if pair_aggs else 0.0
    above = kept[0].total("number of output rows") if kept else 0.0
    dedup_x = [n for n in _nodes(execs, "Exchange") if any(k in n.desc for k in _DEDUP_KEYS)]
    write_s, write_mb = _write(execs)
    return {
        "curate.metrics_py_run_s": _sum(metrics_udf, "time to run Python workers"),
        "dedup.candidate_pairs": candidates,
        "dedup.pair_yield": above / candidates if candidates else 0.0,
        "dedup.shuffle_mb": _sum(dedup_x, "shuffle bytes written") / MB,
        "pipeline.jobs": jobs,
        "pipeline.write_s": write_s,
        "pipeline.write_mb": write_mb,
    }


def _mean_us(fn, items, passes: int = 3) -> float:
    """Median over ``passes`` of the mean wall time per call, in µs."""
    if not items:
        return 0.0
    means = []
    for _ in range(passes):
        t = time.perf_counter()
        for item in items:
            fn(item)
        means.append((time.perf_counter() - t) / len(items) * 1e6)
    return statistics.median(means)


class Kernels:
    """The extraction kernels, timed one call at a time on a sample of
    the workload's payloads, and the workload's item counts."""

    def __init__(self, table: pa.Table, sample: int = 40, max_pages: int = 200):
        self.counts = {"spdf": 0, "pages": 0, "images": 0, "html": 0}
        docs, images, html = [], [], []
        for payload in table.column("html").to_pylist():
            fmt = formats.sniff_format(payload)
            if fmt == "SPDF":
                try:
                    n_pages = len(formats.decode_spdf(payload))
                except Exception:  # corrupt payloads are not kernel work
                    continue
                self.counts["spdf"] += 1
                self.counts["pages"] += n_pages
                if len(docs) < sample:
                    docs.append(payload)
            elif fmt in ("PNG", "JPEG", "BMP", "TIFF", "GIF"):
                self.counts["images"] += 1
                if len(images) < sample:
                    images.append(normalize_image_payload(payload))
            elif fmt == "HTML":
                self.counts["html"] += 1
                if len(html) < sample:
                    html.append(payload)
        self._docs = docs
        self._pages = [p for d in docs for p in formats.decode_spdf(d)][:max_pages]
        self._images = images
        self._html = html

    def time(self) -> dict[str, float]:
        grays = [formats.rgb_to_gray(formats.render_page_rgb(p)) for p in self._pages]
        pngs = [formats.encode_png(g) for g in grays]
        engine = StubRecognizer()
        return {
            "formats.decode_spdf_us": _mean_us(formats.decode_spdf, self._docs),
            "formats.render_us": _mean_us(
                lambda p: formats.rgb_to_gray(formats.render_page_rgb(p)), self._pages),
            "formats.png_encode_us": _mean_us(formats.encode_png, grays),
            "recognizers.recognize_us": _mean_us(engine.recognize, pngs + self._images),
            "html.strip_us": _mean_us(strip_html_bytes, self._html),
        }

    def share(self, us: dict[str, float], py_run_s: float) -> float:
        """Kernel time the workload needs, scaled from the per-call
        timings, as a share of the fused stage's Python run time."""
        if py_run_s <= 0:
            return 0.0
        c = self.counts
        total_us = (c["spdf"] * us["formats.decode_spdf_us"]
                    + c["pages"] * (us["formats.render_us"] + us["formats.png_encode_us"])
                    + (c["pages"] + c["images"]) * us["recognizers.recognize_us"]
                    + c["html"] * us["html.strip_us"])
        return total_us / 1e6 / py_run_s
