"""Extraction-pipeline benchmark.

    python3 perfbench/run.py --workload extract_pdf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It generates the workload's input from
``--seed``, starts a local Spark session, runs the job a user submits,
checks every output document, and prints one JSON result
as the last line of standard output: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  See ``perfbench/NOTES.md`` for the workloads and metrics.

Everything it writes goes under ``.perfbench-work/`` (removed at the
end) and ``.perfbench-out/`` (span files of traced runs).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from google_vision_ocr_spark.plans.checkpoint import (  # noqa: E402
    completed_buckets,
    run_checkpointed_extract,
)
from google_vision_ocr_spark.plans.pipeline import run_corpus_pipeline  # noqa: E402
from google_vision_ocr_spark.session import get_spark  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from spans import SqlStatus, Tracer  # noqa: E402

# scripts/submit_extract.py defaults: 16 buckets, no salt, no rate
# limit, stub recognizer, no otsu/deskew/dpi
EXTRACT_ARGS = dict(n_buckets=16, salt_partitions=None, rate_limit_qps=None,
                    recognizer="stub", otsu=False, do_deskew=False, dpi=False)
KILL_AFTER = EXTRACT_ARGS["n_buckets"] // 2 - 1
SETUP_SAMPLES = 5
# The extract jobs run their fused stage as one task per bucket, so more
# cores give them nothing: on 4 cores a full extract_pdf job took
# 12.8-17.6 s, on one 10.4-10.8 s, since the spare cores keep the JVM's
# own threads and the Python worker from queueing behind the task.  The
# corpus pipeline scans 8 files and needs the cores (46-55 s on one).
ONE_CORE = {"extract_pdf", "extract_web"}


_PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class MemorySampler:
    """Resident memory of this process's descendants, the Spark JVM and
    its Python workers, sampled every ``interval_s``.

    The Python workers are forked from one daemon and share most of
    their pages, so they are sampled as PSS from ``smaps_rollup``, which
    counts a shared page once.  The JVM shares nothing with them; it is
    sampled as the resident set size from ``statm``, a counter, because
    ``smaps_rollup`` walks all of its page tables (20 ms a sample, which
    slowed the measured jobs).

    :attr:`p95_mb` is the 95th percentile of the samples: a high-water
    mark that one short spike does not set.  How many idle workers the
    daemon still keeps at a given moment differs from run to run."""

    def __init__(self, interval_s: float = 0.2):
        self.samples: list[float] = []
        self._interval_s = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval_s):
            self.samples.append(self._sample())

    @property
    def p95_mb(self) -> float:
        if len(self.samples) < 2:
            return max(self.samples, default=0.0)
        return statistics.quantiles(self.samples, n=20)[-1]

    @staticmethod
    def _sample() -> float:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    jvm = f.read().strip() == "java"
                if jvm:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * _PAGE_BYTES
                else:
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        total += 1024 * next(int(line.split()[1]) for line in f
                                             if line.startswith("Pss:"))
            except (OSError, IndexError, ValueError, StopIteration):
                continue  # the process ended while we looked
        return total / 2**20


def descendants() -> list[int]:
    """Process ids of this process's descendants, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def _stat(path: str) -> tuple[str, list[str]]:
    """The name and the fields after it of a ``/proc`` stat file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and
    its descendants, the ones that ended included, less the JVM's JIT
    compiler threads.

    How much the JIT compiles during a job depends on how far it got in
    the jobs before, and so on how busy the host was: in a full
    ``extract_pdf`` job its threads used 4 to 11 of 16 to 33 CPU
    seconds.  The threads are kept alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so their time can be
    taken out."""
    ticks = 0
    for pid in descendants():
        try:
            name, fields = _stat(f"/proc/{pid}/stat")
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
            if name != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                thread, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
                if thread.startswith(_JIT_THREADS):
                    ticks -= int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue  # the process or thread ended while we looked
    own = os.times()
    return ticks / _CLOCK_TICKS + own.user + own.system


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = Tracer()
        self.mix = gen.MIXES[args.workload]
        self.failed = 0
        self.attempted = 0
        # wall time inside traced calls, and reading them back
        self.traced_s = 0.0
        self.trace_read_s = 0.0
        self.notes: dict[str, object] = {}
        # wall-clock figures: printed on the details line, bounded by no
        # metric (see NOTES.md, "Why CPU time")
        self.wall: dict[str, object] = {}

    # -- set-up ---------------------------------------------------------

    def _spark_conf(self) -> tuple[str, dict[str, str]]:
        cpus = 1 if self.workload in ONE_CORE else len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp)
        # -XX:-UsePerfData: no JVM writes its perf file under /tmp.
        # -XX:-UseDynamicNumberOfCompilerThreads: see tree_cpu_s
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_WAREHOUSE": os.path.join(self.work, "warehouse"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        })
        conf = {
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
                f" -Dderby.system.home={self.work}/derby -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        return f"local[{cpus}]", conf

    def _session(self, master: str, conf: dict[str, str]):
        spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
        spark.range(1).count()
        return spark

    def start_spark(self):
        """Cold start once (JVM launch), then restart the session
        :data:`SETUP_SAMPLES` times in the running JVM."""
        master, conf = self._spark_conf()
        with self.tracer.span("setup.cold") as sp:
            spark = self._session(master, conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.wall["cold_start_s"] = sp.end - sp.start
        clocks = []
        for _ in range(SETUP_SAMPLES):
            spark.stop()
            quiesce()
            with self.tracer.span("setup.session"), Clock() as clock:
                spark = self._session(master, conf)
            clocks.append(clock)
        self.setup_s = statistics.median(c.cpu_s for c in clocks)
        self.wall["setup_s"] = statistics.median(c.wall_s for c in clocks)
        return spark

    def make_inputs(self) -> None:
        with self.tracer.span("generate"):
            self.table = gen.generate(self.mix, self.seed)
            self.input_dir = os.path.join(self.work, "input")
            paths = gen.write(self.table, self.input_dir, self.mix)
            self.input_bytes = sum(os.path.getsize(p) for p in paths)
            self.digest = gen.digest(self.table)
        with self.tracer.span("oracle"):
            self.expected = check.expected_docs(self.table)
            self.n_docs = self.table.num_rows
            self.n_pages = sum(doc[3] for doc in self.expected.values())

    # -- the jobs ---------------------------------------------------------

    def extract(self, spark, out: str, fail_after: int | None = None) -> dict:
        df = spark.read.parquet(self.input_dir)
        return run_checkpointed_extract(spark, df, out, fail_after_bucket=fail_after,
                                        **EXTRACT_ARGS)

    def call(self, sql: SqlStatus | None, name: str, fn):
        """Run ``fn`` under a span and a :class:`Clock`.  With ``sql``,
        read its SQL executions back into child spans afterwards.
        Returns (result, clock, executions, job ids)."""
        if sql is None:
            with self.tracer.span(f"untraced.{name}"), Clock() as clock:
                result = fn()
            return result, clock, None, None
        mark = sql.mark()
        with self.tracer.span(name) as sp, Clock() as clock:
            result = fn()
        with self.tracer.span("trace.read_status") as read:
            execs = sql.executions_since(mark)
            jobs = sql.jobs_since(mark)
        self.tracer.add_executions(sp, execs)
        self.traced_s += sp.end - sp.start
        self.trace_read_s += read.end - read.start
        return result, clock, execs, jobs

    def repeat(self, sql: SqlStatus | None, name: str, job, t0: float):
        """Run ``job(out_dir)`` into fresh directories, at least once,
        until one more run would end past ``--seconds`` since ``t0``.
        With ``sql`` every run is traced.  Returns the (directory,
        result) of every run, the median of their clocks, and the
        executions and job ids of the last run."""
        outputs: list[tuple[str, dict]] = []
        clocks: list[Clock] = []
        while True:
            out = os.path.join(self.work, f"out-{len(outputs)}")
            quiesce()
            result, clock, execs, jobs = self.call(sql, f"plans.{name}", lambda: job(out))
            outputs.append((out, result))
            clocks.append(clock)
            if time.perf_counter() - t0 + max(c.wall_s for c in clocks) > self.seconds:
                break
        self.wall["full_run_s"] = [c.wall_s for c in clocks]
        self.notes["full_run_cpu_s"] = [c.cpu_s for c in clocks]
        return outputs, Clock.median(clocks), execs, jobs

    def measure_extract(self, spark) -> dict:
        sql = SqlStatus(spark) if self.traced else None
        resumed = os.path.join(self.work, "out-resumed")
        try:
            with self.tracer.span("untraced.plans.checkpoint.killed"):
                self.extract(spark, resumed, fail_after=KILL_AFTER)
            raise AssertionError("the injected failure did not fire")
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
        done_before = set(completed_buckets(resumed))
        t0 = time.perf_counter()
        quiesce()
        with MemorySampler() as mem:
            summary, resume, *_ = self.call(sql, "plans.checkpoint.resume",
                                            lambda: self.extract(spark, resumed))
            outputs, full, execs, jobs = self.repeat(
                sql, "checkpoint.full", lambda out: self.extract(spark, out), t0)
        with self.tracer.span("check"):
            for out in [resumed, *(out for out, _ in outputs)]:
                self.failed += check.extract_failures(os.path.join(out, "data"),
                                                      self.expected)
                self.attempted += self.n_docs
        pages = sum(c["pages"] for c in outputs[0][1]["counters"].values())
        self.wall.update(docs_per_s=self.n_docs / full.wall_s,
                         pages_per_s=pages / full.wall_s, resume_s=resume.wall_s)
        metrics = {
            "cpu_ms_per_doc": 1000 * full.cpu_s / self.n_docs,
            "rss_p95_mb": mem.p95_mb,
            "checkpoint.resume_cpu_s": resume.cpu_s,
            "checkpoint.resume_redone": len(done_before & set(summary["processed_buckets"])),
        }
        if sql:
            metrics.update(self._traced_layers(sql, execs, jobs))
            metrics.update(layers.checkpoint(execs, len(jobs), self.input_bytes))
        return metrics

    def measure_corpus(self, spark) -> dict:
        sql = SqlStatus(spark) if self.traced else None
        # no warm-up: the first pipeline in the session is measured, as
        # scripts/submit_curate.py runs it
        t0 = time.perf_counter()
        with MemorySampler() as mem:
            outputs, full, execs, jobs = self.repeat(
                sql, "pipeline.run_corpus_pipeline",
                lambda out: run_corpus_pipeline(spark.read.parquet(self.input_dir), out),
                t0)
        input_urls = set(self.table.column("url").to_pylist())
        with self.tracer.span("check"):
            for out, report in outputs:
                self.failed += check.corpus_failures(out, report, input_urls)
                self.attempted += self.n_docs
        self.notes["report"] = outputs[0][1]
        self.wall.update(docs_per_s=self.n_docs / full.wall_s,
                         pages_per_s=self.n_pages / full.wall_s)
        metrics = {
            "cpu_ms_per_doc": 1000 * full.cpu_s / self.n_docs,
            "rss_p95_mb": mem.p95_mb,
        }
        if sql:
            metrics.update(self._traced_layers(sql, execs, jobs))
            metrics.update(layers.pipeline(execs, len(jobs)))
        return metrics

    def _traced_layers(self, sql, execs, jobs) -> dict:
        metrics = layers.fused(execs, sql)
        metrics.update(layers.assemble(execs))
        metrics.update(layers.spark_wide(execs, sql.completed_tasks(jobs)))
        with self.tracer.span("kernels"):
            kernels = layers.Kernels(self.table)
            us = kernels.time()
        metrics.update(us)
        metrics["fused.kernel_share"] = kernels.share(us, metrics["fused.py_run_s"])
        # the spans cost microseconds; what tracing adds to a traced job
        # is reading its executions back
        metrics["trace.overhead_frac"] = self.trace_read_s / self.traced_s
        return metrics

    # -- the run ----------------------------------------------------------

    def run(self, declared: dict) -> dict:
        with self.tracer.span("run") as root:
            self.make_inputs()
            spark = self.start_spark()
            try:
                if self.workload == "curate_corpus":
                    metrics = self.measure_corpus(spark)
                else:
                    metrics = self.measure_extract(spark)
            finally:
                stop_spark(spark)
        metrics["setup_s"] = self.setup_s
        if self.traced:
            metrics.update(self._self_times(root))
            out_dir = os.path.join(ROOT, ".perfbench-out")
            os.makedirs(out_dir, exist_ok=True)
            self.tracer.dump(os.path.join(out_dir, f"spans-{self.workload}-{self.seed}.jsonl"))
        units = {m["name"]: m["unit"]
                 for m in declared["per_layer" if self.traced else "end_to_end"]}
        known = {m["name"] for m in declared["end_to_end"] + declared["per_layer"]}
        unknown = set(metrics) - known
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        print(json.dumps({
            "workload": self.workload, "seed": self.seed, "input_digest": self.digest,
            "docs": self.n_docs, "pages": self.n_pages, "input_bytes": self.input_bytes,
            "failed_doc_frac": self.failed / self.attempted, "wall": self.wall, **self.notes,
            "all_metrics": {k: metrics[k] for k in sorted(metrics)},
        }))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            # a layer this workload does not run reports 0
            "metrics": {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                        for name, unit in units.items()},
        }

    def _self_times(self, root) -> dict[str, float]:
        def layer(sp) -> str:
            if sp.name == "run":
                return "self.untraced_s"
            if sp.name.startswith("setup."):
                return "self.setup_s"
            if sp.name.startswith("sql.execution."):
                return "self.sql_s"
            if sp.name.startswith("untraced."):
                return "self.untraced_job_s"
            if sp.name.startswith("plans."):
                return "self.job_driver_s"
            return {"generate": "self.generate_s", "oracle": "self.oracle_s",
                    "kernels": "self.kernels_s", "check": "self.check_s",
                    "trace.read_status": "self.trace_read_s"}[sp.name]

        selfs = self.tracer.self_times_by(layer)
        wall = root.end - root.start
        return {**selfs, "trace.wall_s": wall,
                "trace.unaccounted_s": wall - sum(selfs.values())}


class Clock:
    """Wall time of a region, and the CPU time the process tree spent
    in it."""

    def __enter__(self) -> "Clock":
        self._cpu = tree_cpu_s()
        self._wall = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._wall
        self.cpu_s = tree_cpu_s() - self._cpu

    @staticmethod
    def median(clocks: list["Clock"]) -> "Clock":
        clock = Clock()
        clock.wall_s = statistics.median(c.wall_s for c in clocks)
        clock.cpu_s = statistics.median(c.cpu_s for c in clocks)
        return clock


def quiesce() -> None:
    """Collect garbage in this process and in the JVM, so that a timed
    call does not pay for what an earlier one left behind."""
    from pyspark import SparkContext

    gc.collect()
    if SparkContext._gateway is not None:
        SparkContext._gateway.jvm.System.gc()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    work = os.path.join(ROOT, ".perfbench-work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = Bench(args, work).run(declared)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
