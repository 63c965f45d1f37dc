"""Round-7 optimization harness: per-stage noop-sink isolation
(guide §1.4) for the expensive headline queries, plus task-parallelism
diagnostics.  Does NOT touch bench.py (frozen for measurement);
numbers quoted in OPTIMIZATION_r07.md come from here unless stated.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def best_of(build, repeats: int = 3) -> float:
    best = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        run_query(build())
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return round(best, 3)


def main() -> None:
    import __spark_entry__ as entry_mod
    from google_vision_ocr_spark import cache
    from google_vision_ocr_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    out: dict[str, object] = {"sf_dir": sf_dir}

    def t(name):
        return entry_mod._t(spark, sf_dir, name)

    # -- scan-task parallelism of each input table (the r7 root cause)
    parts = {}
    for tbl in ("documents", "events", "orders", "customer", "lineitem",
                "embeddings"):
        parts[tbl] = t(tbl).rdd.getNumPartitions()
    out["scan_partitions"] = parts

    # -- flagship stage isolation
    from google_vision_ocr_spark.plans.fused import process_items
    from google_vision_ocr_spark.sources.documents import documents_to_pages

    sc.setJobDescription("r7: flagship stages")
    stages = {}
    builders = {
        "scan": lambda: t("documents").select("doc_id", "text", "lang"),
        "pages_udf": lambda: documents_to_pages(t("documents")).select("url", "html"),
        "recognize": lambda: process_items(documents_to_pages(t("documents")), "html"),
        "full": lambda: entry_mod._flagship(spark, sf_dir),
    }
    for name, build in builders.items():
        run_query(build())
        stages[name] = best_of(build)
    out["flagship_stages"] = stages

    # -- minhash stage isolation (the HEADLINE dedup path, which is
    # also the family bench.py's minhash_stages times)
    from google_vision_ocr_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    sc.setJobDescription("r7: replayable minhash stages")
    mh = {}

    def sigs_only():
        return minhash_signatures(t("documents"))

    run_query(sigs_only())
    mh["signatures_expr"] = best_of(sigs_only)

    def pairs_cold():
        return minhash_lsh_pairs(t("documents"))

    run_query(pairs_cold())
    mh["pairs_single_lineage"] = best_of(pairs_cold)

    qs = entry_mod.queries()

    # mirror bench.py's protocol exactly: the warm run persists the
    # signature table; each timed rebuild's persist() hits the
    # CacheManager's sameResult lookup and reuses the warm cache
    def headline():
        return qs["dedup_minhash_lsh"](spark, sf_dir)

    run_query(headline())  # warm (fills cache)
    mh["headline_protocol"] = best_of(headline)
    # sub-stages against the warm cache: banded pair-gen alone, then
    # the attach joins (the part the r7 join diet added)
    sigs = cache._TRACKED[-1] if cache._TRACKED else None
    if sigs is not None:
        from pyspark.sql import functions as F

        def pairs_only():
            return minhash_lsh_pairs(
                t("documents"), signatures=sigs
            ).select("id_a", "id_b")

        mh["pairs_from_cache"] = best_of(pairs_only)
    cache.release_all()
    out["minhash_stages_replayable"] = mh

    sc.setJobDescription(None)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
