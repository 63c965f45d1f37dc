"""Physical-plan discipline (SURVEY.md §4): the plans we'd want at
100 TB, not just plans that pass — pushdown, broadcast, partial agg."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted") \
        if hasattr(df._sc._jvm, "PythonSQLUtils") else _plan(df)


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter((F.col("lang") == "en") & (F.col("n_chars") > 500))
        .select("doc_id", "n_chars")
    )
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters" in plan
    assert "IsNotNull(lang)" in plan or "EqualTo(lang,en)" in plan
    # column pruning: text (the wide column) must not be read
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema


def test_illustration_routing_uses_broadcast_join(spark):
    from google_vision_ocr_spark.operators.assemble import tag_kind

    pages = spark.createDataFrame([("u", p, "t") for p in range(10)],
                                  ["url", "page", "text"])
    illust = spark.createDataFrame([("u", 3)], ["url", "page"])
    assert "BroadcastHashJoin" in _plan(tag_kind(pages, illust))


def test_framed_concat_uses_partial_aggregation(spark):
    from google_vision_ocr_spark.operators.assemble import framed_concat

    df = spark.createDataFrame([("u", 1, "a", False)], ["url", "page", "text", "ocr_error"])
    plan = _plan(framed_concat(df))
    # ObjectHashAggregate runs partial collect_list map-side before the
    # exchange, merge after — one shuffle keyed on url
    assert "ObjectHashAggregate" in plan
    assert plan.count("Exchange") >= 1


def test_cosine_topk_broadcasts_query_side(spark):
    from google_vision_ocr_spark.operators.similarity import cosine_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(cosine_topk(e, 0))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_fused_extract_has_single_source_scan(spark, fixture_dir):
    """Both shapes scan once.  The default shape and the flagship's
    ``extract_documents_fused`` assemble each document in the task that
    extracted it: no exchange, no aggregate.  Only the salted shape,
    which spreads a document's pages across tasks, shuffles on
    ``(url, page)`` and gathers the pages back with a ``groupBy(url)``."""
    import re

    from google_vision_ocr_spark.plans.fused import extract_documents_fused, extract_fused

    df = spark.read.parquet(fixture_dir["pages"])
    fused_plan = _plan(extract_fused(df))
    salted_plan = _plan(extract_fused(df, page_level_salt=True, salt_partitions=8))
    # as many partitions as cores, so the flagship's fan-out adds nothing
    docs = spark.createDataFrame([(1, "s", "hello world"), (2, "s", "x" * 1200)],
                                 "doc_id long, source string, text string")
    flagship_plan = _plan(extract_documents_fused(docs))
    assert fused_plan.count("Scan parquet") == 1
    for plan in (fused_plan, flagship_plan):
        assert plan.count("MapInArrow") == 1, plan
        assert "Exchange" not in plan and "Aggregate" not in plan, plan
    # the salted shape is the same kernel split around the (url, page)
    # exchange: still one scan, exactly two Arrow-native Python stages
    assert salted_plan.count("Scan parquet") == 1
    assert salted_plan.count("MapInArrow") == 2
    assert re.search(r"Exchange hashpartitioning\(url#\d+, page#\d+", salted_plan), salted_plan
    assert re.search(r"Exchange hashpartitioning\(url#\d+, \d+\)", salted_plan), salted_plan
    assert re.search(r"ObjectHashAggregate\(keys=\[url#\d+\]", salted_plan), salted_plan
    assert "MapInPandas" not in salted_plan and "ArrowEvalPython" not in salted_plan


def test_fused_python_stage_is_arrow_native(spark, fixture_dir):
    from google_vision_ocr_spark.plans.fused import extract_fused

    df = spark.read.parquet(fixture_dir["pages"])
    plan = _plan(extract_fused(df))
    # the fused stage must run as MapInArrow (pandas boxing of binary
    # payloads measured 3x slower), and there must be no other Python
    # eval in the plan
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_extract_on_empty_input(spark):
    from google_vision_ocr_spark.plans.fused import extract_fused

    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    assert extract_fused(empty).count() == 0
    assert extract_fused(empty, page_level_salt=True, salt_partitions=4).count() == 0


def test_scan_side_queries_have_no_shuffle(spark):
    """corpus_split and repetition_metrics are pure scan-side
    projections: zero Exchange, one file scan — the property that makes
    them free at 100 TB (split filters push to the scan; per-doc line
    stats never shuffle corpus text)."""
    import __spark_entry__ as e

    for name in ("corpus_split", "repetition_metrics"):
        plan = _plan(e.queries()[name](spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan, name
        assert plan.count("Scan parquet") == 1, name


def test_paragraph_dedup_has_no_window_sort(spark):
    """drop_repeated_paragraphs must not compute keep-first with a
    row_number window: the hottest digest key is by construction the
    MOST duplicated paragraph (a universal cookie banner puts ~10^9
    rows in one window partition at 10^12 docs).  The scale-safe shape
    is groupBy(digest).agg(min(struct)) — map-side combinable — plus a
    semi-join back on the unique (digest, id, pos) key."""
    from google_vision_ocr_spark.operators.dedup import drop_repeated_paragraphs

    df = spark.createDataFrame(
        [(i, f"body {i}\n\nshared footer") for i in range(20)],
        ["doc_id", "text"],
    )
    plan = _plan(drop_repeated_paragraphs(df))
    assert "Window" not in plan
    # partial aggregation of the min(struct) before the digest shuffle
    assert "partial_min" in plan or "partial min" in plan.lower()
    assert "LeftSemi" in plan


def test_pack_shards_windows_are_bounded_by_spark_partition(spark):
    """pack_shards must never sort a whole partition KEY in one task:
    every window over row-scale data partitions by (__pid, part), so
    per-task work is bounded by Spark partition size.  The only window
    without __pid in its partition spec runs over the per-partition
    subtotal frame (≤ #partitions rows) and sorts BY __pid."""
    from google_vision_ocr_spark.operators.packing import pack_shards

    df = spark.createDataFrame(
        [(i, "en", 100) for i in range(50)], ["doc_id", "lang", "ws_tokens"]
    )
    plan = _plan(pack_shards(df, budget=500, num_partitions=8))
    assert "rangepartitioning" in plan.lower()
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        assert "__pid" in spec, spec


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key with equal bucket counts
    must sort-merge join with ZERO Exchange — the co-located-join
    layout that deletes the fact-fact shuffle at 100 TB."""
    from pyspark.sql import functions as F
    from google_vision_ocr_spark.sources.catalog import write_bucketed

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("x"))
    scores = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("y"))
    write_bucketed(docs, "t_bucket_docs", "doc_id", n_buckets=4, sort_col="doc_id")
    write_bucketed(scores, "t_bucket_scores", "doc_id", n_buckets=4, sort_col="doc_id")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_bucket_docs").join(spark.table("t_bucket_scores"), "doc_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bucket_docs")
        spark.sql("DROP TABLE IF EXISTS t_bucket_scores")


def test_asof_join_is_single_shuffle(spark):
    """The as-of union trick must cost exactly one exchange (on the
    key) — the whole point vs the per-key-cartesian theta join."""
    from google_vision_ocr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1)], "event_id long, user_id long"
    ).withColumn("ts", F.current_timestamp())
    right = spark.createDataFrame(
        [(2, 1, 5.0)], "event_id long, user_id long, v double"
    ).withColumn("ts", F.current_timestamp()).select(
        "event_id", "user_id", "ts", F.col("v").alias("view_value"))
    plan = _plan(asof_join(left, right, ["user_id"], "ts", ["view_value"],
                           tiebreak_col="event_id"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_tpch_q5_q14_broadcast_their_dims(spark):
    """The star-join dims (region/nation/supplier, part) must ride as
    broadcasts; only the fact-fact joins may shuffle."""
    import __spark_entry__ as e

    q5 = _plan(e.queries()["tpch_q5_local_supplier"](spark, "/root/testdata/sf0.001"))
    assert q5.count("BroadcastHashJoin") >= 3
    q14 = _plan(e.queries()["tpch_q14_promo_revenue"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in q14


def test_bm25_topk_never_global_sorts(spark):
    """bm25_search's top-k must ride TakeOrderedAndProject and its
    df/idf/stats frames must broadcast — the corpus side shuffles only
    on the doc id."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["bm25_search"](spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # dfreq joins broadcast
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats cross join


def test_pagerank_broadcasts_degree_and_count(spark):
    """pagerank_fixed_point: out-degree and node-count frames are
    broadcast; only edges x ranks and the dst aggregation shuffle."""
    from google_vision_ocr_spark.operators.pagerank import pagerank_fixed_point

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    plan = _plan(pagerank_fixed_point(e, iterations=2))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # node-count cross join
    # the inflow aggregate is map-side combinable
    assert "partial_sum" in plan or "partial sum" in plan.lower()


def test_equidepth_window_is_on_distinct_domain_only(spark):
    """equi_depth_histogram's single-partition running count must sit
    ABOVE the value->count aggregate (bounded distinct domain), never
    over the raw rows."""
    from google_vision_ocr_spark.operators.profile import equi_depth_histogram

    df = spark.range(100).selectExpr("CAST(id AS DOUBLE) AS value")
    plan = _plan(equi_depth_histogram(df, "value", bins=4))
    assert "Exchange SinglePartition" in plan
    # the single-partition sort consumes the value->count AGGREGATE —
    # a HashAggregate must sit between the window's Sort and the source
    idx_sort = plan.index("Sort [")
    after_sort = plan[idx_sort:]
    assert after_sort.index("HashAggregate") < after_sort.index("Range (")


def test_profile_approx_mode_has_no_expand(spark):
    """exact=True pays the multi-distinct Expand (audit mode);
    exact=False must plan as pure partial+final HLL aggregation."""
    from google_vision_ocr_spark.operators.profile import profile_columns

    df = spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS v")
    assert "Expand" in _plan(profile_columns(df))
    assert "Expand" not in _plan(profile_columns(df, exact=False))


def test_tpch_q17_q19_broadcast_part_dim(spark):
    import __spark_entry__ as e

    q17 = _plan(e.queries()["tpch_q17_small_quantity"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in q17
    q19 = _plan(
        e.queries()["tpch_q19_disjunctive_revenue"](spark, "/root/testdata/sf0.001")
    )
    assert "BroadcastHashJoin" in q19


def test_jl_projection_is_scan_side(spark):
    """random_projection must stay a shuffle-free scan projection —
    the whole point of computing the matrix instead of joining one."""
    from google_vision_ocr_spark.operators.similarity import random_projection

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(64)])], "vec_id bigint, embedding array<float>"
    )
    plan = _plan(random_projection(df, out_dim=8))
    assert "Exchange" not in plan


def test_o2_w2_no_window_on_bare_lang(spark):
    """o2_topk_per_lang / w2_row_number must never window-partition by
    bare lang: 5 language values over a web corpus is a data-scale hot
    key (English ~half the rows lands in ONE task at 10^12 docs).  The
    de-skewed shapes bucket first, so every windowspecdefinition in
    either plan carries the __b bucket column alongside lang."""
    import re

    import __spark_entry__ as e

    for name in ("o2_topk_per_lang", "w2_row_number"):
        plan = _plan(e.queries()[name](spark, "/root/testdata/sf0.001"))
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, name
        for spec in specs:
            assert "__b" in spec, (name, spec)


def test_tpch_q9_star_broadcasts_every_dim(spark):
    """Q9's 6-table star must broadcast every dimension (part,
    partsupp, supplier, nation) around a single lineitem scan with
    exactly one aggregation exchange — at 100 TB the fact table is
    the only side that may shuffle."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q9_product_profit"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Scan parquet") >= 5
    assert "SortMergeJoin" not in plan
    # one exchange for the final groupBy (plus nothing else
    # repartitioning the fact rows)
    non_broadcast_exchanges = plan.count("Exchange hashpartitioning")
    assert non_broadcast_exchanges == 1, plan


def test_tpch_q21_uses_semi_and_anti_joins(spark):
    """The EXISTS / NOT-EXISTS chain must plan as one LeftSemi and one
    LeftAnti join — never as row-multiplying inner joins + distinct."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q21_waiting_suppliers"](spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_cms_build_is_fixed_size_aggregation(spark):
    """The count-min build reduces the corpus to depth x width
    counters through ONE hash aggregation with map-side partials —
    no join, no window; the corpus-scale data crosses the wire only
    as partial counter tables."""
    from google_vision_ocr_spark.operators.sketch import count_min_build

    df = spark.createDataFrame([(f"w{i % 7}",) for i in range(50)], ["word"])
    plan = _plan(count_min_build(df, "word", depth=4, width=64))
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.lower().count("exchange") == 1, plan
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_quantile_sketch_build_is_fixed_size_aggregation(spark):
    """Like the CMS, the quantile-sketch build must reduce the corpus
    to its bounded (key, bucket) counters through ONE hash aggregation
    with map-side partials — bucket assignment is a scan-side integer
    expression (no Python, no join, no window); only partial counter
    tables cross the wire."""
    from google_vision_ocr_spark.operators.sketch import quantile_sketch_build

    df = spark.createDataFrame(
        [(i, "k" + str(i % 3), float(i) * 0.7) for i in range(60)],
        "event_id bigint, key string, value double",
    )
    plan = _plan(quantile_sketch_build(df, "value", "key"))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Python" not in plan  # bucket code is pure JVM expression
    assert plan.lower().count("exchange") == 1, plan
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_first_crossing_windows_only_partition_by_user(spark):
    """events_first_crossing may window only on user_id (the bounded
    events-per-user shape) — never on a data-scale or constant key —
    and its threshold scalar must arrive via broadcast, not a shuffle
    of the windowed rows."""
    import re as _re

    import __spark_entry__ as e

    df = e.queries()["events_first_crossing"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    for spec in specs:
        assert "user_id" in spec, spec
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
