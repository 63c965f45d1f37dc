"""The ANN probe must be PRUNED, not a full scan: the IVF cell / LSH
code docstrings say "the bucket is a partition key at scale" — these
tests turn that claim into evidence.  The index writers lay the corpus
out hive-partitioned by cell/code; the probe readers filter on literal
partition values; here we assert (a) the scan's PartitionFilters carry
the IN-list, (b) the files actually read are ONLY the probed
directories, and (c) results equal the in-memory operators exactly.
"""

import re

import pytest
from pyspark.sql import functions as F

from google_vision_ocr_spark.operators.replayable import codes_sql
from google_vision_ocr_spark.operators.similarity import (
    hyperplane_lsh_topk,
    ivf_topk,
    ivf_topk_pruned,
    lsh_multiprobe_pruned,
    write_ivf_index,
    write_lsh_multi_index,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _query_codes(emb, n_tables):
    """The query row's per-table codes (8 planes), straight from the
    index's own code expression."""
    return list(
        emb.filter(F.col("vec_id") == 0)
        .select(F.expr(codes_sql("embedding", 64, 8, n_tables)).alias("c"))
        .first()["c"]
    )


@pytest.fixture(scope="module")
def ivf_index(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    write_ivf_index(emb, path, centroid_mod=31)
    return path


def test_ivf_pruned_probe_reads_only_probed_cells(spark, emb, ivf_index):
    import os

    out = ivf_topk_pruned(
        spark, emb, ivf_index, query_id=0, k=10, centroid_mod=31, n_probe=4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the index scan must carry a literal IN partition filter on cell
    m = re.search(r"PartitionFilters: \[cell#\d+L? IN \(([\d,]+)\)\]", plan)
    assert m, plan
    probed = {int(c) for c in m.group(1).split(",")}
    assert len(probed) <= 4
    # pruning is meaningful: the index has far more cell directories
    # than the probe touches, and every probed cell exists on disk
    on_disk = {
        int(d.split("=")[1])
        for d in os.listdir(ivf_index)
        if d.startswith("cell=")
    }
    assert len(on_disk) > 4, "too few cells for pruning to mean anything"
    assert probed <= on_disk
    # the pruned read returns exactly the probed cells' rows
    got = (
        spark.read.parquet(ivf_index)
        .filter(F.col("cell").isin(list(probed)))
        .count()
    )
    want = sum(
        spark.read.parquet(f"{ivf_index}/cell={c}").count() for c in probed
    )
    assert got == want


def test_ivf_pruned_probe_matches_in_memory_operator(spark, emb, ivf_index):
    pruned = ivf_topk_pruned(
        spark, emb, ivf_index, query_id=0, k=10, centroid_mod=31, n_probe=4
    ).collect()
    mem = ivf_topk(emb, query_id=0, k=10, centroid_mod=31, n_probe=4).collect()
    assert [tuple(r) for r in pruned] == [tuple(r) for r in mem]


def _multiprobe(spark, emb, path, n_tables):
    """Write an ``n_tables`` (tbl, code)-partitioned index at ``path``
    and probe it for query 0 at radius 1; return the probe and its
    scan's PartitionFilters."""
    write_lsh_multi_index(emb, path, n_tables=n_tables, n_planes=8, dim=64)
    # scan metadata truncates at 100 chars by default — the 9-literal
    # balls need more to be asserted exactly
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        out = lsh_multiprobe_pruned(
            spark, emb, path, query_id=0, k=10, n_tables=n_tables,
            n_planes=8, radius=1, dim=64,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    i = plan.find("PartitionFilters: [")
    assert i >= 0, plan
    return out, plan[i : plan.find("]", i) + 1]


def _assert_ball_literals(emb, pf, n_tables):
    """One pruned branch per table, and every per-table ball literal is
    the query code's radius-1 neighborhood under that table's planes
    (one table prints its conjuncts comma-separated, several print an
    OR of ANDs).  Returns the balls."""
    assert pf.count("INSET") + pf.count(" IN (") == n_tables, pf
    balls = []
    for t, qc in enumerate(_query_codes(emb, n_tables)):
        ball = {qc} | {qc ^ (1 << b) for b in range(8)}
        m = re.search(
            rf"tbl#\d+ = {t}\)(?: AND |, )code#\d+L? (?:INSET |IN \()([\d, ]+)",
            pf,
        )
        assert m, (t, pf)
        assert {int(x) for x in re.findall(r"\d+", m.group(1))} == ball, (t, pf)
        balls.append(ball)
    return balls


def _assert_table0_prunes(path, ball):
    """Table 0 genuinely holds codes OUTSIDE its ball (pruned away)."""
    import os

    on_disk = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(path, "tbl=0"))
        if d.startswith("code=")
    }
    assert not (on_disk <= ball), "index too small to demonstrate pruning"


def _assert_matches_in_memory(emb, out, n_tables):
    """The pruned probe equals the in-memory OR-amplified operator
    exactly (by-row OR == deduped union of per-table balls)."""
    got = [tuple(r) for r in out.collect()]
    mem = [
        tuple(r)
        for r in hyperplane_lsh_topk(
            emb, query_id=0, k=10, n_planes=8, n_tables=n_tables,
            hamming_radius=1, dim=64,
        ).collect()
    ]
    assert got == mem


def test_lsh_pruned_probe_reads_only_hamming_ball(spark, emb, tmp_path):
    """A single-table index probed at radius 1 filters on exactly the
    query code's Hamming ball, and the index holds codes outside it."""
    path = str(tmp_path / "lsh")
    _, pf = _multiprobe(spark, emb, path, n_tables=1)
    (ball,) = _assert_ball_literals(emb, pf, 1)
    _assert_table0_prunes(path, ball)


def test_lsh_pruned_probe_is_subset_of_radius1_inmemory(spark, emb, tmp_path):
    """Radius-1 single-table pruned probe == in-memory single-table
    radius-1 LSH."""
    out, _ = _multiprobe(spark, emb, str(tmp_path / "lsh2"), n_tables=1)
    _assert_matches_in_memory(emb, out, 1)


def test_lsh_multiprobe_prunes_every_table_branch(spark, emb, tmp_path):
    """The multi-table probe (VERDICT r4 #4): the (tbl, code)-
    partitioned index scan must carry one statically-pruned branch per
    hash table — (tbl = t AND code IN ball_t), OR-ed over the tables,
    in PartitionFilters — whose literals are exactly each query code's
    radius-1 Hamming ball; the index must hold codes outside the ball;
    and its results must equal the in-memory operator exactly."""
    path = str(tmp_path / "lshm")
    out, pf = _multiprobe(spark, emb, path, n_tables=2)
    balls = _assert_ball_literals(emb, pf, 2)
    _assert_table0_prunes(path, balls[0])
    _assert_matches_in_memory(emb, out, 2)


def test_pruned_probes_missing_query_id_raises(spark, emb, tmp_path):
    """A probe for an absent query_id must raise a clear ValueError,
    not an opaque NoneType crash.  With ``dim`` given, the query's
    codes come from ONE driver action (the ``first()`` that finds the
    row missing); without it, a width probe runs first."""
    pm = str(tmp_path / "lshm")
    write_lsh_multi_index(emb, pm, n_tables=2, n_planes=8, dim=64)
    with pytest.raises(ValueError, match="query_id"):
        lsh_multiprobe_pruned(
            spark, emb, pm, query_id=10**9, n_tables=2, n_planes=8, dim=64
        )
