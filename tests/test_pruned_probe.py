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
    lsh_probe_pruned,
    write_ivf_index,
    write_lsh_index,
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


def test_lsh_pruned_probe_reads_only_hamming_ball(spark, emb, tmp_path):
    path = str(tmp_path / "lsh")
    write_lsh_index(emb, path, n_planes=8, dim=64)
    out = lsh_probe_pruned(
        spark, emb, path, query_id=0, k=10, n_planes=8, dim=64
    )
    import os

    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[code#\d+L? IN \(([\d,]+)\)\]", plan)
    assert m, plan
    probed = {int(c) for c in m.group(1).split(",")}
    # the probe filter is exactly the query code's radius-1 Hamming ball
    (qc,) = _query_codes(emb, 1)
    ball = {qc} | {qc ^ (1 << b) for b in range(8)}
    assert probed == ball
    # and the table genuinely holds codes OUTSIDE the ball (pruned away)
    on_disk = {
        int(d.split("=")[1])
        for d in os.listdir(path)
        if d.startswith("code=")
    }
    assert not (on_disk <= ball), "index too small to demonstrate pruning"


def test_lsh_pruned_probe_is_subset_of_radius1_inmemory(spark, emb, tmp_path):
    """Radius-1 pruned probe == in-memory single-table radius-1 LSH."""
    path = str(tmp_path / "lsh2")
    write_lsh_index(emb, path, n_planes=8, dim=64)
    pruned = lsh_probe_pruned(
        spark, emb, path, query_id=0, k=10, n_planes=8, dim=64
    ).collect()
    mem = hyperplane_lsh_topk(
        emb,
        query_id=0,
        k=10,
        n_planes=8,
        n_tables=1,
        hamming_radius=1,
        dim=64,
    ).collect()
    assert [tuple(r) for r in pruned] == [tuple(r) for r in mem]


def test_lsh_multiprobe_prunes_every_table_branch(spark, emb, tmp_path):
    """The multi-table probe (VERDICT r4 #4): the (tbl, code)-
    partitioned index scan must carry one statically-pruned branch per
    hash table — OR of (tbl = t AND code IN ball_t) in
    PartitionFilters — and its results must equal the in-memory
    OR-amplified operator exactly (identical candidate-set semantics:
    by-row OR == deduped union of per-table balls)."""
    from google_vision_ocr_spark.operators.similarity import (
        lsh_multiprobe_pruned,
        write_lsh_multi_index,
    )

    path = str(tmp_path / "lshm")
    write_lsh_multi_index(emb, path, n_tables=2, n_planes=8, dim=64)
    # scan metadata truncates at 100 chars by default — the two
    # 9-literal balls need more to be asserted exactly
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        out = lsh_multiprobe_pruned(
            spark, emb, path, query_id=0, k=10, n_tables=2, n_planes=8,
            radius=1, dim=64,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    i = plan.find("PartitionFilters: [")
    assert i >= 0, plan
    pf = plan[i : plan.find("]", i) + 1]
    # one pruned branch per table, each with its own literal ball
    for t in range(2):
        assert re.search(rf"tbl#\d+ = {t}\)", pf), pf
    assert pf.count("INSET") + pf.count(" IN (") >= 2, pf
    # every per-table ball literal is the query code's radius-1
    # neighborhood under that table's planes
    for t, qc in enumerate(_query_codes(emb, 2)):
        ball = {qc} | {qc ^ (1 << b) for b in range(8)}
        nums = None
        for mm in re.finditer(rf"tbl#\d+ = {t}\) AND code#\d+L? (?:INSET|IN \()([\d, .]+?)(?:\)|\))", pf):
            cand = {int(x) for x in re.findall(r"\d+", mm.group(1))}
            if cand == ball:
                nums = cand
                break
        assert nums == ball, (t, pf)
    got = [tuple(r) for r in out.collect()]
    mem = [
        tuple(r)
        for r in hyperplane_lsh_topk(
            emb, query_id=0, k=10, n_planes=8, n_tables=2,
            hamming_radius=1, dim=64,
        ).collect()
    ]
    assert got == mem


def test_pruned_probes_missing_query_id_raises(spark, emb, tmp_path):
    """A probe for an absent query_id must raise a clear ValueError,
    not an opaque NoneType crash.  With ``dim`` given, the query's
    codes come from ONE driver action (the ``first()`` that finds the
    row missing); without it, a width probe runs first."""
    import pytest

    from google_vision_ocr_spark.operators.similarity import (
        lsh_multiprobe_pruned,
        lsh_probe_pruned,
        write_lsh_index,
        write_lsh_multi_index,
    )

    p1 = str(tmp_path / "lsh1")
    pm = str(tmp_path / "lshm")
    write_lsh_index(emb, p1, n_planes=8, dim=64)
    write_lsh_multi_index(emb, pm, n_tables=2, n_planes=8, dim=64)
    with pytest.raises(ValueError, match="query_id"):
        lsh_probe_pruned(spark, emb, p1, query_id=10**9, n_planes=8, dim=64)
    with pytest.raises(ValueError, match="query_id"):
        lsh_multiprobe_pruned(
            spark, emb, pm, query_id=10**9, n_tables=2, n_planes=8, dim=64
        )
