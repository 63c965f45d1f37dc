"""Similarity search over embedding columns (training-pipeline extension).

- :func:`cosine_topk` — brute-force cosine top-k against a query
  vector, entirely in JVM-side higher-order functions (``zip_with`` +
  ``aggregate`` dot product, double precision).  The baseline and the
  correctness oracle for the approximate path.
- :func:`hyperplane_lsh_topk` — random-hyperplane LSH: a JVM fold over
  seeded planes shipped as one literal (:func:`replayable.codes_sql`,
  the one family every LSH operator here shares) maps each vector to
  a bucket code per table; candidates share the query's bucket within
  hamming radius, then exact cosine reranks.  At scale, the bucket
  column is a partition/cluster key, so a query touches a bounded
  number of buckets instead of the full table.
"""

from __future__ import annotations

from functools import reduce
from itertools import combinations
from operator import or_

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .replayable import codes_sql

DOT_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)


def _cosine_col(vec_col: str, query_col: str, query_norm2: str | None = None):
    # cos(0-vector, ·) is defined as 0.0 — the zero-norm guard keeps
    # ANSI mode from raising DIVIDE_BY_ZERO and matches the matmul
    # path's normalized-to-zero convention.  ``query_norm2`` names a
    # column already holding DOT(query, query) (see _query_row).
    dot = DOT_EXPR.format(a=vec_col, b=query_col)
    na = DOT_EXPR.format(a=vec_col, b=vec_col)
    nb = query_norm2 or DOT_EXPR.format(a=query_col, b=query_col)
    return F.expr(
        f"CASE WHEN ({na}) = 0.0D OR ({nb}) = 0.0D THEN 0.0D"
        f" ELSE ({dot}) / (sqrt({na}) * sqrt({nb})) END"
    )


def _query_row(embeddings: DataFrame, query_id: int, id_col: str,
               vec_col: str, *extra) -> DataFrame:
    """The one-row broadcast side of every rerank: the query vector
    ``__q`` and its squared norm ``__qq``, folded once here instead of
    on every scored row (same fold, same bits)."""
    return embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__q"),
        F.expr(DOT_EXPR.format(a=vec_col, b=vec_col)).alias("__qq"), *extra,
    )


def _rerank_topk(cands: DataFrame, qrow: DataFrame, k: int, id_col: str,
                 vec_col: str, keep=None) -> DataFrame:
    """Exact cosine top-``k`` of ``cands`` against :func:`_query_row`,
    ties broken on id, rounded to 4 places; ``keep`` filters the joined
    rows first (for predicates on the query row's columns)."""
    joined = cands.crossJoin(F.broadcast(qrow))
    if keep is not None:
        joined = joined.filter(keep)
    return (
        joined.select(
            F.col(id_col), _cosine_col(vec_col, "__q", "__qq").alias("__sim")
        )
        .orderBy(F.col("__sim").desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("__sim"), 4).alias("cos_sim"))
    )


def _codes(embeddings: DataFrame, vec_col: str, n_planes: int,
           n_tables: int, dim: int | None):
    """array<bigint> column of the ``n_tables`` hyperplane codes (the
    package's one family, :func:`replayable.codes_sql`).  Without
    ``dim`` a plan-build-time action reads the first vector's width."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    return F.expr(codes_sql(vec_col, dim, n_planes, n_tables))


def _query_codes(embeddings: DataFrame, query_id: int, id_col: str,
                 vec_col: str, n_planes: int, n_tables: int,
                 dim: int | None) -> list[int]:
    """The query row's codes from the index's own expression, so a
    probe's Hamming ball matches the index by construction: ONE driver
    action when ``dim`` is given, and a clear error for a missing id."""
    codes = _codes(embeddings, vec_col, n_planes, n_tables, dim)
    row = embeddings.filter(F.col(id_col) == query_id).select(codes).first()
    if row is None:
        raise ValueError(f"query_id {query_id!r} not found in column {id_col!r}")
    return list(row[0])


def _hamming_ball(code: int, n_planes: int, radius: int) -> list[int]:
    """Every code within ``radius`` bit flips of ``code``, center first."""
    return [code] + [
        code ^ sum(1 << b for b in bits)
        for r in range(1, radius + 1)
        for bits in combinations(range(n_planes), r)
    ]


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k rows by cosine similarity to the vector with ``query_id``.

    The single query row is broadcast; ordering ties break on id so the
    result is deterministic.
    """
    return _rerank_topk(
        embeddings.filter(F.col(id_col) != query_id),
        _query_row(embeddings, query_id, id_col, vec_col),
        k, id_col, vec_col,
    )


def cosine_pairs_bruteforce(
    embeddings: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold, exact (no LSH prefilter).

    The correctness baseline for :func:`embedding_near_dup_pairs`:
    O(n²) self-join scored JVM-side (``zip_with``/``aggregate`` dot
    product, whole-stage codegen, zero Python).  At 100 TB this is the
    per-bucket rerank kernel, never run on the full table; here it
    doubles as the DuckDB-checkable oracle query.
    """
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cosine_col("va", "vb").alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 4,
    materialize: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucket self-join.

    Candidates share an exact bucket code in at least one table (high
    thresholds ⇒ near-identical vectors ⇒ identical codes with high
    probability), then exact cosine filters.  The join key is
    ``(table, code)`` so only same-bucket rows shuffle — the all-pairs
    O(n²) never materializes.

    ``materialize=True`` persists + eagerly evaluates the exploded
    (table, code) frame: it feeds both join sides, so without a cache
    each side recomputes the codes fold (AQE does not reuse the
    exchange here) — use at scale.

    Pass ``dim`` to avoid the plan-build-time probe job (a ``.first()``
    Spark action just to learn the vector width).
    """
    tables = embeddings.select(
        F.posexplode(_codes(embeddings, vec_col, n_planes, n_tables, dim))
        .alias("table", "code"),
        F.col(id_col), F.col(vec_col),
    )
    if materialize:
        from .. import cache

        tables = cache.track(tables.persist())
        tables.count()
    a = tables.select("table", "code", F.col(id_col).alias("id_a"),
                      F.col(vec_col).alias("va"))
    b = tables.select("table", "code", F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("vb"))
    return (
        a.join(b, ["table", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", _cosine_col("va", "vb").alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))
    )


def make_ivf_cell_udf(cids: np.ndarray, cmat: np.ndarray):
    """Vectorized nearest-centroid assignment: one BLAS matmul + argmax
    per Arrow batch against the (driver-collected, closure-broadcast)
    normalized centroid matrix.  Rows are ordered by ascending centroid
    id so ``argmax`` (first max wins) matches the crossJoin path's
    min-id tie-break."""
    order = np.argsort(cids, kind="stable")
    cids = np.asarray(cids)[order]
    cmat = np.asarray(cmat, dtype=np.float64)[order]
    cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
    cn = cmat / np.where(cnorm == 0, 1.0, cnorm)

    @F.pandas_udf(LongType())
    def cell_udf(vecs: pd.Series) -> pd.Series:
        v = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
        # zero-norm guard: an all-zero vector scores 0 against every
        # centroid and lands on the min-id tie-break — the same cell
        # the crossjoin path's NaN ordering assigns it to (NaNs compare
        # equal-top in Spark's struct max, so -cid decides there too)
        vnorm = np.linalg.norm(v, axis=1, keepdims=True)
        vn = v / np.where(vnorm == 0, 1.0, vnorm)
        idx = np.argmax(vn @ cn.T, axis=1)
        return pd.Series(cids[idx].astype(np.int64))

    return cell_udf


#: centroid count above which :func:`ivf_assign`'s ``auto`` mode
#: switches from the broadcast crossjoin to the matmul UDF
_MATMUL_THRESHOLD = 64


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    cvec_col: str = "cv",
    method: str = "auto",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid by cosine (ties break on centroid id).

    Two physical strategies with identical semantics:

    - ``crossjoin`` — broadcast the centroid frame, score every
      (vector, centroid) pair JVM-side, ``max_by`` argmax (map-side
      combinable).  Fully SQL-expressible (it IS the DuckDB oracle for
      ``ann_ivf_cosine``), but the explode is a centroid-count× row
      blowup — fine at tens of centroids, fatal at 2^16.
    - ``matmul`` — collect the (tiny) centroid frame to the driver,
      closure-broadcast the normalized matrix into a pandas UDF, and do
      one BLAS matmul + argmax per Arrow batch: O(batch × dim ×
      centroids) FLOPs with no row blowup, the only sane shape at
      real centroid counts.

    ``auto`` counts the centroids (one action) and picks matmul above
    ``_MATMUL_THRESHOLD`` (64) of them.  At 100 TB assignment runs once
    at index-build time and the corpus is written partitioned /
    clustered by ``cell`` so a query's probe touches only its cells.
    """
    if method == "auto":
        method = (
            "matmul" if centroids.count() > _MATMUL_THRESHOLD else "crossjoin"
        )
    if method == "matmul":
        rows = centroids.select(F.col(cid_col), F.col(cvec_col)).collect()
        cids = np.array([r[0] for r in rows], dtype=np.int64)
        cmat = np.array([list(r[1]) for r in rows], dtype=np.float64)
        udf = make_ivf_cell_udf(cids, cmat)
        return embeddings.select(
            F.col(id_col), udf(F.col(vec_col)).alias("cell"), F.col(vec_col)
        )
    scored = embeddings.crossJoin(
        F.broadcast(centroids.select(F.col(cid_col), F.col(cvec_col)))
    ).select(
        F.col(id_col), F.col(vec_col),
        F.col(cid_col), _cosine_col(vec_col, cvec_col).alias("__s"),
    )
    return scored.groupBy(id_col).agg(
        F.max_by(cid_col, F.struct(F.col("__s"), -F.col(cid_col))).alias("cell"),
        F.first(vec_col).alias(vec_col),
    )


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    centroid_mod: int = 31,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_method: str = "auto",
) -> DataFrame:
    """IVF search: probe the ``n_probe`` cells nearest the query, exact
    cosine rerank within them.

    Centroids here are chosen deterministically (every ``centroid_mod``-th
    vector) — the k-means training step is orthogonal to the engine
    shape and would slot in the same ``centroids`` frame.  Every step
    (assignment, probe selection, rerank) is plain cosine arithmetic,
    so the whole operator is expressible as an ANSI-SQL oracle.
    """
    centroids = embeddings.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col,
                          method=assign_method)
    qrow = _query_row(embeddings, query_id, id_col, vec_col)
    probe = (
        centroids.crossJoin(F.broadcast(qrow))
        .select("cid", _cosine_col("cv", "__q", "__qq").alias("__s"))
        .orderBy(F.col("__s").desc(), F.col("cid"))
        .limit(n_probe)
        .select("cid")
    )
    cands = assigned.join(
        F.broadcast(probe), assigned["cell"] == probe["cid"], "left_semi"
    ).filter(F.col(id_col) != query_id)
    return _rerank_topk(cands, qrow, k, id_col, vec_col)


def kmeans_centroid_update(
    assigned: DataFrame,
    cell_col: str = "cell",
    vec_col: str = "embedding",
) -> DataFrame:
    """Element-wise mean of member vectors per cell → ``(cid, cv)``.

    Distributed shape: ``posexplode`` the vector, hash-agg the per
    ``(cell, dim)`` mean (map-side combinable — never collects vectors
    into one task), reassemble with ``array_sort(collect_list)`` whose
    per-group size is the DIMENSION, not the member count.  Cells that
    lost every member drop out, exactly like the SQL replay."""
    per_dim = (
        assigned.select(F.col(cell_col), F.posexplode(F.col(vec_col)).alias("__i", "__x"))
        .groupBy(cell_col, "__i")
        .agg(F.avg("__x").alias("__m"))
    )
    return per_dim.groupBy(cell_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("__i"), F.col("__m")))),
            lambda s: s["__m"],
        ).alias("cv")
    ).select(F.col(cell_col).alias("cid"), "cv")


def kmeans_lloyd(
    embeddings: DataFrame,
    centroid_mod: int = 31,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_method: str = "crossjoin",
) -> DataFrame:
    """Lloyd's k-means by cosine: deterministic init (every
    ``centroid_mod``-th vector), then ``iters`` rounds of assign →
    centroid update, returning the final assignment ``(id, cell)``.

    The iterative-algorithm shape on Spark: each round is one
    broadcast-assign pass (crossjoin/``max_by`` or BLAS matmul, see
    :func:`ivf_assign`) plus one hash-agg update; intermediate
    centroids are tiny frames, so no lineage blowup at 2 iterations —
    longer runs would ``persist`` (or collect) the centroid frame per
    round, which :func:`ivf_assign`'s matmul path does implicitly by
    collecting centroids to the driver.  Cell labels stay the
    initializing vector's id throughout, so the output is
    integer-valued and exactly replayable as a SQL oracle
    (``kmeans_assignments``)."""
    cents = embeddings.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    assigned = None
    for it in range(iters):
        assigned = ivf_assign(embeddings, cents, id_col, vec_col,
                              method=assign_method)
        if it + 1 < iters:
            # cut the per-round lineage: the centroid frame is tiny and
            # feeds the next assignment — without truncation the plan
            # nests once per round (the matmul path truncates naturally
            # by collecting centroids to the driver)
            cents = kmeans_centroid_update(assigned, "cell", vec_col) \
                .localCheckpoint(eager=True)
    return assigned.select(F.col(id_col), F.col("cell").cast("bigint").alias("cell"))


def semdedup_keep(
    embeddings: DataFrame,
    centroid_mod: int = 31,
    iters: int = 2,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_method: str = "crossjoin",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings, then dropping within-cluster near-duplicates
    above a cosine threshold.  Returns every input row as
    ``(id, cell, keep)`` with ``keep = 0`` for rows that have a
    same-cluster neighbor of SMALLER id with ``cos > threshold`` (the
    deterministic keep-min-id variant of the paper's one-per-ε-ball
    rule; like the greedy original it is not a transitive closure —
    a chain a~b~c with a≁c keeps only ``a``).

    Distributed shape: clustering is :func:`kmeans_lloyd` (broadcast
    assign + hash-agg update); the quadratic pair scan is confined to a
    same-``cell`` self-join, never all-pairs — with ``k`` scaled
    proportionally to the corpus (fixed ``centroid_mod`` fraction) the
    mean cluster size is constant, so per-cluster work is bounded
    exactly as the paper prescribes (real deployments additionally cap
    cluster sizes; a hot cell here is data skew for the AQE skew-join
    handler).  Victims are deduplicated before one id-keyed left join
    marks the keep flag.  Every step is cosine arithmetic over the
    replayable k-means assignment, so the whole operator has an
    ANSI-SQL oracle (``semdedup_keep``)."""
    assigned = kmeans_lloyd(
        embeddings, centroid_mod, iters, id_col, vec_col, assign_method
    )
    withv = assigned.join(embeddings.select(id_col, vec_col), id_col)
    x = withv.select(
        F.col(id_col).alias("__ida"), F.col("cell"), F.col(vec_col).alias("__va")
    )
    y = withv.select(
        F.col(id_col).alias("__idb"), F.col("cell"), F.col(vec_col).alias("__vb")
    )
    victims = (
        x.join(y, "cell")
        .filter(F.col("__ida") > F.col("__idb"))
        .filter(_cosine_col("__va", "__vb") > threshold)
        .select(F.col("__ida").alias(id_col))
        .distinct()
    )
    return (
        withv.join(victims.withColumn("__v", F.lit(1)), id_col, "left")
        .select(
            id_col,
            "cell",
            F.when(F.col("__v").isNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("int")
            .alias("keep"),
        )
    )


def hyperplane_lsh_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 4,
    hamming_radius: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: multi-table LSH prefilter + exact rerank.

    OR-amplification: a row is a candidate if its code is within
    ``hamming_radius`` of the query's code in **any** of ``n_tables``
    independent hyperplane tables — essential when vectors are
    near-orthogonal (random-embedding regime), where a single table's
    radius filter has near-zero recall.  At scale the per-table code is
    a cluster/partition key; the radius probe touches a bounded bucket
    neighborhood instead of the full table.
    """
    codes = _codes(embeddings, vec_col, n_planes, n_tables, dim)
    with_codes = embeddings.select(
        F.col(id_col), F.col(vec_col), codes.alias("__codes")
    )
    qrow = _query_row(
        with_codes, query_id, id_col, vec_col,
        F.col("__codes").alias("__qcodes"),
    )
    any_close = F.expr(
        "exists(zip_with(__codes, __qcodes,"
        f" (a, b) -> bit_count(a ^ b) <= {hamming_radius}), h -> h)"
    )
    return _rerank_topk(
        with_codes.filter(F.col(id_col) != query_id), qrow, k, id_col,
        vec_col, keep=any_close,
    )


def lsh_bucket_histogram(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 12,
    dim: int | None = None,
) -> DataFrame:
    """Bucket occupancy of table 0's codes — the balance check a
    deployment watches (hot buckets ⇒ bad pruning)."""
    code = _codes(embeddings, vec_col, n_planes, 1, dim)[0]
    return (
        embeddings.select(code.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def random_projection_expr(vec_col: str, in_dim: int, out_dim: int) -> str:
    """SQL expression projecting ``vec_col`` (array<float>, length
    ``in_dim``) to ``out_dim`` dims with a deterministic ±1
    Johnson-Lindenstrauss matrix, scaled by 1/sqrt(out_dim).

    The sign matrix is pure integer arithmetic —
    ``((j·1315423911 + i·2654435761) % 1000003) % 2`` — and the dot
    product is a LEFT FOLD in index order (`aggregate` with a 0.0
    init), so any engine that folds left (DuckDB ``list_reduce`` over
    a 0.0-prepended list) reproduces the projection bit-for-bit: no
    RNG state to ship, no float-sum reorder to disagree on.  The same
    recipe every distributed JL implementation needs anyway — a
    materialized projection matrix is just a broadcast of this
    function's values.

    Scale shape: scan-side per-row arithmetic (in_dim·out_dim fused
    multiply-adds inside codegen'd higher-order functions), no
    shuffle, no Python.  Use before the ANN families here to cut the
    cosine cost 4x (64→16) while keeping planted-neighbor recall (the
    JL guarantee; verified on the planted fixtures in tests)."""
    # sequence() yields 32-bit ints: the hash products overflow ANSI
    # int arithmetic unless widened first
    sign = ("CASE WHEN ((cast(j as bigint) * 1315423911 "
            "+ cast(i as bigint) * 2654435761) % 1000003) % 2 = 0 "
            "THEN 1.0D ELSE -1.0D END")
    return (
        f"transform(sequence(0, {out_dim - 1}), j -> "
        f"aggregate(sequence(0, {in_dim - 1}), cast(0.0 as double), "
        f"(acc, i) -> acc + cast(element_at({vec_col}, i + 1) as double) * {sign}, "
        f"acc -> acc / sqrt(cast({out_dim} as double))))"
    )


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
) -> DataFrame:
    """Attach ``proj`` — the JL-projected vector — to each row."""
    return df.select(
        F.col(id_col),
        F.expr(random_projection_expr(vec_col, in_dim, out_dim)).alias("proj"),
    )


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    centroid_mod: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_method: str = "auto",
    mode: str = "overwrite",
) -> None:
    """Index-build half of the pruned IVF probe: assign every vector to
    its cell and write the corpus hive-PARTITIONED by ``cell``.

    This is what "the cell is a partition key at scale" means
    physically: each cell owns its own directory, so a query that
    probes ``n_probe`` cells plans a scan whose PartitionFilters keep
    only those directories — the other ~``n_cells − n_probe`` never
    produce input files (asserted in tests/test_pruned_probe.py).
    Runs once per index rebuild; with Iceberg the identical layout is
    ``PARTITIONED BY (cell)``."""
    centroids = embeddings.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    assigned = ivf_assign(
        embeddings, centroids, id_col, vec_col, method=assign_method
    )
    assigned.write.mode(mode).partitionBy("cell").parquet(path)


def ivf_topk_pruned(
    spark,
    embeddings: DataFrame,
    index_path: str,
    query_id: int,
    k: int = 10,
    centroid_mod: int = 31,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query half: same semantics as :func:`ivf_topk`, but the rerank
    reads the cell-partitioned index with a LITERAL ``cell IN (...)``
    predicate, so Catalyst statically prunes every unprobed cell's
    directory out of the scan.  The probe-cell selection is a bounded
    driver action (≤ ``n_probe`` ids from the tiny centroid frame) —
    that collect is exactly what turns a runtime semi-join into
    compile-time partition pruning."""
    centroids = embeddings.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    qrow = _query_row(embeddings, query_id, id_col, vec_col)
    probe_cells = [
        r["cid"]
        for r in centroids.crossJoin(F.broadcast(qrow))
        .select("cid", _cosine_col("cv", "__q", "__qq").alias("__s"))
        .orderBy(F.col("__s").desc(), F.col("cid"))
        .limit(n_probe)
        .collect()
    ]
    idx = spark.read.parquet(index_path).filter(
        F.col("cell").isin(probe_cells)
    )
    return _rerank_topk(
        idx.filter(F.col(id_col) != query_id), qrow, k, id_col, vec_col
    )


def write_lsh_multi_index(
    embeddings: DataFrame,
    path: str,
    n_tables: int = 4,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write the FULL multi-table LSH index hive-partitioned by
    ``(tbl, code)`` in one pass: each row appears once per table with
    that table's code (the same family :func:`hyperplane_lsh_topk`
    amplifies over).  The physical form of OR-amplification at scale —
    every per-table Hamming ball is a set of directories, so a
    multiprobe plans ``n_tables`` groups of literal partition values
    and never scans an unprobed bucket (asserted in
    tests/test_pruned_probe.py)."""
    rows = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(_codes(embeddings, vec_col, n_planes, n_tables, dim))
        .alias("tbl", "code"),
    )
    rows.write.mode(mode).partitionBy("tbl", "code").parquet(path)


def lsh_multiprobe_pruned(
    spark,
    embeddings: DataFrame,
    index_path: str,
    query_id: int,
    k: int = 10,
    n_tables: int = 4,
    n_planes: int = 12,
    radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Union-of-Hamming-balls probe of a :func:`write_lsh_multi_index`
    table: the query's per-table codes expand to radius-``radius``
    balls, and the scan predicate is the OR of ``(tbl = t AND code IN
    ball_t)`` — all literals over the two partition columns, so every
    branch statically prunes to its ball's directories.  Rows caught
    by several tables dedupe by id before the exact rerank (matching
    the by-row OR semantics of :func:`hyperplane_lsh_topk`)."""
    qcodes = _query_codes(
        embeddings, query_id, id_col, vec_col, n_planes, n_tables, dim
    )
    preds = [
        (F.col("tbl") == t)
        & F.col("code").isin(_hamming_ball(qc, n_planes, radius))
        for t, qc in enumerate(qcodes)
    ]
    idx = spark.read.parquet(index_path).filter(reduce(or_, preds))
    return _rerank_topk(
        idx.filter(F.col(id_col) != query_id)
        .select(id_col, vec_col)
        .dropDuplicates([id_col]),
        _query_row(embeddings, query_id, id_col, vec_col),
        k, id_col, vec_col,
    )
