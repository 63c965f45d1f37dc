"""As-of join semantics and k-means Lloyd invariants."""

from datetime import datetime

from pyspark.sql import functions as F


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_basic_and_ties(spark):
    from google_vision_ocr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (10, 1, _ts("2024-01-01T10:00:00")),   # after v1 and v2
            (11, 1, _ts("2024-01-01T08:30:00")),   # only v1 before
            (12, 1, _ts("2024-01-01T07:00:00")),   # nothing before -> null
            (13, 2, _ts("2024-01-01T09:00:00")),   # equal-ts view counts (<=)
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01T08:00:00"), 1.0),
            (2, 1, _ts("2024-01-01T09:00:00"), 2.0),
            (3, 2, _ts("2024-01-01T09:00:00"), 3.0),
            # two right rows tied on ts for user 3: largest event_id wins
            (4, 3, _ts("2024-01-01T09:00:00"), 4.0),
            (5, 3, _ts("2024-01-01T09:00:00"), 5.0),
        ],
        ["event_id", "user_id", "ts", "v"],
    ).select("event_id", "user_id", "ts", F.col("v").alias("view_value"))
    got = {
        r["event_id"]: r["view_value"]
        for r in asof_join(
            left, right, ["user_id"], "ts", ["view_value"], tiebreak_col="event_id"
        ).collect()
    }
    assert got[10] == 2.0
    assert got[11] == 1.0
    assert got[12] is None
    assert got[13] == 3.0

    left3 = spark.createDataFrame(
        [(20, 3, _ts("2024-01-01T10:00:00"))], ["event_id", "user_id", "ts"]
    )
    got3 = asof_join(
        left3, right, ["user_id"], "ts", ["view_value"], tiebreak_col="event_id"
    ).collect()
    assert got3[0]["view_value"] == 5.0  # largest tiebreak among tied rows


def test_asof_join_strict_inequality(spark):
    from google_vision_ocr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01T09:00:00"))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [(2, 1, _ts("2024-01-01T09:00:00"), 7.0)],
        ["event_id", "user_id", "ts", "view_value"],
    )
    eq = asof_join(left, right, ["user_id"], "ts", ["view_value"],
                   tiebreak_col="event_id", allow_equal=True).collect()
    st = asof_join(left, right, ["user_id"], "ts", ["view_value"],
                   tiebreak_col="event_id", allow_equal=False).collect()
    assert eq[0]["view_value"] == 7.0
    assert st[0]["view_value"] is None


def test_kmeans_one_iter_equals_ivf_assign(spark):
    """iters=1 is exactly coarse quantization against the init
    centroids — pins the loop plumbing to the already-oracled
    ivf_assign."""
    from google_vision_ocr_spark.operators.similarity import ivf_assign, kmeans_lloyd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    a = {r["vec_id"]: r["cell"]
         for r in ivf_assign(emb, cents, method="crossjoin").collect()}
    k = {r["vec_id"]: r["cell"]
         for r in kmeans_lloyd(emb, centroid_mod=31, iters=1).collect()}
    assert a == k


def test_kmeans_centroid_update_matches_numpy(spark):
    import numpy as np

    from google_vision_ocr_spark.operators.similarity import kmeans_centroid_update

    rows = [
        (0, [1.0, 2.0, 3.0]),
        (0, [3.0, 2.0, 1.0]),
        (1, [10.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["cell", "embedding"])
    got = {r["cid"]: list(r["cv"]) for r in kmeans_centroid_update(df).collect()}
    assert np.allclose(got[0], [2.0, 2.0, 2.0])
    assert np.allclose(got[1], [10.0, 0.0, 0.0])


def test_kmeans_assignment_methods_agree(spark):
    from google_vision_ocr_spark.operators.similarity import kmeans_lloyd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {r["vec_id"]: r["cell"]
         for r in kmeans_lloyd(emb, iters=2, assign_method="crossjoin").collect()}
    b = {r["vec_id"]: r["cell"]
         for r in kmeans_lloyd(emb, iters=2, assign_method="matmul").collect()}
    assert a == b


def test_connected_components_known_graph(spark):
    """Chain, triangle, isolated pair — min-label propagation must find
    the min node id of each component within diameter rounds."""
    from google_vision_ocr_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain -> component 1
         (10, 11), (11, 12), (10, 12),  # triangle -> component 10
         (20, 21)],                     # pair -> component 20
        ["id_a", "id_b"],
    )
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_merge_upsert_paths(spark):
    """Matched update, append, carry-forward, and soft delete."""
    from google_vision_ocr_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "s", "n"])
    updates = spark.createDataFrame(
        [(2, "B", 200, False),   # update
         (3, None, 0, True),     # delete
         (9, "z", 90, False)],   # append
        ["id", "s", "n", "is_delete"])
    got = {r["id"]: (r["s"], r["n"])
           for r in merge_upsert(target, updates, ["id"],
                                 delete_col="is_delete").collect()}
    assert got == {1: ("a", 10), 2: ("B", 200), 9: ("z", 90)}
    # without a delete column the matched row is a plain update
    got2 = {r["id"]: (r["s"], r["n"])
            for r in merge_upsert(
                target, updates.drop("is_delete"), ["id"]).collect()}
    assert got2[3] == (None, 0)


def test_salted_join_equals_plain_join(spark):
    """The salted join must return exactly the plain join's rows while
    spreading the hot key over n_salts sub-keys."""
    from pyspark.sql import functions as F
    from google_vision_ocr_spark.operators.skew import salted_join

    # hot key: 90% of the big side is key 0
    big = spark.createDataFrame(
        [(i, 0 if i % 10 else i % 3, f"p{i}") for i in range(300)],
        ["row_id", "k", "payload"])
    small = spark.createDataFrame([(0, "zero"), (1, "one"), (2, "two")],
                                  ["k", "name"])
    plain = {(r["row_id"], r["name"])
             for r in big.join(small, "k").collect()}
    salted = salted_join(big, small, ["k"], n_salts=8)
    got = {(r["row_id"], r["name"]) for r in salted.collect()}
    assert got == plain
    # the hot key's big-side rows really do carry several distinct salts
    n_salt_values = (
        big.withColumn("__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]),
                                        F.lit(8)))
        .filter(F.col("k") == 0).select("__salt").distinct().count())
    assert n_salt_values >= 4


def test_kmeans_recovers_planted_clusters(spark):
    """Vectors planted in 3 well-separated directions must co-assign
    with their plant-mates after 2 Lloyd iterations, regardless of
    which seed vectors initialized the centroids."""
    from google_vision_ocr_spark.operators.similarity import kmeans_lloyd

    dim = 16
    rows = []
    for i in range(90):
        c = i % 3
        base = [0.0] * dim
        base[c * 5] = 10.0                    # three orthogonal anchors
        base[(c * 5) + 1] = 1.0 + (i % 7) * 0.1  # small within-cluster spread
        rows.append((i, base))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["vec_id"]: r["cell"]
           for r in kmeans_lloyd(df, centroid_mod=31, iters=2).collect()}
    # centroid_mod=31 seeds ids 0, 31, 62 — clusters 0, 1, 2 (mod 3)
    for i in range(90):
        assert got[i] == got[i % 3], (i, got[i], got[i % 3])


def test_connected_components_long_chain_converges(spark):
    """A 64-node path graph (diameter 63) needs one label-propagation
    round per hop — far past the 2-3 rounds dedup graphs take — and
    must still converge to a single component at default arguments:
    the loop runs until no label changes, never to a round cap."""
    from google_vision_ocr_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["id_a", "id_b"])
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(64)}
