"""Count-min sketch — mergeable heavy-hitter counting at stream scale.

The CMS (Cormode & Muthukrishnan 2005) is THE sketch for approximate
frequencies over corpora too large for an exact group-by dictionary:
``depth`` hash rows × ``width`` counters, update = +1 at one bucket per
row, estimate = min over rows (always an overestimate, biased by
collisions only).  Distributed shape — and why it scales to 100 TB:

- **Build** is one map-side-combinable groupBy over (row, bucket): the
  sketch has exactly depth·width counters regardless of corpus size, so
  the shuffle reduces to a fixed-size table.  Per-executor partial
  sketches merge by plain counter addition — the same property that
  lets per-day / per-segment sketches roll up without rescanning.
- **Estimate** broadcasts the finished sketch (a few KB) against any
  candidate key set; no corpus access at query time.

Hashes are md5-derived (first 8 hex digits as an integer, one seed
prefix per row) — deterministic, seed-stable, and replayable in ANSI
SQL, so unlike xxhash64-based sketches the whole operator sits under
the DuckDB hash gate.  Reference scope: the OCR reference app has no
sketches; this extends the engine for web-scale corpus statistics
(SURVEY §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cms_hash(col: Column, row: Column | int, width: int) -> Column:
    """Row-seeded bucket: int(md5(row || ':' || x)[:8], 16) % width."""
    row_s = (
        F.lit(str(row)) if isinstance(row, int) else row.cast("string")
    )
    payload = F.concat(row_s, F.lit(":"), col.cast("string"))
    return (
        F.conv(F.substring(F.md5(payload.cast("binary")), 1, 8), 16, 10)
        .cast("bigint")
        % width
    )


def count_min_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the sketch: ``(row, bucket, cnt)`` with depth·width rows.

    One generate (depth× row fan-out, scan-side) + one fixed-size
    hash aggregation; partial aggregation makes each executor emit at
    most depth·width partial counters regardless of input size."""
    rows = df.select(
        F.col(key_col).alias("__k"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    )
    return (
        rows.select("row", cms_hash(F.col("__k"), F.col("row"), width).alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def count_min_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Estimate each key's frequency: min over rows of its counter.

    The sketch (depth·width rows) broadcasts; missing counters read as
    0 (a key whose bucket was never touched has estimate 0)."""
    probes = keys.select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    ).select(
        key_col,
        "row",
        cms_hash(F.col(key_col), F.col("row"), width).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("bigint")
            .alias("cms_est")
        )
    )


def count_min_merge(sketches: list[DataFrame]) -> DataFrame:
    """Merge per-segment sketches by counter addition — the property
    that lets per-day / per-shard sketches roll up without rescanning
    any corpus segment.  Gate-proven equal to a full rebuild
    (cms_segment_merge shares the full build's oracle)."""
    if not sketches:
        raise ValueError("count_min_merge needs at least one sketch")
    out = None
    for seg in sketches:
        out = seg if out is None else out.unionByName(seg)
    return (
        out.groupBy("row", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def distinct_linear_counting(
    df: DataFrame, key_col: str, m: int = 4096
) -> DataFrame:
    """Linear-counting distinct estimation (Whang et al. 1990): hash
    each key into an ``m``-bit bitmap, count occupied buckets V, and
    estimate ``n ≈ -m·ln((m-V)/m)``.

    The scale story: the bitmap is a FIXED m/64-word table folded with
    a map-side-combinable bit_or — the corpus reduces to 64·m bits on
    the wire regardless of row count, and per-segment bitmaps OR
    together (mergeable like the CMS).  Spark's approx_count_distinct
    (HLL) is the production default; this variant exists because every
    step — the md5 bucket, the occupancy count, the estimate — is
    ANSI-SQL-replayable, so the sketch sits under the DuckDB hash gate
    where an opaque HLL register blob cannot.  Output: one row
    ``(n_buckets, occupied, estimate_e4)`` with the estimate in exact
    1e-4 units (single ln+round expression, identical both engines)."""
    pos = (
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % m
    )
    words = (
        df.select(pos.alias("__pos"))
        .select(
            (F.col("__pos") / 64).cast("bigint").alias("__w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))"
            ).alias("__bit"),
        )
        .groupBy("__w")
        .agg(F.expr("bit_or(__bit)").alias("__word"))
    )
    occ = words.agg(
        # empty input: sum over no rows is NULL — occupancy is 0
        F.coalesce(
            F.sum(F.expr("bit_count(__word)")), F.lit(0)
        )
        .cast("bigint")
        .alias("occupied")
    )
    return occ.select(
        F.lit(m).cast("bigint").alias("n_buckets"),
        "occupied",
        # saturation (V == m): the estimator diverges (ln 0) — NULL
        # sentinel, guarded BEFORE the ln so neither engine errors
        F.expr(
            f"CASE WHEN occupied >= {m} THEN NULL ELSE"
            f" CAST(round(-{m}.0D * ln(CAST({m} - occupied AS DOUBLE)"
            f" / {m}.0D) * 10000.0) AS BIGINT) END"
        ).alias("estimate_e4"),
    )


# --- mergeable quantile sketch (base-2 log-bucket histogram) ---------------
#
# The quantile companion to the CMS above: a DDSketch-style (Masson et
# al. 2019) relative-error histogram with DETERMINISTIC integer
# buckets, so — unlike KLL/GK, whose compactions are sampling-order-
# dependent — build, merge, and estimate are all ANSI-SQL-replayable
# and sit under the DuckDB hash gate.  Values quantize to int64 cents;
# a cent amount c maps to the signed bucket code
#
#     code(c) = sign(c) · (bitlen(|c|)·64 + top-6-bits(|c|)),  code(0)=0
#
# i.e. the (octave, 1/32-of-octave) cell of |c| — monotone in c, so
# bucket order == value order and the CDF walk needs no sort of data,
# only of the sketch.  Bucket count is bounded by construction
# (≤ 2·64·64+1 codes possible regardless of corpus size), each bucket
# spans ≤ 1/32 of its octave (≤ ~3.1% relative width; exact below 32
# cents where the code IS the value), and per-segment sketches merge
# by counter addition exactly like the CMS.  Estimates return the
# bucket's lower bound — deterministic, so merge==rebuild is provable
# by hash equality, not approximately.

_QS_CODE = (
    "CASE WHEN {c} = 0 THEN CAST(0 AS BIGINT)"
    " WHEN {c} > 0 THEN CAST(length(bin({c})) * 64"
    "   + shiftright({c}, CAST(greatest(length(bin({c})) - 6, 0) AS INT))"
    "   AS BIGINT)"
    " ELSE -CAST(length(bin(-({c}))) * 64"
    "   + shiftright(-({c}), CAST(greatest(length(bin(-({c}))) - 6, 0)"
    "     AS INT)) AS BIGINT) END"
)

# lower bound of the |code| bucket, re-signed: sub << (octave - 6)
_QS_REP = (
    "CASE WHEN {k} = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(sign({k}) AS BIGINT)"
    "   * shiftleft(abs({k}) % 64,"
    "       CAST(greatest((abs({k}) div 64) - 6, 0) AS INT)) END"
)


def quantile_sketch_build(
    df: DataFrame, value_col: str, key_col: str
) -> DataFrame:
    """Build the per-key sketch ``(key, bucket, cnt)``.

    One fixed-size hash aggregation with map-side partials — the
    corpus reduces to ≤ ~4K counters per key on the wire regardless of
    row count.  NULL values are excluded (they carry no quantile
    information and Spark/DuckDB aggregate them differently)."""
    cents = f"CAST(round({value_col} * 100) AS BIGINT)"
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(key_col),
            F.expr(_QS_CODE.format(c=f"({cents})")).alias("bucket"),
        )
        .groupBy(key_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def quantile_sketch_merge(sketches: list[DataFrame]) -> DataFrame:
    """Merge per-segment sketches by counter addition (same contract
    as :func:`count_min_merge`: gate-proven equal to a full rebuild —
    quantile_sketch_merge shares the full build's oracle)."""
    if not sketches:
        raise ValueError("quantile_sketch_merge needs at least one sketch")
    out = None
    for seg in sketches:
        out = seg if out is None else out.unionByName(seg)
    key = [c for c in out.columns if c not in ("bucket", "cnt")]
    return out.groupBy(*key, "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )


def quantile_sketch_quantiles(
    sketch: DataFrame, key_col: str, percents: tuple[int, ...] = (50, 95)
) -> DataFrame:
    """Answer quantile queries from the sketch alone (no corpus
    access): walk the bucket CDF in code order and return the first
    bucket whose cumulative count reaches the target rank, as its
    lower-bound value in currency units.

    The rank convention matches events_value_quantiles' lower index:
    ``pos = (p·(n−1)) div 100 + 1`` (1-indexed).  The windows below
    partition by key over SKETCH rows — bounded by construction
    (≤ ~4K buckets/key), not corpus-scale, so this is not the banned
    hot-key window shape."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(key_col)
    c = sketch.select(
        key_col,
        "bucket",
        F.sum("cnt").over(w_cum).alias("__cum"),
        F.sum("cnt").over(w_all).alias("__tot"),
    )
    aggs = [F.max("__tot").cast("bigint").alias("n_events")]
    names = []
    for p in percents:
        pos = f"(({p} * (__tot - 1)) div 100 + 1)"
        code = F.min(
            F.when(F.expr(f"__cum >= {pos}"), F.col("bucket"))
        )
        aggs.append(code.alias(f"__k{p}"))
        names.append(p)
    out = c.groupBy(key_col).agg(*aggs)
    for p in names:
        out = out.withColumn(
            f"p{p}_est",
            F.expr(
                f"CAST({_QS_REP.format(k=f'__k{p}')} AS DOUBLE) / 100.0"
            ),
        )
    return out.select(
        key_col, *[f"p{p}_est" for p in names], "n_events"
    )
