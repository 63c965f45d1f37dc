"""Scale-adaptive fan-out for CPU-bound stages fed by unsplittable scans.

Parquet scans parallelize at row-group granularity: a table written as
one file with one row group yields ONE scan task no matter how small
``spark.sql.files.maxPartitionBytes`` is, so every stage fused onto the
scan (Python recognition, signature hashing, per-row expression work)
runs on a single core while the rest of the cluster idles — the
guide-§2.5 "input skew" shape (one huge unsplittable input ⇒
repartition immediately after the read).

:func:`fanout` applies that fix *adaptively*: it repartitions only when
the frame's current partitioning underparallelizes the cluster
(``current < target``), so at 100 TB — where the scan already carries
thousands of row-group splits — it is a no-op and never coalesces or
adds a shuffle.  The target is ``sc.defaultParallelism`` (cluster-wide
cores; 32 on the bench's ``local[32]``); the explicit-``n``
repartition is deliberate — AQE's partition coalescing targets
``advisoryPartitionSizeInBytes`` (64 MB) and would collapse a
few-MB-but-CPU-heavy shuffle right back to one partition.

The partition-count probe (``df.rdd.getNumPartitions()``) plans the
frame but runs no job; measured ~40 ms warm on this box — noise next
to the multi-second single-core stage it prevents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: partition-count memo keyed by (session JVM hash, plan semanticHash)
#: — INPUT METADATA only (same class as the entry module's schema
#: memo, what a catalog provides for free): the ~40 ms physical-plan
#: probe runs once per distinct source frame instead of once per
#: rebuilt bench plan.  Never caches data or results.
_PROBE_MEMO: dict[tuple[int, int], int] = {}


def _current_partitions(df: DataFrame) -> int:
    try:
        key = (df.sparkSession.sparkContext._jsc.hashCode(), df.semanticHash())
    except Exception:  # pragma: no cover - fall through to a raw probe
        key = None
    if key is not None and key in _PROBE_MEMO:
        return _PROBE_MEMO[key]
    n = df.rdd.getNumPartitions()
    if key is not None:
        _PROBE_MEMO[key] = n
    return n


def fanout(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ``df`` to cluster parallelism iff it currently has
    fewer partitions; hash on ``cols`` when given (deterministic keys —
    never ``rand()``, see SPARK-38388).  Callers should pass a key:
    keyless ``repartition(n)`` locally sorts its input first
    (``sortBeforeRepartition``, guide §2.5) — measured 0.34 → 1.48 s on
    events_hourly's single scan task before its call site was keyed."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        current = _current_partitions(df)
    except Exception:  # pragma: no cover - defensive: unplannable frame
        current = target
    if current >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
