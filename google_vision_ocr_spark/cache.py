"""Session-scoped tracking of persisted intermediate frames, and lineage
cuts.

Operators that ``persist()`` a reused frame (MinHash/SimHash signature
tables, the packing ranges, LSH code tables) register it here.  Spark
only unpersists cached data when the driver-side reference is garbage
collected (ContextCleaner), which is nondeterministic — a long-lived
session running many queries accumulates executor storage.  Callers
that own query boundaries (bench loops, notebook sessions, the driver
harness) call :func:`release_all` between queries to free storage
deterministically.

At 100 TB the right pattern is different: *write* the signature table
to storage (parquet/Iceberg) and read it back for the self-join, so it
survives executor loss and never competes with shuffle memory — see
``docs/SCALE.md``.  ``persist()`` is the single-job optimization; this
registry just keeps it honest across job boundaries.

A lineage cut, ``localCheckpoint(eager=True)``, is the stronger form
for a frame that later plans reuse (the curate and corpus-pipeline
reuse points): it computes the frame once and later plans start from
its stored blocks, where a persisted frame keeps and re-plans its whole
cached lineage.  Its blocks are freed by :func:`release_cut`, not by
:func:`release_all`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted frame for later release; returns it unchanged."""
    _TRACKED.append(df)
    return df


def release_cut(df: DataFrame) -> None:
    """Free the stored blocks of a ``localCheckpoint`` frame; reading
    that frame afterwards fails."""
    df._jdf.logicalPlan().rdd().unpersist(False)


def release_all() -> int:
    """Unpersist every tracked frame (blocking=False); returns the count."""
    n = 0
    for df in _TRACKED:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    _TRACKED.clear()
    return n
