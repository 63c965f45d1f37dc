"""Training-sequence chunking: split documents into fixed-size token
windows (optionally overlapping) for LM training prep.

The whole operator is scan-side JVM: tokenize with `split`, enumerate
window starts with `sequence`, `posexplode`, `slice` + `array_join` the
window back to text.  No shuffle, no Python — each input row fans out
into ~n_tokens/stride chunk rows inside the same task, so the plan is a
single whole-stage-codegen'd scan+generate at any corpus size.  Output
rows are naturally well-distributed (they inherit the input's
partitioning); a downstream `pack_shards` or writer can re-bucket by
chunk token budget if needed.

Semantics (the common LM-prep convention):
- windows start at 0, stride, 2*stride, ... while start < n_tokens;
- each window takes up to ``size`` tokens (the tail window may be
  shorter);
- ``stride < size`` yields overlapping context windows, ``stride ==
  size`` non-overlapping blocks;
- documents with zero tokens produce no chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tokens = whitespace-split, empties dropped (mirrors replayable.tokens_sql
# but WITHOUT lowercasing: chunk text must round-trip the original)
# explicit RE2-whitespace class (Java \s adds \x0B; RE2's does not)
_TOKENS_EXPR = r"filter(split({col}, '[ \\t\\n\\f\\r]+'), x -> x <> '')"


def token_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    stride: int | None = None,
    passthrough_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode each document into (id, [passthrough...], chunk_id,
    chunk_text, n_tokens) rows of at most ``size`` whitespace tokens,
    windows starting every ``stride`` tokens (default: ``size``, i.e.
    non-overlapping).  ``passthrough_cols`` ride along scan-side (e.g.
    a split label) — cheaper than joining them back afterwards."""
    if stride is None:
        stride = size
    if size <= 0 or stride <= 0:
        raise ValueError(f"size and stride must be positive, got {size}/{stride}")
    extra = [F.col(c) for c in passthrough_cols]
    toks = F.expr(_TOKENS_EXPR.format(col=text_col))
    base = (
        df.select(F.col(id_col), *extra, toks.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") > 0)
    )
    # window starts: 0..floor((n-1)/stride) — integer `div`, exact
    starts = F.expr(f"sequence(0, int((__n - 1) div {stride}))")
    win = F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, size)
    return (
        base.select(
            F.col(id_col),
            *extra,
            F.explode(starts).alias("chunk_id"),
            F.col("__toks"),
        )
        .select(
            F.col(id_col),
            *extra,
            F.col("chunk_id"),
            F.array_join(win, " ").alias("chunk_text"),
            F.size(win).cast("int").alias("n_tokens"),
        )
    )
