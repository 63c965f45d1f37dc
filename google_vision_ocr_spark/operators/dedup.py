"""Deduplication operators for a large-scale training-data pipeline.

Not present in the reference (it processes one document at a time);
these are the standard web-corpus dedup family, built Spark-first:

- :func:`exact_dedup` — hash-groupBy on document content.  One shuffle
  on the 16-byte digest (never the full text); partial aggregation
  combines map-side.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — shingle →
  MinHash signature (one scan-side fold) → banded LSH → bucket pair
  expansion.  Bucket membership is keyed ``(band, band_key)`` so only
  same-bucket candidates pair; at 100 TB this is the only pairing that
  matters and it is quadratic only within buckets.
- :func:`simhash_signatures` / :func:`simhash_candidates` — 60-bit
  SimHash with banded hamming blocking (``max_hamming + 1`` bands: any
  pair within the radius shares at least one exact band).
- :func:`ngram_jaccard_pairs` — exact Jaccard over word shingles via
  explode + self-join, for verification of the approximate families.

All hashing is the SQL-replayable family of :mod:`replayable` (md5
folds and integer-hash permutations): JVM expressions only, no Python
worker, deterministic across processes and engines, so the DuckDB
oracles replay every signature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .replayable import (
    shingle_hashes_from_tokens_sql,
    shingle_ids_from_tokens_sql,
    signature_from_hashes_sql,
    simhash_code_from_hashes_sql,
    token_hashes_sql,
    tokens_sql,
)

#: width of a SimHash code: the replayable md5 fold yields 15 hex digits
_SIMHASH_BITS = 60


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical texts: ``(text_hash, n_copies, keeper)``."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias(f"keeper_{id_col}"))
    )


def drop_exact_dups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep only the minimum-id row per identical text."""
    keepers = exact_dedup(df, id_col, text_col).select(
        F.col(f"keeper_{id_col}").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 64,
    k: int = 3,
) -> DataFrame:
    """(id, minhash, __ntok) signatures — zero-shuffle scan-side
    expressions, no Python worker.  Docs with fewer than ``k`` tokens
    get the all-``M`` sentinel signature (callers filter them via
    ``__ntok`` — a sentinel-sentinel join would fabricate est_jaccard
    = 1 pairs out of empty documents).

    r7 shape: the input fans out to cluster parallelism first (the
    bench's single-row-group scan otherwise runs the whole md5+fold
    pass on one core), and tokenization materializes as its own
    projection so the regex ``split`` runs ONCE per row — the previous
    single-expression form textually inlined the token array and paid
    4 splits per row (CollapseProject keeps the boundary here because
    ``__toks`` is referenced 4×, the same multi-reference guard the
    simhash code documents)."""
    from ..fanout import fanout

    toks = fanout(df, id_col).select(
        F.col(id_col),
        F.expr(tokens_sql(text_col)).alias("__toks"),
    )
    hashed = toks.select(
        F.col(id_col),
        F.expr(shingle_hashes_from_tokens_sql("__toks", k)).alias("__hs"),
        F.expr("size(__toks)").alias("__ntok"),
    )
    return hashed.select(
        F.col(id_col),
        F.expr(signature_from_hashes_sql("__hs", n_perm)).alias("minhash"),
        "__ntok",
    )


def minhash_banded(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """The banded ``(id, band, band_key)`` rows of a
    :func:`minhash_signatures` table — the explode side of the LSH
    bucketing, shared by :func:`minhash_lsh_pairs` and the bench's
    stage breakdown.  Band keys are the RAW signature slices
    (``array<bigint>``, collision-free); callers drop sub-``k``-token
    rows first, as :func:`minhash_lsh_pairs` does."""
    rpb = n_perm // bands
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), band ->"
                f" slice(minhash, band * {rpb} + 1, {rpb}))"
            )
        ).alias("band", "band_key"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 64,
    bands: int = 16,
    k: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs ``(id_a, id_b, est_jaccard)``.

    est_jaccard = fraction of matching MinHash components; pairs are
    produced once (id_a < id_b) and deduped across bands.  Raw band
    keys make the output set EXACTLY the declarative spec "∃ band with
    equal components" the oracle states over a cross join (at 100 TB
    you'd md5 the key to fix its width, which only re-buckets, never
    changes the pair set beyond md5 collisions).

    The signatures are read three times (banding and both attaches):
    pass ``signatures`` (a materialized :func:`minhash_signatures`
    table, ``__ntok`` included) so each read hits stored rows instead
    of re-running the fold.

    r7 shape (guide §2.3/§2.4 — shuffle keys, not payloads; fewer
    exchanges): bucket membership is ONE skinny exchange —
    ``groupBy(band, band_key)`` over ``(id, band, band_key)`` rows —
    pairs expand inside each bucket from the sorted id list (x before
    y in a sorted distinct list ⟺ x < y, exactly a self-join's
    ``id_a < id_b`` filter; the explicit null guard reproduces that
    filter's null-dropping), and the (tiny, deduped) pair set
    re-attaches signatures.  r7 verified ``exceptAll`` empty both ways
    vs the banded self-join at sf1.0 and by the DuckDB hash gate at
    sf0.001/0.01/0.1."""
    sigs = signatures if signatures is not None else (
        minhash_signatures(df, id_col, text_col, n_perm, k)
    )
    sigs = sigs.filter(F.col("__ntok") >= k).drop("__ntok")
    buckets = (
        minhash_banded(sigs, id_col=id_col, n_perm=n_perm, bands=bands)
        .groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(__ids, (x, i) ->"
                    " transform(slice(__ids, i + 2, size(__ids) - i - 1),"
                    " y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("__p")
        )
        .select("__p.id_a", "__p.id_b")
        # sort_array puts nulls first: a null id can only be id_a, and
        # an `id_a < id_b` predicate drops every null pair
        .filter(F.col("id_a").isNotNull())
        .dropDuplicates(["id_a", "id_b"])
    )
    # both attaches join the SAME projection (renamed only above the
    # joins), so its exchange plans once and the second side reuses it
    mh = sigs.select(id_col, "minhash")
    a, b = mh.alias("__a"), mh.alias("__b")
    return (
        pairs.join(a, F.col("id_a") == F.col(f"__a.{id_col}"))
        .join(b, F.col("id_b") == F.col(f"__b.{id_col}"))
        .select(
            "id_a", "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("__a.minhash", "__b.minhash", lambda x, y: x == y),
                        lambda m: m,
                    )
                ).cast("double")
                / F.lit(float(n_perm))
            ).alias("est_jaccard"),
        )
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — 60-bit codes over the md5-fold hashes of every
    token occurrence (bit b set iff strictly more tokens have it set
    than clear)."""
    hashed = df.select(
        F.col(id_col),
        F.expr(token_hashes_sql(text_col)).alias("__hs"),
    )
    return hashed.select(
        F.col(id_col),
        F.expr(simhash_code_from_hashes_sql("__hs")).alias("simhash"),
    )


def simhash_candidates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       max_hamming: int = 3,
                       n_bands: int | None = None) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, hamming)`` by SimHash: band-block
    then exact hamming filter.

    Blocking is pigeonhole-lossless when ``n_bands > max_hamming``: a
    pair within the hamming radius has at least one band with zero
    differing bits, so it collides on that band's exact key — which is
    why the oracle can state hamming ≤ r over a cross join.  The
    default ``n_bands = max_hamming + 1`` guarantees this (the classic
    Manku et al. WWW'07 configuration is 64-bit / radius 3 / 4×16-bit
    bands; here 4×15-bit over 60 bits).  More bands ⇒ shorter keys ⇒
    hotter buckets: radius 3 gives 15-bit keys (32k buckets per band),
    radius 10 gives ~5-bit keys — fine for verification corpora, too
    hot for 100 TB, where radius ≤3 is the deployable setting.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands <= max_hamming:
        raise ValueError(
            f"blocking is lossy: n_bands={n_bands} must exceed max_hamming={max_hamming}"
        )
    sigs = simhash_signatures(df, id_col, text_col)
    base, rem = divmod(_SIMHASH_BITS, n_bands)
    widths = [base + (1 if i < rem else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("band_key"),
            )
            for i in range(n_bands)
        ]
    )
    banded = sigs.select(id_col, "simhash", F.explode(band_structs).alias("bk")).select(
        id_col, "simhash", "bk.band", "bk.band_key"
    )
    left = banded.select("band", "band_key", F.col(id_col).alias("id_a"),
                         F.col("simhash").alias("sh_a"))
    right = banded.select("band", "band_key", F.col(id_col).alias("id_b"),
                          F.col("simhash").alias("sh_b"))
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def drop_repeated_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    out_col: str = "text_dedup",
) -> DataFrame:
    """Global paragraph-level dedup (RefinedWeb-style): a paragraph
    appearing in many documents (cookie banners, subscribe prompts,
    license footers) is kept only at its first global occurrence —
    ordered by ``(id, position)`` — and dropped everywhere else; each
    document is then reassembled in original paragraph order.

    Shape: explode paragraphs → ``groupBy(digest).agg(min(struct(id,
    pos)))`` → semi-join the winners back on ``(digest, id, pos)`` →
    ``collect_list`` + ``array_sort`` to rebuild.  The shuffle key is
    the 16-byte digest, never the text, and — unlike a
    ``row_number() OVER (PARTITION BY digest)`` window — the hottest
    key (by construction the MOST duplicated paragraph, e.g. a
    universal cookie banner in ~10^9 documents) is reduced by a
    map-side-combinable ``min``, not funneled into one task's sort.
    The semi-join key ``(digest, id, pos)`` is unique per row, so it
    carries no skew either.  Documents whose every paragraph was
    dropped survive with ''.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn("__digest", F.md5(F.col("para").cast("binary")))
    winners = (
        paras.groupBy("__digest")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__w"))
        .select(
            "__digest",
            F.col("__w")[id_col].alias(id_col),
            F.col("__w")["pos"].alias("pos"),
        )
    )
    kept = paras.join(winners, ["__digest", id_col, "pos"], "leftsemi")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("para")))),
                lambda s: s["para"],
            ),
            sep,
        ).alias(out_col)
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(id_col, F.coalesce(F.col(out_col), F.lit("")).alias(out_col))
    )


def shingle_ids(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                k: int = 3) -> DataFrame:
    """``(id, sh)``: each document's distinct word-``k``-shingle ids
    (:func:`replayable.shingle_ids_from_tokens_sql`, 60-bit, so exact
    at corpus scale up to md5 collisions) — the set exact Jaccard and
    decontamination compare."""
    toks = df.select(F.col(id_col), F.expr(tokens_sql(text_col)).alias("__toks"))
    return toks.select(
        F.col(id_col), F.expr(shingle_ids_from_tokens_sql("__toks", k)).alias("sh")
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        k: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact shingle-Jaccard pairs >= threshold via explode + self-join
    over :func:`shingle_ids`."""
    sh = shingle_ids(df, id_col, text_col, k).withColumn("n_sh", F.size("sh"))
    exploded = sh.select(id_col, "n_sh", F.explode("sh").alias("shingle"))
    a = exploded.select(F.col("shingle"), F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    b = exploded.select(F.col("shingle"), F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # integer-exact threshold (ppm compare) and 6-dp half-up jaccard —
    # round(double, 6) of the exact rational common/union is the
    # cross-engine tie class (see functions/exact.py)
    from ..functions.exact import halfup_ratio, ppm

    union = "(na + nb - common)"
    return inter.filter(
        F.col("common") * F.lit(1_000_000)
        >= F.lit(ppm(threshold)) * (F.col("na") + F.col("nb") - F.col("common"))
    ).select(
        "id_a",
        "id_b",
        halfup_ratio("common", union, 6).alias("jaccard"),
    )


def duplicate_token_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> DataFrame:
    """Substring-level exact dedup signal (the suffix-array method of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022, re-expressed for a shuffle engine): find every ``window``-
    token span that occurs in MORE THAN ONE document, returning
    (id, pos, win_key, n_docs) for each duplicated span occurrence.

    A suffix array is a single-machine construction; the distributed
    equivalent hashes every length-``window`` token window (a rolling
    shingle at full window grain), counts DISTINCT documents per
    window key, and joins the >1 set back to the occurrences.  A
    cross-document repeated substring of >= ``window`` tokens shares
    ALL of its aligned windows, so recall at that grain is exact;
    shorter repeats are below the detection grain by design (the same
    trade the paper makes at 50 BPE tokens).

    Scale shape: the explode emits n_tokens-window+1 rows per doc, in
    the scan task; the distinct-document count plans as the standard
    two-exchange distinct shape, both stages map-side combinable, with
    only the 16-hex digest riding the shuffle (window TEXT never
    does).  Duplicated keys are a tiny fraction of all windows, so AQE
    broadcasts the >1 set and the occurrence side joins WITHOUT any
    shuffle (observed in the executed plan); past the broadcast
    threshold the join degrades to a digest-keyed hash join.  The
    occurrence subtree is recomputed for the join rather than
    persisted — it is pure scan-side projection, and re-reading the
    scan beats materializing a windows-count-sized intermediate.
    Collisions: 64 bits of md5 — at 10^12 windows expect ~a few false
    merges, the same accepted odds as every digest-keyed dedup here
    (use the full hex for astronomically fewer).
    """
    toks = F.expr(
        r"filter(split(lower({c}), '[ \\t\\n\\f\\r]+'), x -> x <> '')".format(c=text_col)
    )
    base = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") >= window)
    )
    win_text = F.array_join(
        F.slice(F.col("__toks"), F.col("pos") + 1, window), " "
    )
    occ = base.select(
        F.col(id_col),
        F.explode(F.expr(f"sequence(0, __n - {window})")).alias("pos"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        "pos",
        F.substring(F.md5(win_text.cast("binary")), 1, 16).alias("win_key"),
    )
    dup = (
        occ.groupBy("win_key")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )
    return occ.join(dup, "win_key").select(id_col, "pos", "win_key", "n_docs")


def shingle_novelty(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Inter-document novelty: the fraction of a document's word
    ``k``-shingles that occur in NO other document (RefinedWeb's
    inter-document repetition signal, inverted — low novelty means the
    document is largely assembled from corpus-repeated n-grams).

    Skew-safe by construction — there is no join keyed by the shingle:
    per-document distinct shingles are computed scan-side, the global
    per-shingle document count is a map-side-combinable aggregation (a
    universal boilerplate shingle reduces, never sorts), and uniquely-
    owned shingles (count == 1) carry their single owner in the same
    aggregate (``min == max``), so attribution back to documents is a
    second bounded aggregation — no fan-out join on a hot shingle key.

    Documents with fewer than ``k`` words have no shingles and score
    novelty 1.0 (trivially novel).
    """
    words = tokens_sql(text_col)
    shingles = (
        f"CASE WHEN size({words}) < {k} THEN array() "
        f"ELSE array_distinct(transform(sequence(1, size({words}) - {k} + 1), "
        f"i -> concat_ws(' ', slice({words}, i, {k})))) END"
    )
    with_sh = df.select(F.col(id_col), F.expr(shingles).alias("__shs"))
    pairs = with_sh.select(id_col, F.explode("__shs").alias("__sh"))
    owned_unique = (
        pairs.groupBy("__sh")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(id_col).alias(id_col),
        )
        .filter(F.col("__n") == 1)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))
    )
    totals = with_sh.select(
        F.col(id_col), F.size("__shs").cast("bigint").alias("n_shingles")
    )
    return totals.join(owned_unique, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce("n_unique", F.lit(0).cast("bigint")).alias("n_unique"),
        F.when(
            F.col("n_shingles") > 0,
            F.coalesce("n_unique", F.lit(0)).cast("double")
            / F.col("n_shingles").cast("double"),
        )
        .otherwise(F.lit(1.0))
        .alias("novelty"),
    )
