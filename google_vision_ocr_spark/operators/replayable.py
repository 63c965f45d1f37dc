"""SQL-replayable LSH families: MinHash, SimHash, hyperplane codes.

Every sketch in the package hashes with this module's expressions.
The MinHash / SimHash pipelines in :mod:`dedup`, the exact-Jaccard
shingle ids and decontamination draw their randomness from
engine-shared deterministic primitives — ``md5`` (same hex in Spark
and DuckDB) and integer-hash permutation parameters.  The hyperplane
family (every LSH operator in :mod:`similarity`) takes seeded
Gaussian planes, shipped into the plan as one JSON literal
(:func:`planes_json`).  So every step replays bit-for-bit in DuckDB
and the full pipelines sit under the typed-hash gate.

This module holds the SQL expression builders, their DuckDB twins
and the oracle SQL.  Everything is JVM built-in expressions (nested
higher-order ``transform``/``aggregate`` folds inside whole-stage
codegen) — no Python UDF at all.  The pair pipelines keep the
bucketed-never-all-pairs shape (banded equality joins); the ORACLES
instead state the declarative spec (∃ band agreement / hamming ≤ r
over a cross join at gate scale), so the gate independently proves
the banding logic lossless rather than replaying it.

Reference parity: the reference has no LSH (a 1,151-LoC desktop OCR
app, /root/reference/main_window.py); these are part of the mandated
training-data-pipeline toolkit (dedup §: minhash/simhash families).

Cross-engine pins (each verified in tests/test_replayable_lsh.py):
- whitespace class is built with chr() concat, never a backslash
  escape — Spark's SQL-literal parser silently strips unknown
  escapes (``'\\f'`` became a literal ``f`` and ate characters).
- md5 fold uses 15 hex digits (60 bits, always positive int64):
  Spark ``conv(substr,16,10)`` == DuckDB hex-digit ``list_reduce``.
- sequence()/lambda vars are 32-bit in Spark: every product widens
  through CAST(... AS BIGINT) first (ANSI overflow otherwise).
- ``sequence(1, 0)`` DESCENDS in Spark while ``generate_series(1,0)``
  is empty in DuckDB — shingle counts are guarded with CASE WHEN
  size >= k on BOTH sides.
- hyperplane planes cross as one JSON string of shortest-repr doubles,
  which both parsers return bit-exactly; the dot product is a left
  fold from 0.0 in index order on both sides.
"""

from __future__ import annotations

import json

#: modulus of the MinHash universal-hash family h_p(x) = (a_p·x+b_p)%M
#: — 2^31-1 (prime), so a_p·x ≤ (M-1)² < 2^62 never overflows int64
M = 2_147_483_647

#: RE2's whitespace class [ \t\n\f\r] (the repo-wide token boundary),
#: assembled from chr() so no SQL string-escape dialect can mangle it
WS_CLASS = "concat('[ ', chr(9), chr(10), chr(12), chr(13), ']+')"

# ---------------------------------------------------------------- tokens

def tokens_sql(text_col: str) -> str:
    """Spark: non-empty lowercase whitespace tokens of ``text_col``."""
    return (
        f"filter(split(lower({text_col}), {WS_CLASS}), x -> x != '')"
    )


def tokens_duck(text_col: str) -> str:
    """DuckDB twin of :func:`tokens_sql`."""
    return (
        f"list_filter(string_split_regex(lower({text_col}), {WS_CLASS}),"
        " x -> x <> '')"
    )


# --------------------------------------------------------------- minhash

def _md5_int_sql(s_sql: str) -> str:
    """Spark: first 15 md5 hex digits of a string as a (positive)
    int64 — 60 bits, the engine-shared replayable token hash."""
    return (
        f"CAST(conv(substring(md5(CAST({s_sql} AS BINARY)), 1, 15),"
        " 16, 10) AS BIGINT)"
    )


def _md5_int_duck(s_sql: str) -> str:
    """DuckDB twin of :func:`_md5_int_sql` (hex-digit fold)."""
    return (
        "list_reduce(list_transform(generate_series(1, 15),"
        " i -> CAST(strpos('0123456789abcdef',"
        f" substr(md5({s_sql}), i, 1)) - 1 AS BIGINT)),"
        " (a, b) -> a * 16 + b)"
    )


def _minhash_perm_sql(x_sql: str, p: str) -> str:
    """(a_p·x + b_p) mod M with md5-free integer-hash parameters
    a_p = 1 + ((p·1315423911 + 12345) % (M-1)), b_p = (p·2654435761)
    % M.  ``x`` must already be reduced mod M.  Same text works in
    both engines (pure int64 arithmetic)."""
    pb = f"CAST({p} AS BIGINT)"
    a = f"(1 + (({pb} * 1315423911 + 12345) % {M - 1}))"
    b = f"(({pb} * 2654435761) % {M})"
    return f"(({a} * ({x_sql}) + {b}) % {M})"


def shingle_hashes_from_tokens_sql(toks: str, k: int = 3) -> str:
    """Spark: array<bigint> of mod-``M`` md5 hashes of the ``k``-token
    shingles of a token-ARRAY expression.  Pass a column reference so
    the tokenizer runs once (r7: inlining ``tokens_sql`` textually put
    4 regex ``split`` calls in one projection, one per reference), and
    MATERIALIZE the result as a column before folding signatures over
    it — an expression inlined into the per-permutation lambda is
    re-evaluated once per permutation (64× the md5 work; measured 45 s
    → ~2 s at 500 docs)."""
    sh = (
        f"CASE WHEN size({toks}) >= {k}"
        f" THEN transform(sequence(1, size({toks}) - {k - 1}),"
        f" j -> concat_ws(chr(31), slice({toks}, j, {k})))"
        " ELSE array() END"
    )
    return f"transform({sh}, s -> {_md5_int_sql('s')} % {M})"


def shingle_ids_from_tokens_sql(toks: str, k: int = 3) -> str:
    """Spark: the distinct shingle ids of a token-ARRAY column — the
    exact-Jaccard and decontamination set.  Each id is the full 60-bit
    :func:`_md5_int_sql` of the ``chr(31)``-joined ``k``-shingle, NOT
    reduced mod ``M``: 31-bit ids would collide (~58 expected over
    sf0.1's shingles) and change exact counts.  A document with 0
    tokens is the one shingle ``''`` and one with fewer than ``k``
    tokens is its space-joined tokens, as in the exact-Jaccard oracle;
    a null text has no shingles (the oracle's ``unnest`` of NULL)."""
    sh = (
        f"CASE WHEN size({toks}) = 0 THEN array('')"
        f" WHEN size({toks}) < {k} THEN array(array_join({toks}, ' '))"
        f" ELSE transform(sequence(1, size({toks}) - {k - 1}),"
        f" j -> concat_ws(chr(31), slice({toks}, j, {k}))) END"
    )
    return f"array_distinct(transform({sh}, s -> {_md5_int_sql('s')}))"


def shingle_hashes_duck(text_col: str, k: int = 3) -> str:
    """DuckDB twin of :func:`shingle_hashes_from_tokens_sql` (hoist
    into a CTE for the same reason)."""
    toks = tokens_duck(text_col)
    sh = (
        f"CASE WHEN len({toks}) >= {k}"
        f" THEN list_transform(generate_series(1, len({toks}) - {k - 1}),"
        f" j -> array_to_string(({toks})[j:j + {k - 1}], chr(31)))"
        " ELSE CAST([] AS VARCHAR[]) END"
    )
    return f"list_transform({sh}, s -> {_md5_int_duck('s')} % {M})"


def signature_from_hashes_sql(hs_col: str, n_perm: int = 64) -> str:
    """Spark: MinHash signature as ONE fold over the hash array,
    carrying all ``n_perm`` running minima in the accumulator.  The
    naive shape — ``transform(perms, p -> aggregate(hashes, ...))`` —
    puts the hash array inside the outer lambda, so the engine
    re-evaluates it once per permutation (and CollapseProject will
    happily inline a hoisted column right back in); as the fold
    TARGET it is evaluated exactly once.  min is order-independent,
    so the result is identical."""
    return (
        f"aggregate({hs_col},"
        f" array_repeat(CAST({M} AS BIGINT), {n_perm}),"
        f" (acc, x) -> zip_with(acc, sequence(0, {n_perm - 1}),"
        f" (m, p) -> least(m, {_minhash_perm_sql('x', 'p')})))"
    )


def signature_from_hashes_duck(hs_col: str, n_perm: int = 64) -> str:
    """DuckDB twin of :func:`signature_from_hashes_sql`.  ``hs_col``
    must be a CTE COLUMN, not an inline expression — DuckDB also
    re-evaluates an expression embedded in the outer lambda once per
    permutation (measured 54 s → ~2 s at 500 docs), but a column
    reference is read from the already-computed row.  min is
    order-independent, so per-permutation folding here equals the
    Spark side's single-fold-with-accumulator form."""
    return (
        f"list_transform(generate_series(0, {n_perm - 1}), p ->"
        f" list_reduce(list_prepend(CAST({M} AS BIGINT), {hs_col}),"
        f" (m, x) -> least(m, {_minhash_perm_sql('x', 'p')})))"
    )


def minhash_pairs_oracle_sql(
    n_perm: int = 64, bands: int = 16, k: int = 3
) -> str:
    """DuckDB oracle: replay the signatures, then state the pair spec
    declaratively — a pair qualifies iff some band's components all
    agree.  Banded join on the exact band keys (same lossless
    blocking; cheap at gate scale)."""
    rpb = n_perm // bands
    toks = tokens_duck("text")
    return f"""
        WITH hs AS (
            SELECT doc_id, {shingle_hashes_duck("text", k)} AS h,
                   len({toks}) AS ntok
            FROM documents
        ), sigs AS (
            SELECT doc_id, {signature_from_hashes_duck("h", n_perm)} AS mh
            FROM hs WHERE ntok >= {k}
        ), banded AS (
            SELECT doc_id, mh, band,
                   array_to_string(list_transform(
                       mh[band * {rpb} + 1 : band * {rpb} + {rpb}],
                       v -> CAST(v AS VARCHAR)), ',') AS band_key
            FROM (SELECT doc_id, mh, unnest(range(0, {bands})) AS band
                  FROM sigs)
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(list_sum(list_transform(generate_series(1, {n_perm}),
                        q -> CASE WHEN a.mh[q] = b.mh[q]
                                  THEN 1 ELSE 0 END)) AS DOUBLE)
               / CAST({n_perm} AS DOUBLE) AS est_jaccard
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    """


# --------------------------------------------------------------- simhash

def token_hashes_sql(text_col: str) -> str:
    """Spark: array<bigint> of 60-bit md5 hashes of every token
    occurrence (the SimHash input)."""
    toks = tokens_sql(text_col)
    return f"transform({toks}, tk -> {_md5_int_sql('tk')})"


def token_hashes_duck(text_col: str) -> str:
    """DuckDB twin of :func:`token_hashes_sql`."""
    toks = tokens_duck(text_col)
    return f"list_transform({toks}, tk -> {_md5_int_duck('tk')})"


#: Spark: the 60-bit code from a token-hash COLUMN (bit b set iff
#: strictly more tokens have bit b set than clear; ties → 0).
#: ``hs_col`` must be a column this expression references MORE THAN
#: ONCE (it does: the per-bit fold and size()) — that reference count
#: is what stops CollapseProject from inlining the md5 hash array back
#: into the per-bit lambda, where it would be re-evaluated 60× (the
#: zip_with-accumulator single-fold alternative avoids the inlining
#: hazard but measured 75× slower than this shape — array accumulators
#: defeat codegen; the 60 refolds over an in-memory int array are
#: nearly free next to one md5 pass).
def simhash_code_from_hashes_sql(hs_col: str) -> str:
    return (
        "aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, b) ->"
        f" acc + CASE WHEN 2 * aggregate({hs_col}, CAST(0 AS BIGINT),"
        " (a, h) -> a + (shiftright(h, b) & 1))"
        f" > size({hs_col})"
        " THEN shiftleft(CAST(1 AS BIGINT), b)"
        " ELSE CAST(0 AS BIGINT) END)"
    )


def simhash_code_duck(hs_col: str, nt_col: str) -> str:
    """DuckDB: the 60-bit SimHash from CTE COLUMNS ``hs_col`` (token
    hashes) and ``nt_col`` (token count) — columns, not inline
    expressions, for the re-evaluation reason on
    :func:`signature_from_hashes_duck`."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(generate_series(0, 59), b ->"
        " CASE WHEN 2 * list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" {hs_col}), (a, h) -> a + ((h >> b) & 1)) > {nt_col}"
        " THEN (CAST(1 AS BIGINT) << b)"
        " ELSE CAST(0 AS BIGINT) END)), (a, x) -> a + x)"
    )


def simhash_pairs_oracle_sql(max_hamming: int = 10) -> str:
    """DuckDB oracle: the declarative spec — every (a < b) pair with
    bit_count(xor) ≤ r.  Cross join is fine at gate scale (≤ 5k docs
    = 25M cheap int ops) and independently proves the Spark side's
    banding lossless."""
    return f"""
        WITH hs AS (
            SELECT doc_id, {token_hashes_duck("text")} AS h,
                   len({tokens_duck("text")}) AS nt
            FROM documents
        ), sigs AS (
            SELECT doc_id, {simhash_code_duck("h", "nt")} AS sh FROM hs
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


# ---------------------------------------------------- hyperplane codes

#: table t of the hyperplane family draws its planes from
#: ``RandomState(PLANE_SEED + 1000·t)``
PLANE_SEED = 42


def planes_json(dim: int, n_planes: int, n_tables: int) -> str:
    """The hyperplane family's planes as ONE JSON literal: table ``t``
    is ``RandomState(PLANE_SEED + 1000·t).standard_normal((n_planes,
    dim))``.  Independent Gaussian streams per table: ±1 integer-hash
    planes (affine shifts of one sequence) missed the same planted
    pairs in every table at once.  ``json.dumps`` writes shortest-repr
    doubles, which both engines parse back bit-exactly."""
    import numpy as np  # only the embedding operators need it

    return json.dumps([
        np.random.RandomState(PLANE_SEED + 1000 * t)
        .standard_normal((n_planes, dim)).tolist()
        for t in range(n_tables)
    ])


def codes_sql(vec_col: str, dim: int, n_planes: int, n_tables: int) -> str:
    """Spark: array<bigint> of per-table hyperplane-LSH codes.  Bit b
    of table t is set iff the left-fold dot product of plane (t, b)
    with the vector is > 0.  The planes ship as one string literal
    (:func:`planes_json`): a nested ``array(...)`` literal of the same
    values took 0.41–0.46 s to plan against 0.04–0.07 s.  The dot
    product zips the vector with the plane (the
    :data:`similarity.DOT_EXPR` shape): over sf0.1's 2,000 vectors it
    took 0.9–1.2 s against 1.5–1.6 s for a fold over ``sequence(0,
    dim - 1)`` that indexes both arrays with ``element_at``."""
    planes = (
        f"from_json('{planes_json(dim, n_planes, n_tables)}',"
        " 'array<array<array<double>>>')"
    )
    # zip_with pads a short array with nulls, which would silently
    # clear bits: a vector of the wrong width is an error instead
    return (
        f"CASE WHEN {vec_col} IS NOT NULL AND size({vec_col}) <> {dim}"
        " THEN raise_error(concat("
        f"'hyperplane codes need vectors of length {dim}, got ',"
        f" size({vec_col}))) ELSE"
        f" transform({planes}, tp -> aggregate(transform(tp, (p, b) ->"
        f" CASE WHEN aggregate(zip_with({vec_col}, p,"
        " (x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE),"
        " (a, y) -> a + y) > CAST(0.0 AS DOUBLE)"
        " THEN shiftleft(CAST(1 AS BIGINT), b)"
        " ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT),"
        " (acc, c) -> acc + c)) END"
    )


def codes_duck(vec_col: str, dim: int, n_planes: int, n_tables: int) -> str:
    """DuckDB twin of :func:`codes_sql` (``list_transform``'s index
    argument ``b`` is 1-based)."""
    planes = (
        f"CAST('{planes_json(dim, n_planes, n_tables)}' AS DOUBLE[][][])"
    )
    return (
        f"list_transform({planes}, tp -> list_reduce(list_prepend("
        " CAST(0 AS BIGINT), list_transform(tp, (p, b) ->"
        " CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(generate_series(1, {dim}), i ->"
        f" CAST({vec_col}[i] AS DOUBLE) * p[i])),"
        " (a, y) -> a + y) > CAST(0.0 AS DOUBLE)"
        " THEN (CAST(1 AS BIGINT) << (b - 1))"
        " ELSE CAST(0 AS BIGINT) END)), (acc, c) -> acc + c))"
    )


def ann_lsh_oracle_sql(
    query_id: int = 0,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 4,
    hamming_radius: int = 3,
    dim: int = 64,
) -> str:
    """DuckDB oracle: replay the codes, the any-table Hamming filter,
    and the cosine rerank (same list_cosine_similarity + round(4)
    recipe the gate-green ann_bruteforce_cosine oracle uses)."""
    codes = codes_duck("embedding", dim, n_planes, n_tables)
    return f"""
        WITH coded AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {codes} AS codes
            FROM embeddings
        ), q AS (
            SELECT v AS qv, codes AS qcodes FROM coded
            WHERE vec_id = {query_id}
        ), cand AS (
            SELECT c.vec_id, c.v, q.qv
            FROM coded c, q
            WHERE c.vec_id <> {query_id}
              AND len(list_filter(
                      list_transform(generate_series(1, {n_tables}),
                          t -> bit_count(xor(c.codes[t], q.qcodes[t]))),
                      h -> h <= {hamming_radius})) > 0
        )
        SELECT vec_id,
               round(list_cosine_similarity(v, qv), 4) AS cos_sim
        FROM cand
        ORDER BY list_cosine_similarity(v, qv) DESC, vec_id
        LIMIT {k}
    """


def bucket_histogram_oracle_sql(n_planes: int = 12, dim: int = 64) -> str:
    """DuckDB oracle for :func:`similarity.lsh_bucket_histogram`."""
    codes = codes_duck("embedding", dim, n_planes, 1)
    return f"""
        SELECT ({codes})[1] AS bucket,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM embeddings
        GROUP BY 1
    """
