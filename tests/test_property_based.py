"""Property-based checks: core operators vs tiny pure-Python oracles.

Hypothesis drives randomized inputs through the Spark operators and
compares against direct sequential implementations — the class of test
that catches tie-handling, empty-group, and boundary bugs the
example-based suites miss.  Example counts are kept small because each
example is a Spark job.

Deep-sweep invocation (run before each round lands):

    SPARK_GRAFT_HYP_EXAMPLES=300 python -m pytest \\
        tests/test_property_based.py -q --hypothesis-seed=<round#>

derandomize stays False and the seed ROTATES per round (the round
number is a fine seed) so successive rounds walk different corners of
the input space — a fixed seed would re-test the same examples
forever.  The r3 moments half-tie was found exactly this way."""

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Deep sweeps (VERDICT r3 #7): SPARK_GRAFT_HYP_EXAMPLES=300 plus a
# rotating --hypothesis-seed; CI default stays small because every
# example is a Spark job.
SETTINGS = settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "8")),
    deadline=None,
    derandomize=False,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from google_vision_ocr_spark.operators.components import connected_components

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    want = _union_find(edges)
    assert got == want


@SETTINGS
@given(
    tokens=st.lists(st.integers(1, 400), min_size=1, max_size=40),
    budget=st.integers(50, 600),
)
def test_pack_shards_matches_sequential_cumsum(spark, tokens, budget):
    from google_vision_ocr_spark.operators.packing import pack_shards

    rows = [(i, "en", t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "ws_tokens"])
    got = {r["doc_id"]: r["shard_id"]
           for r in pack_shards(df, budget=budget, num_partitions=5).collect()}
    run = 0
    for i, t in enumerate(tokens):
        assert got[i] == run // budget, (i, got[i], run, budget)
        run += t


@SETTINGS
@given(
    lefts=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                   min_size=1, max_size=15),
    rights=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50),
                              st.integers(0, 99)),
                    min_size=1, max_size=15),
)
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    """<= semantics with deterministic tie-breaks: among right rows
    with (ts < l.ts) or (ts == l.ts), the max (ts, event_id) wins."""
    from datetime import datetime, timedelta, timezone

    from google_vision_ocr_spark.operators.asof import asof_join

    epoch = datetime(2024, 1, 1, tzinfo=timezone.utc)
    lrows = [(1000 + i, k, epoch + timedelta(seconds=ts))
             for i, (k, ts) in enumerate(lefts)]
    rrows = [(2000 + i, k, epoch + timedelta(seconds=ts), float(v))
             for i, (k, ts, v) in enumerate(rights)]
    left = spark.createDataFrame(lrows, ["event_id", "user_id", "ts"])
    right = spark.createDataFrame(rrows,
                                  ["event_id", "user_id", "ts", "view_value"])
    got = {r["event_id"]: r["view_value"]
           for r in asof_join(left, right, ["user_id"], "ts", ["view_value"],
                              tiebreak_col="event_id").collect()}
    for lid, k, lts in lrows:
        cands = [(rts, rid, v) for rid, rk, rts, v in rrows
                 if rk == k and rts <= lts]
        want = max(cands)[2] if cands else None
        assert got[lid] == want, (lid, got[lid], want)


@SETTINGS
@given(
    target=st.dictionaries(st.integers(0, 15), st.integers(0, 99),
                           min_size=1, max_size=10),
    updates=st.dictionaries(st.integers(0, 20), st.tuples(st.integers(0, 99),
                                                          st.booleans()),
                            min_size=0, max_size=10),
)
def test_merge_upsert_matches_dict_semantics(spark, target, updates):
    from google_vision_ocr_spark.operators.merge import merge_upsert

    t = spark.createDataFrame([(k, v) for k, v in target.items()], ["id", "n"])
    u = spark.createDataFrame(
        [(k, v, d) for k, (v, d) in updates.items()],
        "id long, n long, is_delete boolean",
    ) if updates else spark.createDataFrame([], "id long, n long, is_delete boolean")
    got = {r["id"]: r["n"]
           for r in merge_upsert(t, u, ["id"], delete_col="is_delete").collect()}
    want = dict(target)
    for k, (v, d) in updates.items():
        if d:
            want.pop(k, None)
        else:
            want[k] = v
    assert got == want


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
                 min_size=1, max_size=5),
        min_size=1, max_size=8,
    )
)
def test_paragraph_dedup_matches_sequential_replay(spark, docs):
    from google_vision_ocr_spark.operators.dedup import drop_repeated_paragraphs

    rows = [(i, "\n\n".join(paras)) for i, paras in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text_dedup"]
           for r in drop_repeated_paragraphs(df).collect()}
    seen = set()
    for i, paras in enumerate(docs):
        kept = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        assert got[i] == "\n\n".join(kept), (i, got[i], kept)


@SETTINGS
@given(
    n_tokens=st.integers(0, 40),
    size=st.integers(1, 10),
    stride=st.integers(1, 10),
)
def test_token_chunks_cover_exactly_with_stride_ge_size(spark, n_tokens, size, stride):
    from google_vision_ocr_spark.operators.chunking import token_chunks

    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rows = sorted(token_chunks(df, size=size, stride=stride).collect(),
                  key=lambda r: r.chunk_id)
    toks = text.split()
    # reference enumeration
    want = []
    pos = 0
    while pos < len(toks):
        want.append(toks[pos:pos + size])
        pos += stride
    assert [r.chunk_text.split() if r.chunk_text else [] for r in rows] == want
    assert [r.n_tokens for r in rows] == [len(w) for w in want]
    if stride >= size:
        # non-overlapping windows partition a prefix of the tokens
        flat = [t for w in want for t in w]
        if stride == size:
            assert flat == toks


@SETTINGS
@given(
    old_rows=st.dictionaries(st.integers(0, 15), st.integers(0, 3), max_size=12),
    new_rows=st.dictionaries(st.integers(0, 15), st.integers(0, 3), max_size=12),
)
def test_snapshot_diff_matches_dict_diff(spark, old_rows, new_rows):
    from google_vision_ocr_spark.operators.merge import snapshot_diff

    schema = "k bigint, v bigint"
    old = spark.createDataFrame(list(old_rows.items()) or [(None, None)], schema)
    new = spark.createDataFrame(list(new_rows.items()) or [(None, None)], schema)
    if not old_rows:
        old = old.filter("k IS NOT NULL")
    if not new_rows:
        new = new.filter("k IS NOT NULL")
    got = {(r.op, r.k, r.v) for r in snapshot_diff(old, new, ["k"]).collect()}
    want = set()
    for k in set(old_rows) | set(new_rows):
        if k not in old_rows:
            want.add(("insert", k, new_rows[k]))
        elif k not in new_rows:
            want.add(("delete", k, old_rows[k]))
        elif old_rows[k] != new_rows[k]:
            want.add(("update", k, new_rows[k]))
    assert got == want


@SETTINGS
@given(
    vals=st.lists(st.integers(0, 200), min_size=1, max_size=60),
    bins=st.integers(1, 8),
)
def test_equidepth_bins_partition_all_rows_in_value_order(spark, vals, bins):
    from google_vision_ocr_spark.operators.profile import equi_depth_histogram

    df = spark.createDataFrame([(float(v),) for v in vals], "value double")
    rows = sorted(equi_depth_histogram(df, "value", bins=bins, unit=1).collect())
    assert sum(r.n_rows for r in rows) == len(vals)
    # bins are ordered and disjoint in value space
    for a, b in zip(rows, rows[1:]):
        assert a.hi_value < b.lo_value
    # reference: assign each distinct value by its first rank
    import collections

    cnt = collections.Counter(vals)
    cum = 0
    want_bins = collections.defaultdict(int)
    for v in sorted(cnt):
        want_bins[(cum * bins) // len(vals)] += cnt[v]
        cum += cnt[v]
    assert {r.bin: r.n_rows for r in rows} == dict(want_bins)


@SETTINGS
@given(
    words=st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
                   min_size=1, max_size=12, unique=True)
)
def test_fuzzy_pairs_match_brute_force_levenshtein(spark, words):
    from google_vision_ocr_spark.operators.fuzzy import fuzzy_word_pairs

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {(r.w1, r.w2) for r in fuzzy_word_pairs(df).collect()}
    want = {
        (min(a, b), max(a, b))
        for i, a in enumerate(words)
        for b in words[i + 1:]
        if lev(a, b) <= 1
    }
    assert got == want


@SETTINGS
@given(
    events=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.sampled_from("abc")),
        min_size=1, max_size=30, unique_by=lambda e: (e[0], e[1]),
    )
)
def test_scd2_matches_python_run_length(spark, events):
    """type2_history vs a direct per-user run-length scan.  Event ids
    are made unique per (user, second) so ordering is total."""
    import datetime as dt

    from google_vision_ocr_spark.operators.scd2 import type2_history

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=sec), user, state)
        for i, (user, sec, state) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    got = sorted(
        (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.n_events)
        for r in type2_history(df).collect()
    )
    want = []
    by_user = {}
    for i, (user, sec, state) in enumerate(events):
        by_user.setdefault(user, []).append((sec, i, state))
    for user, evs in by_user.items():
        evs.sort()
        runs = []
        for sec, _, state in evs:
            # aware UTC epoch: naive .timestamp() would read the local
            # zone while the Spark session pins UTC
            us = int(
                (t0 + dt.timedelta(seconds=sec))
                .replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
            )
            if runs and runs[-1][0] == state:
                runs[-1][2] += 1
            else:
                runs.append([state, us, 1])
        for k, (state, us, cnt) in enumerate(runs):
            to = runs[k + 1][1] if k + 1 < len(runs) else -1
            want.append((user, state, us, to, cnt))
    assert got == sorted(want)


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)).filter(lambda e: e[0] != e[1]),
        min_size=1, max_size=20,
    ),
    iters=st.integers(1, 4),
)
def test_pagerank_matches_python_fixed_point(spark, edges, iters):
    from google_vision_ocr_spark.operators.pagerank import SCALE, pagerank_fixed_point

    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string"
    )
    got = {r.node: r.rank for r in pagerank_fixed_point(df, iterations=iters).collect()}
    es = sorted({(f"n{a}", f"n{b}") for a, b in edges})
    nodes = sorted({x for e in es for x in e})
    n = len(nodes)
    deg = {}
    for s, _ in es:
        deg[s] = deg.get(s, 0) + 1
    t = (15 * SCALE) // (100 * n)
    r = {v: SCALE // n for v in nodes}
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for s, d in es:
            inflow[d] += r[s] // deg[s]
        r = {v: t + (85 * inflow[v]) // 100 for v in nodes}
    assert got == r


def _moments_exact_micro(cs):
    """Pure-integer oracle for events_value_moments: micro-unit
    (6-dp) mean/var/std by half-up rounding of the EXACT rationals —
    mean = Σc/(100n), var = num/(den·10⁴), std = √(num/den)/100 with
    num = n·Σc² − (Σc)², den = n(n−1).  The std rounding uses
    math.isqrt so even a perfect half-tie lands deterministically."""
    import math

    def halfup(a, b):  # round half-away-from-zero of a/b, b > 0
        if a >= 0:
            return (2 * a + b) // (2 * b)
        return -((-2 * a + b) // (2 * b))

    n, s1, s2 = len(cs), sum(cs), sum(c * c for c in cs)
    num, den = n * s2 - s1 * s1, n * (n - 1)
    mean_u = halfup(10**4 * s1, n)
    var_u = halfup(100 * num, den)
    # std_u = round-half-up of u/2 where u = sqrt(4T/den), T = 10^8·num
    std_u = (math.isqrt(4 * (10**8 * num) * den) // den + 1) // 2
    return mean_u, var_u, std_u


@SETTINGS
@given(
    vals=st.lists(
        st.tuples(st.sampled_from("xy"), st.integers(-5000, 5000)),
        min_size=4, max_size=40,
    ).filter(lambda v: all(sum(1 for g, _ in v if g == k) >= 2 for k in {g for g, _ in v}))
)
def test_moments_match_python_exact(spark, vals):
    """events_value_moments arithmetic vs Python's exact integers
    (values arrive as exact cents so round(x*100) is lossless).
    The oracle rounds in INTEGER space (half-up on the exact scaled
    numerators) — the same spec the engine and the DuckDB oracle
    implement — so a 6-dp half-tie (e.g. var 639.2540875) has one
    correct answer all three agree on."""
    import __spark_entry__ as entry_mod

    rows = [(i, g, c / 100.0) for i, (g, c) in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r.event_type: r
            for r in entry_mod.queries()["events_value_moments"](spark, d).collect()
        }
    for g in {g for g, _ in vals}:
        cs = [c for gg, c in vals if gg == g]
        mean_u, var_u, std_u = _moments_exact_micro(cs)
        assert got[g].mean_value == mean_u / 1e6
        assert got[g].var_value == var_u / 1e6
        assert got[g].std_value == std_u / 1e6


def test_moments_half_tie_adversarial(spark):
    """The exact groups hypothesis found in round 3 (variance
    639.2540875 — a precise 6-dp half-tie) plus engineered mean and
    variance half-ties, pinned as regressions: integer half-up must
    round them UP on the engine, matching the integer oracle."""
    import __spark_entry__ as entry_mod

    groups = {
        # n=4: num = 4·Σc² − (Σc)²; den = 12.  Variance half-tie class.
        "r3_hypothesis": [-4223, 731, 731, 731],
        # mean half-tie: Σc = 1, n = 2 → mean = 0.005 exactly? in
        # micro: 10^4·1/2 = 5000 exact (not a tie) — use Σc=1, n=8:
        # 10^4/8 = 1250 exact; a genuine tie needs 10^4·s1/n at .5 →
        # s1 = 1, n = 3·2^?; 10^4·1/16 = 625 exact.  n=32: 312.5 → tie.
        "mean_tie": [1] + [0] * 31,
        # var tie: n=2, cs=[0,c] → num = c², den = 2 → var_micro tie
        # when 100·c² ≡ 1 (mod 2) → c odd → 50·c² + .5 → ties every
        # odd c.  c=1: var = 0.00005 → 6dp half-tie at 0.000050.
        "var_tie_small": [0, 1],
        "var_tie_big": [0, 4999],
    }
    rows, i = [], 0
    for g, cs in groups.items():
        for c in cs:
            rows.append((i, g, c / 100.0))
            i += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double"
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r.event_type: r
            for r in entry_mod.queries()["events_value_moments"](spark, d).collect()
        }
    for g, cs in groups.items():
        mean_u, var_u, std_u = _moments_exact_micro(cs)
        assert got[g].mean_value == mean_u / 1e6, g
        assert got[g].var_value == var_u / 1e6, g
        assert got[g].std_value == std_u / 1e6, g


def _py_bpe(word_freqs, n_merges):
    """Sequential BPE reference: sequence-bigram counts, lexicographic
    tie-break, greedy left-to-right merge via str.replace."""
    merges = []
    wf = list(word_freqs.items())
    for k in range(n_merges):
        counts = {}
        for w, f in wf:
            for i in range(len(w) - 1):
                p = w[i : i + 2]
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        pair, weight = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        sym = chr(0xE000 + k)
        merges.append((k + 1, pair, sym, weight))
        wf = [(w.replace(pair, sym), f) for w, f in wf]
    return merges


@SETTINGS
@given(
    st.lists(
        st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
                 min_size=1, max_size=8),
        min_size=1, max_size=4,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_bpe_matches_sequential_reference(spark, doc_words, n_merges):
    from google_vision_ocr_spark.operators.bpe import (
        bpe_train, word_frequencies,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(doc_words)],
        "doc_id bigint, text string",
    )
    expected_wf = {}
    for ws in doc_words:
        for w in ws:
            expected_wf[w] = expected_wf.get(w, 0) + 1
    merges, _ = bpe_train(word_frequencies(docs), n_merges)
    got = [(m["round"], m["pair"], m["merged"], m["weight"]) for m in merges]
    assert got == _py_bpe(expected_wf, n_merges)


@SETTINGS
@given(
    st.lists(
        st.lists(st.sampled_from(["apple", "pear", "kiwi", "fig", "plum"]),
                 min_size=1, max_size=6),
        min_size=2, max_size=8,
    ),
    st.integers(min_value=0, max_value=7),
)
def test_postings_merge_equals_full_build(spark, doc_words, split_at):
    from google_vision_ocr_spark.operators.indexing import (
        inverted_postings, merge_postings,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(doc_words)],
        "doc_id bigint, text string",
    )
    full = {
        (r.term, r.df, r.postings)
        for r in inverted_postings(docs, min_df=1, max_df=100).collect()
    }
    a = inverted_postings(docs.filter(F.col("doc_id") < split_at),
                          min_df=1, max_df=100)
    b = inverted_postings(docs.filter(F.col("doc_id") >= split_at),
                          min_df=1, max_df=100)
    merged = {
        (r.term, r.df, r.postings) for r in merge_postings(a, b).collect()
    }
    assert merged == full


def test_moments_singleton_group_yields_null_variance(spark):
    """n = 1 ⇒ sample variance undefined: NULL var/std (not an ANSI
    divide-by-zero error), mean still defined."""
    import __spark_entry__ as entry_mod

    df = spark.createDataFrame(
        [(0, "solo", 1.23), (1, "pair", 1.0), (2, "pair", 2.0)],
        "event_id bigint, event_type string, value double",
    )
    import os, tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r.event_type: r
            for r in entry_mod.queries()["events_value_moments"](spark, d).collect()
        }
    assert got["solo"].mean_value == 1.23
    assert got["solo"].var_value is None
    assert got["solo"].std_value is None
    assert got["pair"].var_value is not None


def _halfup_expected(num, den, digits):
    """Exact round-half-up(10^digits·num/den) with the SAME output
    representation both engine expressions commit to: one correctly-
    rounded double division while the scaled integer stays ≤ 2^53
    (Python int/int truediv IS that correctly-rounded division), else
    the mirrored q + m/s double sum — the cast of s·q+m past 2^53 is
    itself lossy, the hypothesis sweep caught it at
    num=360287970189641, den=1, digits=2.  Full-int64-range contract
    added after the r4 advisor found the old seed-and-correct drifting
    past 2^52 (num=7996807223210584435, den=971 was off by ~6e5)."""
    s = 10 ** digits
    m = (2 * s * num + den) // (2 * den)  # true half-up, exact ints
    q, mi = num // den, m - s * (num // den)
    if q <= (2 ** 53 - s) // s:
        return (s * q + mi) / s
    return float(q) + float(mi) / s


@SETTINGS
@given(
    cases=st.lists(
        st.tuples(
            st.integers(0, 2 ** 63 - 1),
            st.integers(1, 2 ** 63 - 1),
            st.sampled_from([0, 2, 4, 6]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_halfup_ratio_full_int64_range(spark, cases):
    """halfup_ratio / halfup_ratio_sql over the FULL int64 domain:
    Spark expr, DuckDB expr, and the exact integer reference must
    agree for every (num, den, digits) — including quotients far past
    the old ~2^52 seed-validity bound."""
    import duckdb

    from google_vision_ocr_spark.functions.exact import (
        halfup_ratio,
        halfup_ratio_sql,
    )

    cases = cases + [
        (7996807223210584435, 971, 6),  # advisor counterexample (r4)
        (2 ** 63 - 1, 1, 6),
        (2 ** 63 - 1, 3, 4),
        (999999, 1000000, 6),
        (1, 2, 0),
    ]
    con = duckdb.connect()
    for digits in sorted({d for _, _, d in cases}):
        sub = [(n, dn) for n, dn, d in cases if d == digits]
        df = spark.createDataFrame(sub, "num bigint, den bigint")
        got_spark = [
            r.v
            for r in df.select(
                halfup_ratio("num", "den", digits).alias("v")
            ).collect()
        ]
        got_duck = [
            con.execute(
                f"SELECT {halfup_ratio_sql(str(n), str(dn), digits)}"
            ).fetchone()[0]
            for n, dn in sub
        ]
        exp = [_halfup_expected(n, dn, digits) for n, dn in sub]
        assert got_spark == exp, (digits, sub)
        assert got_duck == exp, (digits, sub)


def _halfup_signed_expected(num, den, digits):
    # half-away-from-zero ≡ negated half-up of |num| (Python ints are
    # unbounded, so -num is exact even at INT64_MIN; IEEE negation of
    # the positive result is exact too)
    if num >= 0:
        return _halfup_expected(num, den, digits)
    return -_halfup_expected(-num, den, digits)


@SETTINGS
@given(
    cases=st.lists(
        st.tuples(
            st.integers(-(2 ** 63), 2 ** 63 - 1),
            st.integers(1, 2 ** 63 - 1),
            st.sampled_from([0, 2, 4, 6]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_halfup_ratio_signed_full_int64_range(spark, cases):
    """halfup_ratio_signed / halfup_ratio_signed_sql over the FULL
    signed int64 domain INCLUDING num = INT64_MIN: the r5 advisor
    found the old negative branch negated num itself, silently
    wrapping -(-2^63) under Spark non-ANSI; the rewrite works on
    (-q, -r) with a den=1 exact-cast guard, and this sweep pins
    Spark == DuckDB == the exact integer reference."""
    import duckdb

    from google_vision_ocr_spark.functions.exact import (
        halfup_ratio_signed,
        halfup_ratio_signed_sql,
    )

    cases = cases + [
        (-(2 ** 63), 1, 2),            # the advisor's overflow point
        (-(2 ** 63), 1, 0),
        (-(2 ** 63), 3, 4),            # -q path at extreme magnitude
        (-(2 ** 63), 2 ** 63 - 1, 6),
        (-(2 ** 63) + 1, 1, 2),
        (-7996807223210584435, 971, 6),
        (-15, 4, 0),                   # tie: -3.75 -> -4 away from zero
        (-5, 2, 0),
        (-1, 3, 2),
    ]
    con = duckdb.connect()
    for digits in sorted({d for _, _, d in cases}):
        sub = [(n, dn) for n, dn, d in cases if d == digits]
        df = spark.createDataFrame(sub, "num bigint, den bigint")
        got_spark = [
            r.v
            for r in df.select(
                halfup_ratio_signed("num", "den", digits).alias("v")
            ).collect()
        ]
        got_duck = [
            con.execute(
                "SELECT "
                + halfup_ratio_signed_sql(
                    f"CAST({n} AS BIGINT)", str(dn), digits
                )
            ).fetchone()[0]
            for n, dn in sub
        ]
        exp = [_halfup_signed_expected(n, dn, digits) for n, dn in sub]
        assert got_spark == exp, (digits, sub)
        assert got_duck == exp, (digits, sub)


def _qs_code(c: int) -> int:
    # Python mirror of operators/sketch.py _QS_CODE
    if c == 0:
        return 0
    a = abs(c)
    bl = a.bit_length()
    mag = bl * 64 + (a >> max(bl - 6, 0))
    return mag if c > 0 else -mag


def _qs_lower(k: int) -> int:
    # Python mirror of operators/sketch.py _QS_REP
    if k == 0:
        return 0
    a = abs(k)
    return (1 if k > 0 else -1) * ((a % 64) << max(a // 64 - 6, 0))


@SETTINGS
@given(cents=st.lists(st.integers(-(2 ** 62), 2 ** 62), min_size=1,
                      max_size=40))
def test_quantile_sketch_bucket_error_bound_math(cents):
    """The sketch's documented accuracy claim as pure integer math
    (VERDICT r5 #8): for every representable cent value, the bucket
    lower bound L satisfies sign(L) = sign(c), |L| ≤ |c|,
    32·|c − L| < max(|c|, 1) (≤ ~3.1% relative width), EXACTNESS for
    |c| ≤ 63 (docstring claims < 32 conservatively), and the code is
    monotone (sorted values land in sorted buckets — the property the
    CDF walk needs)."""
    cents = cents + [0, 1, -1, 31, 32, 63, 64, -64, 2 ** 40,
                     2 ** 40 - 1, 2 ** 40 + 1, -(2 ** 40) - 1]
    for c in cents:
        lo = _qs_lower(_qs_code(c))
        assert (lo == 0) == (c == 0) or (lo > 0) == (c > 0)
        assert abs(lo) <= abs(c)
        assert 32 * abs(c - lo) < max(abs(c), 1), (c, lo)
        if abs(c) <= 63:
            assert lo == c
    codes = [_qs_code(c) for c in sorted(cents)]
    assert codes == sorted(codes)


@SETTINGS
@given(
    cents=st.lists(
        st.one_of(
            st.integers(-(10 ** 9), 10 ** 9),
            st.integers(-63, 63),                       # exact regime
            st.sampled_from(                            # octave edges
                [2 ** b + d for b in (6, 10, 20, 30) for d in (-1, 0, 1)]
            ),
        ),
        min_size=1,
        max_size=30,
    ),
    percents=st.sets(st.integers(0, 100), min_size=1, max_size=4),
)
def test_quantile_sketch_estimate_vs_exact_percentiles(
    spark, cents, percents
):
    """End-to-end: every p_est returned by the sketch equals the
    bucket lower bound OF THE EXACT rank statistic (rank convention
    pos = (p·(n−1)) div 100 + 1) — hence inherits the ≤ ~3.1%
    relative-error bound pinned above — including negatives,
    sub-cent-adjacent values, and bucket-boundary adversaries."""
    from google_vision_ocr_spark.operators.sketch import (
        quantile_sketch_build,
        quantile_sketch_quantiles,
    )

    pcts = tuple(sorted(percents))
    df = spark.createDataFrame(
        [(c / 100.0, "k") for c in cents], "value double, event_type string"
    )
    sk = quantile_sketch_build(df, "value", "event_type")
    row = quantile_sketch_quantiles(sk, "event_type", percents=pcts).first()
    ordered = sorted(cents)
    n = len(ordered)
    assert row.n_events == n
    for p in pcts:
        exact = ordered[(p * (n - 1)) // 100]
        est_cents = round(row[f"p{p}_est"] * 100)
        assert est_cents == _qs_lower(_qs_code(exact)), (p, exact, est_cents)
        assert 32 * abs(exact - est_cents) < max(abs(exact), 1)
