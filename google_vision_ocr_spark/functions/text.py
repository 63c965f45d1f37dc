"""Text metrics of the curation pipeline, one spec for two engines.

:func:`with_text_metrics` adds three columns to a frame of text:

- ``lang_guess``: a character-trigram guess over the first 4,000
  lowercased characters.  Kana gives ``jp``, CJK gives ``zh``;
  otherwise the first-wins argmax of the profile counts, ``und`` when
  every count is 0 or the text is empty.  Deterministic heuristic, not
  a trained model.
- ``quality``: length, token-shape, punctuation and stopword evidence,
  damped by the alphanumeric ratio (symbol soup scores ~0), as an
  exact integer rational rounded half-up to 6 decimals.
- ``ws_tokens``: the number of whitespace tokens.

A token is a maximal run of characters outside RE2's ``\\s``, which is
exactly ``[ \\t\\n\\f\\r]``: no ``\\x0B``, no NBSP, no Unicode spaces.
Java's and Python's ``\\s`` differ from it, so both sides spell the
class out.  A null text counts as the empty string.

Each heuristic is written here for two engines, as the Spark
expressions the pipeline runs and as the DuckDB SQL the oracles
replay, in the pairing of ``functions/exact.py`` (``halfup_ratio`` /
``halfup_ratio_sql``).  Both read the same profiles, stoplist and
punctuation class, and the quality formula and the language CASE are
one template for both.  The Spark side is built-in expressions only,
so no Python worker runs the metrics and they compile into the stage
they ride.

The module also keeps the two Python helpers that entries still call:
:func:`rolling_fingerprint` and :func:`normalize_text`.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.replayable import WS_CLASS
from .exact import halfup_ratio, halfup_ratio_sql

# --- shared spec ------------------------------------------------------------

# most characteristic trigrams per language; argmax ties go to the
# earlier language in this order
_LANG_PROFILES = {
    "en": (" th", "the", " an", "and", "ing", " of", "ion", " to"),
    "de": ("der", "die", "und", "ein", "sch", " de", "ich", "cht"),
    "es": (" de", "os ", " la", "ión", "ent", " el", "que", "ado"),
    "fr": (" de", "es ", " le", "ent", "que", " la", "ion", "ait"),
}
_KANA_CLASS = "[぀-ヿ]"
_CJK_CLASS = "[一-鿿]"
_STOPWORDS = (
    "the a an and or of to in is are was were be on for with as at by it "
    "this that from not have has had but they you he she we i"
).split()
_PUNCT = ".,!?;:'\"()[]{}-"
# the punctuation as a regex class (same syntax in Java and RE2)
_PUNCT_CLASS = "[" + "".join("\\" + c if c in "[]-" else c for c in _PUNCT) + "]"
# RE2's \s as the body of a regex class (replayable.WS_CLASS spells the
# same class as a SQL expression)
_SPACE = " \t\n\f\r"

# --- DuckDB twin (the oracles' SQL) -----------------------------------------

_STOPLIST_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)
# '' escapes the apostrophe inside a SQL string literal
_PUNCT_CLASS_SQL = _PUNCT_CLASS.replace("'", "''")
_TRIM_CHARS_SQL = f"$punct${_PUNCT}$punct$"


def _lang_scores_sql(col: str) -> str:
    """Per-language n-gram scores over lowered text column ``col``
    (non-overlapping replace-count == str.count for 3-char grams)."""
    def cnt(g: str) -> str:
        return f"(length({col})-length(replace({col},'{g}','')))/3"

    return ",\n                   ".join(
        f"{' + '.join(cnt(g) for g in grams)} AS s_{lang}"
        for lang, grams in _LANG_PROFILES.items()
    )


def _lang_case(t: str, matches: str, p: str = "") -> str:
    """The language CASE over text ``t`` and score columns ``{p}s_<lang>``:
    kana/CJK short-circuit, then the first-wins argmax over the
    profiles.  ``matches`` formats a regex test from ``t`` and a class
    ``c`` in the target engine's syntax."""
    s = [f"{p}s_{lang}" for lang in _LANG_PROFILES]
    langs = list(_LANG_PROFILES)
    arms = [
        f"WHEN {t} = '' THEN 'und'",
        f"WHEN {matches.format(t=t, c=_KANA_CLASS)} THEN 'jp'",
        f"WHEN {matches.format(t=t, c=_CJK_CLASS)} THEN 'zh'",
        f"WHEN greatest({','.join(s)}) = 0 THEN 'und'",
        *(
            f"WHEN {' AND '.join(f'{s[i]} >= {o}' for o in s[i + 1:])}"
            f" THEN '{langs[i]}'"
            for i in range(len(s) - 1)
        ),
        f"ELSE '{langs[-1]}' END",
    ]
    return "\n              CASE" + "".join(f"\n                {a}" for a in arms)


# a template over {t}, as the oracles format it
_LANG_CASE_SQL = _lang_case("{t}", "regexp_matches({t}, '{c}')")


def _quality_num(p: str = "", sum_len: str = "sum_len") -> str:
    """The quality score as an EXACT integer rational: every term is a
    ratio of integer counts, so base·damp = num / den with

      num = (2·min(n,500)·nt + {500|250}·nt (shape) + {500|250}·nt
             (punct) + 500·min(5·stop, nt)) · min(2·alnum, non_space)
      den = 2500·nt·non_space

    and the 6-dp output is integer half-up of that rational: no
    round(double, 6) for the engines to split on at a tie.  int64
    bound: nt·ns ≤ ~3.6e9 (≈ multi-hundred-KB docs; curation length
    gates bound inputs far below).  ``p`` prefixes the feature
    column names; ``sum_len`` names the token-length sum."""
    return f"""(2 * least({p}n_chars, 500) * {p}n_tokens
                   + (CASE WHEN 2 * {p}n_tokens <= {sum_len}
                                AND {sum_len} <= 12 * {p}n_tokens
                           THEN 500 ELSE 250 END) * {p}n_tokens
                   + (CASE WHEN 5 * {p}punct <= {p}n_chars
                           THEN 500 ELSE 250 END) * {p}n_tokens
                   + 500 * least(5 * {p}stop, {p}n_tokens))
                  * least(2 * {p}alnum, {p}non_space)"""


def _quality_den(p: str = "") -> str:
    return f"2500 * {p}n_tokens * {p}non_space"


_QUALITY_NUM_SQL = _quality_num()
_QUALITY_DEN_SQL = _quality_den()
_QUALITY_CASE_SQL = f"""
              CASE WHEN n_tokens = 0 OR non_space = 0 THEN 0.0 ELSE
                {halfup_ratio_sql(_QUALITY_NUM_SQL, _QUALITY_DEN_SQL, 6)}
              END"""


def _quality_feature_sql(t: str) -> str:
    """Feature columns (n_chars, toks, punct, non_space, alnum) over a
    text expression ``t``; the feature half of the exact integer
    quality spec."""
    return f"""
                length({t}) AS n_chars,
                regexp_extract_all({t}, '\\S+') AS toks,
                length({t}) - length(regexp_replace({t}, '{_PUNCT_CLASS_SQL}', '', 'g')) AS punct,
                length(regexp_replace({t}, '\\s', '', 'g')) AS non_space,
                length({t}) - length(regexp_replace({t}, '[\\pL\\pN]', '', 'g')) AS alnum"""


_TOKEN_STATS_SQL = f"""
                len(toks) AS n_tokens,
                CAST(coalesce(list_sum(list_transform(toks,
                    x -> length(x))), 0) AS BIGINT) AS sum_len,
                len(list_filter(toks, x -> list_contains([{_STOPLIST_SQL}],
                    trim(lower(x), {_TRIM_CHARS_SQL})))) AS stop"""

# --- Spark twin -------------------------------------------------------------

_NOT_SPACE = f"[^{_SPACE}]"
# a token that is a stopword once lowered and stripped of punctuation
# at both ends; one regex count instead of a lambda over the token
# array, which would take the Project out of whole-stage codegen
_STOP_RE = (
    f"(?<!{_NOT_SPACE}){_PUNCT_CLASS}*(?:{'|'.join(_STOPWORDS)})"
    f"{_PUNCT_CLASS}*(?!{_NOT_SPACE})"
)


def with_text_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``docs`` plus ``quality``, ``lang_guess`` and ``ws_tokens`` of
    ``text_col``.  The features, and then the quality ratio's numerator
    and denominator, are projected as columns before their uses, so
    each is generated once instead of being inlined into every use."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)
    counts = {
        "__n_chars": n_chars,
        "__n_tokens": F.regexp_count(t, F.lit(f"{_NOT_SPACE}+")),
        "__punct": n_chars - F.length(F.regexp_replace(t, _PUNCT_CLASS, "")),
        "__non_space": F.length(F.regexp_replace(t, F.expr(WS_CLASS), F.lit(""))),
        "__alnum": n_chars - F.length(F.regexp_replace(t, r"[\pL\pN]", "")),
        "__stop": F.regexp_count(F.lower(t), F.lit(_STOP_RE)),
    }

    def cnt(g: str) -> str:
        return f"(length(__lt) - length(replace(__lt, '{g}', ''))) DIV 3"

    scores = {
        f"__s_{lang}": F.expr(" + ".join(cnt(g) for g in grams))
        for lang, grams in _LANG_PROFILES.items()
    }
    # tokens are the maximal non-space runs, so their lengths sum to
    # the non-space count
    ratio = {
        "__num": F.expr(_quality_num("__", sum_len="__non_space")),
        "__den": F.expr(_quality_den("__")),
    }
    return (
        docs.withColumns({k: c.cast("bigint") for k, c in counts.items()})
        .withColumn("__lt", F.lower(F.substring(t, 1, 4000)))
        .withColumns({**scores, **ratio})
        .withColumns({
            "quality": F.when(F.col("__den") == 0, F.lit(0.0)).otherwise(
                halfup_ratio("__num", "__den", 6)
            ),
            "lang_guess": F.expr(_lang_case("__lt", "{t} RLIKE '{c}'", p="__")),
            "ws_tokens": F.col("__n_tokens"),
        })
        .drop(*counts, "__lt", *scores, *ratio)
    )


# --- document fingerprinting ------------------------------------------------

_FP_BASE = np.uint64(1000003)
_FP_MOD_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def rolling_fingerprint(text: str) -> int:
    """Polynomial rolling hash of the whole document (64-bit)."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    h = np.uint64(1469598103934665603)  # FNV offset basis
    base = _FP_BASE
    with np.errstate(over="ignore"):  # modular 2^64 arithmetic is intended
        for chunk_start in range(0, data.size, 4096):
            chunk = data[chunk_start : chunk_start + 4096]
            for b in chunk:
                h = (h * base + b) & _FP_MOD_MASK
    return int(h)


# --- Unicode normalization (extraction cleanup) ----------------------------

# C0 controls except tab/newline/CR, plus DEL — the bytes real crawls
# carry out of broken encodings and terminal dumps
_CTRL_RE = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")
# ASCII \s on purpose: Python's Unicode \s would also eat NBSP/thin
# spaces that DuckDB's RE2 \s (ASCII-only) keeps — and those are
# content, not layout, after NFC
_WS_RE = re.compile(r"\s+", re.ASCII)


def normalize_text(text: str) -> str:
    """Canonical text cleanup every extraction pipeline runs before
    hashing/dedup: Unicode NFC (combining sequences compose, so
    'cafe'+U+0301 and precomposed 'café' hash identically), control
    characters stripped, whitespace collapsed to single spaces, ends
    trimmed.  Mirrors DuckDB ``nfc_normalize`` + regexp chain exactly
    (pinned by the contract query)."""
    t = unicodedata.normalize("NFC", text or "")
    t = _CTRL_RE.sub("", t)
    return _WS_RE.sub(" ", t).strip()


def normalize_text_series(texts: pd.Series) -> pd.Series:
    return texts.map(normalize_text)
