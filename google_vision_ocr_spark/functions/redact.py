"""PII redaction + text normalization for corpus curation.

Standard pre-training hygiene (C4/CCNet-style): emails, IPv4 addresses
and long digit runs are replaced with typed placeholder tokens.  All
patterns are JVM-side ``regexp_replace`` (whole-stage codegen, zero
Python) and deliberately restricted to syntax that means the same
thing in Java regex and RE2, so a DuckDB oracle can mirror them
character-for-character.

Order matters: emails first (their local parts contain digits an
``<NUM>`` pass would otherwise mangle), then IPs, then digit runs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java-regex and RE2 compatible (no lookarounds, no backrefs)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
LONG_NUM_RE = r"\b[0-9]{9,}\b"

REDACTIONS: tuple[tuple[str, str], ...] = (
    (EMAIL_RE, "<EMAIL>"),
    (IPV4_RE, "<IP>"),
    (LONG_NUM_RE, "<NUM>"),
)


def redact_pii(col: Column) -> Column:
    for pattern, token in REDACTIONS:
        col = F.regexp_replace(col, pattern, token)
    return col


def clean_whitespace(col: Column) -> Column:
    """Collapse runs of whitespace to single spaces and trim."""
    # explicit RE2-whitespace class (Java \s adds \x0B; RE2's does not)
    return F.trim(F.regexp_replace(col, r"[ \t\n\f\r]+", " "))
