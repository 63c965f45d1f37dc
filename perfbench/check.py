"""Correctness checks, run outside the timed region.

Extract workloads are compared per url against ``oracle.extract_table``
on the compared fields.  The corpus workload is checked against the
invariants ``run_corpus_pipeline`` documents.  Both return the number
of failed documents, which feeds ``failed`` / ``attempted`` in the
result line.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from google_vision_ocr_spark import oracle

FIELDS = ("kind", "text", "spans", "n_pages", "n_errors")


def expected_docs(table: pa.Table) -> dict[str, tuple]:
    """Oracle output per url, as comparable tuples of :data:`FIELDS`."""
    return {
        r.url: (r.kind, r.text, tuple((s.page, s.start, s.end) for s in r.spans),
                r.n_pages, r.n_errors)
        for r in oracle.extract_table(table.to_pylist())
    }


def extract_failures(data_dir: str, expected: dict[str, tuple]) -> int:
    """Input documents whose output row is missing, repeated or differs."""
    got = pq.read_table(data_dir, columns=["url", *FIELDS]).to_pylist()
    seen: dict[str, int] = {}
    bad = 0
    for row in got:
        seen[row["url"]] = seen.get(row["url"], 0) + 1
        spans = tuple((s["page"], s["start"], s["end"]) for s in row["spans"] or ())
        actual = (row["kind"], row["text"], spans, row["n_pages"], row["n_errors"])
        if expected.get(row["url"]) != actual:
            bad += 1
    bad += sum(1 for url in expected if seen.get(url, 0) != 1)
    return bad


def corpus_failures(out_dir: str, report: dict, input_urls: set[str]) -> int:
    """Violations of the corpus pipeline's invariants, counted in
    documents: ``docs_in`` equals the input count, ``docs_written``
    equals ``docs_out`` and the lines written, no two output texts are
    identical, and every output url is an input url."""
    bad = abs(report["docs_in"] - len(input_urls))
    bad += abs(report["docs_written"] - report["docs_out"])
    texts: set[bytes] = set()
    n_lines = 0
    for path in sorted(glob.glob(os.path.join(out_dir, "corpus", "part-*"))):
        with gzip.open(path, "rt", encoding="utf-8") as f:
            for line in f:
                doc = json.loads(line)
                n_lines += 1
                digest = hashlib.sha256(doc["text"].encode("utf-8")).digest()
                bad += digest in texts
                bad += doc["url"] not in input_urls
                texts.add(digest)
    bad += abs(n_lines - report["docs_written"])
    return bad
