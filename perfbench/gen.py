"""Seeded input generator for the extraction benchmark.

The generator is the benchmark's own: it uses only the payload codecs in
``google_vision_ocr_spark.formats`` and never the test fixtures, so a
change to the fixtures cannot move a workload.

A workload's *composition* is fixed by its :class:`Mix` (how many
documents of each kind, the multiset of page counts, how many duplicates
and corrupt payloads, how many files).  The seed decides the content,
which row gets which kind and page count, and which documents are
duplicated.  So every seed gives the same amount of work, and the
same seed gives byte-identical files.

Rows follow the extraction input schema
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random
import struct
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from google_vision_ocr_spark import formats

_EPOCH = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)
_LANGS = ("en", "de", "fr", "es", "zh")

# Common English words give the quality gate stopword evidence; the
# accented and CJK words keep multi-byte UTF-8 in every payload path.
_WORDS = (
    "the of and to in is for with on that this from by as are was be at "
    "river mountain archive ledger harbour engine market season council "
    "letter garden station library bridge village record winter signal "
    "copper meadow lantern chapter orchard voyage quarry thread canvas "
    "café naïve über straße déjà façade 東京 資料 도서관 기록"
).split()
_IMAGE_FORMATS = ("PNG", "PNG", "JPEG", "BMP", "TIFF", "GIF")

SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass(frozen=True)
class Mix:
    """Composition of one workload's input table.

    Shares are of ``n_docs``; ``text`` takes whatever the other kinds
    leave.  ``pdf_pages`` is the inclusive page-count range of ordinary
    PDF documents; ``big_docs`` documents have ``big_pages`` pages each.
    ``corrupt`` rows are half truncated SPDF containers, half payloads
    of no known format.  ``dup_exact`` / ``dup_near`` are the shares of
    rows that copy another row's content exactly / with one word
    changed.
    """

    n_docs: int
    pdf: float = 0.0
    html: float = 0.0
    image: float = 0.0
    corrupt: float = 0.0
    pdf_pages: tuple[int, int] = (1, 8)
    big_docs: int = 0
    big_pages: int = 0
    dup_exact: float = 0.0
    dup_near: float = 0.0
    sentences: tuple[int, int] = (1, 5)
    n_files: int = 1
    row_group_rows: int = 256


MIXES: dict[str, Mix] = {
    # scanned-book traffic: multi-page PDFs plus a few very long ones,
    # one file of small row groups (the repo's fixture layout)
    "extract_pdf": Mix(n_docs=1600, pdf=0.9, html=0.04, image=0.03,
                       pdf_pages=(1, 8), big_docs=3, big_pages=240),
    # Common-Crawl traffic: mostly HTML, a little of everything else,
    # about 1% corrupt or unknown payloads, many files
    "extract_web": Mix(n_docs=4000, pdf=0.03, html=0.85, image=0.04,
                       corrupt=0.01, pdf_pages=(1, 2), n_files=16),
    # corpus job: HTML/text with a controlled duplicate share
    "curate_corpus": Mix(n_docs=1000, html=0.7, dup_exact=0.1,
                         dup_near=0.1, sentences=(4, 9), n_files=8),
}


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(5, 12))]
    return " ".join(words).capitalize() + rng.choice(".!?.")


def _paragraphs(rng: random.Random, lo: int, hi: int) -> list[str]:
    return [_sentence(rng) for _ in range(rng.randint(lo, hi))]


def _html(rng: random.Random, paras: list[str]) -> bytes:
    links = "".join(f'<li><a href="/p/{rng.randrange(1000)}">more {i}</a></li>'
                    for i in range(rng.randint(3, 8)))
    body = "".join(f"<p>{p}</p>" for p in paras)
    return (
        "<!DOCTYPE html><html><head><title>page</title>"
        "<script>window.x = 1;</script><style>p { margin: 0 }</style></head>"
        f"<body><nav><ul>{links}</ul></nav><header><h1>Site</h1></header>"
        f"<article>{body}</article>"
        f"<footer><p>&copy; {rng.randint(1995, 2025)} example.net</p></footer>"
        "</body></html>"
    ).encode("utf-8")


def _image(rng: random.Random, text: str) -> bytes:
    gray = formats.rgb_to_gray(formats.render_page_rgb(text))
    fmt = rng.choice(_IMAGE_FORMATS)
    if fmt == "PNG":
        return formats.encode_png(gray)
    if fmt == "JPEG":
        return formats.encode_jpeg_gray(gray)
    if fmt == "BMP":
        return formats.encode_bmp_gray(gray)
    if fmt == "TIFF":
        return formats.encode_tiff_gray(gray)
    return formats.encode_gif_gray(gray)


def _corrupt(rng: random.Random, k: int) -> bytes:
    if k % 2 == 0:
        # claims three pages, holds a fraction of one: decoding fails
        return formats.SPDF_MAGIC + struct.pack("<II", 3, 4096) + b"truncated"
    return b"\x00PK\x03" + rng.randbytes(64)


def _near_copy(rng: random.Random, paras: list[str]) -> list[str]:
    """The same paragraphs with one word replaced."""
    out = list(paras)
    k = rng.randrange(len(out))
    words = out[k].split(" ")
    words[rng.randrange(len(words))] = "variant"
    out[k] = " ".join(words)
    return out


def generate(mix: Mix, seed: int) -> pa.Table:
    """Build the input table for ``mix`` from ``seed``."""
    rng = random.Random(seed)
    n = mix.n_docs
    n_pdf = round(n * mix.pdf)
    n_html = round(n * mix.html)
    n_image = round(n * mix.image)
    n_corrupt = round(n * mix.corrupt)
    n_text = n - n_pdf - n_html - n_image - n_corrupt
    kinds = (["pdf"] * n_pdf + ["html"] * n_html + ["image"] * n_image
             + ["corrupt"] * n_corrupt + ["text"] * n_text)
    rng.shuffle(kinds)
    lo, hi = mix.pdf_pages
    pages = [mix.big_pages] * mix.big_docs
    pages += [lo + i % (hi - lo + 1) for i in range(n_pdf - mix.big_docs)]
    rng.shuffle(pages)
    n_dup = round(n * (mix.dup_exact + mix.dup_near))
    n_exact = round(n * mix.dup_exact)
    dup_rows = set(rng.sample(range(1, n), n_dup)) if n_dup else set()

    # content of html/text rows, kept so duplicates can copy it
    content: dict[int, list[str]] = {}
    rows: dict[str, list] = {name: [] for name in SCHEMA.names}
    n_dup_done = n_corrupt_done = 0
    for i, kind in enumerate(kinds):
        payload: bytes | None = None
        text: str | None = None
        if kind == "pdf":
            n_pages = pages.pop()
            payload = formats.encode_spdf(
                ["\n".join(_paragraphs(rng, *mix.sentences)) for _ in range(n_pages)])
        elif kind == "image":
            payload = _image(rng, "\n".join(_paragraphs(rng, *mix.sentences)))
        elif kind == "corrupt":
            payload = _corrupt(rng, n_corrupt_done)
            n_corrupt_done += 1
        else:
            prior = [j for j in content if kinds[j] == kind] if i in dup_rows else []
            if prior:
                paras = content[rng.choice(prior)]
                if n_dup_done >= n_exact:
                    paras = _near_copy(rng, paras)
                n_dup_done += 1
            else:
                paras = _paragraphs(rng, *mix.sentences)
            content[i] = paras
            if kind == "html":
                payload = _html(rng, paras)
            else:
                text = "\n".join(paras)
        rows["url"].append(f"https://site{i % 97:02d}.example.net/{seed}/{i:06d}")
        rows["warc_ts"].append(_EPOCH + datetime.timedelta(seconds=37 * i))
        rows["html"].append(payload)
        rows["text"].append(text)
        rows["lang"].append(_LANGS[i % len(_LANGS)])
    return pa.table(rows, schema=SCHEMA)


def write(table: pa.Table, out_dir: str, mix: Mix) -> list[str]:
    """Write ``table`` as ``mix.n_files`` parquet files of small row
    groups under ``out_dir``; returns the file paths."""
    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-table.num_rows // mix.n_files)
    paths = []
    for k in range(mix.n_files):
        path = os.path.join(out_dir, f"part-{k:03d}.parquet")
        pq.write_table(table.slice(k * per_file, per_file), path,
                       row_group_size=mix.row_group_rows)
        paths.append(path)
    return paths


def digest(table: pa.Table) -> str:
    """Content digest of the generated rows, independent of file layout."""
    h = hashlib.sha256()
    for name in table.schema.names:
        for value in table.column(name).to_pylist():
            h.update(repr(value).encode("utf-8"))
    return h.hexdigest()[:16]
