"""Seeded input generation, cached on disk by (kind, seed, size).

Every input row is a pure function of (seed, row index), so the same seed
always yields the same tables. Generation runs in a small spawn pool and
is timed apart from everything else; a cached table costs only its read.

Each table directory holds ``pages/part-*.parquet`` (the program's input,
schema url/warc_ts/html/text/lang), ``warm/part-00000.parquet`` (a fixed
slice used for warm-up) and ``expected.parquet`` (url, text, branch plus
per-document metadata) — the ground truth the output check compares to.
"""

from __future__ import annotations

import datetime as dt
import multiprocessing as mp
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .paths import INPUTS

WARM_ROWS = 128      # rows of the warm-up slice, at most a sixth of the table

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

# pdf_archive: the encoding of document i is PDF_CYCLE[i % 20], so every
# table (and every 20-document slice of it) has the same mix: 25% CCITT G4,
# 20% JBIG2, 10% JPEG2000, 15% JPEG scans and 30% text PDFs. Line and word
# counts cycle too; the seed picks the words. The work per table is then
# nearly seed-independent. G4 / JBIG2 / JP2 scans are lossless, so their
# OCR text must equal the rendered text; JPEG scans are lossy and are
# checked against the reference oracle on the decoded pixels; text PDFs
# must equal their text layer.
PDF_CYCLE = ("g4", "text", "jbig2", "jpeg", "g4", "text", "jp2", "jbig2",
             "g4", "text", "jpeg", "text", "jbig2", "g4", "text", "jp2",
             "jpeg", "g4", "jbig2", "text")
PDF_MAX_LINES = 4


def _rng(seed: int, i: int) -> np.random.RandomState:
    return np.random.RandomState((seed * 2_654_435 + i * 40_503 + 17) % (2**31 - 1))


# ------------------------------------------------------------ crawl_mix

def crawl_rows(seed: int, n: int) -> list[dict]:
    """The first n rows of the seeded crawl table, generated in-process."""
    from effocr_spark.synth.pages import generate_rows

    return generate_rows(range(n), seed)


def _crawl_chunk(args):
    seed, lo, hi = args
    from effocr_spark.synth.pages import generate_rows

    rows = generate_rows(range(lo, hi), seed)
    return [{"url": r["url"], "warc_ts": r["warc_ts"], "html": r["html"],
             "text": r["text"], "lang": r["lang"],
             "expected": r["true_text"], "branch": r["branch"]}
            for r in rows]


# ---------------------------------------------------------- pdf_archive

_PROTOS: dict = {}


def _en_prototypes():
    if "en" not in _PROTOS:
        from effocr_spark.functions.recognize import build_prototypes
        _PROTOS["en"] = build_prototypes("en")
    return _PROTOS["en"]


def pdf_doc(seed: int, i: int) -> dict:
    """One archive document: a one-page scan in one of the PDF_CYCLE
    encodings, or a born-digital text PDF."""
    from effocr_spark.synth.font import render_page
    from effocr_spark.synth.pages import _en_ocr_line
    from effocr_spark.synth.pdfgen import (make_fax_pdf, make_jbig2_pdf,
                                           make_jpx_pdf, make_pdf,
                                           make_scanned_pdf)

    rng = _rng(seed, i)
    enc = PDF_CYCLE[i % len(PDF_CYCLE)]
    n_lines = 1 + (i + i // len(PDF_CYCLE)) % PDF_MAX_LINES
    lines = [_en_ocr_line(rng, 3 + (i + 2 * k) % 6) for k in range(n_lines)]
    truth = "\n".join(lines)
    url = f"https://archive{int(rng.randint(12)):02d}.example/{enc}/{i:06d}"
    width = height = 0
    if enc == "text":
        data = make_pdf([lines])
        expected = truth
    else:
        img = render_page(lines)
        height, width = img.shape[:2]
        if enc == "g4":
            data = make_fax_pdf([img])
        elif enc == "jbig2":
            data = make_jbig2_pdf([img])
        elif enc == "jp2":
            data = make_jpx_pdf([img])
        else:
            from effocr_spark import oracle
            from effocr_spark.synth.jpegcodec import encode_jpeg

            rgb = np.repeat(img[:, :, None], 3, axis=2)
            jpeg = encode_jpeg(rgb)
            data = make_scanned_pdf([(jpeg, width, height)])
            expected = oracle.run_reference_extraction(
                [(url, jpeg)], *_en_prototypes(), lang="en")[url] or ""
        if enc != "jpeg":
            expected = truth
    return {"url": url, "warc_ts": None, "html": data, "text": "",
            "lang": "en", "expected": expected, "branch": "pdf",
            "enc": enc, "width": width, "height": height}


def _pdf_chunk(args):
    seed, lo, hi = args
    return [pdf_doc(seed, i) for i in range(lo, hi)]


# --------------------------------------------------------------- tables

# (documents at scale 1.0, files the table is stored as). incremental
# drains the first rows of the same seeded crawl table (rows are a pure
# function of seed and index), one file per micro-batch.
SIZES = {"crawl_mix": (2400, 8), "incremental": (1200, 4), "pdf_archive": (60, 8)}


def _write(rows: list[dict], out: str, seed: int, n_files: int) -> None:
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    os.makedirs(os.path.join(tmp, "warm"))
    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for r_i, r in enumerate(rows):
        if r["warc_ts"] is None:
            r["warc_ts"] = epoch + dt.timedelta(seconds=(seed * 31 + r_i * 17) % 86400)

    def table(rs):
        return pa.table({f.name: [r[f.name] for r in rs] for f in PAGES_SCHEMA},
                        schema=PAGES_SCHEMA)

    n = len(rows)
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table(rows[lo:hi]),
                       os.path.join(tmp, "pages", f"part-{k:05d}.parquet"))
    pq.write_table(table(rows[:min(WARM_ROWS, n // 6)]),
                   os.path.join(tmp, "warm", "part-00000.parquet"))
    meta = {"url": [r["url"] for r in rows],
            "text": [r["expected"] for r in rows],
            "branch": [r["branch"] for r in rows]}
    for extra in ("enc", "width", "height"):
        if extra in rows[0]:
            meta[extra] = [r[extra] for r in rows]
    pq.write_table(pa.table(meta), os.path.join(tmp, "expected.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


class Table:
    """A generated input table on disk plus its expected outputs."""

    def __init__(self, path: str):
        self.path = path
        self.pages = os.path.join(path, "pages")
        self.warm = os.path.join(path, "warm")
        meta = pq.read_table(os.path.join(path, "expected.parquet")).to_pydict()
        self.meta = meta
        self.expected = {u: (t, b) for u, t, b in
                         zip(meta["url"], meta["text"], meta["branch"])}

    def __len__(self) -> int:
        return len(self.expected)

    def files(self) -> list[str]:
        return sorted(os.path.join(self.pages, f)
                      for f in os.listdir(self.pages) if f.endswith(".parquet"))

    def rows(self) -> list[dict]:
        """Input rows in table order (for the single-process replay)."""
        return [r for f in self.files() for r in pq.read_table(f).to_pylist()]


def build(kind: str, size: int, n_files: int, seed: int,
          scale: float = 1.0) -> tuple[Table, float, bool]:
    """→ (table, generation seconds, cache hit)."""
    n = max(n_files * 2, int(size * scale))
    out = os.path.join(INPUTS, f"{kind}-s{seed}-n{n}-f{n_files}")
    t0 = time.perf_counter()
    if os.path.exists(os.path.join(out, "expected.parquet")):
        return Table(out), time.perf_counter() - t0, True
    os.makedirs(INPUTS, exist_ok=True)
    fn = _crawl_chunk if kind == "crawl" else _pdf_chunk
    workers = min(4, os.cpu_count() or 1)
    step = max(1, -(-n // (workers * 4)))
    chunks = [(seed, lo, min(n, lo + step)) for lo in range(0, n, step)]
    with mp.get_context("spawn").Pool(workers) as pool:
        rows = [r for part in pool.map(fn, chunks) for r in part]
    _write(rows, out, seed, n_files)
    return Table(out), time.perf_counter() - t0, False
