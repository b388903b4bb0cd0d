"""Single-process replay: times calls into the kernel functions over a
fixed sample of a workload's inputs (or of inputs generated from the same
seed, for kernels the workload does not run).

The OCR replay runs the program's own fused-stage function
(operators.extract.make_ocr_map_fn) on pandas batches, with timing
wrappers installed around the module attributes it calls; the wrappers
are removed afterwards. Nothing in the program is modified on disk.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import pandas as pd

ARROW_BATCH = 256  # rows per batch, as session.ARROW_MAX_RECORDS


class Timers:
    def __init__(self):
        self.t: dict[str, float] = {}
        self.n: dict[str, float] = {}

    def add(self, key: str, dt: float, count: float = 1) -> None:
        self.t[key] = self.t.get(key, 0.0) + dt
        self.n[key] = self.n.get(key, 0) + count

    def per(self, key: str, denom: float, scale: float) -> float:
        return self.t.get(key, 0.0) / denom * scale if denom else 0.0


@contextmanager
def _patched(targets):
    """targets: [(module, attr, wrapper_factory)]; restores on exit."""
    saved = []
    try:
        for mod, attr, make in targets:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, make(orig))
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


def _img_kind(data: bytes) -> str:
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    return "jp2"


class _Bc:
    """Stand-in for a Spark broadcast: the stage function reads .value."""

    def __init__(self, value):
        self.value = value


def replay_ocr(rows: list[tuple[str, bytes, str]], protos: dict,
               timers: Timers) -> dict:
    """rows: (url, image bytes, lang) → OCR kernel counters and times."""
    from effocr_spark.functions import boxes, crops, lineseg, recognize
    from effocr_spark.operators import extract
    from effocr_spark.synth import model

    counts = {"strips": 0, "cand": 0, "kept": 0, "crops": 0}

    def timed(key, count=None, post=None):
        def make(orig):
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                out = orig(*a, **kw)
                dt = time.perf_counter() - t0
                timers.add(key(a) if callable(key) else key, dt,
                           count(a, out) if count else 1)
                if post:
                    post(a, out)
                return out
            return wrapper
        return make

    def on_head(a, out):
        counts["strips"] += 1
        counts["cand"] += len(out)

    def on_nms(a, out):
        counts["kept"] += len(out)

    def on_decode(a, out):
        timers.add("pixels." + _img_kind(bytes(a[0])), 0.0,
                   out.shape[0] * out.shape[1])

    targets = [
        (extract, "decode_image",
         timed(lambda a: "decode." + _img_kind(bytes(a[0])), post=on_decode)),
        (lineseg, "line_strip_gray_triples", timed("lineseg")),
        (lineseg, "column_strip_gray_triples", timed("lineseg")),
        (model, "synthetic_yolo_head", timed("head", post=on_head)),
        (boxes, "non_max_suppression", timed("nms", post=on_nms)),
        (crops, "extract_crops", timed("crops", count=lambda a, o: len(o))),
        (recognize, "embed_crops", timed("embed", count=lambda a, o: len(a[0]))),
        (recognize, "knn_lookup", timed("knn", count=lambda a, o: len(a[0]))),
        (extract, "assemble_page", timed("assemble")),
    ]
    fn = extract.make_ocr_map_fn(_Bc(protos))
    batches = [pd.DataFrame(rows[i:i + ARROW_BATCH], columns=["url", "html", "lang"])
               for i in range(0, len(rows), ARROW_BATCH)]
    with _patched(targets):
        t0 = time.perf_counter()
        out_rows = sum(len(df) for df in fn(iter(batches)))
        wall = time.perf_counter() - t0
    counts["crops"] = timers.n.get("crops", 0)
    pages = len(rows)
    decode_t = sum(v for k, v in timers.t.items() if k.startswith("decode."))
    return {
        "pages": pages,
        "out_rows": out_rows,
        "wall_s": wall,
        "extract.decode_ms_per_page": decode_t / pages * 1e3 if pages else 0.0,
        "lineseg.ms_per_page": timers.per("lineseg", pages, 1e3),
        "model.head_ms_per_strip": timers.per("head", counts["strips"], 1e3),
        "boxes.nms_ms_per_strip": timers.per("nms", counts["strips"], 1e3),
        "boxes.nms_kept_frac": counts["kept"] / counts["cand"] if counts["cand"] else 0.0,
        "crops.us_per_crop": timers.per("crops", counts["crops"], 1e6),
        "recognize.embed_us_per_crop": timers.per("embed", timers.n.get("embed", 0), 1e6),
        "recognize.knn_us_per_crop": timers.per("knn", timers.n.get("knn", 0), 1e6),
        "extract.assemble_ms_per_page": timers.per("assemble", pages, 1e3),
        "strips_per_page": counts["strips"] / pages if pages else 0.0,
        "crops_per_page": counts["crops"] / pages if pages else 0.0,
    }


def replay_decode(images: list[bytes], timers: Timers) -> None:
    """Times operators.extract.decode_image per image kind (PNG hand-off,
    JPEG, JPEG2000) into timers as decode.<kind> / pixels.<kind>."""
    from effocr_spark.operators.extract import decode_image

    for b in images:
        kind = _img_kind(b)
        t0 = time.perf_counter()
        im = decode_image(b)
        timers.add("decode." + kind, time.perf_counter() - t0)
        timers.add("pixels." + kind, 0.0, im.shape[0] * im.shape[1])


def replay_domstrip(htmls: list[bytes]) -> float:
    """→ ms per page of functions.domstrip.strip_html."""
    from effocr_spark.functions.domstrip import strip_html

    t0 = time.perf_counter()
    for h in htmls:
        strip_html(h)
    return (time.perf_counter() - t0) / len(htmls) * 1e3 if htmls else 0.0


def replay_pdf(docs: list[tuple[bytes, str, int, int]], timers: Timers):
    """docs: (pdf bytes, encoding, width, height) → (pdftext ms per doc,
    {codec: ms per megapixel}, extracted images as (index, bytes))."""
    from effocr_spark.functions import pdftext
    from effocr_spark.synth import imgcodec

    def make_enc(orig):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            out = orig(*a, **kw)
            timers.add("png_encode", time.perf_counter() - t0)
            return out
        return wrapper

    images: list[tuple[int, bytes]] = []
    t_text = 0.0
    codec_t: dict[str, float] = {}
    codec_px: dict[str, float] = {}
    with _patched([(imgcodec, "encode_png", make_enc)]):
        for i, (data, enc, w, h) in enumerate(docs):
            t0 = time.perf_counter()
            pdftext.extract_pdf_text(data)
            t_text += time.perf_counter() - t0
            before = timers.t.get("png_encode", 0.0)
            t0 = time.perf_counter()
            imgs = pdftext.extract_pdf_images(data)
            dt = time.perf_counter() - t0
            enc_dt = timers.t.get("png_encode", 0.0) - before
            if enc in ("g4", "jbig2", "jp2"):
                key = "ccitt" if enc == "g4" else enc
                codec_t[key] = codec_t.get(key, 0.0) + dt - enc_dt
                codec_px[key] = codec_px.get(key, 0.0) + w * h
            images.extend((i, b) for b in imgs)
    per_mpix = {k: codec_t[k] / (codec_px[k] / 1e6) * 1e3
                for k in codec_t if codec_px.get(k)}
    return (t_text / len(docs) * 1e3 if docs else 0.0), per_mpix, images
