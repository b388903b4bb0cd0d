"""End-to-end extraction pipeline: route → OCR | DOM+PDF → fuse.

The one router: batch callers, the streaming skin (streaming.py) and
the chunked lineage runner (lineage.py) all extract through
extract_pages.

Dataflow (SURVEY.md §3.1 "Spark lifecycle"):

    pages ──sniff(html magic, JVM-side)──┬─ image pages ─ salted
                                         │   repartition ─ fused OCR
                                         │   mapInPandas stage
                                         └─ born-digital ─ dom+pdf
                                             mapInPandas stage
    branches are DISJOINT by construction (every row routes exactly one
    way), so the per-url fusion is a unionByName — same result as the
    full-outer-join+coalesce spelling but with zero shuffle.

Scale notes (the 100 TB design point):
 - the only repartition is the salted one in front of the OCR stage:
   page cost varies ~100x across hosts (image-heavy hosts) and AQE
   balances bytes, not Python-UDF compute, so we spread rows by
   xxhash64(url, salt) ourselves (SURVEY.md §4 custom item 1)
 - filters on lang / html prefix are Catalyst-pushable; the html column
   is never carried past the branch UDFs (column pruning)
 - the prototype matrix is a broadcast variable, never a join side
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.recognize import build_prototypes
from .operators.extract import (dom_pdf_branch, is_image_page,
                                is_pdf_page, ocr_branch)

RESULT_SCHEMA_HINT = (
    "url string, extracted_text string, n_chars int, ok boolean, "
    "error string, branch string"
)


def broadcast_prototypes(spark: SparkSession, langs=("en", "jp"),
                         encoder_artifact: str | None = None,
                         word_vocab: list[str] | None = None):
    """Build the glyph-prototype index driver-side and broadcast it —
    the FAISS ref.index analog (infer_effocr_onnx_multi.py:496-505).
    encoder_artifact: build the prototypes with the same serialized
    encoder the extraction stage will use (queries and index must share
    an embedding space).
    word_vocab: also build the word-level recognizer bank (rendered
    whole-word prototype embeddings under key 'en_words') for the
    silver-correction merge — the north star's word stream."""
    protos = {lang: build_prototypes(lang, encoder_artifact=encoder_artifact)
              for lang in langs}
    if word_vocab is not None:
        from .functions.recognize import build_word_prototypes
        protos["en_words"] = build_word_prototypes(
            word_vocab, encoder_artifact=encoder_artifact)
    return spark.sparkContext.broadcast(protos)


def extract_pages(
    pages: DataFrame,
    protos_bc,
    salt_partitions: int | None = None,
    conf_thres: float = 0.35,
    iou_thres: float = 0.01,
    anchor_margin: float | None = None,
    spell_check: bool = False,
    recognizer: str = "knn",
    embedded_images: bool = False,
    encoder_artifact: str | None = None,
    word_silver: float | None = None,
    freq_dict: str | None = None,
    pdf_password: bytes | str = b"",
    emit_char_text: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, ...) →
    (url, extracted_text, n_chars, ok, error, branch).

    Three-way content routing by JVM-side magic-byte sniff (no Python in
    the router): PNG/JPEG/JP2 → OCR, %PDF → PDF layout parse, else
    (NULL html included) → DOM strip. Every row routes exactly one
    way, so fusion stays a
    unionByName (zero shuffles outside the salted OCR repartition)."""
    image_rows = pages.filter(is_image_page(F.col("html")))
    other_rows = pages.filter(~is_image_page(F.col("html")))

    if salt_partitions:
        # defuse host skew: image-heavy hosts cluster in url space, and
        # input file splits preserve that; hash-spread rows before the
        # expensive UDF stage (cost ∝ rows, not bytes)
        image_rows = image_rows.repartition(
            salt_partitions, F.xxhash64(F.col("url"), F.lit(0x5A17)))

    ocr = ocr_branch(image_rows, protos_bc, conf_thres, iou_thres,
                     anchor_margin, spell_check, recognizer,
                     encoder_artifact=encoder_artifact,
                     word_silver=word_silver, freq_dict=freq_dict,
                     emit_char_text=emit_char_text)
    # both non-image branches run in ONE Python stage (per-row %PDF-
    # routing inside the UDF): one scan of the non-image majority
    # instead of two, and no near-empty task fleet for whichever
    # branch is sparse in the corpus slice
    other = dom_pdf_branch(other_rows, pdf_password=pdf_password)
    if emit_char_text:
        # the word stream exists only on the OCR branch; dom/pdf rows
        # carry a NULL char stream so the union schema stays aligned
        other = other.withColumn("char_text", F.lit(None).cast("string"))

    if embedded_images:
        # the north star's "embedded images/PDF layouts": data-URI
        # images inside born-digital pages AND DCT (JPEG) image XObjects
        # inside PDFs (scanned documents) run through the SAME OCR
        # branch (one derived row per image, url tagged with its index),
        # then fuse back onto the page's text-layer output. JVM
        # contains() pre-filters keep the explode UDFs off pages without
        # candidates; the groupBy+join touches only the embedded subset
        # (tiny fraction at web scale).
        from .operators.extract import (embedded_png_rows,
                                        has_embedded_png, has_pdf_images,
                                        pdf_image_rows)

        # \x01 guards keep split_part safe on urls containing the
        # literal text "emb" (e.g. https://emb.example) — written as
        # escape sequences so the guards are VISIBLE in source and
        # survive line-based edits
        SEP = "\x01emb\x01"
        pdf_rows = other_rows.filter(is_pdf_page(F.col("html")))
        cand = (other_rows.filter(~is_pdf_page(F.col("html")))
                .filter(has_embedded_png(F.col("html"))))
        emb = embedded_png_rows(cand).unionByName(
            pdf_image_rows(pdf_rows.filter(has_pdf_images(F.col("html"))),
                           pdf_password=pdf_password))
        if salt_partitions:
            emb = emb.repartition(
                salt_partitions, F.xxhash64(F.col("url"), F.lit(0x5A17)))
        emb_in = emb.select(
            F.concat_ws(SEP, F.col("url"),
                        F.col("img_idx").cast("string")).alias("url"),
            "html", "lang")
        # forward the FULL recognition config (encoder_artifact /
        # word_silver / freq_dict): the kNN index in protos_bc is
        # built in the artifact's embedding space, so embedded /
        # scanned-PDF crops must be embedded with the same encoder
        # or query and index spaces silently diverge
        emb_ocr = ocr_branch(emb_in, protos_bc, conf_thres, iou_thres,
                             anchor_margin, spell_check, recognizer,
                             encoder_artifact=encoder_artifact,
                             word_silver=word_silver,
                             freq_dict=freq_dict)
        emb_texts = (
            emb_ocr
            .select(
                F.split_part(F.col("url"), F.lit(SEP), F.lit(1)).alias("url"),
                F.split_part(F.col("url"), F.lit(SEP), F.lit(2))
                .cast("int").alias("img_idx"),
                "extracted_text", "n_chars")
            .filter(F.col("extracted_text").isNotNull())
            .groupBy("url")
            .agg(
                F.concat_ws("\n", F.expr(
                    "transform(array_sort(collect_list(struct(img_idx, "
                    "extracted_text))), x -> x.extracted_text)"))
                .alias("_emb_text"),
                F.sum("n_chars").cast("int").alias("_emb_chars"))
        )
        def _fuse(branch_df):
            # text layer first, then embedded-image OCR in image order;
            # a pure image scan (empty text layer) yields OCR text alone
            return (
                branch_df.join(emb_texts, "url", "left")
                .select(
                    "url",
                    F.when(
                        F.col("_emb_text").isNotNull(),
                        F.when(F.length(F.coalesce("extracted_text",
                                                   F.lit(""))) > 0,
                               F.concat_ws("\n", "extracted_text",
                                           "_emb_text"))
                        .otherwise(F.col("_emb_text")))
                    .otherwise(F.col("extracted_text"))
                    .alias("extracted_text"),
                    # n_chars is the OCR-char count (OCR_OUT_SCHEMA
                    # note): a dom/pdf page is 0 until embedded-image OCR
                    # contributes, so the fusion OVERWRITES it with the
                    # embedded-OCR sum (the page's total recognized-char
                    # count, not its text length)
                    F.coalesce(F.col("_emb_chars"), F.col("n_chars"))
                    .alias("n_chars"),
                    "ok", "error", "branch",
                    *(["char_text"] if emit_char_text else []))
            )

        # ONE fusion join over the combined dom+pdf stream (was one
        # join per branch — same rows, half the join stages)
        other = _fuse(other)

    return ocr.withColumn("branch", F.lit("ocr")).unionByName(other)
