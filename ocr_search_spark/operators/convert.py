"""Container-format conversion: PDF/PPTX/PNG payloads → interleaved spans.

The reference's TypeConverter chain (TypeConverter.class.js:24-191)
converts one file at a time behind a numParallel=1 queue: PPTX →
LibreOffice → PDF → pdftoppm per-page PNG + pdftotext per-page text.
Here the same conversion is a single Arrow-batched ``mapInPandas``
stage over a binary payload column, using the engine's dependency-free
codecs (training/pdfmini.py, pptxmini.py, docxmini.py, png.py +
ocrglyph.py), so a
10^12-document corpus converts at partition parallelism with zero
subprocess fan-out and zero driver involvement.

Output shape is the engine's interleaved span contract (schemas.SPAN):
per page/slide one ``media`` span naming the rendered page image
(``<doc_id>/page-<i>.png`` — the flat rename of
ProcessDirector.class.js:119-141 extended with a page index) followed
by one ``text`` span per extracted line/paragraph, offsets equal to
final array positions. The result feeds ``extract_spans`` and the
postings/search stack UNCHANGED — pytest drives PDF bytes → spans →
postings → a search hit end-to-end.

Failure semantics are X2 (tolerate-and-record): an undecodable payload
yields an empty span array plus the error string; the stage never
throws on data.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ocr_search_spark.schemas import SPAN  # noqa: F401  (shape contract)

SPANS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "n_pages int, error string"
)


def _pages_to_spans(doc_id: str, pages: list[list[str]]) -> list[tuple]:
    spans: list[tuple] = []
    for i, lines in enumerate(pages):
        spans.append(("media", "", f"{doc_id}/page-{i}.png", len(spans)))
        for ln in lines:
            spans.append(("text", ln, "", len(spans)))
    return spans


def sniff_format(payload: bytes) -> str:
    """'pdf' | 'pptx' | 'docx' | 'png' | 'unknown' from magic bytes."""
    if payload[:5] == b"%PDF-":
        return "pdf"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:4] == b"PK\x03\x04":
        from ocr_search_spark.training.docxmini import is_docx
        from ocr_search_spark.training.pptxmini import is_pptx

        if is_pptx(payload):
            return "pptx"
        if is_docx(payload):
            return "docx"
        return "unknown"
    return "unknown"


def _decode_pages(payload: bytes) -> list[list[str]]:
    """Dispatch one payload to its codec → per-page text lines."""
    kind = sniff_format(payload)
    if kind == "pdf":
        from ocr_search_spark.training.pdfmini import decode_pdf

        return decode_pdf(payload)
    if kind == "pptx":
        from ocr_search_spark.training.pptxmini import decode_pptx

        return decode_pptx(payload)
    if kind == "docx":
        from ocr_search_spark.training.docxmini import decode_docx

        return decode_docx(payload)
    if kind == "png":
        from ocr_search_spark.training.ocrglyph import ocr_page
        from ocr_search_spark.training.png import decode_png

        arr = decode_png(payload)
        return [ocr_page(arr[:, :, 0] if arr.ndim == 3 else arr)]
    raise ValueError("unknown container format")


def _convert_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf_batch in batches:
        rows = []
        for doc_id, payload in zip(pdf_batch["doc_id"], pdf_batch["payload"]):
            try:
                pages = _decode_pages(bytes(payload))
                rows.append((doc_id, _pages_to_spans(doc_id, pages), len(pages), None))
            except Exception as exc:
                rows.append((doc_id, [], 0, str(exc)))
        yield pd.DataFrame(rows, columns=["doc_id", "spans", "n_pages", "error"])


def convert_to_spans(df: DataFrame) -> DataFrame:
    """Magic-byte dispatch per row: PDF / PPTX / DOCX / PNG(OCR)
    payloads in one mixed binary column → interleaved spans. The
    TypeConverter chain as one vectorized stage; unknown formats record
    their error."""
    return df.select("doc_id", "payload").mapInPandas(
        _convert_iter, schema=SPANS_SCHEMA
    )


def repartition_payload_bucketed(
    df: DataFrame,
    num_partitions: int,
    bucket_bounds: tuple[int, ...] = (4096, 65536, 1 << 20),
) -> DataFrame:
    """Size-bucketed + salted repartition for BINARY payloads (north
    rule: "OCR-heavy media … size-bucketed batching"). Conversion cost
    scales with payload bytes (Flate inflate, zip walk, pixel OCR), so
    range-partitioning on (length(payload) bucket, salt) keeps one Arrow batch
    from mixing a 100 MB scan PDF with thousands of one-pagers, while
    the salt spreads each bucket over all partitions. Bounds are pinned
    byte thresholds; at 100 TB derive them from
    ``approxQuantile(length(payload), [.5,.9,.99])``."""
    from pyspark.sql import functions as F

    w = F.length("payload")
    bucket = F.lit(0)
    for i, b in enumerate(bucket_bounds):
        bucket = F.when(w >= b, F.lit(i + 1)).otherwise(bucket)
    out = df.withColumn("_pb", bucket).withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(num_partitions))
    )
    return out.repartitionByRange(num_partitions, "_pb", "_salt").drop("_pb", "_salt")
