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

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ocr_search_spark.schemas import SPAN  # noqa: F401  (shape contract)

SPANS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "n_pages int, error string"
)

OCR_SCHEMA = (
    "media_ref string, text string, n_lines int, "
    "width int, height int, error string"
)

MEDIA_SCHEMA = "media_ref string, payload binary, width int, height int"


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


def _convert_iter(
    decode: Callable[[bytes], list[list[str]]],
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            rows = []
            for doc_id, payload in zip(pdf_batch["doc_id"], pdf_batch["payload"]):
                try:
                    pages = decode(bytes(payload))
                    rows.append(
                        (doc_id, _pages_to_spans(doc_id, pages), len(pages), None)
                    )
                except Exception as exc:
                    rows.append((doc_id, [], 0, str(exc)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "spans", "n_pages", "error"]
            )

    return run


def _to_spans(df: DataFrame, decode) -> DataFrame:
    return df.select("doc_id", "payload").mapInPandas(
        _convert_iter(decode), schema=SPANS_SCHEMA
    )


def pdf_to_spans(df: DataFrame) -> DataFrame:
    """(doc_id, payload=PDF bytes) → interleaved spans, one media +
    N text spans per page (pdfmini.decode_pdf, real Flate parsing)."""
    from ocr_search_spark.training.pdfmini import decode_pdf

    return _to_spans(df, decode_pdf)


def pptx_to_spans(df: DataFrame) -> DataFrame:
    """(doc_id, payload=PPTX bytes) → interleaved spans, one media +
    N text spans per slide (pptxmini.decode_pptx, real OOXML rels)."""
    from ocr_search_spark.training.pptxmini import decode_pptx

    return _to_spans(df, decode_pptx)


def docx_to_spans(df: DataFrame) -> DataFrame:
    """(doc_id, payload=DOCX bytes) → interleaved spans, one media +
    N text spans per page-break-delimited page (docxmini.decode_docx,
    real OOXML rels; reference path TypeConverter.class.js:70-127)."""
    from ocr_search_spark.training.docxmini import decode_docx

    return _to_spans(df, decode_docx)


def convert_to_spans(df: DataFrame) -> DataFrame:
    """Magic-byte dispatch per row: PDF / PPTX / DOCX / PNG(OCR)
    payloads in one mixed binary column → interleaved spans. The
    TypeConverter chain as one vectorized stage; unknown formats record
    their error."""
    return _to_spans(df, _decode_pages)


def _ocr_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ocr_search_spark.training.ocrglyph import ocr_page
    from ocr_search_spark.training.png import decode_png

    for pdf_batch in batches:
        rows = []
        for ref, payload in zip(pdf_batch["media_ref"], pdf_batch["payload"]):
            try:
                arr = decode_png(bytes(payload))
                lines = ocr_page(arr[:, :, 0] if arr.ndim == 3 else arr)
                rows.append(
                    (ref, "\n".join(lines), len(lines),
                     arr.shape[1], arr.shape[0], None)
                )
            except Exception as exc:
                rows.append((ref, None, None, None, None, str(exc)))
        yield pd.DataFrame(
            rows,
            columns=["media_ref", "text", "n_lines", "width", "height", "error"],
        )


def ocr_png_media(media: DataFrame) -> DataFrame:
    """(media_ref, payload=PNG bytes) → recognized text + pixel dims:
    real PNG decode (png.py) + deterministic glyph OCR (ocrglyph.py).
    The Tesseract slot of TypeConverter.class.js:124-191 as an
    Arrow-batched stage."""
    return media.select("media_ref", "payload").mapInPandas(
        _ocr_iter, schema=OCR_SCHEMA
    )


def _render_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ocr_search_spark.training.ocrglyph import render_page
    from ocr_search_spark.training.png import encode_png

    for pdf_batch in batches:
        refs, payloads, ws, hs = [], [], [], []
        for spans in pdf_batch["spans"]:
            ref = None
            lines: list[str] = []

            def flush() -> None:
                if ref is None:
                    return
                img = render_page(lines)
                refs.append(ref)
                payloads.append(encode_png(img[:, :, None], 4))
                ws.append(img.shape[1])
                hs.append(img.shape[0])

            for s in spans:
                kind = s["kind"] if isinstance(s, dict) else s.kind
                if kind == "media":
                    flush()
                    ref = s["media_ref"] if isinstance(s, dict) else s.media_ref
                    lines = []
                else:
                    lines.append(s["text"] if isinstance(s, dict) else s.text)
            flush()
        yield pd.DataFrame(
            {"media_ref": refs, "payload": payloads, "width": ws, "height": hs}
        )


def render_page_media(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) → (media_ref, payload=PNG, width, height): renders
    each media span's page image from the text spans that FOLLOW it
    (until the next media span) — the pdftoppm per-page artifact of
    TypeConverter.class.js:124-141, synthesized deterministically from
    the extracted text so media refs resolve to real bytes. Page images
    use the Paeth row filter; ``ocr_png_media`` recovers the exact page
    text from the output (the round trip is gated)."""
    return docs.select("doc_id", "spans").mapInPandas(
        _render_iter, schema=MEDIA_SCHEMA
    )


LAYOUT_SCHEMA = (
    "doc_id string, page int, seq int, x double, y double, "
    "text string, error string"
)


def _layout_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ocr_search_spark.training.pdfmini import decode_pdf_layout

    for pdf_batch in batches:
        rows = []
        for doc_id, payload in zip(pdf_batch["doc_id"], pdf_batch["payload"]):
            try:
                for p, items in enumerate(decode_pdf_layout(bytes(payload))):
                    for s, (x, y, t) in enumerate(items):
                        rows.append((doc_id, p, s, x, y, t, None))
            except Exception as exc:
                rows.append((doc_id, None, None, None, None, None, str(exc)))
        yield pd.DataFrame(
            rows, columns=["doc_id", "page", "seq", "x", "y", "text", "error"]
        )


def pdf_layout_boxes(df: DataFrame) -> DataFrame:
    """(doc_id, payload=PDF bytes) → positioned text items, one row per
    show-line: (page, seq = content-stream order, x, y in PDF user
    space with y UP, text). The layout-parse face of the codec — feeds
    XY-cut reading order (operators/pagelayout.py) with REAL
    coordinates tracked from Td/TD/TL/T* cursor moves, so multi-column
    pages whose stream order interleaves columns are recoverable."""
    return df.select("doc_id", "payload").mapInPandas(
        _layout_iter, schema=LAYOUT_SCHEMA
    )


def repartition_payload_bucketed(
    df: DataFrame,
    num_partitions: int,
    bucket_bounds: tuple[int, ...] = (4096, 65536, 1 << 20),
) -> DataFrame:
    """Size-bucketed + salted repartition for BINARY payloads — the
    convert-stage twin of extract.repartition_size_bucketed (north rule:
    "OCR-heavy media … size-bucketed batching"). Conversion cost scales
    with payload bytes (Flate inflate, zip walk, pixel OCR), so range-
    partitioning on (length(payload) bucket, salt) keeps one Arrow batch
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


def _pptx_layout_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ocr_search_spark.training.pptxmini import decode_pptx_layout

    for pdf_batch in batches:
        rows = []
        for doc_id, payload in zip(pdf_batch["doc_id"], pdf_batch["payload"]):
            try:
                for p, shapes in enumerate(decode_pptx_layout(bytes(payload))):
                    for s, (x, y, t) in enumerate(shapes):
                        rows.append((doc_id, p, s, x, y, t, None))
            except Exception as exc:
                rows.append((doc_id, None, None, None, None, None, str(exc)))
        yield pd.DataFrame(
            rows, columns=["doc_id", "page", "seq", "x", "y", "text", "error"]
        )


def pptx_layout_boxes(df: DataFrame) -> DataFrame:
    """(doc_id, payload=PPTX bytes) → positioned shapes, one row per
    ``p:sp``: (page = slide idx, seq = shape-tree order, x/y = EMU
    offsets from ``a:xfrm/a:off`` with y DOWN, text). The PPTX face of
    layout parsing; same downstream contract as :func:`pdf_layout_boxes`
    (EMU→px is ``// 9525``)."""
    return df.select("doc_id", "payload").mapInPandas(
        _pptx_layout_iter,
        schema="doc_id string, page int, seq int, x long, y long, "
        "text string, error string",
    )


def _ocr_layout_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ocr_search_spark.training.ocrglyph import ocr_page_boxes
    from ocr_search_spark.training.png import decode_png

    for pdf_batch in batches:
        rows = []
        for doc_id, payload in zip(pdf_batch["doc_id"], pdf_batch["payload"]):
            try:
                arr = decode_png(bytes(payload))
                img = arr[:, :, 0] if arr.ndim == 3 else arr
                for s, (x, y, t) in enumerate(ocr_page_boxes(img)):
                    rows.append((doc_id, 0, s, x, y, t, None))
            except Exception as exc:
                rows.append((doc_id, None, None, None, None, None, str(exc)))
        yield pd.DataFrame(
            rows, columns=["doc_id", "page", "seq", "x", "y", "text", "error"]
        )


def ocr_layout_boxes(df: DataFrame) -> DataFrame:
    """(doc_id, payload=PNG page bytes) → positioned recognized text
    segments: (page=0, seq = scan order, x/y = pixel coords with y
    DOWN, text). The OCR face of layout parsing — where
    ``pdf_layout_boxes``/``pptx_layout_boxes`` read coordinates out of
    the container, here the geometry is RECOVERED optically from the
    rendered page bitmap (ocrglyph.ocr_page_boxes), which is what the
    Tesseract stage of the reference chain would emit (hOCR word
    boxes). Same downstream contract: feed to
    ``operators.pagelayout.reading_order``."""
    return df.select("doc_id", "payload").mapInPandas(
        _ocr_layout_iter,
        schema="doc_id string, page int, seq int, x int, y int, "
        "text string, error string",
    )
