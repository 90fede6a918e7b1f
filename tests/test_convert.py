"""Container conversion on Spark: PDF/PPTX/PNG payloads → spans → search.

Covers the TypeConverter-equivalent stage (operators/convert.py): per
format round-trips through the real codecs inside mapInPandas, the
magic-byte dispatcher on a mixed column, X2 error recording, and the
end-to-end chain PDF bytes → spans → extract → postings → search hit.
"""

import numpy as np
import pytest

from ocr_search_spark.operators.convert import convert_to_spans, sniff_format
from ocr_search_spark.training.ocrglyph import render_page
from ocr_search_spark.training.pdfmini import encode_pdf
from ocr_search_spark.training.png import encode_png
from ocr_search_spark.training.pptxmini import encode_pptx


def _payload_df(spark, rows):
    return spark.createDataFrame(
        [(d, bytearray(p)) for d, p in rows], "doc_id string, payload binary"
    ).repartition(3, "doc_id")


def test_pdf_to_spans_roundtrip(spark):
    lines = [f"alpha beta doc line {i}" for i in range(10)]
    df = _payload_df(spark, [("d1", encode_pdf(lines, lines_per_page=4))])
    out = convert_to_spans(df).collect()
    assert len(out) == 1 and out[0]["error"] is None
    assert out[0]["n_pages"] == 3
    spans = out[0]["spans"]
    # 3 media spans + 10 text spans, offsets are array positions
    assert [s["offset"] for s in spans] == list(range(13))
    assert [s["text"] for s in spans if s["kind"] == "text"] == lines
    assert [s["media_ref"] for s in spans if s["kind"] == "media"] == [
        "d1/page-0.png", "d1/page-1.png", "d1/page-2.png",
    ]


def test_pptx_to_spans_roundtrip(spark):
    slides = [["slide one title", "body text"], ["slide two"]]
    df = _payload_df(spark, [("p1", encode_pptx(slides))])
    out = convert_to_spans(df).collect()[0]
    assert out["error"] is None and out["n_pages"] == 2
    texts = [s["text"] for s in out["spans"] if s["kind"] == "text"]
    assert texts == ["slide one title", "body text", "slide two"]


def test_convert_dispatch_mixed(spark):
    from ocr_search_spark.training.docxmini import encode_docx

    img = render_page(["png doc words"])
    rows = [
        ("pdfdoc", encode_pdf(["pdf doc words"])),
        ("pptdoc", encode_pptx([["pptx doc words"]])),
        ("docdoc", encode_docx([["docx doc words"]])),
        ("pngdoc", encode_png(img[:, :, None], 0)),
        ("baddoc", b"\x00\x01\x02 garbage"),
    ]
    out = {r["doc_id"]: r for r in convert_to_spans(_payload_df(spark, rows)).collect()}
    for d, expect in [
        ("pdfdoc", "pdf doc words"),
        ("pptdoc", "pptx doc words"),
        ("docdoc", "docx doc words"),
        ("pngdoc", "png doc words"),
    ]:
        texts = [s["text"] for s in out[d]["spans"] if s["kind"] == "text"]
        assert texts == [expect], d
        assert out[d]["error"] is None
    assert out["baddoc"]["spans"] == [] and "unknown" in out["baddoc"]["error"]


def test_docx_to_spans_page_breaks(spark):
    from ocr_search_spark.training.docxmini import encode_docx

    pages = [["first page para", "second para"], ["next page text"]]
    out = convert_to_spans(_payload_df(spark, [("w1", encode_docx(pages))]))
    row = out.collect()[0]
    assert row["error"] is None and row["n_pages"] == 2
    assert [s["offset"] for s in row["spans"]] == list(range(5))
    assert [s["text"] for s in row["spans"] if s["kind"] == "text"] == [
        "first page para", "second para", "next page text",
    ]
    assert [s["media_ref"] for s in row["spans"] if s["kind"] == "media"] == [
        "w1/page-0.png", "w1/page-1.png",
    ]


def test_sniff_format():
    from ocr_search_spark.training.docxmini import encode_docx

    assert sniff_format(encode_pdf(["x"])) == "pdf"
    assert sniff_format(encode_pptx([["x"]])) == "pptx"
    assert sniff_format(encode_docx([["x"]])) == "docx"
    arr = np.zeros((3, 3, 1), dtype=np.uint8)
    assert sniff_format(encode_png(arr, 0)) == "png"
    assert sniff_format(b"PK\x03\x04 but not an ooxml doc") == "unknown"
    assert sniff_format(b"???") == "unknown"


def test_pdf_bytes_to_search_hit_end_to_end(spark):
    """The north-star chain: real PDF bytes → spans → extraction →
    postings → a term search that hits the right document."""
    from ocr_search_spark.operators import search, tokenize
    from ocr_search_spark.operators.extract import extract_spans

    docs = _payload_df(
        spark,
        [
            ("da", encode_pdf(["zebra quantum flux", "ordinary words here"])),
            ("db", encode_pdf(["plain content only", "more filler text"])),
        ],
    )
    spans = convert_to_spans(docs).select("doc_id", "spans")
    extracted = extract_spans(spans, impl="columnar")
    postings = tokenize.term_postings(extracted)
    hits = search.match_terms(postings, ["quantum"]).collect()
    assert [h["doc_id"] for h in hits] == ["da"]


def test_convert_error_rows_never_fail_stage(spark):
    # truncated PDF and truncated PPTX both record errors, stage survives
    good = encode_pdf(["ok words"])
    rows = [("t1", good[: len(good) // 3]), ("t2", encode_pptx([["y"]])[:20])]
    out = convert_to_spans(_payload_df(spark, rows)).collect()
    assert all(r["error"] is not None and r["spans"] == [] for r in out)


def test_repartition_payload_bucketed(spark):
    """Size buckets stay together per partition range while salt spreads
    them; conversion output is unchanged by the repartition."""
    from pyspark.sql import functions as F

    from ocr_search_spark.operators.convert import repartition_payload_bucketed

    rows = [(f"s{i}", encode_pdf([f"tiny doc {i}"])) for i in range(30)]
    # one mega payload (many pages)
    rows.append(("mega", encode_pdf([f"mega line {j} padding words" for j in range(2000)])))
    df = _payload_df(spark, rows)
    bucketed = repartition_payload_bucketed(df, 6)
    assert bucketed.columns == ["doc_id", "payload"]  # helpers dropped
    a = sorted(
        (r["doc_id"], len(r["spans"]))
        for r in convert_to_spans(bucketed).collect()
    )
    b = sorted(
        (r["doc_id"], len(r["spans"]))
        for r in convert_to_spans(df).collect()
    )
    assert a == b
    # the mega doc does not share a partition range with the tiny tail
    parts = bucketed.withColumn("pid", F.spark_partition_id()).select(
        "doc_id", "pid"
    ).collect()
    mega_pid = next(p["pid"] for p in parts if p["doc_id"] == "mega")
    tiny_pids = {p["pid"] for p in parts if p["doc_id"] != "mega"}
    assert mega_pid == max(p["pid"] for p in parts)
    assert len(tiny_pids) > 1  # salt actually spreads the small bucket
