"""Round-trip and OOXML-resolution tests for the PPTX codec."""

import io
import zipfile

import pytest

from ocr_search_spark.training.pptxmini import decode_pptx, encode_pptx, is_pptx


def test_roundtrip_multislide():
    slides = [
        ["title words here", "body paragraph one", "body two"],
        ["second slide alpha"],
        [],
        ["fourth & final <slide>", "x"],
    ]
    data = encode_pptx(slides)
    assert is_pptx(data)
    assert decode_pptx(data) == slides


def test_deterministic_bytes():
    slides = [["a b c", "d"]]
    assert encode_pptx(slides) == encode_pptx(slides)


def test_runs_concatenate_and_br():
    # multi-word paragraphs are written as two <a:r> runs; \n as <a:br/>
    slides = [["alpha beta gamma", "line1\nline2"]]
    assert decode_pptx(encode_pptx(slides)) == slides


def test_slide_order_follows_sldidlst_not_names():
    # Build a deck, then swap slide1/slide2 CONTENT while keeping
    # sldIdLst pointing rId1->slide1, rId2->slide2 — then reverse the
    # rels targets: order must follow the rels resolution, not names.
    data = encode_pptx([["first"], ["second"]])
    z = zipfile.ZipFile(io.BytesIO(data))
    parts = {n: z.read(n) for n in z.namelist()}
    rels = parts["ppt/_rels/presentation.xml.rels"]
    rels = rels.replace(b"slides/slide1.xml", b"TMP").replace(
        b"slides/slide2.xml", b"slides/slide1.xml"
    ).replace(b"TMP", b"slides/slide2.xml")
    parts["ppt/_rels/presentation.xml.rels"] = rels
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n, b in sorted(parts.items()):
            out.writestr(n, b)
    assert decode_pptx(buf.getvalue()) == [["second"], ["first"]]


def test_not_a_zip_raises():
    with pytest.raises(ValueError, match="not a zip"):
        decode_pptx(b"%PDF-1.4 nope")
    assert not is_pptx(b"%PDF-1.4 nope")


def test_missing_slide_part_raises():
    data = encode_pptx([["only"]])
    z = zipfile.ZipFile(io.BytesIO(data))
    parts = {n: z.read(n) for n in z.namelist() if "slide1" not in n}
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n, b in sorted(parts.items()):
            out.writestr(n, b)
    with pytest.raises(ValueError, match="missing slide part"):
        decode_pptx(buf.getvalue())


def test_dangling_rid_raises():
    data = encode_pptx([["only"]])
    z = zipfile.ZipFile(io.BytesIO(data))
    parts = {n: z.read(n) for n in z.namelist()}
    parts["ppt/presentation.xml"] = parts["ppt/presentation.xml"].replace(
        b'r:id="rId1"', b'r:id="rId9"'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n, b in sorted(parts.items()):
            out.writestr(n, b)
    with pytest.raises(ValueError, match="dangling slide relationship"):
        decode_pptx(buf.getvalue())


def test_xml_escaping_roundtrip():
    slides = [["a<b>&c", "quotes \"x\" 'y'"]]
    assert decode_pptx(encode_pptx(slides)) == slides

