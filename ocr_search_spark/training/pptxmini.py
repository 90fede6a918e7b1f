"""Minimal, dependency-free PPTX text codec (stdlib zipfile + xml.etree).

The reference converts PPTX by shelling out to LibreOffice
(``soffice --convert-to pdf`` — TypeConverter.class.js:64-96) and then
walking the PDF. No office suite exists in this container, but PPTX
itself is an OOXML package (ECMA-376, public): a zip of XML parts wired
together by relationship files. The text a pipeline needs lives in
DrawingML ``<a:t>`` runs inside each slide part. This module implements
the subset:

* ``encode_pptx``  — slides (list of paragraph strings each) → a real
  .pptx zip: ``[Content_Types].xml``, package rels, presentation part
  with an ordered ``sldIdLst``, per-slide rels, and slide XML whose
  paragraphs carry one-or-more ``<a:r><a:t>`` runs. Deterministic
  bytes (pinned zip timestamps) so fixtures hash stably.
* ``decode_pptx``  — .pptx bytes → per-slide ordered paragraph texts,
  resolved the way a real consumer must: package rels → officeDocument
  part → ``sldIdLst`` r:id order → presentation rels → slide parts;
  runs concatenate within a paragraph, ``<a:br/>`` becomes ``\\n``.

Slide ORDER comes from ``sldIdLst`` + the rels map, never from zip
member order or filename sorting — reordering slides in a deck edits
only presentation.xml, and a parser keyed on names silently breaks.
Malformed packages raise ValueError.

Scale note: like png/wav/pdfmini this is pure bytes→text, run inside
Arrow-batched ``mapInPandas`` (operators/convert.py); zip inflate cost
is per-document and embarrassingly parallel.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree as ET

__all__ = [
    "encode_pptx",
    "decode_pptx",
    "is_pptx",
]

_NS_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_NS_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_NS_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_NS_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
_NS_CT = "http://schemas.openxmlformats.org/package/2006/content-types"
_REL_OFFICEDOC = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"
)
_REL_SLIDE = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide"
)


# --------------------------------------------------------------- writer


def _xml_esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def encode_pptx(slides: list[list[str]]) -> bytes:
    """Paragraph texts per slide → deterministic .pptx bytes.

    Paragraphs are split into two ``<a:r>`` runs when they contain a
    space (round-trip must re-concatenate runs, so fixtures exercise
    that path); embedded ``\\n`` becomes ``<a:br/>``.
    """
    n = len(slides)
    parts: dict[str, bytes] = {}

    overrides = "".join(
        f'<Override PartName="/ppt/slides/slide{i + 1}.xml" '
        f'ContentType="application/vnd.openxmlformats-officedocument.'
        f'presentationml.slide+xml"/>'
        for i in range(n)
    )
    parts["[Content_Types].xml"] = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Types xmlns="{_NS_CT}">'
        f'<Default Extension="rels" ContentType="application/vnd.'
        f'openxmlformats-package.relationships+xml"/>'
        f'<Default Extension="xml" ContentType="application/xml"/>'
        f'<Override PartName="/ppt/presentation.xml" ContentType="application/'
        f'vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>'
        f"{overrides}</Types>"
    ).encode()

    parts["_rels/.rels"] = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_REL}">'
        f'<Relationship Id="rId1" Type="{_REL_OFFICEDOC}" '
        f'Target="ppt/presentation.xml"/></Relationships>'
    ).encode()

    sld_ids = "".join(
        f'<p:sldId id="{256 + i}" r:id="rId{i + 1}"/>' for i in range(n)
    )
    parts["ppt/presentation.xml"] = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:presentation xmlns:p="{_NS_P}" xmlns:r="{_NS_R}">'
        f"<p:sldIdLst>{sld_ids}</p:sldIdLst></p:presentation>"
    ).encode()

    rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="{_REL_SLIDE}" '
        f'Target="slides/slide{i + 1}.xml"/>'
        for i in range(n)
    )
    parts["ppt/_rels/presentation.xml.rels"] = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_REL}">{rels}</Relationships>'
    ).encode()

    for i, paras in enumerate(slides):
        ps = []
        for text in paras:
            runs = []
            for seg_i, seg in enumerate(text.split("\n")):
                if seg_i:
                    runs.append("<a:br/>")
                sp = seg.find(" ")
                if 0 < sp < len(seg) - 1:
                    runs.append(f"<a:r><a:t>{_xml_esc(seg[: sp + 1])}</a:t></a:r>")
                    runs.append(f"<a:r><a:t>{_xml_esc(seg[sp + 1 :])}</a:t></a:r>")
                else:
                    runs.append(f"<a:r><a:t>{_xml_esc(seg)}</a:t></a:r>")
            ps.append(f"<a:p>{''.join(runs)}</a:p>")
        parts[f"ppt/slides/slide{i + 1}.xml"] = (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:sld xmlns:p="{_NS_P}" xmlns:a="{_NS_A}"><p:cSld><p:spTree>'
            f'<p:sp><p:txBody>{"".join(ps)}</p:txBody></p:sp>'
            f"</p:spTree></p:cSld></p:sld>"
        ).encode()

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(parts):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, parts[name])
    return buf.getvalue()


# --------------------------------------------------------------- parser


def _read_rels(z: zipfile.ZipFile, part: str) -> dict[str, tuple[str, str]]:
    """Relationship part for ``part`` → {Id: (Type, resolved target)}."""
    if "/" in part:
        base, name = part.rsplit("/", 1)
        rels_name = f"{base}/_rels/{name}.rels"
        prefix = base + "/"
    else:
        rels_name = f"_rels/{part}.rels" if part else "_rels/.rels"
        prefix = ""
    try:
        xml = z.read(rels_name)
    except KeyError:
        raise ValueError(f"missing relationships part {rels_name}") from None
    out: dict[str, tuple[str, str]] = {}
    for rel in ET.fromstring(xml).findall(f"{{{_NS_REL}}}Relationship"):
        target = rel.get("Target", "")
        if target.startswith("/"):
            resolved = target[1:]
        else:
            resolved = prefix + target
        # normalize ../ segments
        segs: list[str] = []
        for seg in resolved.split("/"):
            if seg == "..":
                if segs:
                    segs.pop()
            elif seg not in ("", "."):
                segs.append(seg)
        out[rel.get("Id", "")] = (rel.get("Type", ""), "/".join(segs))
    return out


def _para_text(p: ET.Element) -> str:
    out: list[str] = []
    for node in p.iter():
        if node.tag == f"{{{_NS_A}}}t":
            out.append(node.text or "")
        elif node.tag == f"{{{_NS_A}}}br":
            out.append("\n")
    return "".join(out)


def decode_pptx(data: bytes) -> list[list[str]]:
    """.pptx bytes → per-slide paragraph texts in sldIdLst order."""
    try:
        z = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as e:
        raise ValueError(f"not a zip/pptx: {e}") from None
    with z:
        pkg_rels = _read_rels(z, "")
        pres_part = next(
            (t for (typ, t) in pkg_rels.values() if typ == _REL_OFFICEDOC), None
        )
        if pres_part is None:
            raise ValueError("package has no officeDocument relationship")
        try:
            pres_xml = z.read(pres_part)
        except KeyError:
            raise ValueError(f"missing presentation part {pres_part}") from None
        try:
            pres = ET.fromstring(pres_xml)
        except ET.ParseError as e:
            raise ValueError(f"bad presentation XML: {e}") from None
        rid_attr = f"{{{_NS_R}}}id"
        rids = [
            sld.get(rid_attr)
            for sld in pres.iter(f"{{{_NS_P}}}sldId")
        ]
        pres_rels = _read_rels(z, pres_part)
        slides: list[list[str]] = []
        for rid in rids:
            if rid not in pres_rels:
                raise ValueError(f"dangling slide relationship {rid}")
            _, slide_part = pres_rels[rid]
            try:
                slide_xml = z.read(slide_part)
            except KeyError:
                raise ValueError(f"missing slide part {slide_part}") from None
            try:
                root = ET.fromstring(slide_xml)
            except ET.ParseError as e:
                raise ValueError(f"bad slide XML in {slide_part}: {e}") from None
            slides.append(
                [_para_text(p) for p in root.iter(f"{{{_NS_A}}}p")]
            )
        return slides


def is_pptx(data: bytes) -> bool:
    """Cheap container sniff: zip magic + a presentation part."""
    if not data.startswith(b"PK\x03\x04"):
        return False
    return re.search(rb"ppt/presentation\.xml", data) is not None
