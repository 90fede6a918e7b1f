"""Minimal, dependency-free PDF text codec (stdlib zlib only).

The reference's conversion chain shells out to poppler per file
(``pdftotext`` / ``pdfinfo`` / ``pdftoppm`` — TypeConverter.class.js:24-191,
PdfUtil.class.js:41-164, one subprocess per page behind a numParallel=1
queue). None of those binaries exist in this container, but the PDF
format itself (ISO 32000-1, public) is parseable with what IS here:
objects are plain text, content streams are zlib-deflated, and the text
operators (Tj/TJ/'/") are a tiny grammar. This module implements the
subset a text-extraction pipeline needs:

* ``encode_pdf``  — lines → a real multi-page PDF 1.4 file: catalog /
  pages tree / Type1 font / per-page FlateDecode content streams /
  xref table / trailer. Used to build fixtures without poppler, and as
  the write side of round-trip gates.
* ``decode_pdf``  — PDF bytes → per-page ordered text lines: object
  scan honouring /Length framed streams, /Root → /Pages → /Kids walk
  (nested page trees), /Contents (single or array), FlateDecode,
  and a content tokenizer for literal ``(…)`` strings (all escapes,
  nested parens, octal), hex ``<…>`` strings, ``Tj``/``'``/``"``/``TJ``
  shows and ``Td``/``TD``/``T*``/``BT`` line breaks.

Line semantics match pdftotext's layout=off behaviour on these files:
every text-position operator starts a new line; shows between two line
moves concatenate. Truncated or malformed input raises ValueError.

Scale note: the codec is pure bytes→lines with no I/O; on the cluster
it runs inside Arrow-batched ``mapInPandas`` (operators/convert.py)
exactly like the PNG/WAV codecs, so per-document cost is the only cost
and partitioning/skew handling is inherited from the extraction stage.
"""

from __future__ import annotations

import re
import zlib

__all__ = ["encode_pdf", "decode_pdf"]


# --------------------------------------------------------------- writer


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def encode_pdf(lines: list[str], lines_per_page: int = 8, compress: bool = True) -> bytes:
    """Render ``lines`` as a multi-page PDF, ``lines_per_page`` per page.

    Text must be latin-1 encodable (the corpus payloads are ASCII);
    anything else raises ValueError rather than silently mojibake-ing.
    """
    if lines_per_page < 1:
        raise ValueError("lines_per_page must be >= 1")
    pages = [lines[i : i + lines_per_page] for i in range(0, len(lines), lines_per_page)]
    if not pages:
        pages = [[]]
    n_pages = len(pages)
    objs: dict[int, bytes] = {}
    page_nums = [4 + 2 * i for i in range(n_pages)]
    content_nums = [5 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    for i, page_lines in enumerate(pages):
        parts = ["BT /F1 12 Tf 14 TL 72 720 Td"]
        for j, ln in enumerate(page_lines):
            if j:
                parts.append("T*")
            parts.append(f"({_esc(ln)}) Tj")
        parts.append("ET")
        try:
            stream = " ".join(parts).encode("latin-1")
        except UnicodeEncodeError as e:
            raise ValueError(f"non-latin-1 text cannot be encoded: {e}") from None
        if compress:
            body = zlib.compress(stream)
            head = f"<< /Length {len(body)} /Filter /FlateDecode >>"
        else:
            body = stream
            head = f"<< /Length {len(body)} >>"
        objs[content_nums[i]] = head.encode() + b"\nstream\n" + body + b"\nendstream"
        objs[page_nums[i]] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {content_nums[i]} 0 R >>"
        ).encode()
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_pos = len(out)
    maxn = max(objs)
    out += f"xref\n0 {maxn + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for n in range(1, maxn + 1):
        out += f"{offsets[n]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {maxn + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n"
    ).encode()
    return bytes(out)


# --------------------------------------------------------------- parser

_OBJ_HEAD = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_REF = re.compile(rb"(\d+)\s+\d+\s+R\b")


def _scan_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """All ``N 0 obj … endobj`` bodies → {num: (dict_text, stream|None)}.

    Streams are framed by the declared /Length so binary bodies that
    happen to contain ``endobj`` cannot derail the scan; a missing or
    indirect /Length falls back to searching ``endstream``.
    """
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    pos = 0
    while True:
        m = _OBJ_HEAD.search(data, pos)
        if m is None:
            break
        num = int(m.group(1))
        body_start = m.end()
        sm = re.compile(rb"\bstream\r?\n").search(data, body_start)
        em = data.find(b"endobj", body_start)
        if em < 0:
            raise ValueError(f"object {num}: missing endobj")
        if sm is not None and sm.start() < em:
            head = data[body_start : sm.start()]
            lm = re.search(rb"/Length\s+(\d+)(?!\s+\d+\s+R)", head)
            if lm is not None:
                s0 = sm.end()
                s1 = s0 + int(lm.group(1))
                if s1 > len(data):
                    raise ValueError(f"object {num}: stream exceeds file")
                stream = data[s0:s1]
                tail = data.find(b"endstream", s1)
            else:
                s0 = sm.end()
                tail = data.find(b"endstream", s0)
                if tail < 0:
                    raise ValueError(f"object {num}: missing endstream")
                stream = data[s0:tail].rstrip(b"\r\n")
            if tail < 0:
                raise ValueError(f"object {num}: missing endstream")
            em = data.find(b"endobj", tail)
            if em < 0:
                raise ValueError(f"object {num}: missing endobj after stream")
            objs[num] = (head, stream)
            pos = em + 6
        else:
            objs[num] = (data[body_start:em], None)
            pos = em + 6
    if not objs:
        raise ValueError("no PDF objects found")
    return objs


def _dict_ref(head: bytes, key: bytes) -> int | None:
    m = re.search(re.escape(key) + rb"\s+(\d+)\s+\d+\s+R", head)
    return int(m.group(1)) if m else None


def _kids(head: bytes) -> list[int]:
    m = re.search(rb"/Kids\s*\[([^\]]*)\]", head)
    if m is None:
        return []
    return [int(r.group(1)) for r in _REF.finditer(m.group(1))]


def _page_order(objs: dict[int, tuple[bytes, bytes | None]]) -> list[int]:
    """Leaf /Type /Page objects in /Root → /Pages → /Kids document order."""
    root = None
    for head, _ in objs.values():
        if re.search(rb"/Type\s*/Catalog\b", head):
            root = head
            break
    if root is None:
        raise ValueError("no /Catalog object")
    pages_ref = _dict_ref(root, b"/Pages")
    if pages_ref is None or pages_ref not in objs:
        raise ValueError("catalog has no resolvable /Pages")
    order: list[int] = []
    seen: set[int] = set()

    def walk(num: int) -> None:
        if num in seen:
            raise ValueError("cycle in page tree")
        seen.add(num)
        head, _ = objs[num]
        if re.search(rb"/Type\s*/Page\b(?!s)", head):
            order.append(num)
            return
        for kid in _kids(head):
            if kid not in objs:
                raise ValueError(f"dangling /Kids ref {kid}")
            walk(kid)

    walk(pages_ref)
    return order


def _content_streams(
    head: bytes, objs: dict[int, tuple[bytes, bytes | None]]
) -> bytes:
    arr = re.search(rb"/Contents\s*\[([^\]]*)\]", head)
    if arr is not None:
        refs = [int(r.group(1)) for r in _REF.finditer(arr.group(1))]
    else:
        one = _dict_ref(head, b"/Contents")
        refs = [one] if one is not None else []
    chunks = []
    for ref in refs:
        if ref not in objs:
            raise ValueError(f"dangling /Contents ref {ref}")
        chead, stream = objs[ref]
        if stream is None:
            raise ValueError(f"/Contents object {ref} has no stream")
        if re.search(rb"/Filter\s*/FlateDecode\b", chead) or re.search(
            rb"/Filter\s*\[\s*/FlateDecode\s*\]", chead
        ):
            try:
                stream = zlib.decompress(stream)
            except zlib.error as e:
                raise ValueError(f"bad FlateDecode stream in obj {ref}: {e}") from None
        elif re.search(rb"/Filter\b", chead):
            raise ValueError(f"unsupported /Filter in obj {ref}")
        chunks.append(stream)
    return b"\n".join(chunks)


_ESCAPES = {
    b"n"[0]: "\n", b"r"[0]: "\r", b"t"[0]: "\t",
    b"b"[0]: "\b", b"f"[0]: "\f",
    b"("[0]: "(", b")"[0]: ")", b"\\"[0]: "\\",
}


def _read_literal(data: bytes, pos: int) -> tuple[str, int]:
    """Literal string starting at ``(``; returns (text, pos-after-``)``)."""
    assert data[pos : pos + 1] == b"("
    pos += 1
    depth = 1
    out: list[str] = []
    n = len(data)
    while pos < n:
        c = data[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                raise ValueError("string ends inside escape")
            e = data[pos]
            if 0x30 <= e <= 0x37:  # octal, 1-3 digits
                oct_digits = chr(e)
                pos += 1
                for _ in range(2):
                    if pos < n and 0x30 <= data[pos] <= 0x37:
                        oct_digits += chr(data[pos])
                        pos += 1
                out.append(chr(int(oct_digits, 8) & 0xFF))
            elif e in (0x0A, 0x0D):  # line continuation
                pos += 1
                if e == 0x0D and pos < n and data[pos] == 0x0A:
                    pos += 1
            else:
                out.append(_ESCAPES.get(e, chr(e)))
                pos += 1
        elif c == 0x28:  # (
            depth += 1
            out.append("(")
            pos += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return "".join(out), pos + 1
            out.append(")")
            pos += 1
        else:
            out.append(chr(c))
            pos += 1
    raise ValueError("unterminated literal string")


def _read_hex(data: bytes, pos: int) -> tuple[str, int]:
    assert data[pos : pos + 1] == b"<"
    end = data.find(b">", pos)
    if end < 0:
        raise ValueError("unterminated hex string")
    digits = re.sub(rb"\s+", b"", data[pos + 1 : end])
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii")).decode("latin-1"), end + 1


_DELIMS = b"()<>[]{}/%"


def _page_lines(content: bytes) -> list[str]:
    """Tokenize one page's content; text-show strings grouped into lines.

    ``Td``/``TD``/``T*``/``BT`` and the implicit next-line of ``'``/``"``
    start a new line; consecutive shows without a move concatenate.
    """
    lines: list[str] = []
    cur: list[str] = []
    pending: list[str] = []  # operand stack of string values

    def break_line() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    pos, n = 0, len(content)
    while pos < n:
        c = content[pos : pos + 1]
        if c in b" \t\r\n\x00\x0c":
            pos += 1
        elif c == b"%":  # comment to end of line
            nl = content.find(b"\n", pos)
            pos = n if nl < 0 else nl + 1
        elif c == b"(":
            s, pos = _read_literal(content, pos)
            pending.append(s)
        elif c == b"<":
            if content[pos : pos + 2] == b"<<":  # inline dict — skip tokenwise
                pos += 2
            else:
                s, pos = _read_hex(content, pos)
                pending.append(s)
        elif c in b")>[]{}/":
            if c == b"/":  # name token
                m = re.compile(rb"/[^\s()<>\[\]{}/%]*").match(content, pos)
                pos = m.end()
            else:
                pos += 1
        else:
            m = re.compile(rb"[^\s()<>\[\]{}/%]+").match(content, pos)
            tok = m.group(0)
            pos = m.end()
            if re.fullmatch(rb"[+-]?[0-9.]+", tok):
                continue  # numeric operand (e.g. TJ kerning) — keep strings
            if tok == b"Tj":
                if pending:
                    cur.append(pending[-1])
            elif tok == b"'":
                break_line()
                if pending:
                    cur.append(pending[-1])
            elif tok == b'"':
                break_line()
                if pending:
                    cur.append(pending[-1])
            elif tok == b"TJ":
                cur.extend(pending)  # array form: every string operand shows
            elif tok in (b"Td", b"TD", b"T*", b"BT"):
                break_line()
            elif tok == b"ET":
                break_line()
            pending.clear()
    break_line()
    return lines


def decode_pdf(data: bytes) -> list[list[str]]:
    """PDF bytes → pages, each a list of text lines in reading order."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (bad header)")
    objs = _scan_objects(data)
    pages = _page_order(objs)
    out: list[list[str]] = []
    for num in pages:
        head, _ = objs[num]
        content = _content_streams(head, objs)
        out.append(_page_lines(content))
    return out
