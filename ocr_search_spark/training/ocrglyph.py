"""Deterministic glyph OCR over rendered bitmaps (numpy only).

The reference's OCR step is Tesseract via pdftoppm page PNGs
(TypeConverter.class.js:124-191 renders, then the text side consumes
``pdftotext`` output — PdfUtil.class.js:103-131). Tesseract is not in
this container, so the engine ships a self-contained optical pipeline
that is REAL in every stage a distributed system cares about — render,
PNG-encode, PNG-decode, binarize, line/glyph segmentation, glyph
classification — with the one model-shaped stage (glyph classification)
implemented as nearest-Hamming template matching against a 5×7 bitmap
font instead of an LSTM. That keeps the whole path deterministic and
oracle-checkable while exercising the same plumbing Tesseract would:
binary media spans in, recognized text out, per-row errors recorded.

* ``render_page(lines)``  — text → uint8 grayscale page image (ink=0,
  bg=255): 5×7 glyphs on a 6-px pitch, 3 blank rows between lines.
  Builds the OCR's test inputs.
* ``ocr_page(img)``       — the inverse, but written as an OCR, not a
  decoder: threshold → blank-row line segmentation → blank-column
  glyph segmentation → per-glyph 35-bit template match (minimum
  Hamming distance, deterministic tie-break) → word-gap spacing
  reconstruction. Survives small pixel noise (≤2 flipped bits per
  glyph keeps classification correct for this font).

Font: the classic HD44780-style 5×7 matrix for a-z (small-caps shapes)
and 0-9. Every glyph row and every interior column carries ink, which
the segmentation relies on; ``test_ocrglyph`` asserts both invariants.

Scale note: pages are recognized inside Arrow-batched
``mapInPandas`` (operators/convert.py) — per-document numpy work, no
shuffle, no driver involvement.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "FONT",
    "render_page",
    "ocr_page",
    "render_line",
    "ocr_line_scored",
    "ocr_page_scored",
]

# 7 rows per glyph, 5-bit masks, bit 4 = leftmost column.
FONT: dict[str, tuple[int, ...]] = {
    "a": (0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "b": (0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E),
    "c": (0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E),
    "d": (0x1C, 0x12, 0x11, 0x11, 0x11, 0x12, 0x1C),
    "e": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F),
    "f": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10),
    "g": (0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F),
    "h": (0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "i": (0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "j": (0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C),
    "k": (0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11),
    "l": (0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F),
    "m": (0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11),
    "n": (0x11, 0x11, 0x19, 0x15, 0x13, 0x11, 0x11),
    "o": (0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "p": (0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10),
    "q": (0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D),
    "r": (0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11),
    "s": (0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E),
    "t": (0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "u": (0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "v": (0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "w": (0x11, 0x11, 0x11, 0x15, 0x15, 0x15, 0x0A),
    "x": (0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11),
    "y": (0x11, 0x11, 0x11, 0x0A, 0x04, 0x04, 0x04),
    "z": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F),
    "0": (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    "1": (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "2": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F),
    "3": (0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E),
    "4": (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    "5": (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    "6": (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    "7": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    "8": (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    "9": (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
}

GLYPH_H, GLYPH_W, PITCH, LINE_GAP, MARGIN = 7, 5, 6, 3, 2


def _glyph_array(ch: str) -> np.ndarray:
    rows = FONT[ch]
    return np.array(
        [[(r >> (4 - c)) & 1 for c in range(GLYPH_W)] for r in rows], dtype=np.uint8
    )


def render_line(text: str) -> np.ndarray:
    """One text line → (7, 6·len) binary ink mask (1 = ink)."""
    out = np.zeros((GLYPH_H, PITCH * max(len(text), 1)), dtype=np.uint8)
    for i, ch in enumerate(text):
        if ch == " ":
            continue
        if ch not in FONT:
            raise ValueError(f"no glyph for {ch!r}")
        out[:, i * PITCH : i * PITCH + GLYPH_W] = _glyph_array(ch)
    return out


def render_page(lines: list[str]) -> np.ndarray:
    """Text lines → uint8 grayscale page (ink=0, bg=255), 2-px margin."""
    masks = [render_line(ln) for ln in lines]
    w = max((m.shape[1] for m in masks), default=1)
    h = GLYPH_H * len(masks) + LINE_GAP * max(len(masks) - 1, 0)
    page = np.zeros((h, w), dtype=np.uint8)
    y = 0
    for m in masks:
        page[y : y + GLYPH_H, : m.shape[1]] = m
        y += GLYPH_H + LINE_GAP
    img = np.full(
        (h + 2 * MARGIN, w + 2 * MARGIN), 255, dtype=np.uint8
    )
    img[MARGIN : MARGIN + h, MARGIN : MARGIN + w] = np.where(page == 1, 0, 255)
    return img


# ------------------------------------------------------------- matcher

_TEMPLATES: tuple[list[str], np.ndarray, np.ndarray, dict[bytes, str]] | None = None
_BOX_W = GLYPH_W + 2  # match box wide enough for noise-widened segments


def _templates() -> tuple[list[str], np.ndarray, np.ndarray, dict[bytes, str]]:
    """(chars, stacked padded templates (N,7,BOX_W), widths, exact map)."""
    global _TEMPLATES
    if _TEMPLATES is None:
        chars: list[str] = []
        stack = []
        widths = []
        exact: dict[bytes, str] = {}
        for ch in sorted(FONT):
            g = _glyph_array(ch)
            cols = np.flatnonzero(g.any(axis=0))
            trimmed = g[:, cols[0] : cols[-1] + 1]
            pad = np.zeros((GLYPH_H, _BOX_W), dtype=np.uint8)
            pad[:, : trimmed.shape[1]] = trimmed
            chars.append(ch)
            stack.append(pad)
            widths.append(trimmed.shape[1])
            exact[trimmed.tobytes() + bytes([trimmed.shape[1]])] = ch
        _TEMPLATES = (chars, np.stack(stack), np.array(widths), exact)
    return _TEMPLATES


def _classify_scored(seg: np.ndarray) -> tuple[str, int]:
    """Trimmed glyph segment → (nearest-Hamming font char, distance).

    Clean renders hit an exact-pattern dict (O(1), distance 0); noisy
    segments fall back to one vectorized Hamming compare against the
    whole font (plus a width-difference penalty so narrow glyphs don't
    absorb wide ones) — the winning distance IS the per-glyph OCR
    confidence signal (0 = template-perfect)."""
    chars, stack, widths, exact = _templates()
    h, w = seg.shape
    if h == GLYPH_H:
        hit = exact.get(seg.tobytes() + bytes([w]))
        if hit is not None:
            return hit, 0
    a = np.zeros((GLYPH_H, _BOX_W), dtype=np.uint8)
    a[: min(h, GLYPH_H), : min(w, _BOX_W)] = seg[:GLYPH_H, :_BOX_W]
    d = (stack != a[None]).sum(axis=(1, 2)) + np.abs(widths - min(w, _BOX_W))
    i = int(np.argmin(d))
    return chars[i], int(d[i])


def ocr_line_scored(mask: np.ndarray) -> tuple[str, int, int, int]:
    """(7, W) binary ink mask → (text, n_glyphs, dist_sum, n_exact):
    the recognized line plus its CONFIDENCE raw counts — glyphs
    classified, total winning Hamming distance, and glyphs that hit a
    font template exactly (distance 0)."""
    col_ink = mask.any(axis=0)
    cols = np.flatnonzero(col_ink)
    if len(cols) == 0:
        return "", 0, 0, 0
    out: list[str] = []
    runs: list[tuple[int, int]] = []
    start = cols[0]
    prev = cols[0]
    for c in cols[1:]:
        if c > prev + 1:
            runs.append((start, prev))
            start = c
        prev = c
    runs.append((start, prev))
    # Noise can erase a column and split one glyph into two runs. A
    # merged pair that still fits one glyph box (span <= 5) cannot be
    # two real letters (narrowest trimmed pair spans >= 7), so merge.
    merged: list[tuple[int, int]] = []
    for s, e in runs:
        if merged and s - merged[-1][1] == 2 and e - merged[-1][0] + 1 <= GLYPH_W:
            merged[-1] = (merged[-1][0], e)
        else:
            merged.append((s, e))
    runs = merged
    last_end = None
    n_glyphs = dist_sum = n_exact = 0
    for s, e in runs:
        if last_end is not None:
            gap = s - last_end - 1
            if gap >= 5:
                out.append(" " * max(1, round((gap - 1) / PITCH)))
        ch, d = _classify_scored(mask[:, s : e + 1])
        out.append(ch)
        n_glyphs += 1
        dist_sum += d
        n_exact += d == 0
        last_end = e
    return "".join(out), n_glyphs, dist_sum, n_exact


def ocr_page(img: np.ndarray) -> list[str]:
    """uint8 grayscale page → recognized lines (threshold at 128)."""
    return ocr_page_scored(img)[0]


def ocr_page_scored(img: np.ndarray) -> tuple[list[str], int, int, int]:
    """uint8 grayscale page → (lines, n_glyphs, dist_sum, n_exact):
    recognition plus page-level CONFIDENCE raw counts (Σ over lines of
    :func:`ocr_line_scored`) — the per-page quality signal an
    extraction pipeline thresholds before trusting OCR text."""
    if img.ndim == 3:
        img = img.mean(axis=2)
    mask = (img < 128).astype(np.uint8)
    row_ink = mask.any(axis=1)
    rows = np.flatnonzero(row_ink)
    if len(rows) == 0:
        return [], 0, 0, 0
    lines: list[str] = []
    n_glyphs = dist_sum = n_exact = 0
    bands: list[tuple[int, int]] = []
    start = prev = rows[0]
    for r in rows[1:]:
        if r > prev + 1:
            bands.append((start, prev))
            start = r
        prev = r
    bands.append((start, prev))
    for y0, y1 in bands:
        t, g, d, x = ocr_line_scored(mask[y0 : y1 + 1])
        lines.append(t)
        n_glyphs += g
        dist_sum += d
        n_exact += x
    return lines, n_glyphs, dist_sum, n_exact
