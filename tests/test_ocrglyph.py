"""Glyph-OCR tests: font invariants, round-trip, noise, PNG transport."""

import numpy as np
import pytest

from ocr_search_spark.training.ocrglyph import (
    FONT,
    GLYPH_H,
    _glyph_array,
    ocr_page,
    render_page,
)


def test_font_invariants():
    # Segmentation relies on: every row inked, every interior column
    # inked (no glyph splits into two column-runs), distinct patterns.
    seen = {}
    for ch, rows in FONT.items():
        assert len(rows) == GLYPH_H
        assert all(r != 0 for r in rows), f"{ch!r} has a blank row"
        g = _glyph_array(ch)
        cols = np.flatnonzero(g.any(axis=0))
        assert (np.diff(cols) == 1).all(), f"{ch!r} has interior blank column"
        key = g.tobytes()
        assert key not in seen, f"{ch!r} duplicates {seen[key]!r}"
        seen[key] = ch


def test_letter_vs_word_gaps():
    # inter-letter gaps stay < 5 blank cols; word gaps >= 5.
    max_trail = max(
        4 - int(np.flatnonzero(_glyph_array(c).any(axis=0))[-1]) for c in FONT
    )
    max_lead = max(int(np.flatnonzero(_glyph_array(c).any(axis=0))[0]) for c in FONT)
    assert max_trail + 1 + max_lead < 5
    assert 0 + 1 + 6 + 0 >= 5  # minimal single-space gap


def test_roundtrip_all_glyphs():
    text = "abcdefghijklm nopqrstuvwxyz 0123456789"
    assert ocr_page(render_page([text])) == [text]


def test_roundtrip_multiline():
    lines = ["the quick brown fox", "jumps over 13 lazy dogs", "end"]
    assert ocr_page(render_page(lines)) == lines


def test_double_space_preserved():
    lines = ["two  gaps here"]
    assert ocr_page(render_page(lines)) == lines


def test_noise_tolerance():
    # flip 2 pixels inside each glyph box; classification must hold.
    lines = ["spark engine 42"]
    img = render_page(lines).copy()
    rng = np.random.default_rng(7)
    x0 = 2  # margin
    for i, ch in enumerate(lines[0]):
        if ch == " ":
            continue
        for _ in range(2):
            r = int(rng.integers(0, 7)) + 2
            c = x0 + i * 6 + int(rng.integers(0, 5))
            img[r, c] = 255 - img[r, c]
    assert ocr_page(img) == lines


def test_png_transport():
    from ocr_search_spark.training.png import decode_png, encode_png

    lines = ["hello png world 99"]
    img = render_page(lines)
    data = encode_png(img[:, :, None], 4)  # gray, Paeth filter
    back = decode_png(data)
    assert back.shape == (*img.shape, 1)
    assert ocr_page(back[:, :, 0]) == lines


def test_unknown_char_raises():
    with pytest.raises(ValueError, match="no glyph"):
        render_page(["UPPER"])


def test_empty_page():
    assert ocr_page(np.full((10, 10), 255, dtype=np.uint8)) == []


def test_scored_ocr_confidence_counts():
    """Scored OCR: clean renders are all exact-template hits; a single
    safe bit flip costs distance exactly 1 on exactly one glyph and
    leaves recognition intact; the page aggregate sums lines."""
    import numpy as np

    from ocr_search_spark.training.ocrglyph import (
        ocr_page,
        ocr_page_scored,
        render_page,
    )

    img = render_page(["hello world", "spark 42"])
    lines, g, d, x = ocr_page_scored(img)
    assert lines == ["hello world", "spark 42"]
    assert (g, d, x) == (17, 0, 17)
    # flip one safe ink pixel (band row and band column both keep ink)
    noisy = img.copy()
    mask = noisy < 128
    flipped = False
    for r in range(mask.shape[0]):
        if flipped or mask[r].sum() < 2:
            continue
        for c in np.flatnonzero(mask[r]):
            if mask[:, c].sum() >= 2:
                noisy[r, c] = 255
                flipped = True
                break
    assert flipped
    lines2, g2, d2, x2 = ocr_page_scored(noisy)
    assert lines2 == lines and g2 == 17
    assert d2 == 1 and x2 == 16
    assert ocr_page(noisy) == lines  # unscored wrapper agrees
