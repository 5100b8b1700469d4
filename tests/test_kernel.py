"""Pure-kernel golden tests — the analog of the reference's annotated-image
fixtures (/root/reference/tests/test_ocr.py:33-60): exact byte equality of
extract on spec'd inputs, run WITHOUT Spark (SURVEY.md §5)."""

import random

from ankiocr_spark.kernel import (
    extract_main_text,
    extract_row,
    extract_spans,
    extract_record,
    MAX_HTML_BYTES,
)
from ankiocr_spark.fixtures import build_page, gen_rows, MALFORMED_HTML


def test_basic_extraction():
    html = (
        b"<html><head><script>junk()</script></head><body>"
        b"<nav><a href='/'>home</a><a href='/x'>about us page</a></nav>"
        b"<h1>Main Title Here</h1>"
        b"<p>This paragraph is long enough to be kept by the extractor rule.</p>"
        b"<p>tiny</p>"
        b"<div><a href='1'>link one text</a> <a href='2'>link two text</a></div>"
        b"<footer><p>copyright two thousand</p></footer>"
        b"</body></html>"
    )
    out = extract_main_text(html)
    assert out == (
        "Main Title Here\n"
        "This paragraph is long enough to be kept by the extractor rule."
    )


def test_spans_scoring():
    html = (
        b"<body><h2>Hi</h2><h2>Long Enough Heading</h2>"
        b"<p>A paragraph with plenty of characters to clear the floor.</p>"
        b"<p><a href='x'>this entire block is one big anchor so dropped</a></p></body>"
    )
    blocks = extract_spans(html)
    by_text = {b.text: b for b in blocks}
    assert not by_text["Hi"].kept  # heading below MIN_HEADING_CHARS
    assert by_text["Long Enough Heading"].kept
    assert by_text["A paragraph with plenty of characters to clear the floor."].kept
    anchor = by_text["this entire block is one big anchor so dropped"]
    assert anchor.link_density == 1.0 and not anchor.kept


def test_entity_and_whitespace_normalization():
    html = b"<p>alpha &amp; beta\n\t gamma   delta and some more padding words</p>"
    assert extract_main_text(html) == "alpha & beta gamma delta and some more padding words"


def test_malformed_and_null():
    rec = extract_record("u1", MALFORMED_HTML)
    assert rec["error"] is None and rec["extracted_text"] == ""
    rec = extract_record("u2", None)
    assert rec["error"] == "null_html" and rec["extracted_text"] is None


def test_truncation_flag():
    body = b"<p>" + b"a" * (MAX_HTML_BYTES + 100) + b"</p>"
    rec = extract_record("u3", body)
    assert rec["error"] == "truncated"
    assert rec["extracted_text"] is not None


def test_determinism_repeat():
    rng = random.Random(7)
    html, expected, _ = build_page(rng)
    outs = {extract_main_text(html) for _ in range(3)}
    assert outs == {expected}


def test_fixture_goldens_match_kernel():
    """Every fixture row's spec-derived golden must equal the kernel output —
    the per-url byte-identical invariant (BASELINE.json:input_hint)."""
    n_checked = 0
    for row in gen_rows(300, seed=42):
        if row["html"] is None:
            assert row["expected_text"] is None
            continue
        got = extract_main_text(row["html"])
        assert got == row["expected_text"], row["url"]
        n_checked += 1
    assert n_checked > 250


def test_preserve_interword_spaces_mode():
    """The reference `preserve_interword_spaces` analog (config.json:8):
    literal space runs inside a block survive; non-space whitespace still
    normalizes; default mode collapses everything. Both modes golden-stable."""
    html = (
        b"<p>column one    column two\te n d</p>"
        b"<p>second   paragraph with    aligned    text here</p>"
    )
    collapsed = extract_main_text(html)
    preserved = extract_main_text(html, preserve_spaces=True)
    assert collapsed == (
        "column one column two e n d\n"
        "second paragraph with aligned text here"
    )
    assert preserved == (
        "column one    column two e n d\n"
        "second   paragraph with    aligned    text here"
    )
    # determinism + idempotence of the mode flag
    assert extract_main_text(html, preserve_spaces=True) == preserved
    rec = extract_record("u", html, preserve_spaces=True)
    assert rec["extracted_text"] == preserved


def test_charset_sniffing():
    """BOM and meta-charset detection (HTML5 prescan subset): non-UTF-8
    crawl payloads must decode by their declared charset, unknown labels
    fall back to UTF-8, and pure-ASCII/UTF-8 behavior is unchanged."""
    from ankiocr_spark.kernel import detect_encoding

    body = "<p>café résumé long enough paragraph to keep here ok</p>"
    # latin-1 with a meta declaration
    l1 = ('<html><head><meta charset="iso-8859-1"></head><body>'
          + body + "</body></html>").encode("latin-1")
    assert detect_encoding(l1) == "iso-8859-1"
    assert "café résumé" in extract_main_text(l1)
    # windows-1252 via http-equiv
    w = ('<meta http-equiv="Content-Type" content="text/html; '
         'charset=windows-1252">' + body).encode("cp1252")
    assert detect_encoding(w) == "windows-1252"
    assert "café résumé" in extract_main_text(w)
    # UTF-16 BOMs → the BOM-consuming 'utf-16' codec, so no U+FEFF ever
    # leaks into the first block (phantom-block regression)
    for codec in ("utf-16-le", "utf-16-be"):
        bom = b"\xff\xfe" if codec == "utf-16-le" else b"\xfe\xff"
        payload = bom + body.encode(codec)
        assert detect_encoding(payload) == "utf-16"
        extracted = extract_main_text(payload)
        assert "café résumé" in extracted
        assert "﻿" not in extracted
    # HTML5 prescan: an ASCII-visible meta utf-16 label is a lie (genuine
    # UTF-16 can't contain it) — mapped to utf-8 per the spec; registry
    # ALIASES (utf16, u16) must be caught too, by the ASCII round trip
    for label in ("utf-16", "utf-16le", "UTF-16BE", "utf16", "u16",
                  "utf-32", "utf32", "u32"):
        lied = (f'<meta charset="{label}">' + body).encode("utf-8")
        assert detect_encoding(lied) == "utf-8"
        assert "café résumé" in extract_main_text(lied)
    # UTF-8 BOM stripped (utf-8-sig), not emitted as U+FEFF text
    assert extract_main_text(b"\xef\xbb\xbf" + body.encode()) == \
        extract_main_text(body.encode())
    # unknown label -> utf-8 fallback, no error
    junk = b'<meta charset="no-such-charset-xyz">' + body.encode()
    assert detect_encoding(junk) == "utf-8"
    assert "caf" in extract_main_text(junk)
    # undeclared stays utf-8 (existing behavior unchanged)
    assert detect_encoding(body.encode()) == "utf-8"
    # labels the codec registry knows but that name no ASCII-compatible
    # text charset: bytes-to-bytes codecs, Python-only transforms and
    # EBCDIC → utf-8 fallback, extracted exactly like the plain page
    plain = extract_row(body.encode(), False)
    for label in ("hex", "base64", "rot13", "zip", "bz2", "uu", "quopri",
                  "idna", "undefined", "punycode", "unicode-escape",
                  "raw-unicode-escape", "utf-7", "cp037"):
        page = (f'<meta charset="{label}">' + body).encode("utf-8")
        assert detect_encoding(page) == "utf-8", label
        assert extract_row(page, False) == plain, label
