"""The fused extraction kernel: HTML bytes → main-content text + spans.

This is the rebuild of the reference's extraction kernel
(``OCR._ocr_img`` → Tesseract subprocess, /root/reference/src/anki_ocr/ocr.py:201-216)
as a pure, deterministic Python function over HTML payloads
(BASELINE.json:north_star: "lxml DOM parse, readability/trafilatura-style
boilerplate stripping (text-density + link-density scoring per block, tag
whitelist/blacklist pruning)"). lxml is not available in this container, so
the DOM walk uses the stdlib ``html.parser`` — which is *better* for the
per-url byte-identical invariant: zero external parser-version dependence.

Determinism contract: same bytes in → same bytes out. No dict ordering,
locale, wall clock, or library-version dependence. The golden fixtures
(fixtures.py) are generated from this module's SPEC (the constants below),
never by running the kernel on itself (FIXTURES.md §2).

The kernel is invoked ONLY through Arrow batches (``mapInPandas`` in
job.py) — never as a row-at-a-time Spark UDF (BASELINE.json:input_hint
"no per-row Python"). The row loop below runs inside a single Arrow batch
on the Python worker, which is the vectorization boundary Spark offers for
opaque binary payloads (the analog of the reference's batch manifest loop,
ocr.py:90).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from html.parser import HTMLParser
from typing import List, Optional, Tuple

from . import textclean
from .textclean import clean_text

# ---------------------------------------------------------------------------
# SPEC constants — changing any of these is a kernel version change and MUST
# break golden tests (FIXTURES.md §2). KERNEL_VERSION hashes this module
# and textclean.py.
# ---------------------------------------------------------------------------

#: Subtrees dropped entirely — the analog of the reference's image-format
#: whitelist filter (/root/reference/src/anki_ocr/api.py:39,64), inverted to
#: a boilerplate tag blacklist per SURVEY.md §2 row 5.
PRUNE_TAGS = frozenset(
    "script style nav footer header aside form noscript iframe template svg "
    "select button textarea object embed head title".split()
)

#: Tags whose open/close marks a block boundary (text segmentation points).
BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li ul ol dl dt dd td th tr table div section "
    "article main blockquote pre figure figcaption caption address hr".split()
)

HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

#: Keep rule: a block survives iff its link density is below this AND it
#: meets the length floor (headings get a lower floor).
MAX_LINK_DENSITY = 0.5
MIN_TEXT_CHARS = 25
MIN_HEADING_CHARS = 3

#: Oversized payloads are truncated and flagged instead of hanging the
#: worker — the analog of pytesseract's subprocess timeout+kill
#: (/root/reference/src/anki_ocr/pytesseract.py:94-110), per SURVEY.md §4.
MAX_HTML_BYTES = 8 * 1024 * 1024

def _normalize(text: str) -> str:
    """Collapse whitespace runs to single spaces and strip ends.
    (split/join is semantically identical to ``re.sub(r"\\s+", " ",
    text).strip()`` and ~3x faster — C-level, no regex.)"""
    return " ".join(text.split())


#: preserve-interword-spaces mode (reference config.json:8, the tesseract
#: ``preserve_interword_spaces`` flag): runs of NON-SPACE whitespace still
#: normalize to one space, but literal space runs inside a block survive
#: verbatim. Ends are stripped either way.
_NON_SPACE_WS = re.compile(r"[^\S ]+")


def _normalize_preserve(text: str) -> str:
    return _NON_SPACE_WS.sub(" ", text).strip()


@dataclass(frozen=True)
class Block:
    block_id: int
    tag: str
    text: str
    n_chars: int
    link_density: float  # rounded to 6 dp for cross-engine comparability
    kept: bool


class _BlockParser(HTMLParser):
    """Linear block segmenter: splits the document's text at block-tag
    boundaries, tracking anchor-text length per segment for link-density
    scoring. Prune-tag subtrees contribute nothing."""

    def __init__(self, preserve_spaces: bool = False) -> None:
        super().__init__(convert_charrefs=True)
        self._prune_stack: List[str] = []
        self._anchor_depth = 0
        self._pieces: List[str] = []
        self._link_pieces: List[str] = []
        self._segment_tag = "body"
        self._norm = _normalize_preserve if preserve_spaces else _normalize
        self.segments: List[Tuple[str, str, str]] = []  # (tag, text, link_text)

    # -- segment management -------------------------------------------------
    def _flush(self, tag_for_segment: str) -> None:
        text = self._norm("".join(self._pieces))
        if text:
            link_text = self._norm("".join(self._link_pieces))
            self.segments.append((tag_for_segment, text, link_text))
        self._pieces = []
        self._link_pieces = []

    # -- HTMLParser hooks ----------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in PRUNE_TAGS:
            self._prune_stack.append(tag)
            return
        if self._prune_stack:
            return
        if tag in BLOCK_TAGS:
            self._flush(self._segment_tag)
            self._segment_tag = tag
        elif tag == "a":
            self._anchor_depth += 1
        elif tag == "br":
            self._pieces.append(" ")

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in PRUNE_TAGS:
            return  # self-closing prune tag has no subtree
        if self._prune_stack:
            return
        if tag in BLOCK_TAGS:
            self._flush(self._segment_tag)
            self._segment_tag = tag
        elif tag == "br":
            self._pieces.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if self._prune_stack:
            if tag == self._prune_stack[-1]:
                self._prune_stack.pop()
            return
        if tag in BLOCK_TAGS:
            self._flush(tag)
            self._segment_tag = "body"
        elif tag == "a" and self._anchor_depth > 0:
            self._anchor_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._prune_stack or not data:
            return
        self._pieces.append(data)
        if self._anchor_depth > 0:
            self._link_pieces.append(data)

    def close(self) -> None:  # flush trailing text
        super().close()
        self._flush(self._segment_tag)


# ---------------------------------------------------------------------------
# Fast tokenizer: drives the SAME _BlockParser hooks as the stdlib parser,
# but skips html.parser's per-attribute parse loop and per-token position
# bookkeeping (updatepos), which profiling shows is ~70% of kernel time —
# this engine never reads attributes. It reuses the stdlib's own compiled
# (linear-time) regexes, and test_kernel_fast_matches_stdlib asserts
# segment-level equivalence against the stdlib-driven parser on the fixture
# corpus and randomized html-ish inputs.
# ---------------------------------------------------------------------------

import html.parser as _hp
from html import unescape as _unescape

_TAGNAME = _hp.tagfind_tolerant
_STARTTAG_END = _hp.locatestarttagend_tolerant
_ENDTAG = _hp.endtagfind
_COMMENT_CLOSE = _hp.commentclose

# Full close-tag pattern, exactly stdlib set_cdata_mode's `interesting`
# regex (r'</\s*%s\s*>'): a mismatched name ('</scriptfoo>') or attributed
# close ('</script x>') is raw data and does NOT end cdata mode.
_CDATA_CLOSE = {
    t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE) for t in ("script", "style")
}
# marked-section machinery mirrored from _markupbase: ']]>' closes the
# standard sections, ']>' closes the MS-Office conditional ones; unknown
# section names CRASH the stdlib parser (AssertionError) — the fast path
# degrades to the incomplete-data fallback instead.
_SECT_NAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*")
_MARKED_CLOSE_STD = re.compile(r"]\s*]\s*>")
_MARKED_CLOSE_MS = re.compile(r"]\s*>")
_SECT_STD = frozenset({"temp", "cdata", "ignore", "include", "rcdata"})
_SECT_MS = frozenset({"if", "else", "endif"})


def _fused_segments(s: str, norm=_normalize) -> List[Tuple[str, str, str]]:
    """Single-pass tokenize + block-segment of ``s`` — the production hot
    path. Semantically identical to driving ``_BlockParser`` with the
    stdlib parser's hook calls (tag names lowercased, attrs never
    materialized, charrefs unescaped in data, script/style content
    consumed raw until the matching close tag), but with the handler hooks
    INLINED into the scan loop: the ~1.2M bound-method calls per 8k pages
    were ~25% of kernel time. ``_BlockParser`` + the stdlib parser remain
    as the reference implementation this function is equivalence-tested
    against (test_properties.py)."""
    prune_stack: List[str] = []
    anchor_depth = 0
    pieces: List[str] = []
    link_pieces: List[str] = []
    segment_tag = "body"
    segments: List[Tuple[str, str, str]] = []

    def flush(tag_for_segment: str) -> None:
        nonlocal pieces, link_pieces
        text = norm("".join(pieces))
        if text:
            segments.append((tag_for_segment, text, norm("".join(link_pieces))))
        pieces = []
        link_pieces = []

    def emit_data(seg: str) -> None:
        # inlined _BlockParser.handle_data incl. the charref unescape the
        # tokenizer applied before the hook; pruned text skips BOTH
        if prune_stack or not seg:
            return
        if "&" in seg:
            seg = _unescape(seg)
        pieces.append(seg)
        if anchor_depth:
            link_pieces.append(seg)

    def emit_incomplete(j: int) -> int:
        """stdlib goahead's end-of-feed fallback for a construct that
        failed to parse: emit up to the next '>' (inclusive) / next '<' /
        one char as data, resume from there."""
        k = s.find(">", j + 1)
        if k < 0:
            k = s.find("<", j + 1)
            if k < 0:
                k = j + 1
        else:
            k += 1
        emit_data(s[j:k])
        return k

    def end_tag(tag: str) -> None:
        nonlocal anchor_depth, segment_tag
        if prune_stack:
            if tag == prune_stack[-1]:
                prune_stack.pop()
        elif tag in BLOCK_TAGS:
            flush(tag)
            segment_tag = "body"
        elif tag == "a" and anchor_depth > 0:
            anchor_depth -= 1

    i, n = 0, len(s)
    cdata_close = None
    while i < n:
        if cdata_close is not None:
            m = cdata_close.search(s, i)
            if not m:
                break  # unterminated raw-text element: stdlib drops the rest
            if m.start() > i and not prune_stack:
                # raw cdata data, never unescaped (stdlib skips unescape
                # in cdata mode) — script/style are PRUNE_TAGS so this only
                # matters if the blacklist ever changes
                seg = s[i:m.start()]
                pieces.append(seg)
                if anchor_depth:
                    link_pieces.append(seg)
            # cdata_close is the full `</\s*elem\s*>` (stdlib
            # set_cdata_mode), so endtagfind necessarily matches the same
            # span here with exactly the cdata element's name.
            end_tag(_ENDTAG.match(s, m.start()).group(1).lower())
            i = m.end()
            cdata_close = None
            continue
        j = s.find("<", i)
        if j < 0:
            emit_data(s[i:])
            break
        if j > i and not prune_stack:  # emit_data inlined: hottest site
            seg = s[i:j]
            if "&" in seg:
                seg = _unescape(seg)
            pieces.append(seg)
            if anchor_depth:
                link_pieces.append(seg)
        if j + 1 >= n:
            # lone trailing '<': stdlib breaks, then close() flushes the
            # unprocessed tail as data
            emit_data("<")
            break
        c = s[j + 1]
        if ("a" <= c <= "z") or ("A" <= c <= "Z"):
            m = _TAGNAME.match(s, j + 1)
            tag = m.group(1).lower()
            # attr-less fast path: tagfind_tolerant consumes trailing
            # whitespace/non-closing slashes, so for `<p>`, `<p >`, `<br/>`
            # the next chars are the tag close — skip the attribute regex
            end = m.end()
            if not (s.startswith(">", end) or s.startswith("/>", end)):
                end = _STARTTAG_END.match(s, j).end()
            if s.startswith(">", end):
                # inlined handle_starttag
                if tag in PRUNE_TAGS:
                    prune_stack.append(tag)
                elif not prune_stack:
                    if tag in BLOCK_TAGS:
                        flush(segment_tag)
                        segment_tag = tag
                    elif tag == "a":
                        anchor_depth += 1
                    elif tag == "br":
                        pieces.append(" ")
                i = end + 1
                if tag in _CDATA_CLOSE:
                    cdata_close = _CDATA_CLOSE[tag]
            elif s.startswith("/>", end):
                # inlined handle_startendtag (self-closing prune tag has
                # no subtree, so no prune push; no anchor handling)
                if tag not in PRUNE_TAGS and not prune_stack:
                    if tag in BLOCK_TAGS:
                        flush(segment_tag)
                        segment_tag = tag
                    elif tag == "br":
                        pieces.append(" ")
                i = end + 2
            else:
                # malformed start tag (stdlib check_for_whole_start_tag):
                # at EOF / mid-attribute / stray '/', fall back to the
                # incomplete-data path; otherwise emit the partial tag text
                # raw (parse_starttag's handle_data, no unescape) and
                # resume right after it
                c2 = s[end:end + 1]
                if c2 == "" or c2 in (
                    "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                ):
                    i = emit_incomplete(j)
                else:
                    if not prune_stack:
                        seg = s[j:end]
                        pieces.append(seg)
                        if anchor_depth:
                            link_pieces.append(seg)
                    i = end
            continue
        if s.startswith("</", j):
            e = _ENDTAG.match(s, j)
            if e:
                end_tag(e.group(1).lower())
                i = e.end()
                continue
            gt = s.find(">", j + 1)
            if gt < 0:  # incomplete at EOF
                i = emit_incomplete(j)
                continue
            nm = _TAGNAME.match(s, j + 2)
            if nm:  # tolerant end tag with junk before '>': '</p attr>'
                end_tag(nm.group(1).lower())
                i = s.find(">", nm.end()) + 1
            else:  # '</>' or bogus comment '</;...>': skipped (no hook used)
                i = gt + 1
            continue
        if s.startswith("<!--", j):
            m = _COMMENT_CLOSE.search(s, j + 4)
            i = emit_incomplete(j) if not m else m.end()
            continue
        if s.startswith("<![", j):
            # marked section (stdlib parse_marked_section)
            nm = _SECT_NAME.match(s, j + 3)
            sect = nm.group().lower() if nm else None
            if sect in _SECT_STD:
                m = _MARKED_CLOSE_STD.search(s, j + 3)
            elif sect in _SECT_MS:
                m = _MARKED_CLOSE_MS.search(s, j + 3)
            else:  # stdlib raises here; degrade to data-skip
                m = None
            i = emit_incomplete(j) if not m else m.end()
            continue
        if s.startswith("<?", j) or s.startswith("<!", j):
            nxt = s.find(">", j + 2)
            i = emit_incomplete(j) if nxt < 0 else nxt + 1
            continue
        emit_data("<")
        i = j + 1

    flush(segment_tag)
    return segments


# charset sniffing (real crawl payloads are ~15-20% non-UTF-8): BOM first,
# then an ASCII-compatible `<meta charset=...>` / http-equiv content-type
# scan of the head (the HTML5 prescan), else UTF-8. Deterministic — pure
# byte inspection, no chardet-style statistics.
_META_CHARSET = re.compile(
    rb"""<meta[^>]{0,200}?charset\s*=\s*["']?\s*([A-Za-z0-9_\-]{2,32})""",
    re.IGNORECASE,
)
_SNIFF_BYTES = 2048


def detect_encoding(raw: bytes) -> str:
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
        # 'utf-16' (not '-le'/'-be') so the codec CONSUMES the BOM —
        # endianness comes from the BOM itself; the endian-specific codecs
        # would leave U+FEFF in the first decoded segment (phantom block)
        return "utf-16"
    m = _META_CHARSET.search(raw[:_SNIFF_BYTES])
    if m:
        label = m.group(1).decode("ascii").lower()
        import codecs

        try:
            # HTML5 encoding sniffing: an ASCII-visible <meta> cannot occur
            # in genuine UTF-16/UTF-32, so such a label means the bytes are
            # really 8-bit — the spec maps utf-16 labels to UTF-8 (and has
            # no utf-32 label at all; same impossibility argument). Compare
            # the CANONICAL codec name, not the raw label: the registry
            # also accepts aliases like 'utf16'/'u16'/'u32' that a prefix
            # check on the label would miss (r3 review fix).
            if codecs.lookup(label).name.startswith(("utf-16", "utf-32")):
                return "utf-8"
            return label
        except LookupError:
            pass  # unknown label → UTF-8 fallback, never an error row
    return "utf-8"


def _decode(html) -> str:
    if isinstance(html, (bytes, bytearray, memoryview)):
        raw = bytes(html)
        if len(raw) > MAX_HTML_BYTES:
            raw = raw[:MAX_HTML_BYTES]
        return raw.decode(detect_encoding(raw), errors="replace")
    # string payloads get the SAME cap (in chars — same order of bound):
    # a multi-hundred-MB str previously bypassed the truncation guard and
    # could stall the worker the guard exists to protect (r3 review fix)
    s = str(html)
    return s[:MAX_HTML_BYTES] if len(s) > MAX_HTML_BYTES else s


def extract_spans(
    html, _use_fast: bool = True, preserve_spaces: bool = False
) -> List[Block]:
    """Parse HTML (bytes or str) into scored blocks, document order.

    The analog of ``OCRField.parse_images`` (/root/reference/src/anki_ocr/
    api.py:44-77): parse → per-child extraction → validity scoring, emitting
    one record per block instead of one ``OCRImage`` per ``<img>`` tag.
    ``_use_fast=False`` routes through the stdlib parser — the reference
    implementation the fast tokenizer is equivalence-tested against.
    ``preserve_spaces`` is the reference ``preserve_interword_spaces``
    analog (config.json:8): literal space runs inside a block survive.
    """
    if _use_fast:
        segments = _fused_segments(
            _decode(html),
            _normalize_preserve if preserve_spaces else _normalize,
        )
    else:
        parser = _BlockParser(preserve_spaces=preserve_spaces)
        parser.feed(_decode(html))
        parser.close()
        segments = parser.segments

    blocks: List[Block] = []
    for i, (tag, text, link_text) in enumerate(segments):
        n = len(text)
        density = round(min(1.0, len(link_text) / n), 6) if n else 0.0
        min_chars = MIN_HEADING_CHARS if tag in HEADING_TAGS else MIN_TEXT_CHARS
        kept = density < MAX_LINK_DENSITY and n >= min_chars
        blocks.append(Block(i, tag, text, n, density, kept))
    return blocks


def extract_main_text(html, preserve_spaces: bool = False) -> str:
    """Fused strip→score→extract→clean: the flagship scalar kernel.

    Document-order concatenation of kept blocks (the analog of Tesseract's
    layout-ordered output joined per batch, ocr.py:153), then the reference's
    exact text normalization (textclean.clean_text, ocr.py:141-149).
    """
    kept = [
        b.text for b in extract_spans(html, preserve_spaces=preserve_spaces) if b.kept
    ]
    return clean_text("\n".join(kept))


def extract_record(url: Optional[str], html, preserve_spaces: bool = False) -> dict:
    """Kernel wrapper with error quarantine — one output record per page.

    Failed rows get ``error`` set instead of raising (replaces the
    reference's log-and-skip, api.py:50-62, and the subprocess kill path).
    Oversized payloads are truncated and flagged via ``error='truncated'``
    while still producing output.
    """
    if html is None:
        return {"url": url, "extracted_text": None, "n_blocks": 0, "n_chars": 0, "error": "null_html"}
    try:
        # bytes measured in bytes, str in chars — both routes through
        # _decode's cap, both flagged (r3 review: str payloads previously
        # parsed unbounded and unflagged)
        truncated = (
            isinstance(html, (bytes, bytearray, memoryview, str))
            and len(html) > MAX_HTML_BYTES
        )
        blocks = extract_spans(html, preserve_spaces=preserve_spaces)
        kept = [b for b in blocks if b.kept]
        text = clean_text("\n".join(b.text for b in kept))
        return {
            "url": url,
            "extracted_text": text,
            "n_blocks": len(kept),
            "n_chars": len(text),
            "error": "truncated" if truncated else None,
        }
    except Exception as exc:  # quarantine, never kill the task
        return {
            "url": url,
            "extracted_text": None,
            "n_blocks": 0,
            "n_chars": 0,
            "error": f"{type(exc).__name__}: {exc}"[:500],
        }


def _kernel_version() -> str:
    """Content hash of the kernel's source — this module plus textclean,
    whose ``clean_text`` shapes every extract — recorded in the checkpoint
    ledger so a kernel change invalidates resume lineage (SURVEY.md §7
    step 6)."""
    h = hashlib.md5()
    try:
        for path in (__file__, textclean.__file__):
            with open(path, "rb") as fh:
                h.update(fh.read())
    except OSError:
        return "unknown"
    return h.hexdigest()[:12]


KERNEL_VERSION = _kernel_version()
