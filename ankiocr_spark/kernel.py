"""The fused extraction kernel: HTML bytes → main-content text + spans.

This is the rebuild of the reference's extraction kernel
(``OCR._ocr_img`` → Tesseract subprocess, /root/reference/src/anki_ocr/ocr.py:201-216)
as a pure, deterministic Python function over HTML payloads
(BASELINE.json:north_star: "lxml DOM parse, readability/trafilatura-style
boilerplate stripping (text-density + link-density scoring per block, tag
whitelist/blacklist pruning)"). lxml is not available in this container, so
the kernel tokenizes with its own two regex tiers (``_fused_segments``),
held segment-for-segment equal to a walk of the stdlib ``html.parser``
(tests/stdlib_reference.py, the reference) — which is *better* for the
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

Hot path (text mode, ``extract_row``): decode → ``_fused_segments`` (one
``re.split`` of the page into text and plain tags, one dispatch loop over
the parts, a hand-off to the general loop for anything else) into
(tag, text, link_text) tuples → the one keep rule ``_keep`` on each tuple
→ ``clean_text`` of the kept texts. No per-segment object is built; span
mode (``extract_spans``) alone wraps the same tuples in ``Block``s.
"""

from __future__ import annotations

import codecs
import hashlib
import re
from dataclasses import dataclass
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


# ---------------------------------------------------------------------------
# Fast tokenizer: the SAME segmentation as driving the stdlib parser with
# block-segmenting handler hooks (tests/stdlib_reference.py), without
# html.parser's per-attribute parse loop and per-token position
# bookkeeping (updatepos) — this engine never reads attributes. Two
# tiers, each consuming only what the stdlib would consume the same way:
#   1. one _SPLIT call per page cuts it into text parts and plain tags
#      (plus `<!decl>` / `<?pi>`, which the stdlib skips), and one loop
#      walks the parts, dispatching each tag with one _KIND lookup and
#      jumping over a script/style raw-text element with one search;
#   2. a text part that still holds '<' (a comment, a marked section, a
#      malformed or unquoted-attribute tag, a lone '<') is read by the
#      general loop (_Segmenter.general) from that part's first
#      character, with the whole segmenter state and the stdlib's own
#      compiled (linear-time) regexes. It returns at the first '<' at or
#      past the part's end, so tier 1 dispatches every tag the split
#      delimited and picks up again at the first character the general
#      loop has not read: a page is never read twice. A search that
#      found no close once is not repeated from a later position, and a
#      tail with no '>' is read in one pass, so a run of unclosed
#      constructs costs one scan, not one per construct.
# test_properties.py holds segment-level equivalence against the
# stdlib-driven parser on the fixture corpus and a seeded fragment sweep.
# ---------------------------------------------------------------------------

import html.parser as _hp
from html import unescape as _unescape

_STARTTAG_OPEN = _hp.starttagopen
_TAGNAME = _hp.tagfind_tolerant
_STARTTAG_END = _hp.locatestarttagend_tolerant
_ENDTAG = _hp.endtagfind
_COMMENT_CLOSE = _hp.commentclose

# Tier 1 grammar. Whitespace is the explicit ASCII set where the stdlib
# tag name stops, never `\s` (on str patterns that also matches \xa0,
# \x0b and \x1c, which the stdlib keeps INSIDE a tag name). Names are a
# subset of the stdlib's name characters that ends where the stdlib's
# does; quoted values hold no '<', so a failed match stops at the next
# tag. Every group is possessive, so a match (or a failure) is linear in
# what it scans.
_WS = "[ \t\n\r\f]"
_NAME = "[a-zA-Z][-.:_a-zA-Z0-9]*+"
_ATTRS = (
    f"(?:{_WS}++[a-zA-Z_:][-.:_a-zA-Z0-9]*+"
    f"""(?:="[^"<]*+"|='[^'<]*+')?)*+{_WS}*+"""
)
#: tier 1: split on a whole token (group 1) — a plain start or end tag
#: (groups 2 and 3: start-tag name, end-tag name; a start tag is
#: self-closing iff its token ends in "/>"), or a `<!decl>` / `<?pi>`
#: that holds no '<', which the stdlib skips up to the first '>' (both
#: names None). `<!--` and `<![` open a comment or a marked section
#: instead, so they stay in the text, as does a `<!`/`<?` that holds a
#: '<': a failed match then stops at the next tag, so the split is linear.
_SPLIT = re.compile(
    f"(<(?:({_NAME}){_ATTRS}/?|/({_NAME}){_WS}*+"
    "|\\?[^<>]*+|!(?!--|\\[)[^<>]*+)>)",
    re.ASCII,
).split
#: pads the split's last text part into a whole (text, token, names)
#: record with an empty token that dispatches nothing
_TAIL = ("", None, None)
_PRUNE, _BLOCK, _ANCHOR, _BR = range(1, 5)
#: tier 1's one dispatch lookup, keyed by lowercase name; a name it lacks
#: is looked up once more lowercased, and then needs no dispatch
_KIND = {
    **dict.fromkeys(PRUNE_TAGS, _PRUNE),
    **dict.fromkeys(BLOCK_TAGS, _BLOCK),
    "a": _ANCHOR,
    "br": _BR,
}

# Full close-tag pattern, stdlib set_cdata_mode's `interesting` regex
# (r'</\s*%s\s*>'): a mismatched name ('</scriptfoo>') or attributed
# close ('</script x>') is raw data and does NOT end cdata mode. Its
# re.I also folds non-ASCII letters ('</ſcript>', '</scrıpt>'); the
# stdlib's parse_endtag then finds no ASCII name there and keeps that
# close as raw data too, so the name here folds ASCII case only.
_CDATA_CLOSE = {
    t: re.compile(r"</\s*%s\s*>" % "".join(f"[{c}{c.upper()}]" for c in t))
    for t in ("script", "style")
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

#: raw_tail_pieces: a NUL after a last tag-name character (tagfind_tolerant)
#: from which the attribute scan (locatestarttagend_tolerant) cannot go
#: on, as it is neither a quote nor whitespace
_RAW_NAME_END = re.compile("[^\\s'\"/>\\x00](?=\\x00)")
#: the characters that end a tag-name run, '>' aside
_NAME_STOPS = "\t\n\r\f /\x00"


def raw_tail_pieces(s: str, i: int):
    """Yield ``(start, end)`` of each piece of ``s[i:]``, where no '>'
    follows, that the stdlib parser emits raw; the text around them is
    data, charref-unescaped. No tag, comment or declaration can close
    there, so the stdlib reads each construct as data through its
    incomplete-data fallback, cut only at '<', which no charref spans.
    One start tag differs: when its name run ends at a NUL right after a
    character that is neither a quote nor whitespace, its attribute scan
    stops at that NUL, and the stdlib emits ``<name`` raw
    (parse_starttag's handle_data, no unescape). Every '<' in a name run
    reaches the same NUL, so the first one opens the raw piece. Each such
    NUL and the run before it are read once: a run of unclosed constructs
    costs one pass, where the stdlib's scan per construct is quadratic."""
    lo = i  # no name run crosses lo: it is i or a NUL
    while (m := _RAW_NAME_END.search(s, lo)) is not None:
        nul = m.end()
        run = max(lo, *(s.rfind(c, lo, nul) + 1 for c in _NAME_STOPS))
        tag = _STARTTAG_OPEN.search(s, run, nul)
        if tag is not None:
            yield tag.start(), nul
        lo = nul


def _flush(segments, pieces, link_pieces, tag: str, norm) -> None:
    """Close the current segment (the reference's ``BlockParser._flush``);
    both tiers share the piece lists, so they are cleared in place."""
    text = norm("".join(pieces))
    if text:
        segments.append(
            (tag, text, norm("".join(link_pieces)) if link_pieces else "")
        )
    pieces.clear()
    link_pieces.clear()


class _Segmenter:
    """One page's segmenter state, shared by the two tokenizer tiers: the
    lists ``_fused_segments`` (tier 1) and ``general`` (tier 2) both
    append to, the prune stack, and ``general``'s memory of searches that
    found nothing."""

    __slots__ = ("s", "norm", "segments", "prune_stack", "pieces",
                 "link_pieces", "last_gt", "misses")

    def __init__(self, s: str, norm=_normalize) -> None:
        self.s = s
        self.norm = norm
        self.segments: List[Tuple[str, str, str]] = []  # (tag, text, link_text)
        self.prune_stack: List[str] = []
        self.pieces: List[str] = []
        self.link_pieces: List[str] = []
        self.last_gt = s.rfind(">")  # no '>' after it: those finds fail at once
        self.misses = {}  # pattern -> a position after which it matches nowhere

    def emit(self, seg: str, anchor_depth: int, raw: bool = False) -> None:
        """The reference's ``handle_data`` incl. the charref unescape the
        stdlib tokenizer applies before the hook unless the data is
        ``raw``; pruned text skips BOTH."""
        if self.prune_stack or not seg:
            return
        if "&" in seg and not raw:
            seg = _unescape(seg)
        self.pieces.append(seg)
        if anchor_depth:
            self.link_pieces.append(seg)

    def find_gt(self, k: int) -> int:
        """``s.find(">", k)``, failing at once past the page's last '>'."""
        return self.s.find(">", k) if k <= self.last_gt else -1

    def search(self, pattern, k: int):
        """``pattern.search(s, k)``; a pattern found nowhere after k is
        found nowhere after any later position either."""
        if k >= self.misses.get(pattern, len(self.s) + 1):
            return None
        m = pattern.search(self.s, k)
        if m is None:
            self.misses[pattern] = k
        return m

    def emit_incomplete(self, j: int, anchor_depth: int) -> int:
        """stdlib goahead's end-of-feed fallback for a construct that
        failed to parse: emit up to the next '>' (inclusive) / next '<' /
        one char as data, resume from there."""
        k = self.find_gt(j + 1)
        if k < 0:
            k = self.s.find("<", j + 1)
            if k < 0:
                k = j + 1
        else:
            k += 1
        self.emit(self.s[j:k], anchor_depth)
        return k

    def tail(self, i: int, anchor_depth: int) -> None:
        """Emit the page from ``i`` on, where no '>' follows."""
        s = self.s
        for j, nul in raw_tail_pieces(s, i):
            self.emit(s[i:j], anchor_depth)
            self.emit(s[j:nul], anchor_depth, raw=True)
            i = nul
        self.emit(s[i:], anchor_depth)

    def general(self, i: int, stop: int, anchor_depth: int, segment_tag: str):
        """Tokenize + segment from ``i`` with the stdlib's own regexes, up
        to the first '<' at or past ``stop``: the data before it is
        emitted, the construct there is left to the caller. A construct
        or raw-text element that starts before ``stop`` is read whole, so
        that '<' may lie past ``stop``. Returns ``(i, anchor_depth,
        segment_tag)``; ``i`` is ``len(s)`` once the page is done, also
        at the stdlib's early stop on unterminated raw text."""
        s, norm, last_gt = self.s, self.norm, self.last_gt
        segments, prune_stack = self.segments, self.prune_stack
        pieces, link_pieces = self.pieces, self.link_pieces
        n = len(s)

        while True:
            if i > last_gt:
                self.tail(i, anchor_depth)
                return n, anchor_depth, segment_tag
            j = s.find("<", i)
            if j < 0:
                j = n
            self.emit(s[i:j], anchor_depth)
            if j >= stop:
                return j, anchor_depth, segment_tag
            if _STARTTAG_OPEN.match(s, j):
                m = _TAGNAME.match(s, j + 1)
                tag, etag = m.group(1), None
                # tagfind_tolerant consumes trailing whitespace and
                # non-closing slashes: when the tag close follows, the
                # stdlib ends the tag there (`<p //>` is self-closing)
                end = m.end()
                if not (s.startswith(">", end) or s.startswith("/>", end)):
                    end = _STARTTAG_END.match(s, j).end()
                if s.startswith(">", end):
                    slash, i = "", end + 1
                elif s.startswith("/>", end):
                    slash, i = "/", end + 2
                else:
                    # malformed start tag (stdlib check_for_whole_start_tag):
                    # at EOF / mid-attribute / stray '/', fall back to the
                    # incomplete-data path; otherwise emit the partial tag
                    # text raw (parse_starttag's handle_data, no unescape)
                    # and resume right after it
                    c2 = s[end:end + 1]
                    if c2 == "" or c2 in (
                        "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                    ):
                        i = self.emit_incomplete(j, anchor_depth)
                    else:
                        self.emit(s[j:end], anchor_depth, raw=True)
                        i = end
                    continue
            elif s.startswith("</", j):
                e = _ENDTAG.match(s, j)
                if e:
                    tag, slash, etag = None, "", e.group(1)
                    i = e.end()
                else:
                    gt = self.find_gt(j + 1)
                    if gt < 0:  # incomplete at EOF
                        i = self.emit_incomplete(j, anchor_depth)
                        continue
                    nm = _TAGNAME.match(s, j + 2)
                    if not nm:  # '</>' or bogus comment '</;...>': skipped
                        i = gt + 1
                        continue
                    # tolerant end tag with junk before '>': '</p attr>'
                    tag, slash, etag = None, "", nm.group(1)
                    i = s.find(">", nm.end()) + 1
            elif s.startswith("<!--", j):
                m = self.search(_COMMENT_CLOSE, j + 4)
                i = self.emit_incomplete(j, anchor_depth) if not m else m.end()
                continue
            elif s.startswith("<![", j):
                # marked section (stdlib parse_marked_section)
                nm = _SECT_NAME.match(s, j + 3)
                sect = nm.group().lower() if nm else None
                if sect in _SECT_STD:
                    m = self.search(_MARKED_CLOSE_STD, j + 3)
                elif sect in _SECT_MS:
                    m = self.search(_MARKED_CLOSE_MS, j + 3)
                else:  # stdlib raises here; degrade to data-skip
                    m = None
                i = self.emit_incomplete(j, anchor_depth) if not m else m.end()
                continue
            elif s.startswith("<?", j) or s.startswith("<!", j):
                nxt = self.find_gt(j + 2)
                i = self.emit_incomplete(j, anchor_depth) if nxt < 0 else nxt + 1
                continue
            else:
                self.emit("<", anchor_depth)
                i = j + 1
                continue

            # the reference's tag hooks, inlined
            if etag is not None:  # handle_endtag
                etag = etag.lower()
                if prune_stack:
                    if etag == prune_stack[-1]:
                        prune_stack.pop()
                elif etag in BLOCK_TAGS:
                    _flush(segments, pieces, link_pieces, etag, norm)
                    segment_tag = "body"
                elif etag == "a" and anchor_depth > 0:
                    anchor_depth -= 1
                continue
            tag = tag.lower()
            if slash:
                # handle_startendtag: a self-closing prune tag has no subtree,
                # so no prune push; no anchor handling
                if tag not in PRUNE_TAGS and not prune_stack:
                    if tag in BLOCK_TAGS:
                        _flush(segments, pieces, link_pieces, segment_tag, norm)
                        segment_tag = tag
                    elif tag == "br":
                        pieces.append(" ")
                continue
            if tag in _CDATA_CLOSE:
                # raw text up to the full `</\s*elem\s*>` (stdlib
                # set_cdata_mode): it is pruned (script and style are
                # PRUNE_TAGS), and the close pops the push, so only the
                # position moves; unterminated, the stdlib drops the rest
                m = _CDATA_CLOSE[tag].search(s, i)
                if not m:
                    return n, anchor_depth, segment_tag
                i = m.end()
            elif tag in PRUNE_TAGS:  # handle_starttag
                prune_stack.append(tag)
            elif not prune_stack:
                if tag in BLOCK_TAGS:
                    _flush(segments, pieces, link_pieces, segment_tag, norm)
                    segment_tag = tag
                elif tag == "a":
                    anchor_depth += 1
                elif tag == "br":
                    pieces.append(" ")


def _fused_segments(s: str, norm=_normalize) -> List[Tuple[str, str, str]]:
    """Single-pass tokenize + block-segment of ``s`` — the production hot
    path (tier 1, handing off to ``_Segmenter.general``). Semantically
    identical to driving the stdlib parser with block-segmenting hooks
    (tag names lowercased, attrs never materialized, charrefs unescaped
    in data, script/style content consumed raw until the matching close
    tag), with the hooks INLINED into the scan. That stdlib walk is the
    reference this function is equivalence-tested against
    (tests/stdlib_reference.py, test_properties.py)."""
    seg = _Segmenter(s, norm)
    general = seg.general
    segments, prune_stack = seg.segments, seg.prune_stack
    pieces, link_pieces = seg.pieces, seg.link_pieces
    anchor_depth = 0
    segment_tag = "body"
    parts = _SPLIT(s)
    parts += _TAIL
    it = iter(parts)
    # pos: end of the current (text, token) pair; done: how far the page
    # is read ahead of the pairs (by the general loop or a raw-text
    # skip), while that is past the pair's start (else 0). It never falls
    # inside a token: the general loop stops at a '<' or the page's end,
    # a raw-text skip right after a close tag, and neither a token nor a
    # close tag holds a '<' past its first character.
    pos = done = 0
    for text, token, name, ename in zip(it, it, it, it):
        pos += len(text) + len(token)
        if done:
            if done >= pos:
                continue
            text = s[done:pos - len(token)]
            done = 0
        if text:
            if "<" in text:
                tag_at = pos - len(token)
                done, anchor_depth, segment_tag = general(
                    tag_at - len(text), tag_at, anchor_depth, segment_tag
                )
                if done > tag_at:
                    continue
                done = 0
            elif not prune_stack:  # the reference's handle_data
                if "&" in text:
                    text = _unescape(text)
                pieces.append(text)
                if anchor_depth:
                    link_pieces.append(text)
        if name is not None:  # start tag
            kind = _KIND.get(name)
            if kind is None:
                name = name.lower()
                kind = _KIND.get(name)
                if kind is None:
                    continue
            if kind == _PRUNE:
                if token[-2] == "/":  # self-closing: no subtree
                    continue
                if name in _CDATA_CLOSE:
                    # raw text up to the full close, whatever tokens the
                    # split saw in it: it is pruned (script and style are
                    # PRUNE_TAGS), and the close pops the push, so only
                    # the position moves; unterminated, the stdlib drops
                    # the rest of the page
                    m = _CDATA_CLOSE[name].search(s, pos)
                    done = m.end() if m else len(s)
                    continue
                prune_stack.append(name)
            elif prune_stack:
                continue
            elif kind == _BLOCK:
                _flush(segments, pieces, link_pieces, segment_tag, norm)
                segment_tag = name
            elif kind == _ANCHOR:
                if token[-2] != "/":
                    anchor_depth += 1
            else:  # _BR
                pieces.append(" ")
        elif ename is not None:  # end tag
            kind = _KIND.get(ename)
            if kind is None:
                ename = ename.lower()
                kind = _KIND.get(ename)
            if prune_stack:
                if kind == _PRUNE and ename == prune_stack[-1]:
                    prune_stack.pop()
            elif kind == _BLOCK:
                _flush(segments, pieces, link_pieces, ename, norm)
                segment_tag = "body"
            elif kind == _ANCHOR and anchor_depth:
                anchor_depth -= 1
    _flush(segments, pieces, link_pieces, segment_tag, norm)
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
#: codec names that decode ASCII to itself but are no web charset
_NOT_CHARSETS = frozenset(
    ("idna", "unicode-escape", "raw-unicode-escape", "utf-7")
)


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
        # HTML5 encoding sniffing: a label found by an ASCII prescan must
        # name an ASCII-compatible TEXT charset — the bytes it was read
        # from are ASCII. So the codec must decode the meta markup back to
        # itself. That rejects UTF-16/UTF-32 under any registry alias (the
        # spec maps utf-16 labels to UTF-8; genuine UTF-16 cannot carry an
        # ASCII-visible <meta>), EBCDIC code pages, which garble ASCII, and
        # bytes-to-bytes codecs (hex, base64, zip, ...), which are no text
        # encoding at all. The Python-only transforms in _NOT_CHARSETS pass
        # that round trip and are rejected by name.
        probe = b'<meta charset="' + m.group(1) + b'">'
        try:
            if (
                codecs.lookup(label).name not in _NOT_CHARSETS
                and probe.decode(label) == probe.decode("ascii")
            ):
                return label
        except (LookupError, UnicodeError):
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


def _link_density(text: str, link_text: str) -> float:
    """Anchor-text share of a segment's characters, rounded to 6 dp for
    cross-engine comparability."""
    return round(min(1.0, len(link_text) / len(text)), 6) if text else 0.0


def _keep(tag: str, text: str, link_text: str) -> bool:
    """THE keep rule: a segment survives iff it meets the length floor
    (headings get a lower one) AND its rounded link density is below
    MAX_LINK_DENSITY. Spans mode stores it as ``Block.kept``; text mode
    applies it to the segment tuples directly."""
    return len(text) >= (
        MIN_HEADING_CHARS if tag in HEADING_TAGS else MIN_TEXT_CHARS
    ) and (not link_text or _link_density(text, link_text) < MAX_LINK_DENSITY)


def _segments(html, preserve_spaces: bool):
    """Decode + segment one page into (tag, text, link_text) tuples."""
    return _fused_segments(
        _decode(html), _normalize_preserve if preserve_spaces else _normalize
    )


def extract_spans(html, preserve_spaces: bool = False) -> List[Block]:
    """Parse HTML (bytes or str) into scored blocks, document order.

    The analog of ``OCRField.parse_images`` (/root/reference/src/anki_ocr/
    api.py:44-77): parse → per-child extraction → validity scoring, emitting
    one record per block instead of one ``OCRImage`` per ``<img>`` tag.
    ``preserve_spaces`` is the reference ``preserve_interword_spaces``
    analog (config.json:8): literal space runs inside a block survive.
    """
    return [
        Block(i, tag, text, len(text), _link_density(text, link_text),
              _keep(tag, text, link_text))
        for i, (tag, text, link_text) in enumerate(
            _segments(html, preserve_spaces)
        )
    ]


def _kept_text(html, preserve_spaces: bool) -> Tuple[str, int]:
    """(cleaned extract, number of kept segments): text mode scores the
    segment tuples inline and builds no ``Block``."""
    kept = [
        text
        for tag, text, link_text in _segments(html, preserve_spaces)
        if _keep(tag, text, link_text)
    ]
    return clean_text("\n".join(kept)), len(kept)


def extract_main_text(html, preserve_spaces: bool = False) -> str:
    """Fused strip→score→extract→clean: the flagship scalar kernel.

    Document-order concatenation of kept blocks (the analog of Tesseract's
    layout-ordered output joined per batch, ocr.py:153), then the reference's
    exact text normalization (textclean.clean_text, ocr.py:141-149).
    """
    return _kept_text(html, preserve_spaces)[0]


#: the kernel's output columns, in EXTRACT_SCHEMA order
RECORD_FIELDS = ("url", "extracted_text", "n_blocks", "n_chars", "error")


def extract_row(
    html, preserve_spaces: bool
) -> Tuple[Optional[str], int, int, Optional[str]]:
    """One page's (extracted_text, n_blocks, n_chars, error), with error
    quarantine — the per-row body of ``job.extract_frame``.

    Failed rows get ``error`` set instead of raising (replaces the
    reference's log-and-skip, api.py:50-62, and the subprocess kill path).
    Oversized payloads are truncated and flagged via ``error='truncated'``
    while still producing output.
    """
    if html is None:
        return None, 0, 0, "null_html"
    try:
        # bytes measured in bytes, str in chars — both routes through
        # _decode's cap, both flagged (r3 review: str payloads previously
        # parsed unbounded and unflagged)
        truncated = (
            isinstance(html, (bytes, bytearray, memoryview, str))
            and len(html) > MAX_HTML_BYTES
        )
        text, n_kept = _kept_text(html, preserve_spaces)
        return text, n_kept, len(text), "truncated" if truncated else None
    except Exception as exc:  # quarantine, never kill the task
        return None, 0, 0, f"{type(exc).__name__}: {exc}"[:500]


def extract_record(url: Optional[str], html, preserve_spaces: bool = False) -> dict:
    """``extract_row`` as one output record (a dict keyed by
    ``RECORD_FIELDS``) — one record per page."""
    return dict(zip(RECORD_FIELDS, (url, *extract_row(html, preserve_spaces))))


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
