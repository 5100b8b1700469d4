"""The reference the kernel's tokenizer is tested against: ``BlockParser``
driven by the stdlib ``html.parser``. ``kernel._fused_segments`` is held
segment-for-segment equal to it (test_properties.py). It is no production
path: the stdlib parser is quadratic on some unclosed-tag runs and raises
on some malformed marked sections, where the kernel does neither."""

from html.parser import HTMLParser
from typing import List, Tuple

from ankiocr_spark.kernel import (
    BLOCK_TAGS,
    PRUNE_TAGS,
    Block,
    _decode,
    _keep,
    _link_density,
    _normalize,
    _normalize_preserve,
)


class BlockParser(HTMLParser):
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


def reference_segments(html, preserve_spaces: bool = False):
    """Decode + segment one page through the stdlib parser: the reference
    for ``kernel._segments``."""
    parser = BlockParser(preserve_spaces=preserve_spaces)
    parser.feed(_decode(html))
    parser.close()
    return parser.segments


def reference_spans(html, preserve_spaces: bool = False) -> List[Block]:
    """``kernel.extract_spans`` built on ``reference_segments``."""
    return [
        Block(i, tag, text, len(text), _link_density(text, link_text),
              _keep(tag, text, link_text))
        for i, (tag, text, link_text) in enumerate(
            reference_segments(html, preserve_spaces)
        )
    ]
