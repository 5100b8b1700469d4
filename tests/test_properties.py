"""Property-based hardening of the pure kernel (hypothesis).

The reference has no randomized testing (SURVEY.md §5); these properties
back the determinism/robustness contract the golden tests assert pointwise:
arbitrary bytes never crash the kernel, same bytes always produce the same
extract, and the cleaner is idempotent (so re-running the job over already-
clean text can never change it — the writeback-twice safety the reference
handles with its `overwrite_existing` flag, config.md).
"""

from hypothesis import given, settings, strategies as st

from ankiocr_spark.kernel import extract_main_text, extract_record, extract_spans
from ankiocr_spark.textclean import clean_text
from stdlib_reference import reference_segments, reference_spans

SETTINGS = dict(max_examples=60, deadline=None)

# arbitrary bytes + html-ish fragments (tags, entities, nesting, junk)
_tagish = st.sampled_from(
    ["<p>", "</p>", "<div>", "</div>", "<a href='/x'>", "</a>", "<br/>",
     "<script>", "</script>", "<nav>", "</nav>", "&amp;", "&#65;", "<h1>",
     "</h1>", "<li>", "<", ">", "&", "\x00", "\n",
     # cdata-mode close-tag lookalikes: mismatched name / attributed close /
     # whitespace-and-case variants must stay raw data inside script/style
     "</scriptfoo>", "</script x>", "</ ScRiPt  >", "<style>", "</style>",
     "</stylesheet>",
     # constructs that can hide a prune close from the split tier: quoted
     # values, comments, marked sections, declarations, PIs
     '<a title="</nav>">', "<a title='</nav>'>", "<!-- </nav> -->",
     "<![CDATA[ </nav> ]]>", "<!x </nav>>", "<?pi </nav>?>",
     # nested / mismatched prune tags, case and whitespace variants
     "<footer>", "</footer>", "<nav><footer></nav></footer>",
     '<NAV class="x">', "</ nav>", "</nav >", "</navx>",
     # tolerant malformed tags
     '<a x"="y>', "</p </nav>", '</a href="x">',
     # non-ASCII whitespace inside tags, where the stdlib name does not stop
     "<p\xa0>", "<nav\x0b>", "</nav\x1c>",
     # split entities
     "&am", "p;"]
)
_textish = st.text(max_size=40)
_htmlish = st.lists(st.one_of(_tagish, _textish), max_size=30).map("".join)
_payload = st.one_of(
    st.binary(max_size=400),
    _htmlish.map(lambda s: s.encode("utf-8", errors="ignore")),
)


@given(_payload)
@settings(**SETTINGS)
def test_kernel_never_raises_and_is_deterministic(payload):
    r1 = extract_record("u", payload)
    r2 = extract_record("u", payload)
    assert r1 == r2
    assert r1["url"] == "u"
    assert r1["error"] is None or isinstance(r1["error"], str)
    if r1["error"] is None:
        assert r1["extracted_text"] == extract_main_text(payload)
        assert r1["n_chars"] == len(r1["extracted_text"])


@given(_payload)
@settings(**SETTINGS)
def test_spans_invariants(payload):
    blocks = extract_spans(payload)
    ids = [b.block_id for b in blocks]
    assert ids == sorted(ids) == list(range(len(blocks)))  # document order
    for b in blocks:
        assert 0.0 <= b.link_density <= 1.0
        assert b.n_chars == len(b.text)
        assert b.text == b.text.strip()
    # extract == clean(concat of kept blocks): spans and text modes agree
    kept = "\n".join(b.text for b in blocks if b.kept)
    assert extract_main_text(payload) == clean_text(kept)


@given(st.text(max_size=300))
@settings(**SETTINGS)
def test_clean_text_idempotent(s):
    once = clean_text(s)
    assert clean_text(once) == once
    # no blank lines, no leading/trailing space per line, no '::' runs
    if once:
        for line in once.split("\n"):
            assert line == line.strip() and line != ""
    assert "::" not in once


@given(_payload)
@settings(**SETTINGS)
def test_fast_tokenizer_matches_stdlib_parser(payload):
    """The fast tokenizer (kernel._fused_segments) must produce the same
    scored blocks as the stdlib-parser reference path on html-ish input.
    The stdlib parser itself CRASHES on some malformed inputs (e.g.
    b'<![0' → AssertionError in _markupbase._scan_name); the fast path
    must still succeed there, so those inputs pass the robustness half
    only."""
    fast = extract_spans(payload)  # must never raise
    try:
        slow = reference_spans(payload)
    except Exception:
        return  # stdlib crashed; fast path already proved more robust
    assert fast == slow


def test_cdata_close_lookalikes_stay_raw():
    """Regression (round-1 ADVICE): a close tag whose name merely starts
    with the cdata element ('</scriptfoo>') or carries junk ('</script x>')
    must NOT end script/style raw-text mode — stdlib's set_cdata_mode only
    stops at the full `</\\s*elem\\s*>`. The fast path previously fired a
    phantom handle_endtag('scriptfoo'), poisoning the prune stack and
    silently dropping all following content."""
    cases = [
        b"<script>var s = '</scriptfoo>'; var t = '<style>'; </script>"
        b"<p>real paragraph long enough to clear the keep floor easily</p>",
        b"<script>a</script x>b</script>"
        b"<p>paragraph of sufficiently long body text to keep here now</p>",
        b"<style>.x{content:'</stylesheet>'}</style>"
        b"<p>another paragraph of sufficiently long body text kept too</p>",
        b"<script>x</ ScRiPt  >"
        b"<p>case and whitespace tolerant close, long enough to keep it</p>",
        b"<script>unterminated </scri",
        # re.I folds non-ASCII letters: '</\xc5\xbfcript>' (long s) and
        # '</scr\xc4\xb1pt>' (dotless i) are raw data to the stdlib, not
        # closes
        "<script>a</\u017fcript>b</scr\u0131pt>c</script>"
        "<p>paragraph after two non-ASCII lookalike closes, kept</p>".encode(),
    ]
    for payload in cases:
        assert extract_spans(payload) == reference_spans(payload), payload
    # the flagship case extracts exactly the real paragraph
    texts = [b.text for b in extract_spans(cases[0]) if b.kept]
    assert texts == ["real paragraph long enough to clear the keep floor easily"]


def test_no_gt_tail_matches_stdlib():
    """Every string of up to four pieces from an alphabet with no '>':
    a tail where nothing can close. The stdlib reads it all as data,
    except a start tag whose name run ends at a NUL after a character
    that is neither a quote nor whitespace (`<b&amp;` then a NUL), which
    it emits raw, charrefs and all."""
    from itertools import product

    pieces = ("<a", "<", "\x00", " ", "'", "=", "/", "x", "&amp;", "\xa0",
              "<!--", "</b")
    for k in range(1, 5):
        for combo in product(pieces, repeat=k):
            s = "".join(combo)
            for preserve in (False, True):
                assert extract_spans(s, preserve_spaces=preserve) == (
                    reference_spans(s, preserve)
                ), (repr(s), preserve)


#: sweep alphabet: the fast tiers' edge cases next to ordinary markup
_SWEEP_PIECES = (
    "<nav>", "</nav>", "<footer>", "</footer>", "<header>", "</header>",
    "<head>", "</head>", '<NAV class="x">', "</NAV>", "</ nav>", "</nav >",
    "</navx>", "<navx>", "<nav/>", "<script>", "</script>", "<style>",
    "</style>", '<a title="</nav>">', "<a title='</nav>'>", "<!-- </nav> -->",
    "<![CDATA[ </nav> ]]>", "<!x </nav>>", "<?pi </nav>?>", "<!--", "-->",
    '<a x"="y>', "</p </nav>", '</a href="x">', "<p //>", "<br />", "<br/>",
    '<img src="a.png"/>', "<div class=\"c\" id='d'>", "<input disabled>",
    "<a href=/x>", '<a\thref="/y"\n>', "<p\xa0>", "<nav\x0b>", "</nav\x1c>",
    "<a\xa0href='x'>", "</nav\xa0>", "&am", "p;", "&#6", "5;", "&", "<", ">",
    '"', "'", "=", " ", "/", "\n", "<p>", "</p>", "<div>", "</div>",
    "<a href='/x'>", "</a>", "<h1>", "</h1>", "<li>", "</li>", "<A HREF='/z'>",
    "</A>", "text of a block long enough to be kept", "short",
    # the split tier's hand-off points: comments (one hiding tags),
    # a bogus comment close, raw-text closes the split cannot read, a
    # declaration in raw text, an unquoted attribute, upper-case names,
    # an entity split by a tag, an unterminated raw-text element, a NUL,
    # a quoted '>' (a comment can close inside that tag) and a
    # self-closing anchor
    "<!-- x -->", "<!-- <p> </nav> -->", "--!>", "</ script>",
    "<script><!x </script>", "<P>", "</SCRIPT>", "&am<b>p;",
    "<script>unterminated", "\x00", '<p title="a>b">', "<a/>",
    # an unclosed start tag whose attribute scan runs on to a later NUL
    "<a ",
)


def test_fast_paths_match_stdlib_on_seeded_sweep():
    """Seeded differential sweep (20k fragments, each under both
    ``preserve_spaces`` values) of the fast tokenizer — the split tier,
    each of its hand-offs to the general loop and that loop's no-'>' tail
    — against the stdlib-driven reference: same segments, same spans, and
    the Block-free text path equals ``clean_text`` of the kept reference
    spans with ``n_blocks`` = their count. Fragments the stdlib parser
    crashes on are skipped."""
    import random

    from ankiocr_spark.kernel import _segments, extract_row

    rng = random.Random(20240101)
    compared = 0
    for _ in range(20_000):
        s = "".join(rng.choices(_SWEEP_PIECES, k=rng.randint(1, 14)))
        for preserve in (False, True):
            try:
                slow = reference_segments(s, preserve)
            except Exception:
                continue
            assert _segments(s, preserve) == slow, (repr(s), preserve)
            spans = reference_spans(s, preserve)
            assert extract_spans(s, preserve_spaces=preserve) == spans, (
                repr(s), preserve
            )
            kept = [b for b in spans if b.kept]
            text, n_blocks, _, _ = extract_row(s, preserve)
            assert (text, n_blocks) == (
                clean_text("\n".join(b.text for b in kept)), len(kept)
            ), (repr(s), preserve)
            compared += 1
    assert compared > 38_000


_PAGE_4MB = 4 * 1024 * 1024
_BENIGN_UNIT = ('<nav><ul><li><a href="/x">link</a></li></ul></nav>'
                "<p>paragraph text that is long enough to be kept</p>")
_BENIGN_4MB = _BENIGN_UNIT * (_PAGE_4MB // len(_BENIGN_UNIT))


def _best_time(f, pages, repeat=3):
    """Best wall time of ``repeat`` runs of ``f`` over ``pages``."""
    import time

    best = float("inf")
    for _ in range(repeat):
        t0 = time.perf_counter()
        for s in pages:
            f(s)
        best = min(best, time.perf_counter() - t0)
    return best


def test_adversarial_pruned_page_stays_linear():
    """A ~4 MB page whose <nav> holds an unterminated quoted attribute and
    a tag with a long whitespace run and no '>' must parse within 5x the
    time of a benign page of the same size (a ratio: host speed drifts)."""
    from ankiocr_spark.kernel import _fused_segments

    half = _PAGE_4MB // 2
    adversarial = (
        '<nav><a title="' + ("word " * (half // 5))  # quote never closes
        + "<div" + " " * half  # whitespace run, no '>'
    )
    assert _best_time(_fused_segments, [adversarial]) < 5 * _best_time(
        _fused_segments, [_BENIGN_4MB]
    )


def test_split_tier_adversarial_pages_stay_linear():
    """Pages aimed at the split tier's hand-offs: ~4 MB of ~100k
    unterminated `<!--` (alone, and each followed by a plain tag, so each
    is its own hand-off), a run of `<a` with no '>', a page that hands
    off at its first byte, and 12 KB of unclosed `<a ` tags whose
    attribute scans each run on to a final NUL. Each parses within 5x the
    time of a benign page of the same size: a search that found no close
    is not repeated from a later position, and a tail with no '>' is read
    once."""
    from ankiocr_spark.kernel import _fused_segments

    pages = {
        "comments": ("<!--" + "x" * 36) * (_PAGE_4MB // 40),
        "comments_and_tags": ("<!--<p>" + "x" * 33) * (_PAGE_4MB // 40),
        "lt_a_run": "<a" * (_PAGE_4MB // 2),
        "first_byte": "<!--" + _BENIGN_4MB,
        "nul_tail": "<a " * 4000 + "\x00",
    }
    benign = {}  # page size -> best time of a benign page that size
    for name, page in pages.items():
        units = len(page) // len(_BENIGN_UNIT)
        if units not in benign:
            benign[units] = _best_time(_fused_segments, [_BENIGN_UNIT * units])
        assert _best_time(_fused_segments, [page]) < 5 * benign[units], name


def _general_only(s):
    """The general loop run over the whole page from position 0, as the
    split tier's hand-off target reads it."""
    from ankiocr_spark.kernel import _Segmenter, _flush, _normalize

    seg = _Segmenter(s)
    _, _, segment_tag = seg.general(0, len(s), 0, "body")
    _flush(seg.segments, seg.pieces, seg.link_pieces, segment_tag, _normalize)
    return seg.segments


def test_split_tier_keeps_its_speed_on_pages_that_hand_off(monkeypatch):
    """Seeded fixture pages with a comment after every third paragraph,
    and with every href value unquoted, hand off to the general loop
    again and again. The split tier must pick up again after each
    construct it hands off: the general loop reads at most half the
    corpus (a split tier that never picked up again would leave it all
    to that loop), and each corpus parses within 1.4x (comments) and
    2.4x (unquoted hrefs) the time of the same pages without the
    inserted constructs."""
    from ankiocr_spark.fixtures import gen_rows
    from ankiocr_spark.kernel import _Segmenter, _decode, _fused_segments

    pages = [_decode(r["html"]) for r in gen_rows(300, seed=13)
             if r["html"] is not None]
    commented = [
        "</p>".join(p + ("<!-- note -->" if k % 3 == 2 else "")
                    for k, p in enumerate(page.split("</p>")))
        for page in pages
    ]
    unquoted = [p.replace('href="', "href=").replace('">', ">") for p in pages]
    general = _Segmenter.general
    read = [0]  # characters the general loop moved past

    def spy(self, i, stop, anchor_depth, segment_tag):
        out = general(self, i, stop, anchor_depth, segment_tag)
        read[0] += out[0] - i
        return out

    for name, corpus, marker, bound in (
        ("comments", commented, "<!-- note -->", 1.4),
        ("unquoted", unquoted, "<a href=/", 2.4),
    ):
        assert sum(marker in s for s in corpus) > len(corpus) // 2, name
        for s in corpus:
            assert _fused_segments(s) == _general_only(s), name
        read[0] = 0
        with monkeypatch.context() as m:
            m.setattr(_Segmenter, "general", spy)
            for s in corpus:
                _fused_segments(s)
        share = read[0] / sum(map(len, corpus))
        assert share <= 0.5, (name, share)
        # alternating rounds, so a drift in host speed hits both sides
        plain = handing_off = float("inf")
        for _ in range(5):
            plain = min(plain, _best_time(_fused_segments, pages, 1))
            handing_off = min(handing_off, _best_time(_fused_segments, corpus, 1))
        assert handing_off / plain <= bound, (name, handing_off / plain)


def test_fast_tokenizer_matches_stdlib_on_fixtures():
    from ankiocr_spark.fixtures import gen_rows

    for r in gen_rows(400, seed=11):
        if r["html"] is None:
            continue
        assert extract_spans(r["html"]) == reference_spans(r["html"]), r["url"]


# --- anchor parser properties ------------------------------------------------

def _anchor_payloads():
    anchorish = st.sampled_from(
        ['<a href="/x">', '<a href="/y">', "<a>", "</a>", '<a href="#f">',
         "<b>", "</b>", "<p>", "</p>", "text ", "  ", "&amp;", "link"]
    )
    return st.lists(st.one_of(anchorish, st.text(max_size=20)), max_size=25).map(
        "".join
    )


@given(_anchor_payloads())
@settings(**SETTINGS)
def test_anchor_pairs_never_raise_and_are_deterministic(html):
    from ankiocr_spark.links import extract_anchor_pairs, extract_links

    p1 = extract_anchor_pairs("https://e.org/base/", html)
    p2 = extract_anchor_pairs("https://e.org/base/", html)
    assert p1 == p2
    # every emitted pair resolves and has normalized whitespace
    for target, anchor in p1:
        assert target.startswith("http")
        assert anchor == " ".join(anchor.split())
    # anchor pairs and href-only outlinks agree on the href multiset:
    # implicit close + EOF flush exist exactly so no <a href> is dropped
    hrefs = [t for _, __, t in extract_links("https://e.org/base/", html)]
    assert sorted(t for t, _ in p1) == sorted(hrefs)


# --- crawl delta / incremental split algebra ----------------------------------

def test_crawl_delta_statuses_partition_the_url_universe(spark):
    from ankiocr_spark.bucketing import crawl_delta

    old = spark.createDataFrame(
        [(f"u{i}", f"d{i % 4}") for i in range(20)], "url string, digest string"
    )
    # drop every 5th, change every 3rd survivor, add 5 fresh urls
    new = spark.createDataFrame(
        [
            (f"u{i}", f"X{i}" if i % 3 == 0 else f"d{i % 4}")
            for i in range(20)
            if i % 5 != 0
        ]
        + [(f"n{i}", "nd") for i in range(5)],
        "url string, digest string",
    )
    rows = crawl_delta(old, new).collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], set()).add(r["url"])
    all_urls = {r["url"] for r in rows}
    # statuses partition old ∪ new exactly
    assert all_urls == {f"u{i}" for i in range(20)} | {f"n{i}" for i in range(5)}
    assert sum(len(v) for v in by_status.values()) == len(all_urls)
    assert by_status["removed"] == {f"u{i}" for i in range(20) if i % 5 == 0}
    assert by_status["added"] == {f"n{i}" for i in range(5)}
    assert by_status["changed"] == {
        f"u{i}" for i in range(20) if i % 5 != 0 and i % 3 == 0
    }


def test_incremental_split_with_empty_delta_runs_no_kernel_input(spark):
    """All-unchanged re-crawl: to_extract is EMPTY and the carried-forward
    rows alone reproduce the snapshot (the cheapest possible re-crawl)."""
    from pyspark.sql import functions as F

    from ankiocr_spark.bucketing import split_incremental

    pages = spark.createDataFrame(
        [(f"u{i}", f"<p>body {i}</p>".encode()) for i in range(10)],
        "url string, html binary",
    )
    old = pages.select(
        "url",
        F.md5("html").alias("digest"),
        F.concat(F.lit("text "), "url").alias("extracted_text"),
    )
    reuse, to_extract = split_incremental(old, pages)
    assert to_extract.count() == 0
    got = {r["url"]: r["extracted_text"] for r in reuse.collect()}
    assert got == {f"u{i}": f"text u{i}" for i in range(10)}
