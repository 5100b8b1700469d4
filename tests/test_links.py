"""Outlink extraction: href collection in document order, RFC 3986
relative resolution, invalid-href skipping, and byte-payload decode."""

from ankiocr_spark.links import extract_links, extract_outlinks


def test_resolution_and_order():
    html = (
        b'<html><body>'
        b'<a href="/abs">a</a>'
        b'<a href="rel/page.html">r</a>'
        b'<a href="https://other.net/x">o</a>'
        b'<a href="../up">u</a>'
        b'</body></html>'
    )
    links = extract_links("https://example.org/dir/sub/page.html", html)
    assert [(p, t) for p, _, t in links] == [
        (0, "https://example.org/abs"),
        (1, "https://example.org/dir/sub/rel/page.html"),
        (2, "https://other.net/x"),
        (3, "https://example.org/dir/up"),
    ]


def test_non_charset_meta_label_keeps_the_anchors():
    """A meta label that names a codec but no text charset (bytes-to-bytes
    ``hex``, the ``punycode`` transform) falls back to UTF-8: the page's
    anchors come back instead of the page raising or decoding to nothing."""
    for label in ("hex", "punycode"):
        html = (
            f'<html><head><meta charset="{label}"></head><body>'
            '<a href="/one">one</a><a href="two.html">two</a></body></html>'
        ).encode()
        links = extract_links("https://e.org/d/", html)
        assert [t for _, _, t in links] == [
            "https://e.org/one", "https://e.org/d/two.html"
        ], label


def test_invalid_hrefs_skipped():
    html = (
        b'<a>no href</a><a href="">empty</a><a href="#frag">frag</a>'
        b'<a href="/ok">ok</a><a name="x" href="/two">two attrs</a>'
    )
    links = extract_links("https://e.org/", html)
    assert [h for _, h, _ in links] == ["/ok", "/two"]


def test_entity_in_href_unescaped():
    html = b'<a href="/q?a=1&amp;b=2">x</a>'
    (_, href, target) = extract_links("https://e.org/", html)[0]
    assert href == "/q?a=1&b=2"
    assert target == "https://e.org/q?a=1&b=2"


def test_links_inside_pruned_regions_still_counted():
    """Link extraction is a crawl-frontier concern, not a main-content one:
    nav/footer links ARE outlinks even though the kernel prunes their text."""
    html = b'<nav><a href="/nav">n</a></nav><footer><a href="/f">f</a></footer>'
    assert [h for _, h, _ in extract_links("https://e.org/", html)] == ["/nav", "/f"]


def test_spark_outlinks(spark):
    pages = spark.createDataFrame(
        [("https://h/a", b'<a href="/x">x</a><a href="y">y</a>'),
         ("https://h/b", None)],
        "url string, html binary",
    )
    rows = extract_outlinks(pages).collect()
    got = sorted((r["url"], r["pos"], r["target"]) for r in rows)
    assert got == [
        ("https://h/a", 0, "https://h/x"),
        ("https://h/a", 1, "https://h/y"),
    ]


def test_pagerank_invariants(spark, sf_dir):
    """Power-iteration invariants: mass conservation (no dangling nodes —
    every node has outdegree 2, so total rank stays 1) and the teleport
    floor 0.15/n."""
    from ankiocr_spark.links import q_pagerank

    rows = q_pagerank(spark, sf_dir).collect()
    n = len(rows)
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-6
    assert all(r["pagerank"] >= 0.15 / n - 1e-12 for r in rows)
    # the graph is non-uniform: ranks must actually differ
    assert len({r["pagerank"] for r in rows}) > 10


def test_url_normalize_expected_values(spark):
    """Pin the canonicalization INTENT (the oracle only proves engine
    agreement): case folding on scheme/host but not path, default-port
    strip vs non-default keep, fragment removal, empty-path slash, query
    param sorting."""
    from pyspark.sql import functions as F

    from ankiocr_spark.links import normalize_url_col

    cases = [
        ("HTTP://Example.ORG:80/a/b?z=9&a=2#frag",
         "http://example.org/a/b?a=2&z=9"),
        ("https://WWW.Example.org:8080/Path?q=1",
         "https://www.example.org:8080/Path?q=1"),
        ("HTTPS://site.example.com:443/x/2", "https://site.example.com/x/2"),
        ("http://example.com#sec", "http://example.com/"),
        ("https://example.net/p?b=4&a=1&c=3",
         "https://example.net/p?a=1&b=4&c=3"),
        ("https://example.net/p", "https://example.net/p"),
        # IPv6 literal authorities (ADVICE r3): brackets are the host, the
        # ':' host/port split must not fire inside them
        ("https://[2001:DB8::1]:8443/v6/x#top",
         "https://[2001:db8::1]:8443/v6/x"),
        ("HTTPS://[2001:DB8::1]:443/y", "https://[2001:db8::1]/y"),
        ("http://[::1]", "http://[::1]/"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "raw string")
    got = [r["url"] for r in
           df.select(normalize_url_col(F.col("raw")).alias("url")).collect()]
    assert got == [want for _, want in cases]


def test_pagerank_variable_outdegree_and_dangling(spark):
    """The general contract (VERDICT r2 fix): computed out-degrees — NOT a
    hardcoded /2 — and dangling-mass redistribution, checked value-for-value
    against a pure-Python power iteration on a graph with outdegrees
    {0,1,2,3} and two dangling nodes. Mass conservation falls out: total
    rank stays exactly 1 every iteration."""
    from collections import Counter

    from ankiocr_spark.links import PR_DAMPING, PR_ITERS, pagerank

    nodes = list(range(6))
    edge_list = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 0), (2, 3), (4, 0)]
    # nodes 3 and 5 are dangling (no out-edges)

    def ref_pr(iters):
        n = len(nodes)
        out = Counter(s for s, _ in edge_list)
        r = {v: 1.0 / n for v in nodes}
        for _ in range(iters):
            dang = sum(r[v] for v in nodes if out[v] == 0)
            c = {v: 0.0 for v in nodes}
            for s, t in edge_list:
                c[t] += r[s] / out[s]
            r = {v: 0.15 / n + PR_DAMPING * (c[v] + dang / n) for v in nodes}
        return r

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, ndf).collect()}
    want = ref_pr(PR_ITERS)
    assert set(got) == set(want)
    for v in nodes:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_anchor_pairs_text_normalization_and_skips():
    from ankiocr_spark.links import extract_anchor_pairs

    html = (
        b'<a href="/x">Hello <b>World</b>!</a>'
        b'<a href="#frag">skipped</a>'
        b'<a href="/empty"></a>'
        b'<a href="rel">  spaced\n   text </a>'
    )
    pairs = extract_anchor_pairs("https://e.org/dir/page.html", html)
    assert pairs == [
        ("https://e.org/x", "Hello World!"),
        ("https://e.org/empty", ""),
        ("https://e.org/dir/rel", "spaced text"),
    ]


def test_anchor_aggregation_exact_counts_and_capped_sample(spark):
    from ankiocr_spark.links import MAX_ANCHOR_SAMPLE, aggregate_anchor_texts

    # 20 pages all linking to one target with 20 distinct anchors: counts
    # stay exact, the materialized anchor sample is capped and sorted
    rows = [
        (
            f"https://e.org/p{i}",
            f'<html><body><a href="/hub">label {i:02d}</a></body></html>'.encode(),
        )
        for i in range(20)
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = aggregate_anchor_texts(pages).collect()
    assert len(out) == 1
    r = out[0]
    assert r["target"] == "https://e.org/hub"
    assert r["n_refs"] == 20 and r["n_anchors"] == 20
    sample = r["anchors"].split("|")
    assert len(sample) == MAX_ANCHOR_SAMPLE
    assert sample == sorted(sample)
    assert sample[0] == "label 00"


def test_anchor_pairs_implicit_close_and_truncation():
    from ankiocr_spark.links import extract_anchor_pairs

    # HTML5 implicit close: a second <a> before </a> closes the first
    html = b'<a href="/x">foo <a href="/y">bar</a>'
    assert extract_anchor_pairs("https://e.org/", html) == [
        ("https://e.org/x", "foo"),
        ("https://e.org/y", "bar"),
    ]
    # page truncated mid-anchor still emits the pending pair on close()
    html = b'<p>body</p><a href="/last">trailing tex'
    assert extract_anchor_pairs("https://e.org/", html) == [
        ("https://e.org/last", "trailing tex"),
    ]


def test_redirect_resolution_inverts_the_planted_schedule(spark, sf_dir):
    """Chain members resolve to their chain head with hops == their
    position; members of a planted cycle (chain % 17 == 0, terminal
    redirects back to the tail) are unresolved with NULL target — the
    crawler give-up verdict. Expectations come from a tiny Python
    re-walk of the SAME edge schedule over the corpus' ACTUAL id set
    (review find: assuming every cyclic chain is complete couples the
    test to corpora whose max id doesn't truncate one — a truncated
    'cycle' dangles onto a nonexistent id and legitimately resolves)."""
    import pyarrow.parquet as pq

    from ankiocr_spark.links import (
        REDIRECT_CHAIN_LEN as L,
        REDIRECT_CYCLE_EVERY,
        REDIRECT_ROUNDS,
        _REDIRECT_URL,
        q_redirect_resolve,
    )

    ids = set(
        pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
        .column("doc_id").to_pylist()
    )

    def edge(i):
        chain, pos = divmod(i, L)
        if pos > 0:
            return i - 1
        return i + L - 1 if chain % REDIRECT_CYCLE_EVERY == 0 else None

    def walk(i, cap=2 ** REDIRECT_ROUNDS):
        hops = 0
        while hops <= cap:
            nxt = edge(i) if i in ids else None  # ids outside the corpus have no edges
            if nxt is None:
                return ("resolved", f"{_REDIRECT_URL}{i}", hops)
            i, hops = nxt, hops + 1
        return ("unresolved", None, None)

    rows = q_redirect_resolve(spark, sf_dir).collect()
    assert rows
    statuses = set()
    for r in rows:
        nid = int(r["url"].rsplit("/", 1)[1])
        statuses.add(r["status"])
        assert (r["status"], r["final_url"], r["hops"]) == walk(nid), nid
    assert statuses == {"resolved", "unresolved"}


def test_resolve_redirects_hop_cap_loop_and_round_invariance(spark):
    """Unit graph hitting every boundary: a chain of exactly 2^rounds
    hops resolves AT the cap, one of 2^rounds + 1 is unresolved (but
    resolves with one more doubling round — the cap is the only reason),
    a 2-cycle and a self-loop are unresolved at ANY round count."""
    from ankiocr_spark.links import REDIRECT_ROUNDS, resolve_redirects

    cap = 2 ** REDIRECT_ROUNDS
    edges = [(100 + i + 1, 100 + i) for i in range(cap)]      # 16-hop chain
    edges += [(300 + i + 1, 300 + i) for i in range(cap + 1)]  # 17-hop chain
    edges += [(1, 2), (2, 1), (9, 9)]                          # cycle + self-loop
    df = spark.createDataFrame(edges, "src: bigint, dst: bigint")

    out = {r["id"]: r for r in resolve_redirects(df).collect()}
    assert (out[100 + cap]["done"], out[100 + cap]["nxt"], out[100 + cap]["hops"]) == (
        True, 100, cap)
    assert out[300 + cap + 1]["done"] is False
    assert out[300 + cap]["done"] and out[300 + cap]["hops"] == cap
    for loop_node in (1, 2, 9):
        assert out[loop_node]["done"] is False

    deeper = {r["id"]: r for r in resolve_redirects(df, rounds=REDIRECT_ROUNDS + 1).collect()}
    assert deeper[300 + cap + 1]["done"] and deeper[300 + cap + 1]["hops"] == cap + 1
    for loop_node in (1, 2, 9):
        assert deeper[loop_node]["done"] is False
    # resolved verdicts are round-invariant once reached
    assert all(
        deeper[i]["nxt"] == out[i]["nxt"] and deeper[i]["hops"] == out[i]["hops"]
        for i in out if out[i]["done"])


def test_registered_domain_psl_rules_and_plan(spark, sf_dir):
    """Longest-match beats shorter suffixes (github.io over io, co.uk
    over uk), unlisted TLDs fall back to the implicit * rule, bare
    suffixes and single-label hosts have no registrable part; the whole
    query is one scan-fused projection (zero Exchange)."""
    from ankiocr_spark.links import q_registered_domain

    df = q_registered_domain(spark, sf_dir)
    for r in df.collect():
        d, shape = r["doc_id"], r["doc_id"] % 6
        expect = {
            0: ("co.uk", f"shop{d}.co.uk"),
            1: ("com", f"site{d}.com"),
            2: ("github.io", f"cdn{d}.github.io"),
            3: ("dev", "example.dev"),
            4: ("ac.uk", None),
            5: (f"intranet-host{d}", None),
        }[shape]
        assert (r["public_suffix"], r["registered_domain"]) == expect, r
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_resolve_redirects_matches_reference_walk_on_random_graphs(spark):
    """Differential test on seeded RANDOM functional graphs (every src
    one dst — the HTTP Location shape): pointer doubling must agree with
    a plain Python hop-by-hop walk on status, target and hop count for
    every node. Random graphs mix chains, trees feeding cycles, long
    tails and self-loops — the compositions the planted schedule and the
    boundary unit test can't enumerate."""
    import random

    from ankiocr_spark.links import REDIRECT_ROUNDS, resolve_redirects

    cap = 2 ** REDIRECT_ROUNDS
    for seed in (7, 19, 23):
        rng = random.Random(seed)
        n = 80
        # ~70% of nodes redirect somewhere (self-loops allowed); the rest
        # are terminals reachable as targets
        edges = [
            (i, rng.randrange(n)) for i in range(n) if rng.random() < 0.7
        ]
        has_out = {s for s, _ in edges}
        nxt = dict(edges)

        def ref(i):
            hops = 0
            while hops <= cap:
                if i not in has_out:
                    return (True, i, hops)
                i, hops = nxt[i], hops + 1
            return (False, None, None)

        df = spark.createDataFrame(edges, "src: bigint, dst: bigint")
        got = {r["id"]: r for r in resolve_redirects(df).collect()}
        nodes = has_out | {d for _, d in edges}
        assert set(got) == nodes, seed
        for i in nodes:
            done, fin, hops = ref(i)
            r = got[i]
            assert r["done"] is done, (seed, i)
            if done:
                assert (r["nxt"], r["hops"]) == (fin, hops), (seed, i)


def test_resolve_redirects_early_exit_skips_settled_rounds(spark, monkeypatch):
    """Once every node is resolved the remaining doubling rounds are
    no-ops and must be SKIPPED (at 10^12 urls the median chain is <= 2
    hops, so most cap-sized schedules never run): a graph of pure 1-hop
    chains is fully done at init, so zero composition rounds execute —
    observed via the per-round localCheckpoint count (1 = init only)."""
    from ankiocr_spark.links import resolve_redirects

    edges = spark.createDataFrame(
        [(i, 1000 + i) for i in range(10)], "src: bigint, dst: bigint"
    )
    # patch the CONCRETE class (Spark 4: pyspark.sql.DataFrame is a
    # facade; instances are pyspark.sql.classic.dataframe.DataFrame)
    cls = type(edges)
    calls = []
    orig = cls.localCheckpoint

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    out = {r["id"]: r for r in resolve_redirects(edges).collect()}
    assert len(calls) == 1
    assert all(out[i]["done"] and out[i]["hops"] == 1 for i in range(10))
    assert all(out[1000 + i]["done"] and out[1000 + i]["hops"] == 0 for i in range(10))


def test_registered_domain_strips_fqdn_trailing_dot(spark):
    """DNS-derived host data routinely carries the FQDN trailing dot (or
    several) and arbitrary case; matching must see 'WWW.Example.CO.UK..'
    as 'www.example.co.uk' (kept verbatim in the host column — only the
    match normalizes)."""
    from pyspark.sql import functions as F  # noqa: F401

    from ankiocr_spark.links import registered_domain

    hosts = spark.createDataFrame(
        [(1, "www.example.com."), (2, "portal.ac.uk."), (3, "ac.uk."),
         (4, "WWW.Example.CO.UK..")],
        "doc_id: bigint, host: string",
    )
    got = {r["doc_id"]: r for r in registered_domain(hosts).collect()}
    assert got[1]["host"] == "www.example.com."
    assert (got[1]["public_suffix"], got[1]["registered_domain"]) == (
        "com", "example.com")
    assert (got[2]["public_suffix"], got[2]["registered_domain"]) == (
        "ac.uk", "portal.ac.uk")
    assert (got[3]["public_suffix"], got[3]["registered_domain"]) == ("ac.uk", None)
    assert (got[4]["public_suffix"], got[4]["registered_domain"]) == (
        "co.uk", "example.co.uk")


def test_registered_domain_matches_python_reference_on_random_hosts(spark):
    """Differential test on seeded random hosts (labels drawn from
    suffix fragments and junk, so shapes like 'github.io.com' — a PSL
    entry embedded mid-host, which must NOT match — arise): the Spark
    longest-match must agree with a direct Python re-implementation for
    every host."""
    import random

    from ankiocr_spark.links import PUBLIC_SUFFIXES, registered_domain

    rng = random.Random(31)
    frags = ["com", "org", "io", "uk", "co", "ac", "github", "blogspot",
             "www", "cdn", "x9", "example", "dev", "jp", "au"]
    hosts = []
    for i in range(200):
        n = rng.randint(1, 5)
        host = ".".join(rng.choice(frags) for _ in range(n))
        # mixed-case and (multi-)trailing-dot variants of the same shapes
        host = "".join(c.upper() if rng.random() < 0.3 else c for c in host)
        hosts.append((i, host + "." * rng.choice((0, 0, 1, 2, 3))))

    suffixes = set(PUBLIC_SUFFIXES)

    def ref(host):
        labels = host.lower().rstrip(".").split(".")
        n = len(labels)
        mk = 0
        for k in range(1, min(n, 4) + 1):
            if ".".join(labels[n - k:]) in suffixes:
                mk = k
        kf = mk or 1
        suffix = ".".join(labels[n - kf:])
        reg = ".".join(labels[n - kf - 1:]) if n > kf else None
        return suffix, reg

    df = spark.createDataFrame(hosts, "doc_id: bigint, host: string")
    got = {r["doc_id"]: r for r in registered_domain(df).collect()}
    assert len(got) == len(hosts)
    for i, h in hosts:
        assert (got[i]["public_suffix"], got[i]["registered_domain"]) == ref(h), h


def test_str_payload_gets_the_same_cap_as_bytes(monkeypatch):
    """A str page decodes through the kernel's capped ``_decode`` like a
    bytes page: past ``MAX_HTML_BYTES`` neither yields a link or anchor."""
    from ankiocr_spark import kernel
    from ankiocr_spark.links import extract_anchor_pairs

    monkeypatch.setattr(kernel, "MAX_HTML_BYTES", 100)
    page = '<a href="/a">first</a>' + " " * 100 + '<a href="/b">second</a>'
    for fn in (extract_links, extract_anchor_pairs):
        as_str = fn("https://e.org/", page)
        assert as_str == fn("https://e.org/", page.encode()), fn.__name__
        assert len(as_str) == 1, fn.__name__


def test_extract_links_matches_reference_href_parser():
    """Differential check of the shared anchor parse against an
    independent start-tag-only href collector: same hrefs, same order, on
    seeded random fragments with empty and fragment hrefs, duplicate
    href attributes, self-closing and unclosed anchors, script bodies,
    comments and truncated tags."""
    import random
    from html.parser import HTMLParser

    class RefHrefs(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.hrefs = []

        def handle_starttag(self, tag, attrs):
            if tag != "a":
                return
            for k, v in attrs:
                if k == "href" and v and not v.startswith("#"):
                    self.hrefs.append(v)
                    return

    pieces = [
        '<a href="/x">x</a>', '<a href="">e</a>', '<a href="#frag">f</a>',
        '<a href="#f" href="/dup">d</a>', '<a href="/one" href="/two">t</a>',
        '<a href="/self"/>', '<a/>', '<a href=/bare>', '<A HREF="/Up">u</A>',
        '<a name="n">', '</a>', '<script>var s = "<a href=\'/s\'>";</script>',
        '<!-- <a href="/c"> -->', '<a href="/amp?a=1&amp;b=2">',
        '<p>text</p>', 'plain ', '<div><a href="rel/p">r', '<a href="/t',
        '<a href="/u" ', '<!--', '<a\nhref="/nl">', '<style>a{}</style>',
    ]
    rng = random.Random(1234)
    for _ in range(2000):
        page = "".join(rng.choice(pieces) for _ in range(rng.randint(0, 12)))
        ref = RefHrefs()
        ref.feed(page)
        ref.close()
        got = [h for _, h, _ in extract_links("https://e.org/d/", page)]
        assert got == ref.hrefs, page


def _stdlib_close_anchors(page):
    """``_anchors`` with the stdlib's own ``HTMLParser.close`` in place of
    ``_AnchorParser.close``'s one-pass read of a no-'>' tail."""
    from html.parser import HTMLParser

    from ankiocr_spark.kernel import _decode
    from ankiocr_spark.links import _AnchorParser

    p = _AnchorParser()
    p.feed(_decode(page))
    HTMLParser.close(p)
    p._flush()
    return p.pairs


def test_anchor_tail_matches_stdlib_close():
    """Seeded differential sweep of the no-'>' tail read against the
    stdlib close path: the same (href, anchor text) pairs. Each page is a
    head of any pieces (anchors left open among them) and a tail with no
    '>': unclosed start tags, NULs, charrefs split across pieces,
    unterminated raw text, unknown marked sections such as `<![x`."""
    import random

    from ankiocr_spark.links import _AnchorParser, _anchors

    tail = [
        "<a ", "\x00", "&am", "p;", "<script>unterminated", "<a href=/b ",
        "<a", "<A HREF=x", "</a ", "text ", "&amp;", "<", "</", "<!--",
        "<!x", "<?", "<![cdata", "<p", "=", "'", '"', "/", " ", "\n", "x",
    ]
    head = tail + ['<a href="/open">', '<a href="#f">', "</a>", "<b>",
                   "<style>", ">"]
    rng = random.Random(20261019)
    compared = fast = 0
    for _ in range(4000):
        page = "".join(
            [rng.choice(head) for _ in range(rng.randint(0, 8))]
            + [rng.choice(tail) for _ in range(rng.randint(1, 30))]
        )
        assert _anchors(page) == _stdlib_close_anchors(page), repr(page)
        compared += 1
        p = _AnchorParser()
        p.feed(page)
        fast += ">" not in p.rawdata and p.cdata_elem is None
    assert compared > 3500 and fast > 2000, (compared, fast)


def test_anchor_tail_stays_linear():
    """12 KB of unclosed `<a ` tags, alone and followed by a NUL, parse
    within 10x the time of a benign page of the same size: the stdlib's
    close() re-scanned the rest of the page per tag (~2 s each)."""
    import timeit

    from ankiocr_spark.links import _anchors

    def best(page):
        return min(timeit.repeat(lambda: _anchors(page), number=1, repeat=3))

    unit = '<p><a href="/x">link</a> text</p>'
    for page in ("<a " * 4000, "<a " * 4000 + "\x00"):
        benign = (unit * (len(page) // len(unit) + 1))[: len(page)]
        assert best(page) < 10 * best(benign), repr(page[-8:])


def test_unknown_marked_section_degrades_to_data():
    """The stdlib parser raises on a marked section with no or an unknown
    keyword (`<![ foo]>`), which would drop every link of the page. The
    link walk reads it as data up to its '>', the text the kernel emits
    for the same section; known sections parse as the stdlib does."""
    from ankiocr_spark.kernel import extract_spans
    from ankiocr_spark.links import _anchors

    page = "<p>hello</p><a href=/x>x</a><![ foo]><a href=/y>y</a>"
    assert [(h, u) for _, h, u in extract_links("http://h/", page)] == [
        ("/x", "http://h/x"), ("/y", "http://h/y"),
    ]
    for section in ("<![ foo]>", "<![foo[ &amp; ]]>", "<![]>"):
        (block,) = extract_spans(f"<p>x{section}z</p>")
        assert _anchors(f"<a href=/x>x{section}z</a>") == [("/x", block.text)]
    # at end of file, with no '>' left
    assert _anchors("<a href=/x>x</a><a href=/y>y<![ foo") == [
        ("/x", "x"), ("/y", "y<![ foo"),
    ]
    assert _anchors(
        "<a href=/x>a<![if !IE]>b<![endif]>c</a>"
        "<a href=/y>d<![CDATA[e]]>f</a>"
    ) == [("/x", "abc"), ("/y", "df")]
