"""Port of reference tests/test_urlparser.py against the LinkExtractor
kernel, plus exact-semantics checks for the relative-resolution quirks."""

from __future__ import annotations

import os

import pytest

from secretscraper_spark.config import url_finder_rules
from secretscraper_spark.functions.purekit import (
    LinkExtractor,
    harvest_dom_hrefs,
    parse6,
    unparse6,
)

BASE = parse6("http://site0.test/")


def norms(children):
    return {unparse6(c) for c in children}


def test_dom_harvest(html_text):
    hrefs = harvest_dom_hrefs(html_text)
    assert "/p/child1" in hrefs
    assert "http://other.test/abs" in hrefs
    assert "normal" in hrefs
    assert "delete" in hrefs
    assert "1.js" in hrefs            # script src ending .js collected
    assert "notjs.txt" not in hrefs   # script src not .js skipped (urlparser.py:51)
    assert "favicon.ico" not in hrefs # img not collected at all


def test_extract_urls_on_html(html_text):
    ex = LinkExtractor(url_finder_rules())
    kids = norms(ex.extract(BASE, html_text))
    # DOM relative: scheme+netloc from base, path verbatim
    assert "http://site0.test/p/child1" in kids
    # DOM absolute kept as-is
    assert "http://other.test/abs" in kids
    # relative without leading slash: path verbatim, NOT resolved → //netloc/ + path
    assert "http://site0.test/normal" in kids
    # dangerous path still extracted (evade happens at fetch, not parse)
    assert "http://site0.test/delete" in kids
    # regex-only absolute url found
    assert "https://regex.test/from-regex" in kids
    # jsFind relative
    assert "http://site0.test/assets/app.js" in kids
    # static pruned
    assert not any(k.endswith("x.png") for k in kids)
    assert not any("favicon" in k for k in kids)
    # sanitizer rejects
    assert not any("javascript" in k for k in kids)
    assert not any("example.com" in k for k in kids)


def test_extract_urls_non_html():
    """DOM pass yields nothing on non-html text
    (reference tests/test_urlparser.py:24-33)."""
    assert harvest_dom_hrefs("xxxxxx") == set()


def test_relative_path_kept_verbatim():
    """urlparser.py:80-94 keeps the href path verbatim — no `..`
    normalization, no RFC 3986 merge. Easy to 'fix' accidentally; don't."""
    ex = LinkExtractor({})
    kids = norms(ex.extract(parse6("http://h/a/b/"), '<a href="../up.html">x</a>'))
    # geturl() of (http, h, ../up.html) → 'http://h/../up.html'
    assert kids == {"http://h/../up.html"}


def test_regex_scheme_netloc_rules():
    """urlparser.py:122-130: scheme = base's unless match scheme ∈
    {http,https}; netloc = base's only if empty."""
    ex = LinkExtractor({"r": r"\"(ftp://x.test/path/q)\""})
    kids = norms(ex.extract(parse6("https://base.test/"), '"ftp://x.test/path/q"'))
    # ftp not in (http, https) → scheme replaced by base's, netloc kept
    assert kids == {"https://x.test/path/q"}


def test_classify_link_cache_matches_uncached_pipeline():
    """_classify_link memoizes the pure per-candidate pipeline (urlparse +
    static prune + sanitize reject). Guard it against a straight-line
    uncached re-implementation on adversarial candidates — refsim shares
    the LinkExtractor kernel, so the e2e parity gate would NOT catch a
    kernel-level divergence here."""
    from urllib.parse import urlparse

    from secretscraper_spark.functions.purekit import (
        _classify_link,
        is_static_resource,
        sanitize_url,
    )

    def uncached(link):
        try:
            o = urlparse(link)
        except ValueError:
            return None
        if is_static_resource(o.path):
            return None
        if len(sanitize_url(link)) == 0:
            return None
        return (o.scheme, o.netloc, o.path, o.params, o.query, o.fragment)

    cases = [
        "", "/p/child1", "http://other.test/abs", "normal", "../up.html",
        "ftp://x.test/path/q", "mailto:a@b.c", "javascript:void(0)",
        "http://[::1", "http://[::1]/ok", "x.png", "/a/x.PNG?v=1",
        "//proto-relative.test/p", "http://h/p;params?q=1#frag",
        "https://example.com/reject", "http://localhost/reject",
        "  spaced  ", "%3A%2F", "a" * 3000, "/p/1#", "/p/1",
        "http://site0.test/assets/app.js?v=2", "HTTP://UPPER.TEST/P",
    ]
    for link in cases:
        assert _classify_link(link) == uncached(link), link
    # repeated lookups hit the cache and stay identical
    for link in cases:
        assert _classify_link(link) == uncached(link), link


DOM_FIXTURE = os.path.join(os.path.dirname(__file__), "resources", "dom_parity.html")


def test_dom_harvest_parity_on_reference_fixture():
    """Fallback-tightening gate (round-2 verdict item 6): the regex
    harvester must reproduce the reference's bs4 DOM walk. bs4's
    html.parser backend is stdlib HTMLParser, so a clean-room HTMLParser
    walker here IS the reference semantics — a/link[href] ∪ script[src]
    ending .js, with entity-unescaped attribute values and script/style
    bodies treated as CDATA. The in-repo fixture is a news-index page
    carrying those hazards: ``&amp;`` in hrefs, tag-like strings inside
    script and style bodies, link/script src in every quoting style, and
    relative hrefs."""
    import html.parser

    # a missing fixture is a failure, not a skip: this is the only gate on
    # the regex harvester against real-world markup
    with open(DOM_FIXTURE, encoding="utf-8") as f:
        text = f.read()

    class Walker(html.parser.HTMLParser):
        def __init__(self):
            super().__init__()
            self.hrefs = set()

        def handle_starttag(self, tag, attrs):
            d = dict(attrs)
            if tag in ("a", "link") and d.get("href") is not None:
                self.hrefs.add(d["href"])
            elif tag == "script" and (d.get("src") or "").endswith(".js"):
                self.hrefs.add(d["src"])

    wk = Walker()
    wk.feed(text)
    from secretscraper_spark.functions.purekit import harvest_dom_hrefs_regex

    got = harvest_dom_hrefs_regex(text)
    assert got == wk.hrefs
    # the exact harvest: every href entity-unescaped (no "&amp;"), nothing
    # from the script/style bodies (no "/in-..."), hn.js?a6bTr left out
    # (a script src must end in .js), relative hrefs kept as written
    assert got == {
        "", "#top", "../ask", "./show", "//news.example.test/", "/jobs",
        "/static/app.js", "?p=2", "Upper?q=1&r=2",
        "from?site=story1.example.org", "from?site=story2.example.org",
        "front", "hide?id=1001&goto=news", "hide?id=1002&goto=news",
        "https://cdn.example.test/vendor/x.min.js",
        "https://news.example.test",
        "https://story1.example.org/post/1?ref=hn&utm=x",
        "https://story2.example.org/post/2?ref=hn&utm=x",
        "item?id=1001", "item?id=1002", "javascript:void(0)",
        "login?goto=news", "mailto:hn@example.test", "newcomments", "newest",
        "news", "news.css?v=9&t=1", "relative/lib.js", "rss", "submit",
        "user?id=author1", "user?id=author2",
        "vote?id=1001&how=up&goto=news", "vote?id=1002&how=up&goto=news",
        "y18.svg",
    }


def test_classify_link_long_candidates_bypass_cache():
    """lru_cache bounds entry COUNT, not bytes — multi-KB candidates
    (data: URIs, minified-JS garbage that survives the gates) must bypass
    the memo entirely so unique long strings can't pin worker memory,
    while returning the identical classification."""
    from secretscraper_spark.functions.purekit import (
        _CLASSIFY_CACHE_MAX_LEN,
        _classify_link,
        _classify_link_cached,
        _classify_link_impl,
    )

    long_link = "http://h.test/" + "a" * _CLASSIFY_CACHE_MAX_LEN
    before = _classify_link_cached.cache_info()
    assert _classify_link(long_link) == _classify_link_impl(long_link)
    after = _classify_link_cached.cache_info()
    assert after.misses == before.misses
    assert after.currsize == before.currsize
    # a short candidate still populates the cache
    short = "http://h.test/cache-probe-unique-xyzq"
    _classify_link(short)
    assert _classify_link_cached.cache_info().currsize == after.currsize + 1


def test_dedup_on_six_tuple(html_text):
    """Children are a set keyed by the parsed 6-tuple."""
    ex = LinkExtractor(url_finder_rules())
    two = '<a href="/p/1">a</a><a href="/p/1#">b</a>'
    kids = ex.extract(BASE, two)
    # '#' empty fragment: urlparse('/p/1#') → fragment '' == '/p/1' parse
    assert len({k for k in kids if k[2] == "/p/1"}) == 1


class TestBs4Gate:
    """bs4 upgrades DOM parity automatically where the wheel exists
    (import-gated like hyperscan); these run only when bs4 is present."""

    def test_bs4_harvest_matches_regex_on_wellformed(self, html_text):
        pytest.importorskip("bs4")
        from secretscraper_spark.functions.purekit import (
            harvest_dom_hrefs_bs4,
            harvest_dom_hrefs_regex,
        )

        assert harvest_dom_hrefs_bs4(html_text) == harvest_dom_hrefs_regex(
            html_text
        )

    def test_bs4_handles_malformed(self):
        pytest.importorskip("bs4")
        from secretscraper_spark.functions.purekit import harvest_dom_hrefs_bs4

        # unclosed tag + commented-out anchor: the bs4 walk must skip the
        # comment and still find the real href (html.parser semantics)
        text = '<a href="/real">x<!-- <a href="/fake">y</a> -->'
        assert harvest_dom_hrefs_bs4(text) == {"/real"}

    def test_dispatch_uses_regex_when_bs4_absent(self):
        import secretscraper_spark.functions.purekit as pk2

        if pk2._BeautifulSoup is None:
            # this environment: dispatch must be the regex path
            html = '<a href="/x">a</a>'
            assert pk2.harvest_dom_hrefs(html) == {"/x"}


class TestBSElementExtractor:
    """P5 — reference BSHandler surface (handler.py:140-160)."""

    def test_import_gate_raises_without_bs4(self):
        import secretscraper_spark.functions.purekit as pk2

        if pk2._BeautifulSoup is not None:
            pytest.skip("bs4 present")
        with pytest.raises(ImportError):
            pk2.BSElementExtractor(lambda soup: None)

    def test_filter_func_semantics(self):
        pytest.importorskip("bs4")
        from secretscraper_spark.functions.purekit import BSElementExtractor

        ex = BSElementExtractor(
            lambda soup: [t.get_text() for t in soup.find_all("b")] or None
        )
        assert ex.extract("<b>x</b><b>y</b>") == [
            ("HTML Element", "['x', 'y']")
        ]
        assert ex.extract("<i>none</i>") == []
