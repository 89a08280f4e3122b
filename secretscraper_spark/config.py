"""Rules and crawl configuration — the "query" the engine answers.

Values are taken verbatim from the reference's shipped config
(`/root/reference/src/secretscraper/config/settings.yml:1-73`) so that the
Spark engine answers exactly the same extraction query. The loader semantics
mirror `util.read_rules_from_setting` (`util.py:22-41`): only rules with
``loaded: true`` participate.

Everything here is plain Python data; it is broadcast to executors and
compiled once per Arrow batch iterator inside the pandas UDFs
(see functions/extract.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# --- secret-extraction rules (settings.yml:40-73), order preserved -----------
# (name, regex, loaded)
RULES: list[tuple[str, str, bool]] = [
    (
        "Swagger",
        r"\b[\w/]+?((swagger-ui.html)|(\"swagger\":)|(Swagger UI)|(swaggerUi)|(swaggerVersion))\b",
        True,
    ),
    (
        "ID Card",
        r"\b((\d{8}(0\d|10|11|12)([0-2]\d|30|31)\d{3})|(\d{6}(18|19|20)\d{2}(0[1-9]|10|11|12)([0-2]\d|30|31)\d{3}(\d|X|x)))\b",
        True,
    ),
    (
        "Phone",
        "['\"](1(3([0-35-9]\\d|4[1-8])|4[14-9]\\d|5([\\d]\\d|7[1-79])|66\\d|7[2-35-8]\\d|8\\d{2}|9[89]\\d)\\d{7})['\"]",
        True,
    ),
    ("JS Map", r"\b([\w/]+?\.js\.map)", True),
    ("URL as a Value", r"(\b\w+?=(https?)(://|%3a%2f%2f))", False),
    (
        "Email",
        "['\"]([\\w]+(?:\\.[\\w]+)*@(?:[\\w](?:[\\w-]*[\\w])?\\.)+[\\w](?:[\\w-]*[\\w])?)['\"]",
        True,
    ),
    (
        "Internal IP",
        r"[^0-9]((127\.0\.0\.1)|(10\.\d{1,3}\.\d{1,3}\.\d{1,3})|(172\.((1[6-9])|(2\d)|(3[01]))\.\d{1,3}\.\d{1,3})|(192\.168\.\d{1,3}\.\d{1,3}))",
        True,
    ),
    (
        "Cloud Key",
        r"\b((accesskeyid)|(accesskeysecret)|\b(LTAI[a-z0-9]{12,20}))\b",
        True,
    ),
    ("Shiro", r"(=deleteMe|rememberMe=)", True),
    ("Suspicious API Key", "[\"'][0-9a-zA-Z]{32}['\"]", True),
    (
        "Jwt",
        "['\"](ey[A-Za-z0-9_-]{10,}\\.[A-Za-z0-9._-]{10,}|ey[A-Za-z0-9_\\/+-]{10,}\\.[A-Za-z0-9._\\/+-]{10,})['\"]",
        True,
    ),
]


def loaded_rules() -> dict[str, str]:
    """Mirror of ``read_rules_from_setting`` (reference util.py:22-41)."""
    return {name: regex for name, regex, loaded in RULES if loaded}


# --- link-finding regexes (settings.yml:22-31) --------------------------------
# Applied with use_groups=True semantics (facade.py:302-306 builds a
# ReRegexHandler over urlFind+jsFind keyed urlFinder_{i}).
URL_FIND: list[str] = [
    "[\"'‘“`]\\s{0,6}(https{0,1}:[-a-zA-Z0-9()@:%_\\+.~#?&//={}]{2,250}?)\\s{0,6}[\"'‘“`]",
    "=\\s{0,6}(https{0,1}:[-a-zA-Z0-9()@:%_\\+.~#?&//={}]{2,250})",
    "[\"'‘“`]\\s{0,6}([#,.]{0,2}/[-a-zA-Z0-9()@:%_\\+.~#?&//={}]{2,250}?)\\s{0,6}[\"'‘“`]",
    "\"([-a-zA-Z0-9()@:%_\\+.~#?&//={}]+?[/]{1}[-a-zA-Z0-9()@:%_\\+.~#?&//={}]+?)\"",
    "href\\s{0,6}=\\s{0,6}[\"'‘“`]{0,1}\\s{0,6}([-a-zA-Z0-9()@:%_\\+.~#?&//={}]{2,250})|action\\s{0,6}=\\s{0,6}[\"'‘“`]{0,1}\\s{0,6}([-a-zA-Z0-9()@:%_\\+.~#?&//={}]{2,250})",
]
JS_FIND: list[str] = [
    "(https{0,1}:[-a-zA-Z0-9（）@:%_\\+.~#?&//=]{2,100}?[-a-zA-Z0-9（）@:%_\\+.~#?&//=]{3}[.]js)",
    "[\"'‘“`]\\s{0,6}(/{0,1}[-a-zA-Z0-9（）@:%_\\+.~#?&//=]{2,100}?[-a-zA-Z0-9（）@:%_\\+.~#?&//=]{3}[.]js)",
    "=\\s{0,6}[\",',’,”]{0,1}\\s{0,6}(/{0,1}[-a-zA-Z0-9（）@:%_\\+.~#?&//=]{2,100}?[-a-zA-Z0-9（）@:%_\\+.~#?&//=]{3}[.]js)",
]


def url_finder_rules() -> dict[str, str]:
    """urlFind + jsFind keyed ``urlFinder_{i}`` (reference facade.py:302-306)."""
    return {f"urlFinder_{i}": p for i, p in enumerate(URL_FIND + JS_FIND)}


# --- dangerous paths (settings.yml:33-38; applied crawler.py:258-266) ---------
DANGEROUS_PATHS: list[str] = ["logout", "update", "remove", "insert", "delete"]

# --- static-resource extensions (reference util.py:44-50) ---------------------
STATIC_EXTS: list[str] = [
    ".png", ".jpg", ".jpeg", ".gif", ".css", ".ico", ".dtd",
    ".svg", ".scss", ".vue", ".ts",
]


@dataclass
class CrawlConfig:
    """Crawl knobs; defaults mirror the reference's shipped config
    (`config/settings.yml:8-16`, `cmdline.py:82-85`)."""

    max_depth: int = 1            # 0 = unlimited (crawler.py:204, 346-351)
    max_page_num: int = 1000      # 0 = unlimited (crawler.py:190-191, 270-271)
    max_concurrent_per_domain: int = 5   # rate_limiter.py:60
    min_request_interval: float = 0.2    # rate_limiter.py:74-80
    dangerous_paths: list[str] = field(default_factory=lambda: list(DANGEROUS_PATHS))
    # domain scope filters: Unix-glob patterns (filter.py:18-57)
    white_list: list[str] = field(default_factory=list)
    black_list: list[str] = field(default_factory=list)
    # north-rule additions (absent in reference)
    respect_robots: bool = False
    # engine knobs
    shuffle_partitions: int = 32
    # fetch-join strategy: broadcast the frontier tier while it fits an
    # executor (deterministic small-tier plan; no pages-side shuffle);
    # beyond this the join takes the shuffle-hash path (AQE)
    broadcast_frontier_rows: int = 2_000_000
