"""Option → configuration facades (reference ``facade.py:55-421``).

Validates and merges CLI options over loaded settings, then builds the
Spark engine objects: ``CrawlerFacade`` → :class:`SparkCrawler`,
``FileScannerFacade`` → the file-scan pipeline. The option precedence,
error messages, and quirks mirror the reference:

- one of ``-u`` / ``-f`` is required (``facade.py:182-183``);
- ``-m 1|2`` sets max_depth before explicit ``--max-depth`` overrides it
  (``facade.py:196-210``);
- status ranges parse ``"200,300-400"`` with the reference's STRING
  comparison on the bounds (``facade.py:229-233`` compares
  ``min_status >= max_status`` lexicographically before int()-ing them —
  kept verbatim for parity, so ``"90-100"`` is rejected exactly like the
  reference rejects it);
- UA/cookie land in a copy of ``settings['headers']``
  (``facade.py:248-254``);
- ``allow_domains`` present → chained white+black filter, else black only
  (``facade.py:154-174``) — expressed as CrawlConfig white/black lists.
"""

from __future__ import annotations

import pathlib
import typing
from collections import namedtuple

from pyspark.sql import DataFrame, SparkSession

from .plans.crawler import CrawlResult, SparkCrawler
from .settings import (
    crawl_config_from,
    loaded_rules_from,
    url_finder_rules_from,
)
from .sinks import reports

Range = namedtuple("Range", ["start", "end"])  # end exclusive (util.py:19)


class FacadeException(Exception):
    """Option-validation failure (reference exception.py)."""


def parse_status_ranges(status: str) -> list[Range] | None:
    """``"200,300-400"`` → [Range(200,201), Range(300,401)]
    (reference ``facade.py:223-245`` verbatim, incl. the lexicographic
    bound check)."""
    allowed_status: list[Range] | None = None
    for status_ex in status.split(","):
        status_ex = status_ex.strip()
        if "-" in status_ex:
            min_status = status_ex.split("-")[0]
            max_status = status_ex.split("-")[1]
            if min_status >= max_status:  # string compare — reference parity
                raise FacadeException(f"Invalid status range: {status_ex}")
            if allowed_status is None:
                allowed_status = []
            allowed_status.append(
                Range(start=int(min_status), end=int(max_status) + 1)
            )
        else:
            if allowed_status is None:
                allowed_status = []
            allowed_status.append(
                Range(start=int(status_ex), end=int(status_ex) + 1)
            )
    return allowed_status


def _read_start_urls(custom: dict) -> list[str]:
    """Start urls from -u/-f (reference ``facade.py:176-193``). The
    reference accumulates into a set; insertion order is kept here so seed
    discovery_seq stays deterministic (seed_frontier dedups again)."""
    url = custom.get("url")
    url_file = custom.get("url_file")
    if url is None and url_file is None:
        raise FacadeException("One of '-u' and '-f' must be provided")
    start_urls: list[str] = []
    if url_file is not None:
        text = pathlib.Path(url_file).read_text()
        for line in text.splitlines():
            if line.strip():
                start_urls.append(line.strip())
    if url is not None:
        start_urls.append(str(url).strip())
    return list(dict.fromkeys(start_urls))


class CrawlerFacade:
    """Reference ``CrawlerFacade`` (facade.py:55-339) over SparkCrawler.

    *pages* (a DataFrame in the PAGES_SCHEMA image+caption shape) selects
    the deterministic fetch-join mode; otherwise the paced executor runs
    *page_fetch_fn* (defaulting to the stdlib HTTP fetcher built from the
    merged header/proxy/timeout settings — plans/fetch_http.py).
    """

    def __init__(
        self,
        full_settings: dict,
        custom_settings: dict,
        spark: SparkSession | None = None,
        pages: DataFrame | None = None,
        page_fetch_fn: typing.Callable | None = None,
        print_func: typing.Callable[[str], typing.Any] = print,
    ) -> None:
        self.settings = full_settings
        self.custom_settings = custom_settings
        self.spark = spark
        self.pages = pages
        self.page_fetch_fn = page_fetch_fn
        self.print_func = print_func
        self.headers: dict[str, str] = {}
        self.hide_regex = False
        self.detail_output = False
        self.validate = False
        self.outfile: pathlib.Path | None = None
        self.allowed_status: list[Range] | None = None
        self.start_urls: list[str] = []
        self.crawler: SparkCrawler = self.create_crawler()
        self.result: CrawlResult | None = None

    def create_crawler(self) -> SparkCrawler:
        custom, settings = self.custom_settings, self.settings

        if custom.get("validate", False) is True:
            self.validate = True
        if custom.get("follow_redirects", False) is True:
            settings["follow_redirects"] = True
        if custom.get("hide_regex", False) is True:
            self.hide_regex = True

        # domain scope (facade.py:154-174)
        allow_domains = custom.get("allow_domains", "") or ""
        disallow_domains = custom.get("disallow_domains", "") or ""
        white_list = (
            [d.strip() for d in allow_domains.split(",")] if allow_domains else []
        )
        black_list = (
            [d.strip() for d in disallow_domains.split(",")]
            if disallow_domains
            else []
        )

        self.start_urls = _read_start_urls(custom)

        # mode before explicit max-depth/max-page (facade.py:196-210)
        mode = custom.get("mode")
        if mode is not None:
            settings["max_depth"] = {1: 1, 2: 2}.get(int(mode), settings["max_depth"])
        if custom.get("max_page") is not None:
            settings["max_page_num"] = int(custom["max_page"])
        if custom.get("max_depth") is not None:
            settings["max_depth"] = int(custom["max_depth"])

        if custom.get("outfile") is not None:
            self.outfile = pathlib.Path(custom["outfile"])

        if custom.get("status") is not None:
            self.allowed_status = parse_status_ranges(custom["status"])

        # UA / Cookie into a header copy (facade.py:248-254)
        self.headers = dict(settings.get("headers", {}))
        if custom.get("ua") is not None:
            self.headers["User-Agent"] = str(custom["ua"]).strip()
        if custom.get("cookie") is not None:
            self.headers["Cookie"] = str(custom["cookie"]).strip()

        if custom.get("proxy") is not None:
            settings["proxy"] = str(custom["proxy"]).strip()
        if custom.get("verbose") is not None:
            settings["verbose"] = custom["verbose"]
        for key in (
            "max_connections",
            "max_keepalive_connections",
            "max_concurrent_per_domain",
            "min_request_interval",
        ):
            if custom.get(key) is not None:
                settings[key] = custom[key]
        for key in ("max_connections", "max_keepalive_connections"):
            if custom.get(key) is not None:
                # single-process httpx pool knobs (reference C4): a
                # distributed fetch fleet has no faithful global socket
                # cap — say so instead of silently ignoring the flag
                self.print_func(
                    f"Warning: {key} is kept for settings parity but the "
                    "engine enforces the PER-HOST bound "
                    "(max_concurrent_per_domain); total concurrency "
                    "scales with scheduled hosts."
                )

        if custom.get("detail", False) is True:
            self.detail_output = True

        cfg = crawl_config_from(settings)
        cfg.white_list = white_list
        cfg.black_list = black_list

        if self.spark is None:
            from .session import get_spark

            self.spark = get_spark("secretscraper-cli")

        if self.pages is not None:
            fetch_mode, fetch_fn = "join", None
            pages = self.pages
        else:
            from .plans.fetch_http import make_http_fetch_fn
            from .schemas import PAGES_SCHEMA

            fetch_mode = "paced"
            try:
                fetch_fn = self.page_fetch_fn or make_http_fetch_fn(
                    headers=self.headers,
                    timeout=float(settings.get("timeout", 5)),
                    follow_redirects=bool(settings.get("follow_redirects", True)),
                    proxy=settings.get("proxy") or None,
                )
            except ValueError as e:  # e.g. socks proxy with the stdlib fetcher
                raise FacadeException(str(e)) from e
            pages = self.spark.createDataFrame([], PAGES_SCHEMA)

        return SparkCrawler(
            self.spark,
            pages,
            cfg,
            fetch_mode=fetch_mode,
            page_fetch_fn=fetch_fn,
            rules=loaded_rules_from(settings),
            link_rules=url_finder_rules_from(settings),
            checkpoint_dir=custom.get("checkpoint_dir"),
            budget_mode=custom.get("budget_mode") or "bfs",
            trap_cap=custom.get("trap_cap"),
            quarantine_fails=custom.get("quarantine_fails"),
            quarantine_cooldown_tiers=custom.get("quarantine_cooldown"),
            adaptive_delay=bool(custom.get("adaptive_delay")),
            # any real fetcher — default HTTP or caller-supplied — honors
            # the politeness schedule on the wall clock; only the
            # deterministic pages-store replay keeps the virtual clock
            paced_virtual=(fetch_mode == "join"),
        )

    def start(self) -> CrawlResult:
        """Run the crawl and print the reference's report suite
        (facade.py:81-131): detail → hierarchy+secrets+js+domains; tidy →
        per-domain URL/JS buckets + domains + secrets; -o → CSV."""
        self.print_func(f"Target URLs: {', '.join(self.start_urls)}")
        res = self.crawler.run(self.start_urls)
        self.result = res
        # reports read the node universe = edge parents ∪ children with
        # crawled state (reference url_dict keys + children); --validate
        # re-resolves unknown statuses first (facade.py:95 start_validate)
        from .plans.validate import (
            node_universe,
            validate_pass,
            validate_pass_live,
        )

        if self.validate:
            if self.crawler.fetch_mode == "paced":
                # real-HTTP mode has no pages store to join — re-fetch
                # unknown URLs through the crawler's fetch fn (reference
                # start_validate semantics); the store join would be a
                # silent no-op against the empty placeholder table
                universe = validate_pass_live(
                    res.edges, res.nodes, self.crawler._page_fetch_fn
                )
            else:
                universe = validate_pass(
                    res.edges, res.nodes, self.crawler.pages
                )
        else:
            universe = node_universe(res.edges, res.nodes)

        if self.detail_output:
            reports.url_hierarchy(
                res.edges, universe, "url", self.allowed_status
            ).show(50, truncate=False)
            if not self.hide_regex:
                reports.secrets_report(res.secrets, universe).show(
                    50, truncate=False
                )
            reports.url_hierarchy(
                res.edges, universe, "js", self.allowed_status
            ).show(50, truncate=False)
            reports.found_domains(res.found).show(50, truncate=False)
        else:
            reports.per_domain_report(universe, self.start_urls).show(
                50, truncate=False
            )
            reports.found_domains(res.found).show(50, truncate=False)
            if not self.hide_regex:
                reports.secrets_report(res.secrets, universe).show(
                    50, truncate=False
                )
        if self.outfile is not None:
            reports.write_csv(universe, res.secrets, str(self.outfile))
            self.print_func(f"Save result to csv file {self.outfile.name}")
        return res


class FileScannerFacade:
    """Reference ``FileScannerFacade`` (facade.py:342-421) over the
    binaryFile scan pipeline (sources/files.py)."""

    def __init__(
        self,
        full_settings: dict,
        custom_settings: dict,
        spark: SparkSession | None = None,
        print_func: typing.Callable[[str], typing.Any] = print,
    ) -> None:
        self.settings = full_settings
        self.custom_settings = custom_settings
        self.spark = spark
        self.print_func = print_func
        self.outfile: pathlib.Path | None = None

        if custom_settings.get("verbose") is not None:
            self.settings["verbose"] = custom_settings["verbose"]
        if custom_settings.get("outfile") is not None:
            self.outfile = pathlib.Path(custom_settings["outfile"])
        base = custom_settings.get("local")
        if base is None:
            raise FacadeException("Internal error: No base directory")
        self.base = str(base)
        self.rules = loaded_rules_from(self.settings)

    def start(self) -> DataFrame:
        from .sources.files import scan_secrets

        if self.spark is None:
            from .session import get_spark

            self.spark = get_spark("secretscraper-cli")
        secrets = scan_secrets(self.spark, self.base, rules=self.rules)
        report = reports.local_scan_report(secrets)
        report.show(50, truncate=False)
        if self.outfile is not None:
            reports.write_single_csv(
                report.selectExpr(
                    "path", "n_secrets",
                    "array_join(secrets, '\\n') as secrets",
                ),
                str(self.outfile),
            )
        return report
