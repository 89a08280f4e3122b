"""S3 TTL fetch cache (reference crawler.py:388-403) — the recrawl path:
within the TTL a URL is served from cache (no fetch call); after expiry
it is fetched again."""

from __future__ import annotations

from secretscraper_spark.config import CrawlConfig
from secretscraper_spark.plans.crawler import SparkCrawler
from secretscraper_spark.schemas import PAGES_SCHEMA

SITE = {
    "http://h.test/": {
        "status": "200", "content_type": "text/html",
        "content_length": 30, "caption": '<a href="/b.html">b</a>',
    },
    "http://h.test/b.html": {
        "status": "200", "content_type": "text/html",
        "content_length": 4, "caption": "leaf",
    },
}


def _fetch_fn(log_path: str):
    def fetch(url: str, _site=SITE, _log=log_path):
        with open(_log, "a") as f:
            f.write(url + "\n")
        return _site.get(url)

    return fetch


class TestTTLFetchCache:
    def _crawler(self, spark, log_path, clock):
        return SparkCrawler(
            spark,
            spark.createDataFrame([], PAGES_SCHEMA),
            CrawlConfig(max_depth=1, max_page_num=0),
            fetch_mode="paced",
            page_fetch_fn=_fetch_fn(log_path),
            fetch_ttl=60.0,
            clock=clock,
        )

    def test_recrawl_within_and_after_ttl(self, spark, tmp_path):
        log = tmp_path / "fetch.log"
        log.touch()
        clockv = {"t": 0.0}
        crawler = self._crawler(spark, str(log), lambda: clockv["t"])

        r1 = crawler.run(["http://h.test/"])
        assert r1.total_page == 2
        n1 = len(log.read_text().splitlines())
        assert n1 == 2  # both pages fetched once
        nodes1 = {(r.url_norm, r.status) for r in r1.nodes.collect()}

        # within TTL: recrawl served entirely from cache — zero fetch calls
        clockv["t"] = 30.0
        r2 = crawler.run(["http://h.test/"])
        assert r2.total_page == 2
        assert len(log.read_text().splitlines()) == n1
        assert {(r.url_norm, r.status) for r in r2.nodes.collect()} == nodes1

        # after TTL: every page expired — fetched again
        clockv["t"] = 120.0
        r3 = crawler.run(["http://h.test/"])
        assert r3.total_page == 2
        assert len(log.read_text().splitlines()) == n1 + 2
        assert {(r.url_norm, r.status) for r in r3.nodes.collect()} == nodes1

    def test_cache_upsert_refreshes_stamp(self, spark, tmp_path):
        log = tmp_path / "fetch.log"
        log.touch()
        clockv = {"t": 0.0}
        crawler = self._crawler(spark, str(log), lambda: clockv["t"])
        crawler.run(["http://h.test/"])
        clockv["t"] = 120.0
        crawler.run(["http://h.test/"])  # refetch → stamps move to 120
        stamps = {
            r.url_norm: r.fetched_at for r in crawler.fetch_cache.collect()
        }
        assert set(stamps.values()) == {120.0}
        # a third crawl shortly after hits the refreshed cache
        clockv["t"] = 150.0
        n_before = len(log.read_text().splitlines())
        crawler.run(["http://h.test/"])
        assert len(log.read_text().splitlines()) == n_before

