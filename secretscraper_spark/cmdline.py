"""Command line (reference ``cmdline.py:30-181``).

The full click option surface of the reference, driving the Spark
facades. Option names, short flags, help strings, and the
settings-loading order (generate default ``settings.yml`` → load → apply
``--debug``) mirror ``cmdline.py``; the module-level ``facade_obj`` /
``facade_settings`` mirrors its unit-test seam (``cmdline.py:17-18``).

Spark-native additions (not in the reference):
  --pages PATH      parquet of the image+caption pages store → the
                    deterministic fetch-join mode (sandbox / replay);
                    without it the paced executor fetches over real HTTP.
  --master MASTER   Spark master (default env SPARK_GRAFT_MASTER or
                    local[*]).
  --checkpoint-dir  round-snapshot directory for resumable crawls.
"""

from __future__ import annotations

import dataclasses
import pathlib

import click

from . import __version__
from .facade import CrawlerFacade, FacadeException, FileScannerFacade
from .settings import load_settings

facade_settings = None  # for unit test (reference cmdline.py:17)
facade_obj = None


@dataclasses.dataclass
class ExternalEntry:
    """Expose objects for external library (reference cmdline.py:21-25)."""

    facade_obj: object = None
    facade_settings: dict = None


@click.command()
@click.option("-V", "--version", is_flag=True, help="Show version and exit.")
@click.option("--debug", is_flag=True, help="Enable debug.")
@click.option("-a", "--ua", help="Set User-Agent", type=click.STRING)
@click.option("-c", "--cookie", help="Set cookie", type=click.STRING)
@click.option(
    "-d",
    "--allow-domains",
    help="Domain white list, wildcard(*) is supported, separated by commas, e.g. *.example.com, example*",
    type=click.STRING,
)
@click.option(
    "-D",
    "--disallow-domains",
    help="Domain black list, wildcard(*) is supported, separated by commas, e.g. *.example.com, example*",
    type=click.STRING,
)
@click.option(
    "-f",
    "--url-file",
    help="Target urls file, separated by line break",
    type=click.Path(exists=True, file_okay=True, dir_okay=False, readable=True,
                    path_type=pathlib.Path),
)
@click.option(
    "-i",
    "--config",
    help="Set config file, defaults to settings.yml",
    type=click.Path(exists=True, file_okay=True, dir_okay=False, readable=True,
                    path_type=pathlib.Path),
)
@click.option(
    "-m",
    "--mode",
    help="Set crawl mode, 1(normal) for max_depth=1, 2(thorough) for max_depth=2, default 1",
    type=click.Choice(["1", "2"]),
)
@click.option("--max-page", help="Max page number to crawl, default 100000",
              type=click.INT)
@click.option("--max-depth", help="Max depth to crawl, default 1", type=click.INT)
@click.option("--max-connections", help="Max total HTTP connections", type=click.INT)
@click.option("--max-keepalive-connections", help="Max keep-alive HTTP connections",
              type=click.INT)
@click.option("--max-concurrent-per-domain",
              help="Max simultaneous requests per domain", type=click.INT)
@click.option("--min-request-interval",
              help="Minimum seconds between requests to the same domain",
              type=click.FLOAT)
@click.option(
    "-o",
    "--outfile",
    help="Output result to specified file in csv format",
    type=click.Path(exists=False, file_okay=True, dir_okay=False,
                    path_type=pathlib.Path),
)
@click.option(
    "-s",
    "--status",
    help="Filter response status to display, seperated by commas, e.g. 200,300-400",
    type=click.STRING,
)
@click.option(
    "-x",
    "--proxy",
    help="Set proxy, e.g. http://127.0.0.1:8080 "
         "(socks5:// needs a SOCKS-capable page_fetch_fn)",
    type=click.STRING,
)
@click.option("-H", "--hide-regex", help="Hide regex search result", is_flag=True)
@click.option("-F", "--follow-redirects", help="Follow redirects", is_flag=True,
              type=click.BOOL)
@click.option("-u", "--url", help="Target url", type=click.STRING)
@click.option("--detail", help="Show detailed result", is_flag=True)
@click.option("--validate", help="Validate the status of found urls", is_flag=True)
@click.option("-l", "--local",
              help="Local file or directory, scan local file/directory recursively ",
              type=click.Path(exists=True, file_okay=True, dir_okay=True,
                              path_type=pathlib.Path))
@click.option("--pages", help="Pages-store parquet (fetch-join mode)",
              type=click.STRING)
@click.option("--master", help="Spark master", type=click.STRING)
@click.option("--budget-mode", help="Tier page-budget cut",
              type=click.Choice(["bfs", "host-proportional"]))
@click.option("--trap-cap", help="URL-explosion enqueue gate: stop enqueuing "
              "into a (host, path-prefix) once it holds this many seen URLs",
              type=click.INT)
@click.option("--quarantine-fails", help="Host circuit breaker: stop "
              "scheduling a host after this many consecutive fetch failures "
              "with no success", type=click.INT)
@click.option("--quarantine-cooldown", help="Release a quarantined host for "
              "a fresh probe after this many tiers (default: quarantined for "
              "the rest of the run)", type=click.INT)
@click.option("--adaptive-delay", help="AIMD politeness auto-tuning: erroring "
              "hosts back off x2 per tier (capped), healthy hosts recover; "
              "scheduling-only, outputs unchanged", is_flag=True, default=None)
@click.option("--checkpoint-dir", help="Round-snapshot dir for resume",
              type=click.STRING)
def main(**options):
    """Main commands"""
    start(options)


def start(options: dict) -> None:
    if options.get("version"):
        click.echo(__version__)
        return

    # load config file (reference cmdline.py:143-152): explicit -i, else
    # generate ./settings.yml once and load it
    if options.get("config") is not None:
        settings = load_settings(str(options["config"]))
    else:
        file = pathlib.Path() / "settings.yml"
        generate_configuration(file)
        settings = load_settings(str(file.absolute()))

    if options.get("debug"):
        settings["debug"] = True
        settings["loglevel"] = "debug"

    options_dict = {k: v for k, v in options.items() if v is not None}

    global facade_settings, facade_obj
    try:
        spark = _build_spark(options)
        if options.get("local") is not None:
            facade = FileScannerFacade(settings, options_dict, spark=spark,
                                       print_func=click.echo)
        else:
            pages = None
            if options.get("pages"):
                pages = spark.read.parquet(options["pages"])
            facade = CrawlerFacade(settings, options_dict, spark=spark,
                                   pages=pages, print_func=click.echo)
        facade_obj = facade
        ExternalEntry.facade_obj = facade
        facade_settings = facade.settings
        ExternalEntry.facade_settings = facade_settings
    except FacadeException as e:
        click.echo(f"Error: {e}")
        raise SystemExit(1)
    else:
        facade.start()


def _build_spark(options: dict):
    from .session import get_spark

    return get_spark("secretscraper-cli", master=options.get("master"))


def generate_configuration(file: pathlib.Path) -> None:
    """Generate settings.yml in the current directory (reference
    cmdline.py:183-265) — rendered from the same defaults the engine
    runs with, so file and code can't drift."""
    if file.exists():
        return
    import yaml

    from .settings import default_settings

    click.echo(f"Generating default configuration: {file.name}")
    file.write_text(
        yaml.safe_dump(default_settings(), sort_keys=False, allow_unicode=True),
        encoding="utf8",
    )


if __name__ == "__main__":
    main()
