"""TTL fetch cache across crawl rounds (reference ``crawler.py:388-403``).

The reference caches every response for 60 s: a URL reached again inside
the TTL is served from cache (no network I/O); after expiry it is fetched
again. Within ONE BFS run the seen-set already guarantees at most one
fetch per URL, so the cache's observable effect is on RE-crawls — calling
``run()`` again on the same :class:`SparkCrawler` (continuous crawling)
re-uses fresh responses and re-fetches stale ones.

Relational form: the cache is a DataFrame keyed by ``url_norm`` with a
``fetched_at`` stamp. A tier splits into cache hits (inner join against
the fresh slice) and misses (left anti); only misses reach the fetch
path, and the upsert keeps the newest row per URL. On an Iceberg
deployment this is a MERGE INTO on the fetches table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

CACHE_DDL = (
    "url_norm string, fetched_at double, status string, "
    "content_type string, content_length long, caption string"
)

_PAGE_COLS = ["status", "content_type", "content_length", "caption"]


def split_by_ttl(
    to_process: DataFrame, cache: DataFrame, now: float, ttl: float
) -> tuple[DataFrame, DataFrame]:
    """(hits, misses): hits carry the frontier columns plus the cached
    page columns; misses are the frontier rows that must be fetched."""
    fresh = cache.filter(F.lit(float(now)) - F.col("fetched_at") <= F.lit(float(ttl)))
    hits = to_process.join(
        fresh.select("url_norm", *_PAGE_COLS), "url_norm", "inner"
    )
    misses = to_process.join(fresh.select("url_norm"), "url_norm", "left_anti")
    return hits, misses


def upsert(cache: DataFrame, fetched_new: DataFrame, now: float) -> DataFrame:
    """Fold newly fetched pages into the cache, newest row wins
    (``crawler.py:403`` cache.set ttl=60)."""
    stamped = fetched_new.select(
        "url_norm", F.lit(float(now)).alias("fetched_at"), *_PAGE_COLS
    )
    return cache.join(stamped.select("url_norm"), "url_norm", "left_anti").unionByName(
        stamped
    )

