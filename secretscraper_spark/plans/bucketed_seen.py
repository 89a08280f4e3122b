"""Bucketed URL-seen storage — the shuffle-free anti-join at 10^10 scale.

The crawler's D1 seen-check is ``frontier LEFT ANTI JOIN seen ON
url_hash``. At bench scale the seen side is broadcast- or
shuffle-cheap; at the north rule's 10^10-URL frontier the seen table is
the BIGGEST table in the system and a plain anti-join re-shuffles it
EVERY TIER. A probabilistic prefilter does not help there: a sharded
bloom filter was tried and deleted, because its exact check of the
filter-positive keys still shuffled the whole seen table, and it
measured slower than the plain anti-join (BASELINE.md round 3).

Storage-level bucketing removes that shuffle structurally: persist
``seen`` bucketed by ``url_hash`` (Spark bucketed table: one file set
per ``pmod(hash(url_hash), n)`` bucket, per-file sorted), and every
tier's anti-join reads the seen side IN PLACE — the physical plan shows
no Exchange on the bucketed scan; only the (much smaller) frontier side
shuffles, to the bucket layout. Appends preserve the bucket spec, so
each tier's newly-seen rows land in the same layout and the next tier
still joins exchange-free. This is exactly what an Iceberg deployment
gets from a bucket-partitioned seen table (``bucket(N, url_hash)``
partition transform + storage-partitioned join); the builtin bucketed
table is the sandbox's catalog-native equivalent.

Sizing: buckets ≈ seen_rows × row_bytes / 128 MB. At 10^10 rows × ~50 B
that is ~4,000 buckets — well inside the one-file-per-bucket-per-append
regime; compaction (Iceberg rewrite / OPTIMIZE) folds append deltas.

Reference parity: same D1 semantics as `plans/crawler.py`'s exact
anti-join (`crawler.py` cites reference ``crawler.py:378-379`` seen-set
membership); this module changes the STORAGE of the seen side only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_seen_bucketed(
    seen: DataFrame,
    table: str,
    path: str,
    buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist (or append) the seen set as a bucketed table.

    *seen* must carry ``url_hash`` (the bucket + sort column). *path*
    makes the table external (files live there, not in the session
    warehouse). ``mode='append'`` adds a tier's newly-seen rows under
    the SAME bucket spec — Spark validates the spec against the catalog
    entry, so a mismatched append fails loudly instead of silently
    breaking the layout.
    """
    (
        seen.write.bucketBy(buckets, "url_hash")
        .sortBy("url_hash")
        .option("path", path)
        .mode(mode)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_seen_anti_join(frontier: DataFrame, table: str) -> DataFrame:
    """``frontier LEFT ANTI JOIN <bucketed seen> ON url_hash`` with the
    seen side scanned in bucket layout — no Exchange on the big side
    (assert_no_seen_exchange checks the plan, not just the result)."""
    spark = frontier.sparkSession
    seen = spark.table(table).select("url_hash")
    return frontier.join(seen, "url_hash", "left_anti")


def assert_no_seen_exchange(plan_df: DataFrame) -> None:
    """Raise unless *plan_df*'s physical plan (a) reads the seen side as
    a bucketed scan (``SelectedBucketsCount`` in the scan metadata) and
    (b) contains at most ONE Exchange — the frontier side's shuffle to
    the bucket layout. A second Exchange means the bucketed side was
    re-shuffled and the storage layout bought nothing. String check on
    the executed plan; no execution."""
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    if "SelectedBucketsCount" not in plan:
        raise AssertionError(f"seen scan is not bucketed:\n{plan}")
    n_exchanges = plan.count("Exchange hashpartitioning")
    if n_exchanges > 1:
        raise AssertionError(
            f"expected <=1 Exchange (frontier side only), got {n_exchanges}:\n{plan}"
        )
