"""Structured Streaming variant of the extraction pipeline.

The reference's BFS crawl is a terminating batch computation (SURVEY §1.4),
so the crawl loop itself is batch-iterative. This module is the engine's
stream path for the adjacent standing need: pages arriving continuously
(a long-running fetch fleet appending to the pages store) with

- stream_pages        : file-source readStream over the pages schema
- stream_secrets      : the SAME secrets pandas UDF applied per micro-batch
                        (stateless — identical operator, two execution modes,
                        like S4 local scan reuses it in batch)
- stream_seen_dedup   : streaming URL-seen — the stream form of D1:
                        watermark + dropDuplicates on url_hash; state is
                        bounded by the watermark horizon
- windowed_secret_counts : watermark + tumbling-window counts per rule
                        (late data handled by the watermark)

All operators return streaming DataFrames; callers pick sink + trigger
(tests use trigger(availableNow=True) + memory sink for determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import loaded_rules
from ..functions.extract import make_secrets_udf
from ..schemas import PAGES_SCHEMA


def stream_pages(
    spark: SparkSession, input_dir: str, fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of page rows (append-only directory)."""
    r = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.format(fmt).load(input_dir)


def with_event_time(pages: DataFrame, ts_col: str = "event_time") -> DataFrame:
    """Derive a deterministic event time from the row identity when the
    source carries none (synthetic pages): seconds since epoch from the
    page index — monotone within a generated site."""
    idx = F.split(F.col("image_id"), "_").getItem(1).cast("long")
    return pages.withColumn(ts_col, F.timestamp_seconds(F.lit(1_700_000_000) + idx))


def stream_secrets(pages: DataFrame, ts_col: str = "event_time") -> DataFrame:
    """caption → exploded (url_norm, rule_name, match); stateless map, so
    the batch operator applies verbatim per micro-batch. *pages* must
    carry *ts_col* — raw `stream_pages` output does not; interpose
    :func:`with_event_time` (or pass your fleet's real timestamp
    column) first."""
    udf = make_secrets_udf(loaded_rules())
    return pages.select(
        "url_norm", ts_col, F.explode(udf("caption")).alias("s")
    ).select("url_norm", ts_col, "s.rule_name", "s.match")


def stream_seen_dedup(
    pages: DataFrame, watermark: str = "1 hour", ts_col: str = "event_time"
) -> DataFrame:
    """Streaming URL-seen (D1's stream form): first occurrence of each
    url_hash within the watermark horizon passes; duplicates drop.

    Uses ``dropDuplicatesWithinWatermark`` so the engine actually EVICTS a
    key's state once the watermark passes its first-seen event time — plain
    ``dropDuplicates(['url_hash'])`` under a watermark never evicts unless
    the event-time column is part of the dedup key, so state would grow
    unboundedly in a long-running stream. The trade (identical to the batch
    TTL-recrawl semantics): a duplicate arriving later than the horizon
    after its first occurrence re-emits. The unbounded-history variant is
    the batch seen anti-join (plans/crawler.py; plans/bucketed_seen.py
    for its shuffle-free 10^10 storage)."""
    return (
        pages.withColumn("url_hash", F.xxhash64("url_norm"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["url_hash"])
    )


def host_running_counts(pages: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-host running
    crawl totals — pages fetched and bytes of caption — maintained across
    micro-batches. This is the streaming form of the D10 per-host metrics
    the batch crawler records per tier; state is one row per host.
    Emits the updated total for a host whenever one of its pages arrives
    (output mode 'update')."""
    from collections.abc import Iterable

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("host", T.StringType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("caption_bytes", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("n_pages", T.LongType()),
        T.StructField("caption_bytes", T.LongType()),
    ])

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        n, b = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            b += int(pdf["caption"].fillna("").str.len().sum())
        state.update((n, b))
        yield pd.DataFrame({"host": [key[0]], "n_pages": [n], "caption_bytes": [b]})

    with_host = pages.withColumn(
        "host", F.regexp_extract("url_norm", "//([^/:]+)", 1)
    )
    return with_host.groupBy("host").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def windowed_secret_counts(
    secrets: DataFrame, window: str = "10 minutes",
    watermark: str = "30 minutes", ts_col: str = "event_time",
) -> DataFrame:
    """Per-rule tumbling-window match counts with late-data watermark —
    the stream form of the D10 running counters / metrics table."""
    return (
        secrets.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "rule_name")
        .agg(F.count("*").alias("n_matches"),
             F.approx_count_distinct("url_norm").alias("n_urls"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "rule_name", "n_matches", "n_urls",
        )
    )
