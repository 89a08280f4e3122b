"""Materialize the deterministic synthetic pages site as parquet.

At 10^8+ rows the pages table no longer fits the block manager that
`crawl_job.py --n-pages` uses via localCheckpoint, and regenerating it
per tier would charge generator CPU to the crawl. Production's pages
side is an Iceberg/parquet table anyway (BASELINE.json input_hint), so
the scale legs read a written site:

    spark-submit --master local[32] --conf spark.driver.memory=24g \
        --py-files /tmp/ss.zip submit/gen_site.py \
        --n-pages 100000000 --filler-bytes 0 --out /tmp/site_1e8
    spark-submit ... submit/crawl_job.py --pages-parquet /tmp/site_1e8 \
        --n-pages 100000000 --seed-stride 97

The generator is pure in (i, n_pages, n_hosts, filler_bytes), so the
same arguments always produce the identical site.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-pages", type=int, required=True)
    ap.add_argument("--n-hosts", type=int, default=8)
    ap.add_argument("--filler-bytes", type=int, default=0)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--bucketed", action="store_true",
                    help="write a bucketed pages store (sources/"
                         "pages_store.py): fetch-join columns + stored "
                         "url_hash, CLUSTERED/SORTED BY the join key — "
                         "the crawl's pages side then never shuffles")
    ap.add_argument("--buckets", type=int, default=256)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("secretscraper-gensite").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from secretscraper_spark.sources.sitegen import generate_pages_spark

    # partitions sized so each output file holds ~500k rows (≈250 MB raw at
    # filler 0) — large enough to amortize task startup, small enough that
    # the fetch join downstream gets ≥2× slot parallelism at any -n-pages
    # this sandbox can hold.
    par = args.partitions or max(args.n_pages // 500_000, 8)
    t0 = time.perf_counter()
    pages = generate_pages_spark(
        spark, args.n_pages, n_hosts=args.n_hosts,
        filler_bytes=args.filler_bytes, partitions=par,
    )
    if args.bucketed:
        from secretscraper_spark.sources.pages_store import (
            FETCH_COLS, write_pages_bucketed,
        )

        write_pages_bucketed(
            pages.select(*FETCH_COLS), "pages_site_gen", args.out,
            buckets=args.buckets,
        )
    else:
        pages.write.mode("overwrite").parquet(args.out)
    wall = time.perf_counter() - t0
    n = spark.read.parquet(args.out).count()
    print(json.dumps({
        "out": args.out, "rows": n, "partitions": par,
        "buckets": args.buckets if args.bucketed else None,
        "gen_sec": round(wall, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
