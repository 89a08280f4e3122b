"""Sharded bloom filter for the URL-seen set (north rule).

The reference keeps `visited_urls` as an exact in-memory Python set
(crawler.py:115) — dead at ~10^8 URLs. A single bitmap does not scale
either: 10^10 URLs at 1% fpp is ≈12 GB. So the filter is sharded by key
hash: bucket b owns one bitmap covering only the keys with
pmod(xxhash64(key), B) == b, kept as a (bucket, bitmap, bits, k) table.
Build, per-tier update and probe all run on the executors, grouped by
bucket; no machine ever holds more than one shard.

Correctness never depends on the filter: it only routes rows. The probe
emits the shard-POSITIVE candidate keys, those are checked exactly
against seen, and the answer is one JVM anti-join of the candidates
against the truly-seen positives.

What the filter does NOT spare: when seen is too big to broadcast, the
exact `positives ⋉ seen` check hash-shuffles the WHOLE seen table on
the key, the same `Exchange hashpartitioning(url_norm)` the plain exact
anti-join pays, and the probe adds two exchanges of its own (candidate
keys and shards, by bucket). Removing the seen-side shuffle takes
storage-level bucketing (plans/bucketed_seen.py), not this filter.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

_SHARD_DDL = "bucket int, bitmap binary, bits int, k int"


def _num_bits(capacity: int, fpp: float) -> int:
    # standard bloom sizing: m = -n ln(p) / (ln 2)^2, rounded to 8-bit words
    m = int(-capacity * np.log(fpp) / (np.log(2) ** 2))
    return max((m + 7) // 8 * 8, 64)


def _num_hashes(bits: int, capacity: int) -> int:
    return max(int(round(bits / max(capacity, 1) * np.log(2))), 1)


def _positions(hashes: np.ndarray, k: int, bits: int) -> Iterator[np.ndarray]:
    """k indexes per value via double hashing h1 + i*h2 (Kirsch-Mitzenmacher)."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(bits)
    h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(bits)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(bits)).astype(np.int64)


def build_bucketed_bloom(
    seen: DataFrame, key_col: str = "url_norm", n_buckets: int = 64,
    capacity_per_bucket: int = 1 << 16, fpp: float = 0.01,
) -> DataFrame:
    """(bucket, bitmap, bits, k) table: one bloom shard per key-hash
    bucket — *seen* merged into an empty shard table."""
    empty = seen.sparkSession.createDataFrame([], _SHARD_DDL)
    return update_bucketed_bloom(
        empty, seen, key_col, n_buckets, capacity_per_bucket, fpp
    )


def update_bucketed_bloom(
    blooms: DataFrame, new_seen: DataFrame, key_col: str = "url_norm",
    n_buckets: int = 64, capacity_per_bucket: int = 1 << 16, fpp: float = 0.01,
) -> DataFrame:
    """OR *new_seen*'s keys into the sharded filter — the build and the
    per-tier crawler update. Cogroups each shard with its bucket's new
    key hashes on the executors (no driver-side bitmap ever exists):
    existing shards keep their (bits, k) sizing; buckets appearing for
    the first time get a fresh shard at the default sizing. Overfilling
    a shard only raises its fp rate — the filter routes rows, it never
    decides membership."""
    default_bits = _num_bits(capacity_per_bucket, fpp)
    default_k = _num_hashes(default_bits, capacity_per_bucket)
    hashed = new_seen.select(
        F.xxhash64(key_col).alias("h"),
        F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int").alias("bucket"),
    )

    def merge(shard_pdf: pd.DataFrame, new_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(shard_pdf):
            bucket = int(shard_pdf["bucket"].iloc[0])
            bits, k = int(shard_pdf["bits"].iloc[0]), int(shard_pdf["k"].iloc[0])
            bm = np.frombuffer(shard_pdf["bitmap"].iloc[0], dtype=np.uint8).copy()
        else:
            bucket = int(new_pdf["bucket"].iloc[0])
            bits, k = default_bits, default_k
            bm = np.zeros(bits // 8, dtype=np.uint8)
        if len(new_pdf):
            hs = new_pdf["h"].to_numpy(dtype=np.int64)
            for pos in _positions(hs, k, bits):
                np.bitwise_or.at(bm, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        return pd.DataFrame(
            {"bucket": [bucket], "bitmap": [bm.tobytes()],
             "bits": [bits], "k": [k]}
        )

    return blooms.groupBy("bucket").cogroup(hashed.groupBy("bucket")).applyInPandas(
        merge, _SHARD_DDL
    )


def bucketed_bloom_anti_join(
    candidates: DataFrame, seen: DataFrame, blooms: DataFrame,
    key_col: str = "url_norm", n_buckets: int = 64,
) -> DataFrame:
    """Exact `candidates ∖ seen` via the sharded bloom filter.

    Only the candidates' (key, bucket, hash) go through the Arrow
    cogroup, hash-partitioned by bucket and probed against their own
    shard; the shard travels once per bucket, NEVER attached to
    candidate rows (a join-then-groupBy formulation copies the shard
    into every candidate row and shuffles gigabytes; measured 5× slower
    than the exact join at a 2·10^5-row tier). The probe emits only the
    shard-positive keys; `really_seen` = positives ⋉ seen (the truly-seen
    candidates plus the fp rate's worth of unseen ones), and the result
    is one JVM anti-join of the untouched candidate rows against it. An
    earlier shape shipped EVERY candidate column through the cogroup to
    tag rows in place — at a 25M-row tier the full-width round-trip
    alone took 27 s, and the tagged-split total 80.3 s vs 62.0 s for
    this shape (BASELINE.md round-3 component table).

    *candidates* is consumed twice (the probe and the final anti-join),
    and column pruning keeps the two subtrees from sharing an exchange,
    so it is localCheckpoint-ed once here: an expensive lazy upstream (a
    dedup aggregate, a Python UDF) runs once, and a non-deterministic
    one shows both consumptions the same row set."""
    candidates = candidates.localCheckpoint()
    keys = candidates.select(
        F.col(key_col),
        F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int").alias("__bucket"),
        F.xxhash64(key_col).alias("__h"),
    )

    def probe(cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cand_pdf) or not len(shard_pdf):
            # no shard ⇒ bucket never seen ⇒ no positives
            return pd.DataFrame({key_col: pd.Series([], dtype=object)})
        bm = np.frombuffer(shard_pdf["bitmap"].iloc[0], dtype=np.uint8)
        bits, k = int(shard_pdf["bits"].iloc[0]), int(shard_pdf["k"].iloc[0])
        vals = cand_pdf["__h"].to_numpy(dtype=np.int64)
        hit = np.ones(len(vals), dtype=bool)
        for pos in _positions(vals, k, bits):
            hit &= (bm[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0
        return pd.DataFrame({key_col: cand_pdf[key_col][hit]})

    positives = (
        keys.groupBy("__bucket")
        .cogroup(blooms.withColumnRenamed("bucket", "__bucket").groupBy("__bucket"))
        .applyInPandas(probe, T.StructType([candidates.schema[key_col]]))
    )
    really_seen = positives.join(seen.select(key_col), key_col, "leftsemi")
    return candidates.join(really_seen, key_col, "left_anti")
