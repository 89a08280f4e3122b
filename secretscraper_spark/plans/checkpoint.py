"""Snapshot / resume / lineage (north rule: resumable from checkpoint with
per-partition lineage + metrics).

Round snapshots are append-only deltas, the Iceberg append-snapshot
model: round d writes only what tier d made, under <dir>/round=<d>/:
    frontier/     tier d+1's frontier
    extracted/    tier d's extraction checkpoint (plans/extraction.py's
                  ``extract_combined`` rows); absent under fold_outputs,
                  which retains no outputs
    seeds/        round 0 only: the depth-0 seen rows
    host_fails/, host_delays/   the breaker / AIMD state, full tables,
                  when those features are on
plus a manifest.json holding the driver-side loop state (depth, totals,
next_seq, per-round metrics), each table's schema, and each table's
lineage: the non-empty part files the write produced, with row counts
read from their parquet footers on the driver. A snapshot therefore
costs one Spark job per table written — the write — and every row
reaches disk once.

``read_round(k)`` returns the LOGICAL tables, derived from the manifests
of rounds 0..k: seen = seeds ∪ the (url_norm, depth, discovery_seq)
projection of every frontier; nodes, edges and secrets = the
plans/extraction.py projections over every extracted delta, each one
multi-path parquet scan. Reading costs no job: readers pass the
manifests' schemas, so no inference job runs. Checkpoints in an older
format — manifests without schemas, or a round 0 without seeds (the
layout that rewrote every table each round) — are refused.

The checkpoint dir must be a local POSIX path: the manifest is written
with open() + os.replace() and the footers are read from the local file
system.

Resume-from-round-k reads only rounds <= k and only the tables their
manifests list, and deterministically REWRITES rounds k+1.. (the engine
is replay-deterministic); DataFrame handles from a previous run that
point at those rounds become stale — materialize results before
resuming, exactly as an Iceberg deployment would pin the prior snapshot
id. On an Iceberg deployment these directories are table snapshots and
the manifest is the snapshot-id ↔ round mapping (SURVEY §4 custom #5);
plain parquet + JSON realizes the same contract in this sandbox.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import asdict, dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, types as T

from . import extraction

MANIFEST = "manifest.json"
_PART_FILE = re.compile(r"^part-(\d+)-.*\.parquet$")


@dataclass
class CrawlState:
    depth: int
    total_page: int
    next_seq: int
    finished: bool = False
    tiers: list[dict] = field(default_factory=list)


def _round_dir(base: str, depth: int) -> str:
    return os.path.join(base, f"round={depth}")


def partition_lineage(path: str) -> list[dict]:
    """The lineage record for one written table: every non-empty part
    file under ``path`` with its partition id (from the ``part-NNNNN``
    name) and row count (from the parquet footer). Driver-side, no job."""
    out = []
    for name in sorted(os.listdir(path)):
        m = _PART_FILE.match(name)
        if m is None:
            continue
        rows = pq.read_metadata(os.path.join(path, name)).num_rows
        if rows:
            out.append({"pid": int(m.group(1)), "rows": rows})
    return out


def write_round(
    base: str, state: CrawlState, tables: dict[str, DataFrame]
) -> dict[str, list[dict]]:
    """Snapshot one round; returns per-table part-file lineage."""
    lineage: dict[str, list[dict]] = {}
    schemas: dict[str, str] = {}
    rd = _round_dir(base, state.depth)
    for name, df in tables.items():
        path = os.path.join(rd, name)
        df.write.mode("overwrite").parquet(path)
        lineage[name] = partition_lineage(path)
        schemas[name] = df.schema.json()
    manifest = {"state": asdict(state), "schemas": schemas, "lineage": lineage}
    tmp = os.path.join(rd, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(rd, MANIFEST))  # atomic commit of the round
    # top-level pointer: last fully-committed round
    with open(os.path.join(base, MANIFEST + ".tmp"), "w") as f:
        json.dump({"last_round": state.depth}, f)
    os.replace(os.path.join(base, MANIFEST + ".tmp"), os.path.join(base, MANIFEST))
    return lineage


def latest_round(base: str) -> int | None:
    p = os.path.join(base, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(json.load(f)["last_round"])


def _manifest(base: str, depth: int) -> dict:
    rd = _round_dir(base, depth)
    with open(os.path.join(rd, MANIFEST)) as f:
        manifest = json.load(f)
    assert "schemas" in manifest, (
        f"{rd}: manifest has no table schemas (older checkpoint format); "
        "re-run the crawl to write a resumable checkpoint"
    )
    return manifest


def _scan(
    spark: SparkSession, base: str, rounds: list[tuple[int, dict]], name: str
) -> DataFrame | None:
    """Table *name* of every round whose manifest lists it, as ONE parquet
    scan with the latest such round's stored schema (a column an older
    round lacks reads as null)."""
    listed = [(d, m["schemas"][name]) for d, m in rounds if name in m["schemas"]]
    if not listed:
        return None
    schema = T.StructType.fromJson(json.loads(listed[-1][1]))
    return spark.read.schema(schema).parquet(
        *(os.path.join(_round_dir(base, d), name) for d, _ in listed)
    )


def read_round(
    spark: SparkSession, base: str, depth: int
) -> tuple[CrawlState, dict[str, DataFrame]]:
    """The crawl's logical tables after round *depth*: its frontier and
    host state, seen, and (when any round stored extraction) nodes,
    edges and secrets — built from the manifests of rounds 0..depth."""
    rounds = [(d, _manifest(base, d)) for d in range(depth + 1)]
    assert "seeds" in rounds[0][1]["schemas"], (
        f"{_round_dir(base, 0)}: round 0 has no seeds table (older "
        "checkpoint format, every table rewritten each round); re-run the "
        "crawl to write a resumable checkpoint"
    )
    last = rounds[-1][1]
    state = CrawlState(**last["state"])
    tables = {
        name: _scan(spark, base, rounds[-1:], name)
        for name in last["schemas"]
        if name not in ("seeds", "extracted")
    }
    tables["seen"] = _scan(spark, base, rounds, "seeds").unionByName(
        _scan(spark, base, rounds, "frontier").select(*extraction.SEEN_DIGEST_COLS)
    )
    extracted = _scan(spark, base, rounds, "extracted")
    if extracted is not None:
        tables["nodes"] = extraction.nodes_of(extracted)
        tables["secrets"] = extraction.secrets_of(extracted)
        tables["edges"] = extraction.edges_of(extraction.children_of(extracted))
    return state, tables
