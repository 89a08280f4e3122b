"""Snapshot / resume / lineage (north rule: resumable from checkpoint with
per-partition lineage + metrics).

Each crawl round appends parquet snapshots under
    <dir>/round=<d>/{frontier,seen,nodes,edges,secrets}/
plus a manifest.json holding the driver-side loop state (depth, totals,
next_seq, per-round metrics), each table's schema, and each table's
lineage: the non-empty part files the write produced, with row counts
read from their parquet footers on the driver. A snapshot therefore
costs one Spark job per table — the write — and reading it back costs
none: readers pass the manifest's schema, so no inference job runs.
Manifests without schemas (the older format) are refused.

The checkpoint dir must be a local POSIX path: the manifest is written
with open() + os.replace() and the footers are read from the local file
system.

Resume-from-round-k deterministically REWRITES rounds k+1.. (the engine is
replay-deterministic); DataFrame handles from a previous run that point at
those rounds become stale — materialize results before resuming, exactly
as an Iceberg deployment would pin the prior snapshot id. On an Iceberg
deployment these directories are table snapshots and the manifest is the
snapshot-id ↔ round mapping (SURVEY §4 custom #5); plain parquet + JSON
realizes the same contract in this sandbox.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import asdict, dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, types as T

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


def read_round(
    spark: SparkSession, base: str, depth: int
) -> tuple[CrawlState, dict[str, DataFrame]]:
    rd = _round_dir(base, depth)
    with open(os.path.join(rd, MANIFEST)) as f:
        manifest = json.load(f)
    assert "schemas" in manifest, (
        f"{rd}: manifest has no table schemas (older checkpoint format); "
        "re-run the crawl to write a resumable checkpoint"
    )
    state = CrawlState(**manifest["state"])
    tables = {
        name: spark.read.schema(T.StructType.fromJson(json.loads(schema)))
        .parquet(os.path.join(rd, name))
        for name, schema in manifest["schemas"].items()
    }
    return state, tables
