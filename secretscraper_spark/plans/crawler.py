"""Spark-native BFS crawl frontier + fetch scheduler.

Re-expresses the reference's asyncio loop (crawler.py:175-217, 268-303,
336-381) as one Spark job per depth tier:

    frontier(d) ─ robots gate ─ evade-filter ─ sort/limit(budget)
        ─ politeness schedule ─► fetch join(pages)
        ├─► secrets UDF  ─► secrets append
        └─► links UDF ─► explode ─► edges append
                         └─► filter chain ─► anti-join(seen) ─► frontier(d+1)

Scale design (10^10 frontier / 1000 executors):
- fetch = hash join frontier⋈pages on xxhash64(url_norm); AQE picks
  shuffle-hash vs sort-merge; bucketed pages makes it co-located.
- seen dedup: one lazy exact left_anti join of the tier's children
  against the seen table. At 10^10 the seen-side shuffle goes away with
  storage-level bucketing (plans/bucketed_seen.py), not with a
  probabilistic prefilter.
- discovery ordering: two-phase distributed rank (plans/ranking.py) — no
  single-task window anywhere.
- budget cutoff: orderBy(seq).limit(k) = TakeOrderedAndProject.
- politeness: per-host virtual-time schedule (plans/politeness.py); the
  tier makespan is recorded in the metrics, and the hot-host rate budget —
  not Spark — is the throughput floor it exposes.
- per-tier localCheckpoint truncates lineage; checkpoint_dir writes
  append-only parquet round snapshots + a manifest (state, schemas,
  part-file lineage from the parquet footers) for resume: round d
  writes tier d+1's frontier and tier d's extraction checkpoint (round 0
  also the seeds), one Spark job each; seen, nodes, edges and secrets
  are derived on read, and re-reads run no job (plans/checkpoint.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import CrawlConfig, loaded_rules, url_finder_rules
from ..functions import purekit as pk
from ..functions.exprs import (
    domain_blacklist,
    domain_whitelist,
    filter_chain,
    host_of,
    is_dangerous_path,
)
from ..functions.extract import make_extract_udf
from ..schemas import EDGES_SCHEMA, FRONTIER_SCHEMA, SECRETS_SCHEMA
from . import checkpoint as ckpt
from . import extraction
from .politeness import (
    assign_fetch_schedule,
    robots_gate,
    tier_makespan,
    with_host,
)
from .ranking import assign_global_seq, assign_global_seq_with_count

NODES_DDL = (
    "url_norm string, scheme string, netloc string, path string, "
    "params string, query string, fragment string, depth int, "
    "status string, title string, content_length long, content_type string"
)

#: host circuit-breaker state (quarantine_fails gate): consecutive failed
#: fetches since the host's last success, and the tier that tripped it
QUARANTINE_DDL = "host string, n_fails long, quarantined_at int"

#: AIMD adaptive-politeness state (adaptive_delay mode): the per-host
#: crawl delay carried across tiers
DELAYS_DDL = "host string, crawl_delay double"


@dataclass
class CrawlResult:
    nodes: DataFrame          # crawled node state (status/title/... per url_norm)
    edges: DataFrame          # (parent_norm, child_norm, kind)
    secrets: DataFrame        # (url_norm, rule_name, match)
    seen: DataFrame           # (url_norm, depth, discovery_seq)
    found: DataFrame          # distinct children ever extracted
    total_page: int = 0
    tiers: list[dict] = field(default_factory=list)  # per-round metrics/lineage
    overhead: dict = field(default_factory=dict)     # non-tier wall costs (sec)
    host_delays: DataFrame | None = None  # adaptive_delay: final (host, crawl_delay)
    #: quarantine breaker: final (host, n_fails, quarantined_at) state —
    #: the operational read an operator inspects after a run
    host_fails: DataFrame | None = None
    #: fold_outputs mode: {"nodes"|"edges"|"secrets": {"digest": str,
    #: "rows": int}} — run-level sums of the per-tier fold records; the
    #: nodes/edges/secrets/found frames above are EMPTY in that mode
    folded: dict | None = None


def _accept_expr(cfg: CrawlConfig):
    host = host_of(F.col("netloc"))
    return filter_chain(
        domain_whitelist(host, cfg.white_list) if cfg.white_list else F.lit(True),
        domain_blacklist(host, cfg.black_list),
    )


def seed_frontier(
    spark: SparkSession, seeds: list[str], cfg: CrawlConfig,
    distributed_threshold: int = 10_000,
) -> DataFrame:
    """S1 seed source: parse, filter, dedup (keep first), seq by insertion
    order (reference facade.py:176-192 + crawler.py:180-187).

    Above *distributed_threshold* seeds the parse/dedup/rank moves onto the
    executors (the driver-side Python loop over a 10^6-seed list is pure
    serial time and caps scaling efficiency); the two paths are
    parity-tested identical, including the quirk that discovery_seq is
    assigned over ALL unique norms before the scope filter runs (filtered
    seeds leave gaps in the sequence)."""
    if len(seeds) <= distributed_threshold:
        rows, seen_norm, seq = [], set(), 0
        for url in dict.fromkeys(seeds):
            t6 = pk.parse6(url)
            norm = pk.unparse6(t6)
            if norm in seen_norm:
                continue
            seen_norm.add(norm)
            rows.append((norm, *t6, 0, None, seq))
            seq += 1
        df = spark.createDataFrame(rows, FRONTIER_SCHEMA)
        return df.filter(_accept_expr(cfg))

    base = spark.createDataFrame(
        list(enumerate(seeds)), "ord long, url string"
    )
    return seed_frontier_from_urls(spark, base, cfg)


def seed_frontier_from_urls(
    spark: SparkSession, urls: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """S1 seed source over a TABLE of urls — the 10^10 form: the north
    rule's frontier is an Iceberg/parquet table, which can never transit
    the driver as a Python list. *urls* carries (ord long, url string);
    ord is the insertion order the reference's seed-list semantics key on
    (facade.py:176-192). Semantics are identical to seed_frontier(list):
    first occurrence per normalized url wins, discovery_seq is assigned
    over ALL unique norms before the scope filter runs."""
    from ..functions.extract import make_parse_url_udf

    part_cols = ["scheme", "netloc", "path", "params", "query", "fragment"]
    parsed = urls.select(
        "ord", make_parse_url_udf()(F.col("url")).alias("p")
    ).select("ord", "p.*")
    # first occurrence per norm wins (insertion order = ord)
    firsts = parsed.groupBy("url_norm").agg(
        F.min("ord").alias("ord"),
        *[F.min_by(c, "ord").alias(c) for c in part_cols],
    )
    ranked = assign_global_seq(firsts, ["ord"], seq_col="discovery_seq")
    df = ranked.select(
        "url_norm", *part_cols,
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("parent_norm"),
        "discovery_seq",
    )
    return df.filter(_accept_expr(cfg))


class SparkCrawler:
    """Driver-side BFS orchestration; all data-parallel work is DataFrame ops."""

    #: fold-mode GC nudge fires only after tiers at least this big: a
    #: forced full GC on a decade-leg heap (80 g) stalls multi-seconds,
    #: which only pays when the just-released tier's blocks are a
    #: meaningful heap fraction (ADVICE round-4). Small tiers are left to
    #: ContextCleaner's ordinary reference-queue reclamation.
    GC_NUDGE_MIN_TIER_ROWS = 2_000_000

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        cfg: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        checkpoint_dir: str | None = None,
        fetch_mode: str = "join",
        page_fetch_fn=None,
        rules: dict[str, str] | None = None,
        link_rules: dict[str, str] | None = None,
        paced_virtual: bool = True,
        fetch_ttl: float | None = None,
        clock=None,
        budget_mode: str = "bfs",
        trap_cap: int | None = None,
        trap_prefix_depth: int = 2,
        quarantine_fails: int | None = None,
        quarantine_cooldown_tiers: int | None = None,
        adaptive_delay: bool = False,
        paced_collect_cap: int = 200_000,
        fetch_map_fn=None,
        fold_outputs: bool = False,
        tier_chunk_rows: int | None = None,
    ):
        """fetch_mode='join' (default): fetch = hash join vs the pages
        store — the pure, deterministic sandbox scan (SURVEY S2).
        fetch_mode='paced': fetch runs through the per-host paced executor
        (plans/fetch_exec.py, applyInPandas) calling ``page_fetch_fn(url)``
        per URL under the politeness schedule — the real-network vehicle.
        When page_fetch_fn is None in paced mode, a broadcast lookup of the
        pages store stands in (test scale only; live deployments pass an
        HTTP fetcher).

        budget_mode picks how a tier's page-budget cut selects pages:
        - 'bfs' (default, reference parity crawler.py:190-191): first
          ``remaining`` pages in BFS discovery order — one hot host can
          consume the whole budget.
        - 'host-proportional': largest-remainder quotas per host
          (politeness.allocate_host_budget), each host's quota taken in
          BFS order — the fair-share cut a standing crawler wants. Total
          processed is identical (min(remaining, |tier|)); WHICH pages
          are fetched differs, so this mode is opt-in and not compared
          against the reference simulator.

        trap_cap (opt-in, None = off = reference parity) gates the
        enqueue against URL-pattern explosions: children whose (host,
        trap_prefix_depth-segment prefix) already holds >= trap_cap seen
        URLs are not enqueued (plans/traps.url_explosions +
        prune_trapped — broadcast anti-join, the children side never
        shuffles for it). The content-based dup-trap signal stays an
        offline operator: the crawler's state never carries captions.

        quarantine_fails (opt-in, None = off = reference parity) is the
        in-loop host circuit breaker (the batch twin of
        plans/recrawl.host_quarantine, with the tier index as time):
        a host whose fetches have failed quarantine_fails+ times in a
        row with NO success since (counted across ALL its URLs; any
        success in a tier resets the run) is dropped at DEQUEUE — no
        fetch, no budget, exactly the robots/evade exclusion contract,
        and seeds on a quarantined host are gated too (a breaker stops
        scheduling, not just enqueueing). Gated rows are DROPPED, not
        deferred — within a BFS run each frontier row is scheduled at
        most once, exactly the evade contract — so
        quarantine_cooldown_tiers (half-open release after that many
        tiers; None = quarantined for the rest of the run) benefits the
        host's NEWLY DISCOVERED URLs; URLs skipped while the breaker
        was open are not re-queued in this run. A standing deployment
        re-admits them across runs through the offline schedulers
        (plans/recrawl.retry_backoff / host_quarantine over its fetch
        log). State is a host-cardinality table (broadcast at the
        gate, one tiny full-outer fold per tier) and is checkpointed
        with the round snapshot, so resume reproduces the gated run.

        adaptive_delay (opt-in, False = reference parity — the static
        0.2 s interval) turns each tier's fetch outcomes into the next
        tier's per-host crawl delay via the AIMD rule
        (plans/politeness.adapt_crawl_delay): hosts whose fetches error
        (join-mode miss / paced error arm / 5xx / 429) back off ×2
        (capped), healthy hosts recover −0.05 s (the scheduler still
        floors at cfg.min_request_interval). The delay dim merges with
        robots Crawl-delay through assign_fetch_schedule's existing
        max() path, affects SCHEDULING only (which pages are fetched is
        unchanged — e2e outputs stay reference-parity), and is
        checkpointed with the round snapshot like the breaker state.
        Latency-based backoff stays inert in the sandbox (no wall-clock
        latencies in join mode; stats carry latency_ms=0)."""
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.robots = robots
        self.checkpoint_dir = checkpoint_dir
        assert fetch_mode in ("join", "paced", "mapped")
        self.fetch_mode = fetch_mode
        # fetch_mode='mapped': fetch is a caller-supplied DataFrame
        # transform frontier→fetched-rows (frontier cols + status/
        # content_type/content_length/caption; misses dropped) — the
        # storage-free fetch vehicle (Catalyst synthetic site via
        # sitegen.synthetic_fetch_map, or any in-plan KV/service lookup).
        # Stays fully lazy, so it fuses into the extraction stage exactly
        # like the join path.
        assert fetch_mode != "mapped" or fetch_map_fn is not None, (
            "fetch_mode='mapped' requires fetch_map_fn"
        )
        self.fetch_map_fn = fetch_map_fn
        # fold_outputs: per-tier digest/count folding instead of
        # accumulating nodes/edges/secrets frames — the 10^9+ leg shape
        # where retaining every tier's extraction checkpoint exceeds the
        # volume. Digests use the same order-invariant sum-of-xxhash64
        # formula as submit/crawl_job.py --checksum, are stored in each
        # tier's metrics record (so checkpoint resume keeps accumulating
        # them), and are bit-comparable with a retained-mode run's
        # digests (parity-tested). The result frames come back EMPTY.
        self.fold_outputs = fold_outputs
        # tier_chunk_rows: split any BFS tier bigger than this into
        # seq-contiguous sub-tiers processed back-to-back at the same
        # depth — the single-JVM heap mitigation for ≥5·10^7-row tiers
        # (BASELINE.md: a 51 M-row tier's localCheckpoint OOMed a 48 g
        # driver). EXACT for the scale-leg configuration: the enqueue
        # rank's key is (min_parent_seq, url_norm) and chunking follows
        # discovery_seq order, so children of earlier chunks sort before
        # later chunks' and a child linked from several chunks keeps its
        # earliest parent — discovery_seq, seen, and fold digests are
        # bit-identical to the monolithic tier (test_tier_chunking_*).
        # Per-tier STATE folds (quarantine, AIMD, traps) would observe
        # chunk-grained instead of tier-grained stats, so chunking
        # refuses those combinations rather than silently approximating.
        assert tier_chunk_rows is None or tier_chunk_rows >= 1
        assert tier_chunk_rows is None or (
            quarantine_fails is None
            and not adaptive_delay
            and trap_cap is None
        ), (
            "tier_chunk_rows changes the granularity quarantine/AIMD/trap "
            "folds observe — run those tier-grained features unchunked"
        )
        self.tier_chunk_rows = tier_chunk_rows
        assert budget_mode in ("bfs", "host-proportional")
        # host-proportional quotas come from the whole tier's per-host
        # demand; per-chunk quotas would select a different page set
        assert not (
            tier_chunk_rows is not None
            and budget_mode == "host-proportional"
            and self.cfg.max_page_num > 0
        ), (
            "tier_chunk_rows with a host-proportional page budget picks "
            "per-chunk quotas — run budgeted host-proportional unchunked"
        )
        self.budget_mode = budget_mode
        self.trap_cap = trap_cap
        self.trap_prefix_depth = trap_prefix_depth
        assert quarantine_fails is None or quarantine_fails >= 1, (
            "quarantine_fails must be >= 1 (0 would quarantine every "
            "host, including all-success ones)"
        )
        assert quarantine_cooldown_tiers is None or (
            quarantine_fails is not None and quarantine_cooldown_tiers >= 1
        ), (
            "quarantine_cooldown_tiers requires quarantine_fails and must "
            "be >= 1 (0 would expire every quarantine before its first "
            "gated tier — a silent no-op)"
        )
        self.quarantine_fails = quarantine_fails
        self.quarantine_cooldown_tiers = quarantine_cooldown_tiers
        self.adaptive_delay = adaptive_delay
        self._page_fetch_fn = page_fetch_fn
        # paced_virtual=False makes the paced executor sleep each slot into
        # real wall-clock place (live HTTP politeness); True keeps the
        # virtual clock (deterministic sandbox/tests/bench)
        self.paced_virtual = paced_virtual
        # S3 TTL fetch cache (reference crawler.py:388-403, 60 s): with
        # fetch_ttl set, responses persist on this instance ACROSS run()
        # calls — a recrawl serves fresh rows from cache and fetches only
        # stale/missing ones. clock is injectable for deterministic tests.
        import time as _time

        self.fetch_ttl = fetch_ttl
        self._clock = clock or _time.time
        # per-tier (url_norm, latency_ms) of paced-mode FAILED fetches —
        # set by _do_fetch when adaptive_delay is on, consumed by the
        # AIMD fold (join-mode misses carry no measured latency)
        self._tier_fail_latency = None
        self.fetch_cache = (
            self._empty_cache(spark) if fetch_ttl is not None else None
        )
        # pre-project the fetch side once; url_hash join key for cheap
        # shuffle. A STORED url_hash (sources/pages_store.py bucketed
        # store) is kept rather than recomputed: recomputing would orphan
        # the scan's HashPartitioning(url_hash) and re-introduce the
        # pages-side Exchange the bucketed layout exists to remove.
        fetch_cols = [
            "url_norm", "status", "content_type", "content_length", "caption"
        ]
        if "url_hash" in pages.columns:
            self.pages = pages.select("url_hash", *fetch_cols)
        else:
            self.pages = pages.select(*fetch_cols).withColumn(
                "url_hash", F.xxhash64("url_norm")
            )
        # rules/link_rules: externally-loaded regex sets (settings.py YAML/
        # env merge); default to the shipped config (reference settings.yml)
        self._extract_udf = make_extract_udf(
            url_finder_rules() if link_rules is None else link_rules,
            loaded_rules() if rules is None else rules,
        )
        if self.fetch_mode == "paced" and self._page_fetch_fn is None:
            # test-scale convenience only: the pages table transits the
            # driver as a broadcast dict. Capped — a production pages
            # store must come in through page_fetch_fn (HTTP fetcher) or
            # fetch_mode='join'; collecting an unbounded table would OOM
            # the driver long before 100 TB.
            cap = int(paced_collect_cap)
            if self.pages.limit(cap + 1).count() > cap:
                raise ValueError(
                    f"fetch_mode='paced' without page_fetch_fn collects "
                    f"the pages table driver-side; it exceeds "
                    f"paced_collect_cap={cap} rows. Pass page_fetch_fn "
                    f"(live fetcher) or use fetch_mode='join'."
                )
            site = {
                r["url_norm"]: {
                    "status": r["status"], "content_type": r["content_type"],
                    "content_length": r["content_length"], "caption": r["caption"],
                }
                for r in self.pages.collect()
            }
            b = spark.sparkContext.broadcast(site)
            self._page_fetch_fn = lambda u: b.value.get(u)

    # -- public API -----------------------------------------------------------

    def run(self, seeds: list[str]) -> CrawlResult:
        """Crawl from a driver-side seed list (the reference facade's
        surface, `facade.py:176-192`)."""
        return self._run_seeded(
            lambda: seed_frontier(self.spark, seeds, self.cfg)
        )

    def run_from_urls(self, urls: DataFrame) -> CrawlResult:
        """Crawl from a TABLE of seed urls (ord long, url string) — the
        production entry for Iceberg/parquet-backed frontiers, where the
        seed set (north rule: 10^10 rows) can never transit the driver as
        a list. Seed semantics are identical to run() — parity-tested."""
        return self._run_seeded(
            lambda: seed_frontier_from_urls(self.spark, urls, self.cfg)
        )

    def run_from_frontier(self, frontier: DataFrame) -> CrawlResult:
        """Enter the crawl loop from a PREBUILT depth-0 frontier table
        carrying the full FRONTIER_SCHEMA columns — the Iceberg-snapshot
        shape (resume() enters the loop from exactly this table read back
        from a round snapshot). The CALLER guarantees url_norm is
        normalized + unique and discovery_seq orders the seeds — the
        contract every frontier table the crawler itself writes satisfies
        (the scope filter below may leave gaps in the sequence, as in
        run()).
        For raw url lists/tables use run()/run_from_urls(), which
        normalize + dedup + rank first. Skipping those jobs is the point:
        a prepared 10^10-row frontier pays zero per-run seed cost beyond
        one materialization. Parity-tested against run()."""
        return self._run_seeded(
            lambda: frontier.filter(_accept_expr(self.cfg))
        )

    def _run_seeded(self, build_frontier) -> CrawlResult:
        t_seed = time.perf_counter()
        frontier = build_frontier().localCheckpoint()
        seen = frontier.select("url_norm", "depth", "discovery_seq").localCheckpoint()
        n_frontier = frontier.count()
        st = {
            "frontier": frontier,
            # counted once here, handed on to _loop (see _tier)
            "n_frontier": n_frontier,
            "seen": seen,
            # the depth-0 seen rows, round 0's `seeds` snapshot table
            "seeds": seen,
            "nodes": self._empty(NODES_DDL),
            "edges": self._empty(EDGES_SCHEMA),
            "secrets": self._empty(SECRETS_SCHEMA),
            "depth": 0,
            "total_page": 0,
            "next_seq": n_frontier,
            "tiers": [],
            "host_fails": self._empty(QUARANTINE_DDL),
            "host_delays": self._empty(DELAYS_DDL),
        }
        st["overhead"] = {"seed_sec": round(time.perf_counter() - t_seed, 3)}
        return self._loop(st)

    def resume(self, from_round: int | None = None) -> CrawlResult:
        """Continue a crawl from a committed round snapshot (default:
        latest). Re-execution is deterministic, so resuming from ANY round
        reproduces the uninterrupted run bit-for-bit."""
        assert self.checkpoint_dir, "resume requires checkpoint_dir"
        last = from_round if from_round is not None else ckpt.latest_round(self.checkpoint_dir)
        assert last is not None, "no committed round to resume from"
        state, tables = ckpt.read_round(self.spark, self.checkpoint_dir, last)
        st = {
            "frontier": tables["frontier"],
            "seen": tables["seen"],
            "nodes": tables.get("nodes", self._empty(NODES_DDL)),
            "edges": tables.get("edges", self._empty(EDGES_SCHEMA)),
            "secrets": tables.get("secrets", self._empty(SECRETS_SCHEMA)),
            "depth": state.depth + 1,
            "total_page": state.total_page,
            "next_seq": state.next_seq,
            "tiers": list(state.tiers),
            "host_fails": tables.get(
                "host_fails", self._empty(QUARANTINE_DDL)
            ),
            "host_delays": tables.get(
                "host_delays", self._empty(DELAYS_DDL)
            ),
            # seen starts as parquet scans (see _snapshot's reset)
            "seen_segments": 1,
        }
        return self._loop(st)

    # -- internals ------------------------------------------------------------

    def _empty(self, schema) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _scale_ckpt(self, df: DataFrame) -> DataFrame:
        """localCheckpoint for the per-tier BIG frames (extraction
        output, ranked frontier). In CHUNKED mode (tier_chunk_rows set —
        chosen exactly when heap is the binding constraint) blocks are
        stored SERIALIZED (PySpark MEMORY_AND_DISK, deserialized=False):
        string-heavy extraction rows inflate 2-3× as live UTF8String
        objects, and the deserialized default's value-unroll is what
        OOMed the knife-edge heaps (round-5 constrained-heap legs: 4 g
        chunked runs died unrolling 1.5-4 GB chunks AS VALUES; with
        serialized storage the same runs complete with zero OOMs).
        Serialization is NOT free — measured ~1.5-2× on the extraction
        stage (each stored row is serialized task-side and deserialized
        on every scan), which is why the monolithic fold legs keep the
        deserialized default and follow the size-heap-to-biggest-tier
        guidance instead (the r4 Leg A configuration); chunked mode
        explicitly trades that CPU for bounded peak heap."""
        if self.tier_chunk_rows is not None:
            from pyspark import StorageLevel

            # PySpark's MEMORY_AND_DISK constant is the SERIALIZED form
            # (deserialized=False) — unlike the JVM-side default
            return df.localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
        return df.localCheckpoint()

    @staticmethod
    def _empty_cache(spark: SparkSession) -> DataFrame:
        from .fetch_cache import CACHE_DDL

        return spark.createDataFrame([], CACHE_DDL)

    def _host_proportional_cut(
        self, candidates: DataFrame, remaining: int
    ) -> DataFrame:
        """budget_mode='host-proportional': Hamilton quotas per host
        (politeness.allocate_host_budget), each host's quota filled in
        BFS discovery order. One demand agg + the allocator's rank + a
        per-host row_number window (hosts are plentiful — no single-task
        stage) + a host-dim join AQE is free to broadcast."""
        from pyspark.sql import Window

        from ..functions.exprs import host_of
        from .politeness import allocate_host_budget

        cand = candidates.withColumn("__bhost", host_of(F.col("netloc")))
        demands = cand.groupBy(F.col("__bhost").alias("host")).agg(
            F.count(F.lit(1)).alias("demand")
        )
        quotas = allocate_host_budget(demands, remaining).select(
            F.col("host").alias("__bhost"), "quota"
        )
        w = Window.partitionBy("__bhost").orderBy("discovery_seq")
        return (
            cand.withColumn("__brk", F.row_number().over(w))
            .join(quotas, "__bhost")
            .filter(F.col("__brk") <= F.col("quota"))
            .drop("__bhost", "__brk", "quota")
        )

    def _do_fetch(self, to_process: DataFrame, tier_rows: int) -> DataFrame:
        """One tier's fetch: frontier rows → frontier cols + page cols
        (status, content_type, content_length, caption). *tier_rows* is an
        upper bound on the row count, used for the broadcast decision."""
        if self.fetch_mode == "mapped":
            # in-plan fetch transform (see __init__): lazy, fuses into
            # the extraction stage — so parallelism = the FRONTIER's
            # partitioning. The join path never cared (the broadcast
            # join streams the 256-partition pages side), but here a
            # small tier that came through ranking's single-partition
            # window plan would run the whole fetch+extract stage as ONE
            # task (measured 45.9 s vs 4 s for a 208k-row tier). Fan a
            # too-coarse frontier out to 2× slots first; big tiers take
            # the distributed rank path and already arrive wide.
            self._tier_fail_latency = None
            target = self.spark.sparkContext.defaultParallelism * 2
            if to_process.rdd.getNumPartitions() < target:
                to_process = to_process.repartition(target)
            return self.fetch_map_fn(to_process)
        if self.fetch_mode == "paced":
            # real-network vehicle: per-host paced applyInPandas executor
            # calling page_fetch_fn under the politeness schedule
            from .fetch_exec import paced_fetch_pages

            paced = paced_fetch_pages(
                to_process, self.cfg, self._page_fetch_fn, self.robots,
                virtual=self.paced_virtual,
            )
            if self.adaptive_delay:
                # materialize ONCE before splitting success/failure — a
                # second lazy consumer would re-run the fetch UDF (real
                # HTTP + sleeps). Failed fetches keep their MEASURED
                # wall-clock latency (often a timeout — the largest
                # latencies a host produces) so the AIMD p95 sees them;
                # F.lit(0.0) here would read a slow-failing host as
                # healthy and recover instead of backing off.
                paced = paced.localCheckpoint()
                self._tier_fail_latency = paced.filter(
                    ~F.col("fetched")
                ).select("url_norm", "latency_ms")
            return (
                paced.filter(F.col("fetched"))
                .select("url_norm", "status", "content_type",
                        "content_length", "caption", "latency_ms")
                .join(to_process, "url_norm")
            )
        self._tier_fail_latency = None
        # sandbox scan: hash join vs the pages store. The frontier tier
        # is broadcast while it fits (deterministic plan, no pages
        # shuffle); a 10^8-row tier at real scale exceeds any broadcast
        # budget and takes the shuffle-hash path instead (AQE picks it).
        keyed = to_process.withColumn("url_hash", F.xxhash64("url_norm"))
        if tier_rows <= self.cfg.broadcast_frontier_rows:
            keyed = F.broadcast(keyed)
        # A bucketed pages side (sources/pages_store.py) scans in place
        # here: url_hash — the bucket key — is a subset of the join
        # keys, and the session sets
        # spark.sql.requireAllClusterKeysForCoPartition=false so the
        # planner accepts subset-key co-partitioning instead of
        # re-shuffling the 100 TB side (plan-asserted in
        # tests/test_pages_store.py).
        return keyed.join(
            self.pages, ["url_hash", "url_norm"], "inner"
        ).drop("url_hash")

    def _quarantine_fold(
        self,
        state: DataFrame,
        ok_counts: DataFrame,
        fail_counts: DataFrame,
        depth: int,
    ) -> DataFrame:
        """One tier's host outcomes folded into the breaker state (see
        __init__ doc). Tier-batch time: any success this tier resets the
        host's run; otherwise the tier's failures extend it. An expired
        quarantine (cooldown passed) resets to half-open BEFORE the
        tier's outcome applies, so the probe tier re-trips on its own
        evidence. Hosts with no active run and no quarantine drop out —
        the state stays minimal (failing-host cardinality, not all
        hosts)."""
        thr = int(self.quarantine_fails)
        c = self.quarantine_cooldown_tiers
        tier = ok_counts.join(fail_counts, "host", "full_outer")
        merged = state.select(
            "host",
            F.col("n_fails").alias("old_n"),
            F.col("quarantined_at").alias("old_qat"),
        ).join(tier, "host", "full_outer")
        expired = (
            F.lit(False)
            if c is None
            else F.col("old_qat").isNotNull()
            & (F.lit(depth) > F.col("old_qat") + int(c))
        )
        base_n = F.when(expired, F.lit(0)).otherwise(
            F.coalesce(F.col("old_n"), F.lit(0))
        )
        base_qat = F.when(expired, F.lit(None).cast("int")).otherwise(
            F.col("old_qat")
        )
        n2 = (
            F.when(F.coalesce(F.col("n_ok"), F.lit(0)) > 0, F.lit(0))
            .otherwise(base_n + F.coalesce(F.col("n_fail"), F.lit(0)))
            .cast("long")
        )
        qat2 = F.when(base_qat.isNotNull(), base_qat).when(
            n2 >= thr, F.lit(depth).cast("int")
        )
        return merged.select(
            "host", n2.alias("n_fails"), qat2.alias("quarantined_at")
        ).filter((F.col("n_fails") > 0) | F.col("quarantined_at").isNotNull())

    # -- URL-seen check: the lazy exact anti-join ---------------------------

    def _seen_build(self, seen: DataFrame) -> None:
        # no seen-side state to build; kept for perfbench/crawl.py:_replay
        return None

    def _seen_anti_join(self, eligible: DataFrame, seen: DataFrame, state):
        # state: unused, kept for perfbench/crawl.py:_replay's wrapper.
        # Stays lazy: one consumption, so a checkpoint would be pure cost
        # (20.9 s lazy vs 34.3 s for the checkpoint alone at a 25M-row
        # tier, BASELINE.md round-3 component table)
        return eligible.join(seen, "url_norm", "left_anti")

    def _loop(self, st: dict) -> CrawlResult:
        cfg = self.cfg
        while True:
            if cfg.max_depth > 0 and st["depth"] > cfg.max_depth:
                break
            if cfg.max_page_num > 0 and st["total_page"] >= cfg.max_page_num:
                break
            n_frontier = st.pop("n_frontier", None)
            if n_frontier is None:
                n_frontier = st["frontier"].count()
            if n_frontier == 0:
                break
            if (
                self.tier_chunk_rows is not None
                and n_frontier > self.tier_chunk_rows
            ):
                self._chunked_tier(st, n_frontier)
            else:
                st["n_frontier"] = n_frontier
                self._tier(st)
            if self.checkpoint_dir:
                self._snapshot(st)
            if (
                self.fold_outputs
                and st["tiers"]
                and st["tiers"][-1]["processed"] >= self.GC_NUDGE_MIN_TIER_ROWS
            ):
                # the previous tier's extraction checkpoint is now
                # unreferenced (digests folded, no lazy union holds it) —
                # nudge the JVM so ContextCleaner releases its blocks
                # before the next tier grows; keeps peak storage O(one
                # tier) instead of O(crawl). Gated on tier size (ADVICE
                # round-4): a forced FULL GC on the 80 g heap the decade
                # legs run with stalls multi-seconds, which only pays for
                # itself when the freed tier is big enough to matter —
                # small tiers' blocks are reclaimed by ContextCleaner's
                # ordinary reference-queue pass anyway.
                self.spark.sparkContext._jvm.System.gc()
            st["depth"] += 1

        folded = None
        if self.fold_outputs:
            acc: dict[str, dict] = {}
            for t in st["tiers"]:
                for name, v in t.get("fold", {}).items():
                    a = acc.setdefault(name, {"digest": 0, "rows": 0})
                    a["digest"] += v["digest"]
                    a["rows"] += v["rows"]
            folded = {
                k: {"digest": str(v["digest"]), "rows": v["rows"]}
                for k, v in acc.items()
            }
        return CrawlResult(
            nodes=st["nodes"],
            edges=st["edges"].dropDuplicates(["parent_norm", "child_norm", "kind"]),
            secrets=st["secrets"].dropDuplicates(["url_norm", "rule_name", "match"]),
            seen=st["seen"],
            # found_urls ≡ the distinct children ever extracted — exactly
            # the edge targets, so it is derived instead of accumulated
            # (zero extra extraction passes; crawler.py:364-376 adds every
            # child to a dict AND found_urls together)
            found=st["edges"].select(
                F.col("child_norm").alias("url_norm")
            ).distinct(),
            total_page=st["total_page"],
            tiers=st["tiers"],
            overhead=st.get("overhead", {}),
            host_delays=st["host_delays"] if self.adaptive_delay else None,
            host_fails=(
                st["host_fails"] if self.quarantine_fails is not None else None
            ),
            folded=folded,
        )

    def _chunked_tier(self, st: dict, n_frontier: int) -> None:
        """Process one BFS tier as seq-contiguous chunks of
        ≤``tier_chunk_rows`` rows — the heap mitigation for tiers whose
        extraction checkpoint exceeds a single JVM's storage memory.

        Chunk boundaries are ARITHMETIC on discovery_seq: one 2-value
        min/max agg and per-chunk range filters over the
        already-checkpointed frontier — no sort, no shuffle, no extra
        materialization. Tiers past the seeds carry a dense seq range
        (enqueue assigns next_seq..next_seq+n-1), so their chunks are
        even; the seed tier may have gaps (seeds are numbered before the
        scope filter runs), which only makes its chunk sizes uneven.

        Exactness: children of chunk i's parents carry min_parent_seq
        values strictly below chunk i+1's (seq order), which is the
        leading component of the enqueue rank key, so ranking chunks
        back-to-back assigns the SAME discovery_seq as one monolithic
        rank; a child linked from multiple chunks is enqueued by its
        earliest chunk (later chunks' anti-join drops it — same winner
        as the monolithic min(parent_seq) tiebreak). Peak storage drops
        from O(tier) to O(chunk): each chunk's extraction checkpoint is
        released (fold mode) before the next begins."""
        full = st["frontier"]
        b = full.agg(
            F.min("discovery_seq").alias("lo"),
            F.max("discovery_seq").alias("hi"),
        ).collect()[0]
        lo, hi = int(b["lo"]), int(b["hi"])
        # past the seed tier a gap means the frontier was not built by
        # enqueue (e.g. an edited snapshot): refuse it
        assert st["depth"] == 0 or hi - lo + 1 == n_frontier, (
            f"frontier discovery_seq is not dense: [{lo}, {hi}] holds "
            f"{n_frontier} rows"
        )
        n_chunks = -(-n_frontier // self.tier_chunk_rows)
        step = -(-(hi - lo + 1) // n_chunks)
        segments: list[DataFrame] = []
        for ci in range(n_chunks):
            if (
                self.cfg.max_page_num > 0
                and st["total_page"] >= self.cfg.max_page_num
            ):
                break
            c_lo = lo + ci * step
            if c_lo > hi:
                break
            st["frontier"] = full.filter(
                (F.col("discovery_seq") >= c_lo)
                & (F.col("discovery_seq") < min(c_lo + step, hi + 1))
            )
            self._tier(st)
            st["tiers"][-1]["chunk"] = ci
            segments.append(st["frontier"])  # this chunk's new_frontier
            if self.fold_outputs:
                # UNCONDITIONAL per-chunk nudge (no GC_NUDGE_MIN_TIER_ROWS
                # gate): chunking is chosen exactly when heap is the
                # binding constraint, and ContextCleaner only releases a
                # chunk's checkpoint blocks after a GC enqueues its weak
                # refs — the default periodic GC is 30 min away, so
                # without the nudge freed chunks pile up and the run OOMs
                # unrolling the next one (round-5 constrained-heap legs)
                self.spark.sparkContext._jvm.System.gc()
        nf = segments[0] if segments else self._empty(FRONTIER_SCHEMA)
        for s in segments[1:]:
            nf = nf.unionByName(s)
        # each segment is already a checkpointed leaf, so the union is a
        # flat read — same shape as the seen-segments accumulation
        st["frontier"] = nf

    def _tier(self, st: dict, state=None) -> None:
        # state: unused, kept for perfbench/crawl.py:_replay's call
        cfg, depth = self.cfg, st["depth"]
        phase_t: dict[str, float] = {}
        _last = time.perf_counter()

        def mark(name: str) -> None:
            nonlocal _last
            now = time.perf_counter()
            phase_t[name] = round(now - _last, 3)
            _last = now

        frontier = st["frontier"]
        # _loop hands the monolithic tier its count; a chunk, or a caller
        # that enters _tier directly, counts here
        n_frontier = st.pop("n_frontier", None)
        if n_frontier is None:
            n_frontier = frontier.count()
        mark("count_frontier")

        # C5 robots gate (north-rule addition; excluded like evade: no fetch,
        # no budget)
        candidates = frontier
        if self.robots is not None:
            candidates = robots_gate(candidates, self.robots).drop("host")

        # F6 evade: never processed, never counted (crawler.py:272-276)
        candidates = candidates.filter(
            ~is_dangerous_path(F.col("path"), cfg.dangerous_paths)
        )

        # host circuit breaker: quarantined hosts are not scheduled this
        # tier (no fetch, no budget — robots/evade contract). The state
        # dim is host-cardinality → broadcast; big side never shuffles.
        if self.quarantine_fails is not None:
            active = F.col("quarantined_at").isNotNull()
            if self.quarantine_cooldown_tiers is not None:
                active = active & (
                    F.lit(depth)
                    <= F.col("quarantined_at")
                    + int(self.quarantine_cooldown_tiers)
                )
            qdim = F.broadcast(
                st["host_fails"].filter(active).select(
                    F.col("host").alias("q_host")
                )
            )
            tagged = with_host(candidates)
            candidates = tagged.join(
                qdim, tagged["host"] == qdim["q_host"], "left_anti"
            ).drop("host")

        # O2 budget top-k in BFS order (crawler.py:190-191, 270-271).
        # Only the budget cut is worth pinning with a checkpoint; without a
        # budget, to_process is cheap narrow filters over the ALREADY
        # checkpoint-backed frontier — re-evaluating them on each downstream
        # read beats re-materializing the whole tier (one less full-tier
        # copy per round).
        if cfg.max_page_num > 0:
            remaining = cfg.max_page_num - st["total_page"]
            if self.budget_mode == "host-proportional":
                to_process = self._host_proportional_cut(
                    candidates, remaining
                )
            else:
                to_process = candidates.orderBy("discovery_seq").limit(
                    remaining
                )
            to_process = to_process.localCheckpoint()
        else:
            to_process = candidates
        n_processed = to_process.count()
        st["total_page"] += n_processed
        mark("budget_checkpoint")

        # C1/C2 politeness schedule (virtual time; metrics only in sandbox —
        # a real-network deployment fetches per (host, slot) group)
        makespan = None
        if n_processed:
            sched_dim = self.robots
            if self.adaptive_delay:
                # merge the adapted per-host delays with robots
                # Crawl-delay; assign_fetch_schedule takes max() per host,
                # so neither source can undercut the other
                adapted = st["host_delays"]
                sched_dim = (
                    adapted
                    if sched_dim is None
                    else sched_dim.select("host", "crawl_delay").unionByName(
                        adapted
                    )
                )
            scheduled = assign_fetch_schedule(to_process, cfg, sched_dim)
            makespan = tier_makespan(scheduled, cfg)
        mark("politeness")

        # S2 fetch (optionally through the S3 TTL cache). In the plain
        # path `fetched` stays LAZY: the pages join fuses into the single
        # extraction stage below, so a tier's captions are scanned exactly
        # once and never stored; the TTL-cache path materializes them (the
        # cache replays fetched bodies across rounds).
        if self.fetch_cache is None:
            fetched = self._do_fetch(to_process, n_processed)
        else:
            from . import fetch_cache as fc

            now = self._clock()
            hits, misses = fc.split_by_ttl(
                to_process, self.fetch_cache, now, self.fetch_ttl
            )
            fetched_new = self._do_fetch(misses, n_processed).localCheckpoint()
            # cache hits replay without a latency_ms column (paced mode
            # measures it on fresh fetches only) — they union as NULL and
            # the AIMD fold coalesces to 0
            fetched = hits.unionByName(
                fetched_new, allowMissingColumns=True
            ).localCheckpoint()
            self.fetch_cache = fc.upsert(
                self.fetch_cache, fetched_new, now
            ).localCheckpoint()
        mark("fetch_join")

        # P1∪P2 + P3 + P7 in ONE Arrow pass (plans/extraction.py): each
        # caption crosses the JVM→worker boundary exactly once per tier,
        # and the per-tier checkpoint stores frontier identity + page
        # metadata + the extraction arrays — never the captions. Nodes,
        # secrets, edges, found, and the enqueue path all derive from this
        # single materialization with pure-JVM projections/explodes.
        combined = self._scale_ckpt(
            extraction.extract_combined(fetched, self._extract_udf)
        )
        if self.checkpoint_dir and not self.fold_outputs:
            # this tier's `extracted` snapshot delta (one per chunk until
            # _snapshot unions, writes and drops them)
            st.setdefault("extracted", []).append(combined)
        mark("extract")

        # shared per-tier frame for the breaker and AIMD folds:
        # scheduled-but-not-fetched hosts (join mode: URL absent from the
        # pages store; paced mode: fetch_fn error arm). Empty hosts are
        # excluded everywhere: verbatim relative-href children (netloc='',
        # a reference-parity invariant) and unparseable authorities would
        # otherwise pool into ONE shared '' key. Materialized only when
        # BOTH consumers are on (each alone executes the join once anyway).
        missed_hosts = None
        if self.quarantine_fails is not None or self.adaptive_delay:
            missed_hosts = (
                with_host(to_process)
                .filter(F.col("host") != "")
                .select("host", "url_norm")
                .join(combined.select("url_norm"), "url_norm", "left_anti")
            )
            if self.quarantine_fails is not None and self.adaptive_delay:
                missed_hosts = missed_hosts.localCheckpoint()

        # circuit-breaker fold: this tier's per-host outcomes into the
        # quarantine state. Successes = combined (the checkpointed fetch
        # result); failures = the shared missed_hosts frame. Both sides
        # are host-rollups of this tier only — tiny aggs.
        if self.quarantine_fails is not None:
            ok_counts = (
                with_host(combined)
                .filter(F.col("host") != "")
                .groupBy("host")
                .agg(F.count(F.lit(1)).alias("n_ok"))
            )
            fail_counts = missed_hosts.groupBy("host").agg(
                F.count(F.lit(1)).alias("n_fail")
            )
            st["host_fails"] = self._quarantine_fold(
                st["host_fails"], ok_counts, fail_counts, depth
            ).localCheckpoint()
            mark("quarantine_fold")

        # AIMD fold: this tier's fetch outcomes → next tier's crawl-delay
        # dim. ok = the server answered and wasn't erroring (join-mode
        # miss / paced error arm stay 'Unknown'; 5xx and 429 are stress).
        # Same ''-host exclusion as the breaker. Host-cardinality agg —
        # tiny, one pass over rows already materialized in `combined`.
        if self.adaptive_delay:
            from .politeness import adapt_crawl_delay

            status = F.col("status").cast("string")
            ok_col = ~(
                (status == "Unknown")
                | status.startswith("5")
                | (status == "429")
            )
            # observed latency when the paced executor measured it
            # (real-fetch mode); join mode carries no latency column and
            # the p95 arm stays inert at 0
            latency = (
                F.coalesce("latency_ms", F.lit(0.0))
                if "latency_ms" in combined.columns
                else F.lit(0.0)
            )
            # failure arm: same row set as the breaker (the anti-join),
            # but paced mode carries the MEASURED latency of each failed
            # fetch (stashed by _do_fetch); rows the executor never
            # issued (robots-denied, join-mode misses) coalesce to 0
            fail_side = missed_hosts
            if self._tier_fail_latency is not None:
                fail_side = fail_side.join(
                    self._tier_fail_latency, "url_norm", "left"
                )
                fail_lat = F.coalesce("latency_ms", F.lit(0.0))
            else:
                fail_lat = F.lit(0.0)
            tier_stats = (
                with_host(combined)
                .filter(F.col("host") != "")
                .select(
                    "host", ok_col.alias("ok"), latency.alias("latency_ms")
                )
                .unionByName(
                    fail_side.select(
                        "host",
                        F.lit(False).alias("ok"),
                        fail_lat.alias("latency_ms"),
                    )
                )
            )
            st["host_delays"] = (
                adapt_crawl_delay(
                    tier_stats,
                    st["host_delays"],
                    default_delay=cfg.min_request_interval,
                )
                .select("host", "crawl_delay")
                .localCheckpoint()
            )
            mark("delay_fold")

        # P1+P2 link extraction, gated by F7 (crawler.py:343-344)
        children = extraction.children_of(combined)

        if self.fold_outputs:
            # digest/count folding (scale-leg retention): per-tier sums
            # recorded in the tier metrics record — resume-safe because
            # tier records are part of the checkpoint manifest.
            tier_fold = self._fold_tier(combined)
            mark("fold_outputs")
        else:
            tier_fold = None
            # P10 metadata projection + P7 title
            st["nodes"] = st["nodes"].unionByName(extraction.nodes_of(combined))

            # P3 secrets — extracted from every fetched page (crawler.py:296)
            st["secrets"] = st["secrets"].unionByName(
                extraction.secrets_of(combined)
            )

            # D5 edges recorded regardless of enqueue (crawler.py:364-376) —
            # lazy unions over the per-tier checkpointed `combined`; the
            # single dropDuplicates in _loop dedups the whole accumulation
            # at the end
            st["edges"] = st["edges"].unionByName(
                extraction.edges_of(children)
            )

        # D1 enqueue: depth gate F8 + filter chain + seen anti-join
        is_extending = cfg.max_depth <= 0 or depth + 1 <= cfg.max_depth
        n_new = 0
        if is_extending:
            eligible = (
                children.filter(_accept_expr(cfg))
                .groupBy("url_norm", "scheme", "netloc", "path", "params",
                         "query", "fragment")
                .agg(F.min("parent_seq").alias("min_parent_seq"),
                     F.min("parent_norm").alias("parent_norm"))
            )
            if self.trap_cap is not None:
                from . import traps

                hot = traps.url_explosions(
                    st["seen"], self.trap_cap,
                    prefix_depth=self.trap_prefix_depth,
                )
                eligible = traps.prune_trapped(
                    eligible, hot, prefix_depth=self.trap_prefix_depth
                )
            new_nodes = self._seen_anti_join(eligible, st["seen"], None)
            # ranking materializes + counts its input anyway; reuse that
            # count as n_new (rank preserves rows) — one job less per tier
            ranked, n_new = assign_global_seq_with_count(
                new_nodes, ["min_parent_seq", "url_norm"], start=st["next_seq"]
            )
            new_frontier = self._scale_ckpt(ranked.select(
                "url_norm", "scheme", "netloc", "path", "params", "query",
                "fragment", F.lit(depth + 1).alias("depth"),
                "parent_norm", "discovery_seq",
            ))
            mark("enqueue_rank")
            st["next_seq"] += n_new
            # LAZY union: the increment (new_frontier) is already
            # checkpointed, and every prior segment is too, so the union
            # is a flat read of materialized blocks — re-checkpointing
            # the WHOLE accumulated table here copied O(total seen) rows
            # per tier (3.5-21.8 s/tier at the 10^8 leg; at a 10^10
            # deployment the seen table is an Iceberg APPEND, which this
            # union-of-segments shape mirrors)
            st["seen"] = st["seen"].unionByName(
                new_frontier.select("url_norm", "depth", "discovery_seq")
            )
            # deep-crawl guard: the union tree grows one leg per tier and
            # is re-analyzed by every per-tier consumer, so an unbounded-
            # depth crawl would pay O(tiers²) driver-side planning.
            # Flatten every 16 tiers — amortized copy cost O(total/16),
            # and a shallow BFS never pays it (snapshot rounds flatten to
            # parquet reads on their own).
            st["seen_segments"] = st.get("seen_segments", 1) + 1
            if st["seen_segments"] >= 16:
                st["seen"] = st["seen"].localCheckpoint()
                st["seen_segments"] = 1
            mark("seen_union")
        else:
            new_frontier = self._empty(FRONTIER_SCHEMA)

        tier_rec = {
            "depth": depth,
            "frontier": n_frontier,
            "processed": n_processed,
            "enqueued": n_new,
            "total_page": st["total_page"],
            "politeness_makespan_sec": makespan,
            "phase_sec": phase_t,
        }
        if tier_fold is not None:
            tier_rec["fold"] = tier_fold
        st["tiers"].append(tier_rec)
        st["frontier"] = new_frontier

    def _fold_tier(self, combined: DataFrame) -> dict:
        """One tier's nodes/secrets/edges digests+counts in ONE scan of
        the tier's extraction checkpoint — no explodes, no dedup jobs,
        no shuffle (one partial-agg). Digests are order-invariant
        sum-of-xxhash64 as decimal(38,0) (exact, overflow-free, cannot
        cancel duplicates — the submit/crawl_job.py --checksum formula)
        over exactly the rows nodes_of/secrets_of/edges_of would emit:
        the per-row array folds hash each secret/edge with the shared
        digest recipes from plans/extraction.py (node_digest_exprs /
        secret_digest_exprs / edge_pairs_expr — ADVICE round-4: ONE
        definition next to the projections, so an edit to either side is
        visible from the other), and edge pairs are per-page
        array_distinct-ed on (child_norm, kind) so colliding child
        6-tuples hash exactly like the retained path's dropDuplicates
        (parity-pinned in TestSyntheticFetch, collision case in
        test_fold_digest_collision_parity). An earlier shape ran 3
        separate explode-dedup-agg jobs per tier; at the 10^9 leg's
        51 M-row tier that cost 126.8 s of re-scanning — this is one
        pass."""
        from . import extraction as expl

        dec = "decimal(38,0)"

        def hfold(arr, fn):
            return F.aggregate(
                arr,
                F.lit(0).cast(dec),
                lambda acc, x: acc + fn(x).cast(dec),
            )

        node_h = F.xxhash64(*expl.node_digest_exprs()).cast(dec)
        sec_h = hfold(
            F.col("ex.secrets"),
            lambda s: F.xxhash64(*expl.secret_digest_exprs(s)),
        )
        edge_pairs = expl.edge_pairs_expr()
        edge_h = hfold(
            edge_pairs,
            lambda p: F.xxhash64(*expl.edge_digest_exprs(p)),
        )
        row = combined.agg(
            F.sum(node_h).alias("nd"),
            F.count(F.lit(1)).alias("nn"),
            F.sum(sec_h).alias("sd"),
            F.sum(F.size("ex.secrets").cast("long")).alias("sn"),
            F.sum(edge_h).alias("ed"),
            F.sum(F.size(edge_pairs).cast("long")).alias("en"),
        ).collect()[0]
        return {
            "nodes": {"digest": int(row["nd"] or 0), "rows": int(row["nn"])},
            "secrets": {"digest": int(row["sd"] or 0), "rows": int(row["sn"] or 0)},
            "edges": {"digest": int(row["ed"] or 0), "rows": int(row["en"] or 0)},
        }

    def _snapshot(self, st: dict) -> None:
        """Append round ``depth``: tier depth+1's frontier, the tier's
        extraction checkpoint (retained mode), round 0's seeds and the
        host-state tables; then point st at the parquet-backed logical
        tables (plans/checkpoint.py). No Spark job outside the writes."""
        state = ckpt.CrawlState(
            depth=st["depth"],
            total_page=st["total_page"],
            next_seq=st["next_seq"],
            tiers=st["tiers"],
        )
        tables = {"frontier": st["frontier"]}
        if st["depth"] == 0:
            tables["seeds"] = st["seeds"]
        extracted = st.pop("extracted", None)
        if extracted is not None:
            tables["extracted"] = reduce(DataFrame.unionByName, extracted)
        if self.quarantine_fails is not None:
            tables["host_fails"] = st["host_fails"]
        if self.adaptive_delay:
            tables["host_delays"] = st["host_delays"]
        lineage = ckpt.write_round(self.checkpoint_dir, state, tables)
        st["tiers"][-1]["lineage"] = {k: len(v) for k, v in lineage.items()}
        # re-read the snapshot so downstream lineage points at parquet,
        # not RAM; the stored schemas spare an inference job per table
        _, logical = ckpt.read_round(self.spark, self.checkpoint_dir, st["depth"])
        st.update(logical)
        # seen is now two parquet scans — restart the union-of-segments
        # count so the 16-tier flatten doesn't fire early and pay an extra
        # full-table localCheckpoint copy the snapshot already provides
        st["seen_segments"] = 1
