"""The crawl engine: one DataFrame job per scheduling round, snapshot
checkpoints between rounds (SURVEY §3.1 Spark lifecycle, §2.10 E3/E5).

``run_round`` is a short driver over five named phases that hand one
round-state object (``_RoundState``) from phase to phase:

  read state      the last complete round's pinned snapshot ids, the
                  pending frontier, the seen log and ``max_seq``
  plan            frontier(pending) ─ robots split (broadcast host_policy)
                  → per-host politeness top-B (salted window, W2)
                  → fetch = inner join pages ⋈ scheduled (size-gated
                    broadcast, J4)
                  → phase split on label (E2): discover | parse
                  → discover: link expansion (E1) → first-wins (J2)
                              → bloom + exact anti-join vs seen (J1)
                              → deterministic seq assignment (O1)
                  → parse: parser dispatch (F9/P3) → pandas-UDF parsers
                           (P1) → AI analysis stage (P4/P5)
                  → frontier state transitions + seen events (J3)
  write articles  the round's big parse job, alone
  write parallel  weibo, quarantine, frontier (SHARD-SCOPED overwrite of
                  the touched host buckets) + terminal-row archive,
                  content_history then seen (+ seen_filters), from a
                  thread pool
  commit          atomic round commit (E5), then the round's metrics

Metrics are not a table. The plan-time counts (scheduled, robots
blocked, links discovered/enqueued, recrawl enqueued) are properties of
the round's frontier snapshot, next to ``max_seq``; ``round_metrics``
rebuilds the full record (A1/A4) from them plus parquet-footer counts
of the round's written deltas, for any committed round.

State layout is O(delta)-per-round by construction:

- ``seen`` is an append-only EVENT LOG. Each round appends one insert
  event per fresh discovery and one fetch event per fetched URL; the
  merged view (min/max/sum per url_hash — ``merged_seen``) IS the
  reference's MERGE-upserted seen table (cassandra_manager.py:317-329),
  and a periodic compaction snapshot (every ``compact_seen_every``
  rounds) bounds log depth. No per-round O(|seen|) rewrite.
- ``frontier`` holds ONLY pending rows (the live queue), physically
  sharded by ``host_bucket``. A round rewrites ONLY the buckets it
  touched (scheduled, blocked, recrawled, or receiving discoveries) —
  every other bucket's data dir is carried forward by reference, so
  the commit is O(round delta) even when pending is budget-starved and
  orders of magnitude larger than a round's batch. Terminal rows
  (fetched / failed / robots_blocked) move to the append-only
  ``frontier_archive``, sharded by state so per-state round stats are
  parquet-footer reads, not jobs.
- ``seen_filters`` (with ``use_bloom``) is built once, by ``bootstrap``,
  from the seeds' seen events; every round extends its base snapshot
  with the round's inserts, shard-scoped to the buckets that received
  them.

On Iceberg these map to: seen = append snapshots + a MERGE-on-read
view + partition-filtered rewrite_data_files compaction (rotating
bucket groups); frontier = overwritePartitions; archive = append
snapshots on a state-partitioned table.

The reference's orchestrator (orchestrator.py:419-497) collapses into
``run``'s while-loop; K8s job retries (375-405) become the
``retry_count < max_retries`` re-queue of failed fetches.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import history as HY
from ..operators import links as L
from ..operators import parse as P
from ..operators import politeness as W
from ..operators.sequence import assign_global_seq
from ..sources.catalog import SnapshotCatalog

FRONTIER_COLS = [
    "url", "url_hash", "host", "host_bucket", "depth", "priority",
    "parser", "label", "discovered_from", "seq", "round", "state",
    "retry_count",
]

SEEN_COLS = ["url_hash", "url", "host_bucket", "first_round",
             "last_round", "scrape_count", "last_scrape_round",
             "last_dup_round", "last_fail_round", "status"]

def merged_seen(events: DataFrame) -> DataFrame:
    """Latest-state view over the seen event log — exactly the
    reference's upserted url_tracker (J3). Insert events carry
    (first_round=last_round=enqueue round, scrape_count=0); fetch
    events carry (first_round=NULL, last_round=fetch round,
    scrape_count=1, last_scrape_round=round); duplicate-detection
    events carry last_dup_round (cassandra_manager.py:454-464 sets
    status='duplicate' when a re-scrape matches the stored content
    hash); terminal fetch failures carry last_fail_round. min/max/sum
    are associative + idempotent over disjoint event sets, so
    compaction snapshots re-merge correctly.

    ``status`` reproduces the reference's one-column latest-write-wins
    ladder (url_tracker DDL cassandra_manager.py:143-153: 'pending',
    'processed'→'scraped' here, 'failed', plus 'duplicate'): the
    highest-round terminal event names the status, a duplicate beats
    the scrape it accompanied (same round — the reference writes
    'processed' then overwrites with 'duplicate'), and a LATER
    changed-content scrape flips a duplicate back to scraped exactly
    as a new store overwrites the tracker row."""
    lsr = F.max("last_scrape_round").alias("last_scrape_round")
    ldr = F.max("last_dup_round").alias("last_dup_round")
    lfr = F.max("last_fail_round").alias("last_fail_round")
    c_lsr = F.coalesce(F.col("last_scrape_round"), F.lit(-1))
    c_ldr = F.coalesce(F.col("last_dup_round"), F.lit(-1))
    c_lfr = F.coalesce(F.col("last_fail_round"), F.lit(-1))
    return (
        events.groupBy("url_hash").agg(
            F.max("url").alias("url"),
            F.max("host_bucket").alias("host_bucket"),
            F.min("first_round").alias("first_round"),
            F.max("last_round").alias("last_round"),
            F.sum("scrape_count").cast("int").alias("scrape_count"),
            lsr, ldr, lfr,
        )
        .withColumn(
            "status",
            F.when((c_lfr >= 0) & (c_lfr > c_lsr) & (c_lfr > c_ldr),
                   F.lit("failed"))
            .when((c_ldr >= 0) & (c_ldr >= c_lsr), F.lit("duplicate"))
            .when(F.col("scrape_count") > 0, F.lit("scraped"))
            .otherwise(F.lit("pending")))
        .select(*SEEN_COLS)
    )


def _round_if(flag: bool, rnd: int) -> Column:
    return F.lit(rnd if flag else None).cast("int")


def _seen_events(df: DataFrame, status: str, rnd: int) -> DataFrame:
    """One seen event per row of ``df`` (url_hash, url, host_bucket) —
    the J3 MERGE as an append. ``status`` names the event kind:
    'pending' is an insert at enqueue round ``rnd`` (first_round =
    last_round = rnd); 'scraped', 'failed' and 'duplicate' are fetch,
    retry-exhausted and content-duplicate events of round ``rnd``, each
    stamping its own ``last_*_round`` column. A fetch event alone
    counts a scrape."""
    return df.select(
        "url_hash", "url", "host_bucket",
        _round_if(status == "pending", rnd).alias("first_round"),
        F.lit(rnd).cast("int").alias("last_round"),
        F.lit(int(status == "scraped")).alias("scrape_count"),
        _round_if(status == "scraped", rnd).alias("last_scrape_round"),
        _round_if(status == "duplicate", rnd).alias("last_dup_round"),
        _round_if(status == "failed", rnd).alias("last_fail_round"),
        F.lit(status).alias("status"),
    )


def _is_parse() -> Column:
    return F.col("label") == "PARSE"


def _is_discover() -> Column:
    return F.col("label").isNotNull() & ~_is_parse()


def round_metrics(catalog: SnapshotCatalog, round_entry: dict) -> dict:
    """A1/A4 metrics of one committed round (an entry of
    ``catalog.rounds()``, round >= 0). The plan-time counts come from
    the round's frontier snapshot properties; every other count is a
    parquet-footer read of a delta the round wrote (driver-side, no
    Spark job), so the cost stays flat as the crawl ages. The
    state-sharded archive gives per-state counts from its leaf dirs."""
    snaps = round_entry["snapshots"]
    plan = catalog.snapshot_properties("frontier", snaps["frontier"])
    n_fetched = catalog.snapshot_delta_rowcount(
        "frontier_archive", snaps["frontier_archive"], shards=["fetched"])
    return {
        "round": round_entry["round"],
        "scheduled": plan["scheduled"],
        "fetched": n_fetched,
        "fetch_failed": plan["scheduled"] - n_fetched,
        "robots_blocked": plan["robots_blocked"],
        "articles_scraped": catalog.snapshot_delta_rowcount(
            "articles", snaps["articles"]),
        "errors": catalog.snapshot_delta_rowcount(
            "quarantine", snaps["quarantine"]),
        "links_discovered": plan["links_discovered"],
        "links_enqueued": plan["links_enqueued"],
        "duplicates_skipped": plan["links_discovered"]
        - plan["links_enqueued"],
        "recrawl_enqueued": plan["recrawl_enqueued"],
        "pending_after": catalog.snapshot_rowcount("frontier",
                                                   snaps["frontier"]),
    }


def read_frontier_full(catalog: SnapshotCatalog,
                       pending_id: int | None = None,
                       archive_id: int | None = None) -> DataFrame:
    """Union of the live pending queue and the terminal-row archive —
    the round-1 single-table frontier view (tests/tools read this)."""
    return catalog.read("frontier", pending_id).unionByName(
        catalog.read("frontier_archive", archive_id))


@dataclass
class CrawlConfig:
    n_buckets: int = 64          # host buckets (partitioning + bloom layout)
    default_budget: int = W.DEFAULT_BUDGET
    order: str = "fifo"          # 'fifo' (reference parity) | 'priority' (W1)
    n_salts: int = 0             # >0 → salted two-stage politeness window
    use_bloom: bool = False      # bloom pre-filter before exact anti-join
    bloom_capacity: int = 100_000  # per-bucket sizing headroom for the
                                   # incremental filter merge (10^10
                                   # design point: ~2e7 per bucket)
    rediscover: bool = False     # False = reference two-phase routing
    max_retries: int = 3         # orchestrator.py:64
    max_depth: int | None = None
    max_rounds: int = 100
    # J4 physical strategy: broadcast the scheduled batch into the pages
    # join only while it is provably SMALL. Beyond the threshold the
    # hint is dropped and AQE picks the join from runtime stats (on a
    # real warehouse: sort-merge against the url_hash-bucketed pages
    # table, no pages shuffle). An unconditional broadcast of a
    # budget x hosts batch OOMs the driver at the 10^10 design point —
    # and measured on real (local-cluster) executors, even a 100k-row
    # forced broadcast is ~30% slower than letting AQE decide (the
    # driver eagerly collects+ships one exchange per phase branch), so
    # the default gate is deliberately modest.
    fetch_broadcast_rows: int = 100_000
    # every k rounds ONE GROUP of seen host buckets (bucket % groups ==
    # rotation) is compacted to its merged view via a shard-scoped
    # overwrite (Iceberg rewrite_data_files with a partition filter).
    # Rotating groups bounds log depth per bucket at groups*k rounds
    # while each compaction event costs O(seen/groups) — no full-table
    # stall, ever. seen_compact_groups=1 restores whole-table behavior.
    compact_seen_every: int = 16
    seen_compact_groups: int = 4
    # refresh crawls: re-enqueue URLs fetched exactly `recrawl_ttl`
    # rounds ago. Each round re-enqueues ONE cohort — the archive delta
    # of round r-ttl — so the cost is O(that round's fetches), never a
    # scan of the cumulative seen/archive state. Re-fetches append new
    # article versions; content_history classifies them
    # updated/duplicate against the latest stored hash.
    recrawl_ttl: int | None = None
    # debug/test hook: capture the formatted physical plan of each
    # round's fetch joins into engine.captured_plans[round] — used by
    # the bucketed-warehouse crawl test to assert the pages corpus is
    # never shuffled by the round loop. No effect on execution.
    capture_plans: bool = False

    def order_by(self) -> list:
        if self.order == "priority":
            return [F.col("priority").desc(), F.col("depth").asc(),
                    F.col("seq").asc()]
        return [F.col("seq").asc()]


@dataclass
class _RoundState:
    """What one round's phases hand each other. ``read state`` fills
    the inputs, ``plan`` the lazily-planned round-delta frames and the
    plan-time counts, the write phases ``snaps``, ``commit`` the
    metrics."""
    r: int
    bs: dict[str, int] | None = None   # base (last complete) round's ids
    frontier: DataFrame | None = None  # pending rows (+ recrawl cohort)
    seen: DataFrame | None = None      # seen event log
    max_seq: int = 0
    touched: set[int] = field(default_factory=set)  # host buckets rewritten
    counts: dict[str, int] = field(default_factory=dict)  # plan-time counts
    cached: list[DataFrame] = field(default_factory=list)
    snaps: dict[str, int] = field(default_factory=dict)
    # round-delta frames, set by the plan phase
    scheduled: DataFrame | None = None
    parse_fetched: DataFrame | None = None   # fetched PARSE-labeled rows
    articles: DataFrame | None = None
    weibo_posts: DataFrame | None = None
    pending_delta: DataFrame | None = None
    archive_delta: DataFrame | None = None
    seen_delta: DataFrame | None = None      # fetch + insert + fail events
    fresh: DataFrame | None = None           # fresh discoveries (inserts)
    child_buckets: set[int] = field(default_factory=set)  # of all children
    filters: DataFrame | None = None         # base seen_filters (bloom)
    metrics: dict | None = None

    def cache(self, df: DataFrame) -> DataFrame:
        """Cache a round-delta frame until the round commits."""
        df = df.cache()
        self.cached.append(df)
        return df


class CrawlEngine:
    def __init__(self, spark: SparkSession, pages: DataFrame,
                 host_policy: DataFrame, catalog: SnapshotCatalog,
                 config: CrawlConfig | None = None):
        self.spark = spark
        self.pages = pages
        self.host_policy = host_policy
        self.catalog = catalog
        self.cfg = config or CrawlConfig()
        self._budget_cap_memo: int | None = None
        # driver-side materializations (collect/count) in the last
        # run_round call — the job-barrier budget tests assert on this
        self.last_round_collects = 0
        self.captured_plans: dict[int, dict[str, str]] = {}

    def _budget_cap(self) -> int:
        """A literal upper bound on every host's politeness budget —
        unlocks the partial WindowGroupLimit in schedule_per_host.
        Computed once per engine lifetime (host_policy is static)."""
        if self._budget_cap_memo is None:
            row = self.host_policy.agg(
                F.max("max_per_round")).collect()[0][0]
            self._budget_cap_memo = max(int(row or 0),
                                        self.cfg.default_budget)
        return self._budget_cap_memo

    # -- bootstrap -----------------------------------------------------------
    def bootstrap(self, seeds: DataFrame) -> None:
        """seeds: (url, label, parser, priority, seq) in file order.
        Seeds enter the frontier at depth 0 and the seen set at enqueue
        time (crawlee uniqueKey semantics, J2). With ``use_bloom`` the
        seen filters are built here, once, from the seeds' seen events;
        rounds only extend them."""
        f = (
            L.with_url_identity(seeds, self.cfg.n_buckets)
            .withColumn("depth", F.lit(0))
            .withColumn("discovered_from", F.lit(None).cast("string"))
            .withColumn("round", F.lit(0))
            .withColumn("state", F.lit("pending"))
            .withColumn("retry_count", F.lit(0))
            .select(*FRONTIER_COLS)
        )
        f = D.first_wins(f, "url_hash", "seq").cache()
        # first-wins keeps the original file-order seq (not dense), so
        # max_seq is measured, once, and recorded in the frontier
        # snapshot's properties so rounds never rescan the frontier.
        # frontier/archive/seen are shard-tracked from birth: pending by
        # host_bucket (round commits rewrite only touched buckets),
        # archive by terminal state (per-state round stats come from
        # parquet footers, no job), seen by host_bucket (rotating
        # per-group compaction).
        max_seq = f.agg(F.max("seq")).collect()[0][0] or 0
        fs = self.catalog.write_snapshot(
            "frontier", f, {"round": -1, "max_seq": int(max_seq)},
            shard_col="host_bucket")
        f.unpersist()
        written = self.catalog.read("frontier")
        empty_archive = self.spark.createDataFrame([], written.schema)
        snaps = {"frontier": fs}
        snaps["frontier_archive"] = self.catalog.write_snapshot(
            "frontier_archive", empty_archive, {"round": -1},
            shard_col="state")
        # derive seen insert events from the *written* frontier snapshot —
        # the seeds decode/identity/dedup chain runs once, not once per
        # write
        seen = _seen_events(written, "pending", 0)
        snaps["seen"] = self.catalog.write_snapshot(
            "seen", seen, {"round": -1}, shard_col="host_bucket")
        if self.cfg.use_bloom:
            filters = D.build_bloom_filters(
                seen.select("host_bucket", "url_hash"),
                capacity=self.cfg.bloom_capacity)
            snaps["seen_filters"] = self.catalog.write_snapshot(
                "seen_filters", filters,
                {"round": -1, "for_seen_snapshot": snaps["seen"]},
                shard_col="host_bucket")
        self.catalog.commit_round(-1, snaps)

    # -- one round -------------------------------------------------------------
    def run_round(self, r: int) -> dict:
        """One scheduling round: five phases over one ``_RoundState``.
        Returns ``round_metrics`` of the committed round plus each
        phase's wall time (``_timings``; back to back, so they sum to
        the round's wall) and the driver barriers (``_collects``)."""
        self.last_round_collects = 0
        st = _RoundState(r)
        timings: dict[str, float] = {}
        t0 = time.time()
        for key, phase in (("t_read_state", self._read_state),
                           ("t_plan", self._plan),
                           ("t_write_articles", self._write_articles),
                           ("t_write_parallel", self._write_parallel),
                           ("t_metrics", self._commit)):
            phase(st)
            now = time.time()
            timings[key] = round(now - t0, 3)
            t0 = now
        return {**st.metrics, "_timings": timings,
                "_collects": self.last_round_collects}

    # -- phase: read state -----------------------------------------------------
    def _read_state(self, st: _RoundState) -> None:
        """E5: read EVERY state table at the last complete round's
        recorded snapshot ids — never the current pointers, which a torn
        (crashed mid-round) commit can leave mutually inconsistent.
        Replaying against the pinned ids also keeps appends from
        carrying the torn round's orphaned data dirs."""
        base = self.catalog.last_complete_round()
        if base is None:
            raise RuntimeError("run_round before bootstrap")
        bs = base["snapshots"]
        if self.cfg.use_bloom and "seen_filters" not in bs:
            raise RuntimeError(
                f"use_bloom: round {base['round']} committed no "
                "'seen_filters' snapshot; bootstrap the crawl with "
                "use_bloom=True so the seen filters are built")
        st.bs = bs
        st.frontier = self.catalog.read("frontier", bs["frontier"])
        st.seen = self.catalog.read("seen", bs["seen"])
        st.max_seq = int(self.catalog.snapshot_properties(
            "frontier", bs["frontier"])["max_seq"])

    # -- phase: plan -----------------------------------------------------------
    def _plan(self, st: _RoundState) -> None:
        """Schedule the batch, fetch it, plan parse and discovery, and
        derive every round-delta frame the write phases commit. Driver
        barriers: the recrawl cohort's count, the one planning collect
        and the sequencer's planning jobs."""
        self._add_recrawl_cohort(st)
        scheduled, blocked = self._schedule(st)
        has_discover = self._count_batch(st, scheduled, blocked)
        fetched, missing, parse_rows, discover_rows = self._fetch(
            st, scheduled)
        self._parse(st, parse_rows)
        self._discover(st, discover_rows, has_discover)
        self._transition(st, fetched, missing, blocked)

    def _add_recrawl_cohort(self, st: _RoundState) -> None:
        """Refresh cohort: the rows fetched exactly ttl rounds ago, read
        from THAT round's archive delta dir alone (one snapshot lookup —
        O(cohort), no cumulative scan). They re-enter pending with their
        ORIGINAL seq, so FIFO order re-crawls oldest-first."""
        st.counts["recrawl_enqueued"] = 0
        if self.cfg.recrawl_ttl is None:
            return
        due_round = st.r - self.cfg.recrawl_ttl
        due = self.catalog.round_entry(due_round) if due_round >= 0 else None
        if due is None:
            return
        cohort = st.cache(
            self.catalog.read_snapshot_delta(
                "frontier_archive", due["snapshots"]["frontier_archive"])
            .where(F.col("state") == "fetched")
            .withColumn("state", F.lit("pending"))
            .withColumn("retry_count", F.lit(0))
            .select(*FRONTIER_COLS))
        crow = cohort.agg(
            F.count("*").alias("n"),
            F.collect_set("host_bucket").alias("bk")).collect()[0]
        self.last_round_collects += 1
        st.counts["recrawl_enqueued"] = int(crow["n"])
        st.touched |= {int(b) for b in crow["bk"]}
        if crow["n"]:
            st.frontier = st.frontier.unionByName(cohort)

    def _schedule(self, st: _RoundState) -> tuple[DataFrame, DataFrame]:
        """Robots split, then the per-host politeness top-B."""
        cfg = self.cfg
        pending = st.frontier
        if cfg.max_depth is not None:
            pending = pending.where(F.col("depth") <= cfg.max_depth)
        allowed, blocked = W.apply_robots(pending, self.host_policy)
        scheduled = W.schedule_per_host(
            allowed, self.host_policy, cfg.order_by(),
            cfg.default_budget, cfg.n_salts,
            max_budget=self._budget_cap(),
        ).select(*FRONTIER_COLS)
        st.scheduled = st.cache(scheduled)
        return st.scheduled, st.cache(blocked)

    def _count_batch(self, st: _RoundState, scheduled: DataFrame,
                     blocked: DataFrame) -> bool:
        """THE round-planning job. One collect yields the broadcast-gate
        size, the per-phase row counts (so empty phases skip their whole
        plan), the robots-blocked count AND the touched host-bucket sets
        of both frames. Folding all of it into one job matters on real
        executors, where each driver job barrier costs ~0.3-1 s of RPC
        fixed cost on short rounds. Returns whether the batch holds
        discover-labeled rows."""
        plan_rows = (
            scheduled.select(
                F.when(_is_parse(), "parse").when(_is_discover(), "discover")
                .otherwise("none").alias("k"), "host_bucket")
            .unionByName(
                blocked.select(F.lit("blocked").alias("k"), "host_bucket"))
            .groupBy("k")
            .agg(F.count("*").alias("n"),
                 F.collect_set("host_bucket").alias("bk"))
            .collect()
        )
        self.last_round_collects += 1
        n = {row["k"]: row["n"] for row in plan_rows}
        for row in plan_rows:
            st.touched |= {int(b) for b in row["bk"]}
        st.counts["robots_blocked"] = n.pop("blocked", 0)
        st.counts["scheduled"] = sum(n.values())
        return n.get("discover", 0) > 0

    def _fetch(self, st: _RoundState,
               scheduled: DataFrame) -> tuple[DataFrame, ...]:
        """The J4 fetch joins. pages ⋈ scheduled is split per phase
        BEFORE the join so each branch streams html straight from the
        pages cache into its UDF. html is NEVER cached or shuffled —
        caching the joined rows would double-buffer the whole fetched
        payload (memory-eviction thrash that also destroys core
        scaling); only the narrow key set materializes. Misses
        (scheduled URLs absent from the corpus) come from a key-level
        anti-join."""
        bcast = (F.broadcast
                 if st.counts["scheduled"] <= self.cfg.fetch_broadcast_rows
                 else (lambda df: df))

        fetched = st.cache(self.pages.select("url").join(
            bcast(scheduled.select("url", "url_hash")), "url", "inner"
        ).select("url_hash"))
        missing = scheduled.select("url_hash").join(
            bcast(fetched), "url_hash", "left_anti")
        sched_parse = scheduled.where(_is_parse())
        st.parse_fetched = sched_parse.join(fetched, "url_hash")
        pages_html = self.pages.select("url", "html")
        parse_rows = pages_html.join(bcast(sched_parse), "url", "inner")
        discover_rows = pages_html.join(
            bcast(scheduled.where(_is_discover())), "url", "inner")
        if self.cfg.capture_plans:
            jvm = self.spark.sparkContext._jvm
            self.captured_plans[st.r] = {
                name: jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                for name, df in (("fetched", fetched),
                                 ("parse_rows", parse_rows))}
        return fetched, missing, parse_rows, discover_rows

    def _parse(self, st: _RoundState, parse_rows: DataFrame) -> None:
        """P3/P1: parser dispatch + parse. Reference routing parses only
        label='PARSE' rows (routes.py:61-100); label-null rows are
        fetched but neither discovered-from nor parsed (routes.py:33-39).

        The articles write is a single streaming pass: html from the
        pages cache -> fused parse UDF -> parquet. Never cache the
        parsed rows — materializing ~GBs of article content next to the
        pages cache causes storage eviction/spill that halves the parse
        stage's core scaling (measured: 2x slower at 8 cores). Rejected
        rows are derived AFTER the write from key arithmetic (fetched
        parse keys ANTI written article keys) — no second UDF pass, no
        cache; see the quarantine write.

        WeiboPost is a distinct schema in the reference (weibo.py:15-24
        incl. engagement metrics) persisted as its own table, but weibo
        html crosses the Arrow boundary ONCE: the full-struct fused UDF
        emits the article view AND the post fields together, html is
        dropped before the cache (the cached rows are ~KBs of text, not
        payloads), and both the articles union and the weibo_posts
        write read the cached result."""
        r = st.r
        parse_eff = parse_rows.withColumn(
            "parser", P.U.select_parser_id(F.col("url"), F.col("parser"))
        ).where(F.col("parser").isNotNull())
        weibo_full = st.cache(
            parse_eff.where(F.col("parser") == "weibo")
            .select("url", "url_hash", "parser",
                    P.parse_weibo_full_udf(F.col("html"),
                                           F.col("url")).alias("_a")))
        st.articles = HY.with_store_columns(
            P.parse_articles(parse_eff, analyze=True,
                             weibo_parsed=weibo_full), r
        ).withColumn("round", F.lit(r))
        st.weibo_posts = (
            weibo_full.where(F.col("_a.ok").isNotNull())
            .select(
                F.col("url"),
                F.col("_a.post_id").alias("id"),
                F.col("_a.author").alias("author"),
                F.col("_a.content").alias("content"),
                F.col("_a.likes").alias("likes"),
                F.col("_a.reposts").alias("reposts"),
                F.col("_a.comments").alias("comments"),
            ).withColumn("round", F.lit(r))
        )

    def _discover(self, st: _RoundState, discover_rows: DataFrame,
                  has_discover: bool) -> None:
        """E1: link expansion from discover rows → first-wins → dedup
        against seen (bloom + exact) → global seq. A batch with no
        discover-labeled rows (the common steady state of two-phase
        routing) skips the whole plan — several driver jobs of pure
        fixed cost on provably empty data."""
        cfg = self.cfg
        if not has_discover:
            st.fresh = self.spark.createDataFrame([], st.frontier.schema)
            st.counts["links_discovered"] = st.counts["links_enqueued"] = 0
            return
        children = L.expand_links(discover_rows, cfg.n_buckets,
                                  cfg.rediscover)
        children = D.first_wins(
            children.withColumn(
                "seq", F.col("parent_seq") * 1024 + F.col("pos")),
            "url_hash", "seq",
        )
        # the per-bucket blooms come from the base round's snapshot
        # (same round tag as the seen log they summarize — consistent
        # by construction); this round's inserts are OR-ed in by the
        # seen write (O(delta), not O(seen))
        if cfg.use_bloom:
            st.filters = self.catalog.read("seen_filters",
                                           st.bs["seen_filters"])
        # cached: the sequencer's planning passes (count / bound
        # sample / bucket counts) and the final consumers all read the
        # flag-dedup output — one evaluation of the anti-join chain.
        # Flag mode keeps EVERY child row (seen rows marked
        # _fresh=false) so the links-discovered count and the child
        # bucket set fall out of the sequencer's planning job.
        deduped = st.cache(
            D.dedup_against_seen(children, st.seen, st.filters,
                                 flag_col="_fresh").drop("seq"))
        fresh, plan_stats = assign_global_seq(
            deduped, ["parent_seq", "pos"], start=st.max_seq + 1,
            gate_col="_fresh", set_col="host_bucket",
        )
        # the sequencer's internal planning jobs (fused
        # count+sample+links-stats, per-bucket counts) ARE driver
        # barriers — count them so _collects is the round's true
        # job-barrier tally, not just the engine's own collects
        self.last_round_collects += 2 if plan_stats["n"] else 1
        st.counts["links_enqueued"] = plan_stats["n"]
        st.counts["links_discovered"] = plan_stats["n_all"]
        st.child_buckets = {int(b) for b in plan_stats["set"]}
        st.touched |= st.child_buckets
        # cached: consumed 2x (pending union + seen inserts)
        st.fresh = st.cache(fresh.select(
            "url", "url_hash", "host", "host_bucket", "depth",
            "priority", "parser", "label", "discovered_from", "seq",
            F.lit(st.r + 1).alias("round"), F.lit("pending").alias("state"),
            F.lit(0).alias("retry_count"),
        ))

    def _transition(self, st: _RoundState, fetched: DataFrame,
                    missing: DataFrame, blocked: DataFrame) -> None:
        """Frontier state transitions, computed over the TOUCHED buckets
        only: every row that can change state (scheduled, blocked,
        recrawl) is in a touched bucket by construction, and untouched
        buckets' pending rows are carried forward by reference in the
        shard-scoped commit — never rescanned, never rewritten. The
        host_bucket IN (...) predicate prunes the pending scan to the
        touched shards' files (each file holds one bucket).

        J3 as events: one fetch event per fetched URL (the MERGE
        update), one insert event per fresh child (the MERGE insert)
        and one fail event per retry-exhausted URL (url_tracker status
        'failed', cassandra_manager.py:151); the seen write adds one
        duplicate event per re-store whose content hash matched. O(round
        delta) rows — the full seen table is never rewritten."""
        r, cfg = st.r, self.cfg
        fr_touched = st.frontier.where(
            F.col("host_bucket").isin(sorted(st.touched)))
        transitions = (
            fetched.select("url_hash").withColumn("_new", F.lit("fetched"))
            .unionByName(missing.select("url_hash")
                         .withColumn("_new", F.lit("fetch_failed")))
            .unionByName(blocked.select("url_hash")
                         .withColumn("_new", F.lit("robots_blocked"))))
        trans = st.cache(
            fr_touched.join(transitions, "url_hash", "left")
            .withColumn(
                "retry_count",
                F.when(F.col("_new") == "fetch_failed",
                       F.col("retry_count") + 1).otherwise(F.col("retry_count")),
            )
            .withColumn(
                "state",
                F.when(F.col("_new").isNull(), F.col("state"))
                .when((F.col("_new") == "fetch_failed")
                      & (F.col("retry_count") < cfg.max_retries), "pending")
                .when(F.col("_new") == "fetch_failed", "failed")
                .otherwise(F.col("_new")),
            )
            .select(*FRONTIER_COLS, "_new"))
        st.pending_delta = trans.where(F.col("state") == "pending") \
                                .select(*FRONTIER_COLS) \
                                .unionByName(st.fresh)
        st.archive_delta = trans.where(F.col("state") != "pending") \
                                .select(*FRONTIER_COLS)
        st.seen_delta = (
            _seen_events(st.scheduled.join(fetched, "url_hash"),
                         "scraped", r)
            .unionByName(_seen_events(st.fresh, "pending", r + 1))
            .unionByName(_seen_events(
                trans.where(F.col("state") == "failed"), "failed", r)))

    # -- phase: write articles -------------------------------------------------
    def _write_articles(self, st: _RoundState) -> None:
        """The round's big UDF job, alone. Each write is one snapshot;
        the round tag makes the group atomic-at-resume (E5), and appends
        pin their base snapshot so a torn round's orphans are never
        carried forward."""
        st.snaps["articles"] = self._append(st, "articles", st.articles)

    def _append(self, st: _RoundState, table: str, df: DataFrame,
                **kwargs) -> int:
        return self.catalog.write_snapshot(
            table, df, {"round": st.r}, mode="append",
            base_snapshot_id=st.bs.get(table, -1), **kwargs)

    # -- phase: write parallel -------------------------------------------------
    def _write_parallel(self, st: _RoundState) -> None:
        """Every remaining write targets a DIFFERENT table over
        already-cached round-delta frames, so they submit concurrently
        from driver threads and Spark interleaves their (small) jobs
        across free cores — the serialized tail of per-table write
        barriers is what otherwise caps scaling efficiency on short
        rounds. Durability is unchanged: nothing is committed until the
        round commit lands AFTER every write has returned. Each task
        returns the snapshot ids it wrote."""
        with ThreadPoolExecutor(max_workers=6) as pool:
            futs = [pool.submit(task, st) for task in
                    (self._w_weibo, self._w_quarantine, self._w_frontier,
                     self._w_history_then_seen)]
            written = [f.result() for f in futs]  # raises the first failure
        for ids in written:
            st.snaps.update(ids)

    def _w_weibo(self, st: _RoundState) -> dict[str, int]:
        return {"weibo_posts": self._append(st, "weibo_posts",
                                            st.weibo_posts)}

    def _w_quarantine(self, st: _RoundState) -> dict[str, int]:
        """quarantine + 'errors' (cassandra_manager.py:298,314): fetched
        PARSE-labeled rows with a selected parser that produced no
        stored article. Pure key arithmetic over cached round-delta
        frames + the just-written articles delta (pruned to one
        column)."""
        art_keys = self.catalog.read_snapshot_delta(
            "articles", st.snaps["articles"]).select("url_hash")
        quarantine = (
            st.parse_fetched
            .withColumn("parser_used",
                        P.U.select_parser_id(F.col("url"), F.col("parser")))
            .where(F.col("parser_used").isNotNull())
            .select("url", "url_hash", "parser_used")
            .join(art_keys, "url_hash", "left_anti")
            .withColumn("fail_reason", F.lit("parse_failed"))
            .withColumn("round", F.lit(st.r))
        )
        return {"quarantine": self._append(st, "quarantine", quarantine)}

    def _w_frontier(self, st: _RoundState) -> dict[str, int]:
        """THE O(round delta) commit: only the touched buckets' pending
        rows are rewritten; every other bucket's data dir is carried by
        reference (Iceberg overwritePartitions). The snapshot's
        properties carry the next ``max_seq`` and the round's plan-time
        counts (``round_metrics`` reads them back). The archive append
        is sharded by terminal state so per-state round stats read from
        parquet footers."""
        touched = sorted(st.touched)
        fid = self.catalog.overwrite_shards(
            "frontier",
            st.pending_delta.where(F.col("host_bucket").isin(touched)),
            touched, "host_bucket",
            {"round": st.r,
             "max_seq": st.max_seq + st.counts["links_enqueued"],
             **st.counts},
            base_snapshot_id=st.bs["frontier"])
        return {"frontier": fid,
                "frontier_archive": self._append(
                    st, "frontier_archive", st.archive_delta,
                    shard_col="state")}

    def _w_history_then_seen(self, st: _RoundState) -> dict[str, int]:
        """seen's duplicate events derive from the history delta, so
        these two writes are sequenced on one thread; the other tables
        still overlap them.

        S8 content history: change detection against the latest prior
        version, computed from the just-written articles delta (three
        narrow columns) — never a re-parse."""
        hist_prior = (self.catalog.read("content_history",
                                        st.bs["content_history"])
                      if "content_history" in st.bs else None)
        hist_delta = HY.content_history_delta(
            self.catalog.read_snapshot_delta("articles", st.snaps["articles"])
            .select("url_hash", "id", "content_hash"),
            hist_prior, st.r)
        hid = self._append(st, "content_history", hist_delta)
        return {"content_history": hid, **self._w_seen(st, hid)}

    def _w_seen(self, st: _RoundState, history_id: int) -> dict[str, int]:
        """The seen event append, its rotating compaction, and the seen
        filters. Duplicate-tracking events (cassandra_manager.py:454-464)
        are this round's stored articles whose content hash matched the
        latest prior version, as detected by the history delta just
        written; url/host_bucket come from the cached scheduled batch —
        O(round delta) keys, no history rescan."""
        cfg, r = self.cfg, st.r
        dup_keys = (
            self.catalog.read_snapshot_delta("content_history", history_id)
            .where(F.col("change_type") == "duplicate")
            .select("url_hash"))
        sid = self._append(
            st, "seen", st.seen_delta.unionByName(_seen_events(
                st.scheduled.join(dup_keys, "url_hash"), "duplicate", r)),
            shard_col="host_bucket")
        if cfg.compact_seen_every and (r + 1) % cfg.compact_seen_every == 0:
            # rotating per-group compaction: merge ONE bucket group's
            # event dirs into its merged view and swap only those
            # shards — O(seen/groups) per event, never a full-table
            # stall. Merged rows are themselves valid events
            # (min/max/sum re-merge associatively), so a group's view
            # stays correct across future appends.
            groups = max(1, cfg.seen_compact_groups)
            g = ((r + 1) // cfg.compact_seen_every - 1) % groups
            group = [b for b in range(cfg.n_buckets) if b % groups == g]
            sid = self.catalog.overwrite_shards(
                "seen", merged_seen(self.catalog.read_shards("seen", group,
                                                             sid)),
                group, "host_bucket", {"round": r, "compacted_group": g},
                base_snapshot_id=sid)
        out = {"seen": sid}
        if cfg.use_bloom:
            out["seen_filters"] = self._w_seen_filters(st, sid)
        return out

    def _w_seen_filters(self, st: _RoundState, seen_id: int) -> int:
        """Incremental seen-filter maintenance, shard-scoped: only the
        buckets receiving inserts re-merge (cogrouped applyInPandas over
        O(delta) keys) and only their shards are rewritten. A round with
        no inserts re-commits the base id — it is still exact for the
        new seen log. Degraded buckets (n_bits=0 sentinel) are detected
        from the written delta's narrow health columns via a driver-side
        pyarrow read (no Spark job barrier) and rebuilt, right-sized,
        from the seen log."""
        cfg, r = self.cfg, st.r
        # no discover rows, or only already-seen children: no inserts
        if st.counts["links_enqueued"] == 0:
            return st.bs["seen_filters"]
        buckets = sorted(st.child_buckets)
        new_filters = D.merge_bloom_filters(
            st.filters.where(F.col("host_bucket").isin(buckets)),
            st.fresh.select("host_bucket", "url_hash"),
            capacity=cfg.bloom_capacity)
        fid = self.catalog.overwrite_shards(
            "seen_filters", new_filters, buckets, "host_bucket",
            {"round": r, "for_seen_snapshot": seen_id},
            base_snapshot_id=st.bs["seen_filters"])
        health = self.catalog.snapshot_delta_columns_local(
            "seen_filters", fid, ["host_bucket", "n_bits", "n_items"])
        degraded = [h for h in health if int(h["n_bits"]) == 0]
        if not degraded:
            return fid
        ids = sorted(int(h["host_bucket"]) for h in degraded)
        cap = max(cfg.bloom_capacity,
                  2 * max(int(h["n_items"]) for h in degraded))
        rebuilt = D.build_bloom_filters(
            self.catalog.read_shards("seen", ids, seen_id)
            .select("host_bucket", "url_hash").distinct(),
            capacity=cap)
        return self.catalog.overwrite_shards(
            "seen_filters", rebuilt, ids, "host_bucket",
            {"round": r, "for_seen_snapshot": seen_id,
             "rebuilt_buckets": ids},
            base_snapshot_id=fid)

    # -- phase: commit ---------------------------------------------------------
    def _commit(self, st: _RoundState) -> None:
        """The round becomes durable here (E5); its metrics are read
        back from what it committed, by the same function any later
        reader uses."""
        self.catalog.commit_round(st.r, st.snaps)
        for df in st.cached:
            df.unpersist()
        st.metrics = round_metrics(self.catalog,
                                   {"round": st.r, "snapshots": st.snaps})

    # -- loop -------------------------------------------------------------------
    def run(self, seeds: DataFrame | None = None,
            max_rounds: int | None = None) -> list[dict]:
        """E3: bootstrap (unless resuming) then rounds until the frontier
        drains. Resume = continue from the last complete round's
        snapshots — no recomputation, identical final state."""
        if seeds is not None:
            self.bootstrap(seeds)
        last = self.catalog.last_complete_round()
        start = (last["round"] + 1) if last else 0
        out = []
        limit = max_rounds if max_rounds is not None else self.cfg.max_rounds
        for r in range(start, start + limit):
            m = self.run_round(r)
            out.append(m)
            # refresh crawls (recrawl_ttl) idle between cohorts: future
            # cohorts can still come due, so only max_rounds bounds them
            if m["pending_after"] == 0 and self.cfg.recrawl_ttl is None:
                break
        return out
