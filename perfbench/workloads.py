"""The benchmark's workloads. Each is a closed loop of crawl rounds
with one client: the next round starts only after the previous round's
commit landed.

A workload function gets a :class:`Ctx` and returns a dict with the
timed rounds, the correctness result and — in the traced run — the
per-round layer numbers; set-up phases are timed into ``Ctx.setup``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from web_scrapers_python_spark.operators import dedup as D
from web_scrapers_python_spark.operators import history as HY
from web_scrapers_python_spark.operators import links as L
from web_scrapers_python_spark.operators import parse as P
from web_scrapers_python_spark.operators import politeness as W
from web_scrapers_python_spark.operators.sequence import assign_global_seq
from web_scrapers_python_spark.plans.engine import CrawlConfig, CrawlEngine
from web_scrapers_python_spark.sources.catalog import SnapshotCatalog
from web_scrapers_python_spark.sources.seeds import read_seeds

import inputs as I
import oracles as O
from spans import TracedCatalog, Tracer, spark_counts

ENGINE_PHASES = [("t_read_state", "engine.read_state_s"),
                 ("t_plan", "engine.plan_s"),
                 ("t_write_articles", "engine.write_articles_s"),
                 ("t_write_parallel", "engine.write_parallel_s"),
                 ("t_metrics", "engine.metrics_s")]


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    workdir: str
    tracer: Tracer
    traced: bool
    sampler: object = None      # RssSampler, frozen when timing ends
    setup: dict = field(default_factory=dict)
    setup_done: float = 0.0     # epoch seconds when timing began


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextmanager
def _phase(ctx: Ctx, name: str):
    """Time one set-up phase into ``ctx.setup``."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        ctx.setup[name] = ctx.setup.get(name, 0.0) + \
            time.perf_counter() - t0


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# -- crawl workloads ----------------------------------------------------------

@dataclass
class Crawl:
    engine: CrawlEngine
    catalog: SnapshotCatalog
    pages: object
    policy_rows: list
    policy: object
    cfg: CrawlConfig
    next_round: int = 0


def _make_crawl(ctx: Ctx, sizes: dict, cfg: CrawlConfig, seed_label: str,
                pick_seeds, budget: int | None, cold_hosts: int = 0):
    with _phase(ctx, "setup.corpus_s"):
        pages = I.pages(ctx.spark, ctx.seed, sizes["pages"], sizes["hosts"])
        rows = I.policy_rows(ctx.seed, sizes["hosts"], budget, cold_hosts)
        policy = I.policy_df(ctx.spark, rows)
    wh = os.path.join(ctx.workdir, "warehouse")
    catalog = (TracedCatalog(ctx.spark, wh, ctx.tracer) if ctx.traced
               else SnapshotCatalog(ctx.spark, wh))
    with _phase(ctx, "setup.seeds_s"):
        path = os.path.join(ctx.workdir, "seeds.txt")
        seeds = I.write_seed_file(path, pick_seeds(rows), seed_label)
        seeds_df = read_seeds(ctx.spark, path)
    engine = CrawlEngine(ctx.spark, pages, policy, catalog, cfg)
    with _phase(ctx, "setup.bootstrap_s"):
        engine.bootstrap(seeds_df)
    return Crawl(engine, catalog, pages, rows, policy, cfg), seeds


def _run_round(ctx: Ctx, crawl: Crawl) -> tuple[dict, float, dict | None]:
    r = crawl.next_round
    crawl.next_round += 1
    with ctx.tracer.span("engine.round", round=r) as sp:
        t0 = time.perf_counter()
        m = crawl.engine.run_round(r)
        wall = time.perf_counter() - t0
    if not ctx.traced:
        return m, wall, None
    # the engine's own phase timings become child spans of the round
    start = sp["start"]
    phases = []
    for key, name in ENGINE_PHASES:
        dur = m["_timings"].get(key, 0.0)
        phases.append(ctx.tracer.add_span(name, start, start + dur,
                                          sp["id"], round=r))
        start += dur
    # catalog spans opened during the round hang under the phase that
    # contains them
    for s in ctx.tracer.spans:
        if s["parent"] == sp["id"] and s["name"].startswith("catalog."):
            for ph in phases:
                if ph["start"] <= s["start"] < ph["end"]:
                    s["parent"] = ph["id"]
                    break
    return m, wall, sp


def _subtree(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s.get("parent"), []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def _round_layer_metrics(ctx: Ctx, crawl: Crawl, m: dict, sp: dict,
                         written_before: dict) -> dict:
    """engine.* and catalog.* numbers of one traced round."""
    tree = [sp] + _subtree(ctx.tracer.spans, sp["id"])
    jobs = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
    for s in tree:
        for k, v in spark_counts(s).items():
            jobs[k] += v
    out = {name: m["_timings"].get(key, 0.0) for key, name in ENGINE_PHASES}
    out["engine.driver_collects"] = m["_collects"]
    out["engine.spark_jobs"] = jobs["jobs"]
    out["engine.spark_tasks"] = jobs["tasks"]
    out["engine.failed_tasks"] = jobs["failed_tasks"]
    out["engine.phase_gap_ratio"] = abs(
        (sp["end"] - sp["start"]) - sum(m["_timings"].values())) / max(
        sp["end"] - sp["start"], 1e-9)
    for kind in ("read", "write", "commit"):
        out[f"catalog.{kind}_s"] = sum(
            s["end"] - s["start"] for s in tree
            if s["name"] == f"catalog.{kind}")
    cat = crawl.catalog
    out["catalog.rows_written"] = cat.written["rows"] - written_before["rows"]
    out["catalog.mb_written"] = (cat.written["bytes"]
                                 - written_before["bytes"]) / 2**20
    out["catalog.files_written"] = (cat.written["files"]
                                    - written_before["files"])
    last = cat.last_complete_round()["snapshots"]
    out["catalog.seen_rows"] = cat.snapshot_rowcount("seen", last["seen"])
    out["catalog.pending_rows"] = cat.snapshot_rowcount("frontier",
                                                        last["frontier"])
    return out


def _timed(ctx: Ctx, span_name: str, fn):
    """Run ``fn`` in a span; return (result, seconds, span)."""
    with ctx.tracer.span(span_name) as sp:
        t0 = time.perf_counter()
        res = fn()
        dt = time.perf_counter() - t0
    return res, dt, sp


def _replay_round(ctx: Ctx, crawl: Crawl, r: int) -> dict:
    """Re-drive each crawl operator's public function on round ``r``'s
    pinned input snapshots, each forced with a noop sink. Counts are
    taken outside the timed spans."""
    cat, cfg = crawl.catalog, crawl.cfg
    rounds = {e["round"]: e["snapshots"] for e in cat.rounds()}
    bs, cur = rounds[r - 1], rounds[r]
    out: dict[str, float] = {}

    pending = cat.read("frontier", bs["frontier"])
    if cfg.recrawl_ttl is not None and (r - cfg.recrawl_ttl) in rounds:
        cohort = (cat.read_snapshot_delta(
            "frontier_archive",
            rounds[r - cfg.recrawl_ttl]["frontier_archive"])
            .where(F.col("state") == "fetched")
            .withColumn("state", F.lit("pending"))
            .withColumn("retry_count", F.lit(0))
            .select(*pending.columns))
        pending = pending.unionByName(cohort)
    pending = pending.cache()
    cap = max([p["max_per_round"] for p in crawl.policy_rows]
              + [cfg.default_budget])

    def politeness():
        allowed, _ = W.apply_robots(pending, crawl.policy)
        sched = W.schedule_per_host(allowed, crawl.policy, cfg.order_by(),
                                    cfg.default_budget, cfg.n_salts,
                                    max_budget=cap).cache()
        noop(sched)
        return sched

    sched, out["politeness.busy_s"], _ = _timed(ctx, "politeness",
                                                politeness)
    per_host = [row["n"] for row in pending.groupBy("host")
                .agg(F.count("*").alias("n")).collect()]
    out["politeness.rows_in"] = sum(per_host)
    out["politeness.rows_out"] = sched.count()
    out["politeness.host_skew"] = (max(per_host) / _median(per_host)
                                   if per_host else 0.0)

    is_parse = F.col("label") == "PARSE"
    pages_html = crawl.pages.select("url", "html")
    discover_rows = pages_html.join(
        sched.where(F.col("label").isNotNull() & ~is_parse), "url")
    children, out["links.busy_s"], _ = _timed(
        ctx, "links", lambda: _forced(L.expand_links(
            discover_rows, cfg.n_buckets, cfg.rediscover)))
    out["links.parents_in"] = discover_rows.count()
    out["links.children_out"] = children.count()

    cand = D.first_wins(
        children.withColumn("seq", F.col("parent_seq") * 1024
                            + F.col("pos")), "url_hash", "seq") \
        .drop("seq").cache()
    seen = cat.read("seen", bs["seen"])
    filters = (cat.read("seen_filters", bs["seen_filters"])
               if "seen_filters" in bs else None)
    fresh, out["dedup.busy_s"], _ = _timed(
        ctx, "dedup", lambda: _forced(
            D.dedup_against_seen(cand, seen, filters)))
    n_cand, n_fresh = cand.count(), fresh.count()
    out["dedup.candidates_in"], out["dedup.fresh_out"] = n_cand, n_fresh
    out["dedup.bloom_fp_ratio"] = 0.0
    out["dedup.bloom_merge_s"] = 0.0
    if filters is not None and n_cand:
        # bloom positives: the filter's own membership test (the engine
        # module's split step), counted outside any timed span
        positives = D._bloom_maybe(cand, filters, "url_hash",
                                   "host_bucket").where("_maybe").count()
        if positives:
            out["dedup.bloom_fp_ratio"] = (positives - (n_cand - n_fresh)) \
                / positives
        buckets = [row["host_bucket"] for row in
                   fresh.select("host_bucket").distinct().collect()]
        _, out["dedup.bloom_merge_s"], _ = _timed(
            ctx, "dedup.bloom_merge", lambda: noop(D.merge_bloom_filters(
                filters.where(F.col("host_bucket").isin(buckets)),
                fresh.select("host_bucket", "url_hash"),
                capacity=cfg.bloom_capacity)))

    max_seq = cat.snapshot_properties("frontier", bs["frontier"]) \
        .get("max_seq", 0)

    def sequence():
        seqd = assign_global_seq(fresh, ["parent_seq", "pos"],
                                 start=max_seq + 1)
        noop(seqd)

    _, out["sequence.busy_s"], sp = _timed(ctx, "sequence", sequence)
    out["sequence.jobs"] = spark_counts(sp)["jobs"]

    parse_in = pages_html.join(sched.where(is_parse), "url") \
        .withColumn("parser", P.U.select_parser_id(F.col("url"),
                                                   F.col("parser"))) \
        .where(F.col("parser").isNotNull()).cache()
    n_parse_in = parse_in.count()
    arts, out["parse.busy_s"], _ = _timed(
        ctx, "parse", lambda: _forced(P.parse_articles(parse_in,
                                                       analyze=True)))
    n_arts = arts.count()
    out["parse.rows_in"] = n_parse_in
    out["parse.html_mb_in"] = (parse_in.agg(F.sum(F.length("html")))
                               .collect()[0][0] or 0) / 2**20
    out["parse.articles_out"] = n_arts
    out["parse.reject_ratio"] = (1 - n_arts / n_parse_in
                                 if n_parse_in else 0.0)

    stored = cat.read_snapshot_delta("articles", cur["articles"]) \
        .select("url_hash", "id", "content_hash")
    prior = (cat.read("content_history", bs["content_history"])
             if "content_history" in bs else None)
    hist, out["history.busy_s"], _ = _timed(
        ctx, "history", lambda: _forced(
            HY.content_history_delta(stored, prior, r)))
    n_hist = hist.count()
    out["history.rows_in"] = stored.count()
    out["history.duplicate_ratio"] = (
        hist.where(F.col("change_type") == "duplicate").count() / n_hist
        if n_hist else 0.0)
    for df in (pending, sched, cand, parse_in, children, fresh, arts, hist):
        df.unpersist()
    return out


def _forced(df):
    """Cache + noop-materialise ``df`` so the span times the work and
    later counts reuse it."""
    df = df.cache()
    noop(df)
    return df


def crawl_loop(ctx: Ctx, crawl: Crawl, warmup_rounds: int) -> dict:
    with _phase(ctx, "setup.warmup_s"):
        for _ in range(warmup_rounds):
            _run_round(ctx, crawl)
    ctx.setup_done = time.time()
    walls, items, per_round, rounds = [], 0, [], []
    loop_t0 = time.perf_counter()
    timed = 0.0
    while True:
        before = (dict(crawl.catalog.written) if ctx.traced else None)
        overhead0 = ctx.tracer.overhead_s
        m, wall, sp = _run_round(ctx, crawl)
        overhead = ctx.tracer.overhead_s - overhead0
        walls.append(wall)
        rounds.append(m["round"])
        print(f"[perfbench] round {m['round']}: {wall:.3f}s "
              f"scheduled={m['scheduled']} articles={m['articles_scraped']} "
              f"enqueued={m['links_enqueued']} phases={m['_timings']}",
              file=sys.stderr)
        timed += wall
        items += m["scheduled"] + m["articles_scraped"]
        if ctx.traced:
            lm = _round_layer_metrics(ctx, crawl, m, sp, before)
            lm["trace.overhead_s"] = overhead
            lm.update(_replay_round(ctx, crawl, m["round"]))
            per_round.append(lm)
        elapsed = timed if ctx.traced else time.perf_counter() - loop_t0
        if elapsed >= ctx.seconds:
            break
    wall = timed if ctx.traced else time.perf_counter() - loop_t0
    if ctx.sampler is not None:
        ctx.sampler.stop()      # memory of the crawl, not of the checks
    return {"walls": walls, "items": items, "wall": wall,
            "rounds": rounds, "per_round": per_round}


def refresh_parse(ctx: Ctx) -> dict:
    sz = I.SIZES["refresh_parse"]
    n = sz["pages"]
    cfg = CrawlConfig(recrawl_ttl=1, default_budget=n)
    crawl, _ = _make_crawl(
        ctx, sz, cfg, "PARSE",
        lambda rows: I.corpus_urls(ctx.seed, n, sz["hosts"]), budget=n)
    ctx.setup["setup.state_s"] = 0.0
    res = crawl_loop(ctx, crawl, warmup_rounds=1)
    policy = {r["host"]: r for r in crawl.policy_rows}
    res["check"] = O.check_refresh(ctx.spark, crawl.catalog, crawl.pages,
                                   policy, res["rounds"])
    if ctx.traced:
        cp = corpus_pass(ctx, crawl, res["rounds"][-1])
        res["corpus"] = cp["metrics"]
        res["check"] = tuple(a + b for a, b in zip(res["check"],
                                                   cp["check"]))
    return res


def deep_discover(ctx: Ctx) -> dict:
    sz = I.SIZES["deep_discover"]
    cfg = CrawlConfig(n_buckets=sz["buckets"], use_bloom=True, n_salts=4,
                      bloom_capacity=sz["bloom_capacity"],
                      rediscover=True)
    crawl, seeds = _make_crawl(
        ctx, sz, cfg, "a",
        lambda rows: I.one_url_per_host(ctx.seed, sz["pages"], sz["hosts"],
                                        sz["seeds"], rows),
        budget=None, cold_hosts=sz["cold_hosts"])
    seq_base = 1_000_000_000
    with _phase(ctx, "setup.state_s"):
        max_seq = I.age_state(ctx.spark, crawl.catalog, ctx.seed,
                              sz["buckets"], sz["cold_hosts"],
                              sz["aged_pending"], sz["aged_seen"], seq_base,
                              sz["bloom_capacity"])
    res = crawl_loop(ctx, crawl, warmup_rounds=0)
    policy = {r["host"]: r for r in crawl.policy_rows}
    res["check"] = O.check_discover(
        ctx.spark, crawl.catalog, crawl.pages, seeds, policy,
        n_rounds=crawl.next_round, seq_start=max_seq + 1,
        aged_pending=sz["aged_pending"],
        aged_hosts_like=[f"https://{I.COLD_HOST.format('%')}/%",
                         f"https://{I.SEEN_HOST}/%"])
    return res


# -- training-data layer (traced refresh_parse run only) ----------------------

CORPUS_OPS = [
    # (span / per-layer metric, __spark_entry__ query)
    ("textstats.busy_s", "text_quality"),
    ("textstats.busy_s", "text_langid"),
    ("docdedup.exact_s", "dedup_exact"),
    ("docdedup.minhash_s", "dedup_minhash_signatures"),
    ("docdedup.pairs_s", "dedup_minhash_pairs"),
    ("docdedup.simhash_s", "dedup_simhash"),
    ("docdedup.ngram_s", "dedup_ngram_jaccard"),
    ("similarity.brute_s", "ann_brute_topk"),
    ("similarity.lsh_s", "ann_lsh_topk"),
    ("similarity.ivf_s", "ann_ivf_topk"),
    ("multimodal.busy_s", "mm_media_features"),
]


def corpus_pass(ctx: Ctx, crawl: Crawl, last_round: int) -> dict:
    """One pass of the training-data operators over the crawl's output:
    documents are the last round's article texts (plus a planted
    near-duplicate share), embeddings are seeded planted clusters. Each
    operator is forced with a noop sink inside its own span; outputs
    are then checked against their DuckDB twins."""
    import __spark_entry__ as E
    from web_scrapers_python_spark.operators import docdedup as DD

    sz = I.SIZES["corpus"]
    snaps = {e["round"]: e["snapshots"] for e in crawl.catalog.rounds()}
    texts = [r["content"] for r in crawl.catalog.read_snapshot_delta(
        "articles", snaps[last_round]["articles"])
        .where(F.length("content") > 0).select("url", "content")
        .orderBy("url").limit(sz["docs"]).collect()]
    cdir = os.path.join(ctx.workdir, "corpus")
    I.documents(ctx.spark, ctx.seed, texts, sz["dup_share"],
                sz["max_words"]) \
        .write.parquet(os.path.join(cdir, "documents.parquet"))
    I.embeddings(ctx.spark, ctx.seed, sz["vectors"], sz["dim"],
                 sz["clusters"]) \
        .write.parquet(os.path.join(cdir, "embeddings.parquet"))

    qs = E.queries()
    out: dict[str, float] = {}
    results = {}
    for metric, name in CORPUS_OPS:
        df, dt, _ = _timed(ctx, metric.rsplit("_", 1)[0],
                           lambda: _forced(qs[name](ctx.spark, cdir)))
        out[metric] = out.get(metric, 0.0) + dt
        results[name] = df
    pairs = results["dedup_minhash_pairs"]
    clusters, out["docdedup.clusters_s"], _ = _timed(
        ctx, "docdedup.clusters", lambda: _forced(DD.dup_clusters(pairs)))
    out["docdedup.pairs_out"] = pairs.count()
    brute = results["ann_brute_topk"].select("query_id", "neighbor_id")
    n_brute = brute.count()
    for tag, name in (("lsh", "ann_lsh_topk"), ("ivf", "ann_ivf_topk")):
        hits = brute.join(results[name], ["query_id", "neighbor_id"],
                          "semi").count()
        out[f"similarity.{tag}_recall_at_5"] = hits / max(n_brute, 1)
    check = O.check_corpus(ctx.spark, cdir, results, clusters)
    for df in list(results.values()) + [clusters]:
        df.unpersist()
    return {"metrics": out, "check": check}
