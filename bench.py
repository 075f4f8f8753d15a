#!/usr/bin/env python
"""Headline benchmark. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "crawl": {...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).

Two parts:
- the operator suite from __spark_entry__ over the driver testdata
  (each query forced end-to-end with a noop sink);
- the crawl engine itself (schedule+fetch+parse rounds over a
  synthetic pages corpus) reporting URLs scheduled+parsed per second —
  the BASELINE.json headline metric.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "f9_parser_selection", "j1_anti_join", "j2_first_wins",
    "w2_politeness_topk", "w3_latest_version", "a1_hourly_metrics",
    "e1_explode_tokens", "x6_date_parse", "x7_engagement_numbers",
    "x9_x16_content_analysis", "text_tokens", "text_quality",
    "text_langid", "dedup_exact", "dedup_minhash_signatures",
    "dedup_minhash_pairs", "dedup_simhash", "dedup_ngram_jaccard",
    "ann_brute_topk", "ann_lsh_topk", "ann_ivf_topk", "mm_media_features",
]

CRAWL_N, CRAWL_HOSTS, CRAWL_ROUNDS, CRAWL_SEEDS = 40000, 128, 3, 6144
CRAWL_BUDGET = 8192          # bench politeness budget (throughput headline)

PAGES_CACHE_DIR = os.environ.get("SPARK_GRAFT_PAGES_CACHE",
                                 "/tmp/spark_graft_bench_cache")


def cached_pages(spark, n: int, n_hosts: int, seed: int,
                 body_scale: int = 1):
    """Corpus generation is a pure function of (seed, n, n_hosts,
    body_scale) — cache the parquet across bench invocations so the
    driver's per-round run doesn't re-pay ~2 min of page synthesis.
    Falls back to direct generation if the cache dir is unwritable."""
    from web_scrapers_python_spark.sources import datagen as G
    # key includes a fingerprint of datagen's SOURCE so any generator
    # change invalidates the cache instead of silently reusing a stale
    # corpus across rounds (round-3 ADVICE)
    import hashlib
    import inspect
    gen_fp = hashlib.sha256(
        inspect.getsource(G).encode()).hexdigest()[:10]
    key = f"pages_s{seed}_n{n}_h{n_hosts}_b{body_scale}_g{gen_fp}"
    path = os.path.join(PAGES_CACHE_DIR, key)
    try:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            G.generate_pages(spark, n, n_hosts, seed,
                             body_scale=body_scale) \
                .write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    except Exception as ex:                      # pragma: no cover
        print(f"pages cache unavailable ({ex}); generating",
              file=sys.stderr)
        return G.generate_pages(spark, n, n_hosts, seed,
                                body_scale=body_scale)



def build_spark(cpus: int):
    from pyspark.sql import SparkSession
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("web_scrapers_python_spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM",
                                                      "8g"))
        .getOrCreate()
    )


def run_suite(spark, sf_dir: str, repeats: int = 3,
              section_budget: float | None = None
              ) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Each query runs ``repeats`` times (whole list per pass, so
    thermal/background drift spreads across queries, not repeats) and
    the MEDIAN is the reported number — this box has a documented ±30%
    run-to-run spread, so single-shot per-query times are unreadable
    for regression tracking. Returns (medians, all runs)."""
    import statistics

    import __spark_entry__ as E
    qs = E.queries()
    runs: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    sect0 = time.time()
    last_pass = None
    for i in range(repeats):
        if i > 0 and section_budget is not None \
                and (time.time() - sect0) + last_pass > section_budget:
            break
        p0 = time.time()
        for name in BENCH_QUERIES:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            runs[name].append(round(time.time() - t0, 3))
        last_pass = time.time() - p0
    medians = {name: round(statistics.median(v), 3)
               for name, v in runs.items()}
    return medians, runs


def run_ann_recall(spark, sf_dir: str, k: int = 5) -> dict:
    """recall@k of the approximate ANN paths (LSH, IVF) vs the exact
    brute-force verifier on the same query/corpus split the ann_*
    bench queries use — an ANN operator without a recall number isn't
    a capability. Expected at sf0.1: ~0.94 for LSH (20 planes, 5-bit
    bands, Hamming-2 query multi-probe) and ~0.88 for IVF (nlist=16,
    nprobe=10); the knob curve is reproducible offline via
    `python tools/ann_sweep.py` (same integer-exact hash family)."""
    import __spark_entry__ as E
    brute = E.queries()["ann_brute_topk"](spark, sf_dir) \
        .select("query_id", "neighbor_id")
    n_brute = brute.count()
    out = {"k": k, "exact_pairs": n_brute}
    for tag, qname in (("lsh", "ann_lsh_topk"), ("ivf", "ann_ivf_topk")):
        approx = E.queries()[qname](spark, sf_dir) \
            .select("query_id", "neighbor_id")
        n_hit = brute.join(approx, ["query_id", "neighbor_id"],
                           "semi").count()
        out[f"{tag}_hits"] = n_hit
        out[f"{tag}_recall_at_k"] = round(n_hit / max(n_brute, 1), 4)
    return out


def run_crawl(spark, n: int = CRAWL_N, n_hosts: int = CRAWL_HOSTS,
              rounds: int = CRAWL_ROUNDS, n_seeds: int = CRAWL_SEEDS,
              repeats: int = 3, section_budget: float | None = None) -> dict:
    from pyspark.sql import functions as F
    from web_scrapers_python_spark.plans.engine import CrawlConfig, CrawlEngine
    from web_scrapers_python_spark.sources import datagen as G
    from web_scrapers_python_spark.sources.catalog import SnapshotCatalog
    from web_scrapers_python_spark.sources.seeds import read_seeds

    seed = 42
    wh = tempfile.mkdtemp(prefix="crawl-bench-")
    sect0 = time.time()
    try:
        cpus = spark.sparkContext.defaultParallelism
        pages = cached_pages(spark, n, n_hosts, seed) \
            .repartition(cpus * 3).cache()
        pages.count()  # materialize outside the timed section
        # Bench politeness: generous per-host budget — the headline is
        # scheduling+parsing throughput, not policy starvation. (Policy
        # *enforcement* correctness is covered by the pytest suite.)
        rows = G.host_policy_rows(seed, n_hosts)
        for row in rows:
            row["max_per_round"] = CRAWL_BUDGET
        policy = spark.createDataFrame(
            rows,
            "host string, crawl_delay double, max_per_round int, "
            "robots_disallow array<string>")

        def mk_seeds(n_s: int, name: str):
            sd = os.path.join(wh, name)
            with open(sd, "w") as f:
                f.write(G.seeds_text(seed, n, n_hosts, n_s))
            return read_seeds(spark, sd)

        cfg = CrawlConfig(n_salts=4, use_bloom=False,
                          default_budget=CRAWL_BUDGET)

        # Warm-up: one small structurally-identical crawl so whole-stage
        # codegen + plan caches are hot (JVM warmup, not data reuse) —
        # over a corpus SLICE: warming is about codegen, not data volume.
        warm_pages = pages.limit(2000).cache()
        warm_pages.count()
        warm = CrawlEngine(spark, warm_pages, policy,
                           SnapshotCatalog(spark, os.path.join(wh, "warm")),
                           cfg)
        warm.run(mk_seeds(32, "warm_seeds.txt"), max_rounds=1)
        warm_pages.unpersist()

        seeds = mk_seeds(n_seeds, "seeds.txt")
        # median-of-N crawls (fresh warehouse each): the box's ±30%
        # wall-clock spread makes a single crawl unreadable
        runs = []
        for i in range(repeats):
            # budget-aware DEGRADATION starts only after 3 runs: the
            # crawl is the headline metric on a box with +-30-60%
            # spread, so a median needs >=3 samples (r03 shipped a
            # single-run headline — unreadable); beyond 3, never start
            # a repeat the section can't afford
            if len(runs) >= 3 and section_budget is not None \
                    and (time.time() - sect0) + runs[-1]["sec"] \
                    > section_budget:
                break
            cwh = os.path.join(wh, f"run{i}")
            eng = CrawlEngine(spark, pages, policy,
                              SnapshotCatalog(spark, cwh), cfg)
            t0 = time.time()
            metrics = eng.run(seeds, max_rounds=rounds)
            dt = time.time() - t0
            scheduled = sum(m["scheduled"] for m in metrics)
            parsed = sum(m["articles_scraped"] for m in metrics)
            runs.append({
                "rounds": len(metrics),
                "pages_corpus": n,
                "urls_scheduled": scheduled,
                "articles_parsed": parsed,
                "sec": round(dt, 3),
                "urls_per_sec": round((scheduled + parsed) / dt, 2),
            })
            shutil.rmtree(cwh, ignore_errors=True)
        med = sorted(runs, key=lambda x: x["sec"])[len(runs) // 2]
        med["runs_sec"] = [x["sec"] for x in runs]
        return med
    finally:
        shutil.rmtree(wh, ignore_errors=True)


PROBE_SEEN_SMALL = 300_000


def _interleaved_probe(mk_engine, n_small: int, n_big: int,
                       repeats: int = 3) -> dict:
    """Shared O(delta) probe protocol (round-4 VERDICT item 1): build
    BOTH engines (small and big synthetic state) up front, warm each
    through rounds 0-1 (round 0 pays the first incremental filter
    merge; round 1 settles JIT + AQE statistics — measured
    on this box, the first post-bloom round still runs ~1.6x its
    steady-state cost), then alternate timed steady-state rounds —
    s.r2, b.r2, s.r3, b.r3, ... — so box drift lands on both sides of
    every ratio pair. The reported ratio is the median of per-pair
    ratios; a single-shot ratio on this box is unreadable (±30-60%
    multi-core variance, round-3/4 standard). Both engines run the
    IDENTICAL organic workload at every round index (same seed corpus/
    seeds/policy), so each pair isolates the synthetic-state cost.

    mk_engine(n_extra) -> (engine, cleanup_fn): bootstrapped and
    state-injected, round 0 not yet run."""
    eng_s, clean_s = mk_engine(n_small)
    eng_b, clean_b = mk_engine(n_big)
    try:
        for w in (0, 1):
            eng_s.run_round(w)
            eng_b.run_round(w)
        t_s, t_b = [], []
        for r in range(2, repeats + 2):
            t0 = time.time()
            eng_s.run_round(r)
            t_s.append(round(time.time() - t0, 3))
            t0 = time.time()
            eng_b.run_round(r)
            t_b.append(round(time.time() - t0, 3))
        ratios = [round(b / s, 3) for s, b in zip(t_s, t_b)]
        return {
            "t_round_small_runs_sec": t_s,
            "t_round_big_runs_sec": t_b,
            "t_round_small_sec": round(statistics.median(t_s), 3),
            "t_round_big_sec": round(statistics.median(t_b), 3),
            "ratio_runs": ratios,
            "ratio_median": round(statistics.median(ratios), 3),
        }
    finally:
        clean_s()
        clean_b()


def _commit_aged_seen(cat, base: dict, seen_id: int, capacity: int,
                      **snaps) -> None:
    """Commit injected seen events as the bootstrap round, with the seen
    filters rebuilt over the aged log: the engine only ever extends the
    filters it finds, so they must cover every seen key."""
    from web_scrapers_python_spark.operators import dedup as D
    filters = D.build_bloom_filters(
        cat.read("seen", seen_id).select("host_bucket", "url_hash")
        .distinct(), capacity=capacity)
    fid = cat.write_snapshot("seen_filters", filters,
                             {"round": -1, "for_seen_snapshot": seen_id},
                             shard_col="host_bucket")
    cat.commit_round(-1, {**base, **snaps, "seen": seen_id,
                          "seen_filters": fid})


def run_state_probe(spark, repeats: int = 3) -> dict:
    """Round-cost-vs-crawl-age probe: the same round workload on a seen
    set of S vs 10S entries. With O(delta) state commits (seen event
    log + pending-only frontier) round wall time must stay ~flat —
    the driver's done-criterion is ratio <= 1.5. The synthetic seen
    entries are injected as bootstrap-time insert events (the one-off
    full bloom build over them is paid in set-up); steady-state
    rounds are measured interleaved small/big (median of >=3 pairs)."""
    from pyspark.sql import functions as F
    from web_scrapers_python_spark.plans.engine import CrawlConfig, CrawlEngine
    from web_scrapers_python_spark.sources import datagen as G
    from web_scrapers_python_spark.sources.catalog import SnapshotCatalog
    from web_scrapers_python_spark.sources.seeds import read_seeds

    seed, n, n_hosts = 42, 3000, 64
    pages = cached_pages(spark, n, n_hosts, seed).cache()
    pages.count()
    policy = spark.createDataFrame(
        G.host_policy_rows(seed, n_hosts),
        "host string, crawl_delay double, max_per_round int, "
        "robots_disallow array<string>")

    def mk(n_extra: int):
        wh = tempfile.mkdtemp(prefix="probe-")
        sd = os.path.join(wh, "seeds.txt")
        with open(sd, "w") as f:
            f.write(G.seeds_text(seed, n, n_hosts, 64))
        cat = SnapshotCatalog(spark, wh)
        eng = CrawlEngine(spark, pages, policy, cat,
                          CrawlConfig(use_bloom=True, default_budget=8))
        eng.bootstrap(read_seeds(spark, sd))
        # age the crawl: n_extra synthetic already-seen URLs
        synth = spark.range(n_extra).select(
            F.substring(F.sha2(F.concat(F.lit("synth-"),
                                        F.col("id").cast("string")),
                               256), 1, 16).alias("url_hash"),
            F.concat(F.lit("https://synth.example.com/"),
                     F.col("id").cast("string")).alias("url"),
            F.pmod(F.col("id"), F.lit(64)).cast("int")
            .alias("host_bucket"),
            F.lit(0).alias("first_round"), F.lit(0).alias("last_round"),
            F.lit(0).alias("scrape_count"),
            F.lit(None).cast("int").alias("last_scrape_round"),
            F.lit(None).cast("int").alias("last_dup_round"),
            F.lit(None).cast("int").alias("last_fail_round"),
            F.lit("pending").alias("status"))
        base = cat.last_complete_round()["snapshots"]
        ss = cat.write_snapshot("seen", synth, {"round": -1},
                                mode="append", shard_col="host_bucket")
        _commit_aged_seen(cat, base, ss, eng.cfg.bloom_capacity)
        return eng, lambda: shutil.rmtree(wh, ignore_errors=True)

    r = _interleaved_probe(mk, PROBE_SEEN_SMALL, PROBE_SEEN_SMALL * 10,
                           repeats=repeats)
    return {
        "seen_small": PROBE_SEEN_SMALL,
        "seen_big": PROBE_SEEN_SMALL * 10,
        **r,
        "round_cost_ratio_10x_seen": r["ratio_median"],
    }


PROBE_PENDING_SMALL = 150_000   # big = 10x; ratio evidence, sized to fit the bench budget
PROBE_COLD_HOSTS = 3000


def run_pending_probe(spark, repeats: int = 3) -> dict:
    """Round-cost-vs-BACKLOG probe: the same round workload against a
    pending frontier of P vs 10P rows. The backlog models the design
    point's budget-starved queue — rows whose hosts have no politeness
    budget this round — spread over the bucket space (n_buckets=1024 vs
    64 active hosts, so touched buckets hold ~6% of the backlog). With
    the shard-scoped frontier commit (only touched buckets rewritten)
    and the partial WindowGroupLimit in scheduling (per-host top-B
    prunes map-side), round wall time must stay ~flat: the target is
    ratio <= 1.2. Round 0 (first incremental-filter round) is the
    warm-up; steady-state rounds are measured interleaved small/big
    (median of >=3 pairs — round-4 VERDICT item 1)."""
    from pyspark.sql import functions as F
    from web_scrapers_python_spark.operators import links as L
    from web_scrapers_python_spark.plans.engine import (
        FRONTIER_COLS, CrawlConfig, CrawlEngine)
    from web_scrapers_python_spark.sources import datagen as G
    from web_scrapers_python_spark.sources.catalog import SnapshotCatalog
    from web_scrapers_python_spark.sources.seeds import read_seeds

    seed, n, n_hosts, n_buckets = 42, 3000, 64, 1024
    pages = cached_pages(spark, n, n_hosts, seed).cache()
    pages.count()
    policy_rows = G.host_policy_rows(seed, n_hosts)
    cold = [{"host": f"cold{j}.example.com", "crawl_delay": 86400.0,
             "max_per_round": 0, "robots_disallow": []}
            for j in range(PROBE_COLD_HOSTS)]
    policy = spark.createDataFrame(
        policy_rows + cold,
        "host string, crawl_delay double, max_per_round int, "
        "robots_disallow array<string>")

    def mk(n_extra: int):
        wh = tempfile.mkdtemp(prefix="pprobe-")
        sd = os.path.join(wh, "seeds.txt")
        with open(sd, "w") as f:
            f.write(G.seeds_text(seed, n, n_hosts, 64))
        cat = SnapshotCatalog(spark, wh)
        cfg = CrawlConfig(use_bloom=True, default_budget=8,
                          n_buckets=n_buckets)
        eng = CrawlEngine(spark, pages, policy, cat, cfg)
        eng.bootstrap(read_seeds(spark, sd))
        # inject the synthetic backlog as far-future-FIFO pending
        # rows on zero-budget hosts, plus their seen insert events
        # (the engine invariant: every pending row is seen)
        base = cat.last_complete_round()["snapshots"]
        synth = L.with_url_identity(
            spark.range(n_extra).select(
                F.concat(F.lit("https://cold"),
                         F.pmod(F.col("id"),
                                F.lit(PROBE_COLD_HOSTS)).cast("string"),
                         F.lit(".example.com/p/"),
                         F.col("id").cast("string")).alias("url"),
                F.lit("PARSE").alias("label"),
                F.lit(None).cast("string").alias("parser"),
                F.lit(0).alias("priority"),
                (F.lit(1_000_000_000) + F.col("id")).alias("seq"),
            ), n_buckets) \
            .withColumn("depth", F.lit(1)) \
            .withColumn("discovered_from", F.lit(None).cast("string")) \
            .withColumn("round", F.lit(0)) \
            .withColumn("state", F.lit("pending")) \
            .withColumn("retry_count", F.lit(0)) \
            .select(*FRONTIER_COLS)
        pend = cat.read("frontier", base["frontier"]) \
                  .unionByName(synth)
        fs = cat.write_snapshot(
            "frontier", pend,
            {"round": -1, "max_seq": 1_000_000_000 + n_extra},
            shard_col="host_bucket")
        seen_ev = synth.select(
            "url_hash", "url", "host_bucket",
            F.lit(0).alias("first_round"), F.lit(0).alias("last_round"),
            F.lit(0).alias("scrape_count"),
            F.lit(None).cast("int").alias("last_scrape_round"),
            F.lit(None).cast("int").alias("last_dup_round"),
            F.lit(None).cast("int").alias("last_fail_round"),
            F.lit("pending").alias("status"))
        ss = cat.write_snapshot("seen", seen_ev, {"round": -1},
                                mode="append", shard_col="host_bucket",
                                base_snapshot_id=base["seen"])
        _commit_aged_seen(cat, base, ss, cfg.bloom_capacity, frontier=fs)
        return eng, lambda: shutil.rmtree(wh, ignore_errors=True)

    r = _interleaved_probe(mk, PROBE_PENDING_SMALL,
                           PROBE_PENDING_SMALL * 10, repeats=repeats)
    return {
        "pending_small": PROBE_PENDING_SMALL,
        "pending_big": PROBE_PENDING_SMALL * 10,
        **r,
        "round_cost_ratio_10x_pending": r["ratio_median"],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Default parallelism: HALF the advertised cores. A PySpark UDF
    # pipeline runs one JVM task thread + one Python worker per Spark
    # core — local[cpu_count] schedules 2x cpu_count runnable processes
    # and oversubscribes SMT-logical cores. Measured on this box:
    # local[16] beats local[32] by 50-70% on the crawl benchmark.
    cpus = int(os.environ.get(
        "SPARK_GRAFT_CPUS", str(max(2, (os.cpu_count() or 32) // 2))))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    # Wall-clock budget: the driver runs this under a timeout; a bench
    # that prints its JSON line with fewer repeats ALWAYS beats one the
    # timeout kills. Sections degrade in priority order: crawl repeats
    # first, suite passes second, probes are skipped only as a last
    # resort (each reports what it actually ran).
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "600"))
    t_start = time.time()

    def left() -> float:
        return budget - (time.time() - t_start)

    spark = build_spark(cpus)
    secs: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        r = fn()
        secs[name] = round(time.time() - t0, 1)
        print(f"[bench] section {name}: {secs[name]}s "
              f"(budget left {round(left(), 1)}s)", file=sys.stderr)
        return r

    try:
        # Order = evidence priority: crawl headline (>=3 repeats, the
        # r04 hard ask; 0.45x budget), then the query suite (>=1 pass;
        # its pass count is the elastic buffer), then ANN recall (r04
        # criterion), then the two O(delta) state probes — established
        # in r03, re-verified whenever budget remains.
        crawl = timed("crawl", lambda: run_crawl(
            spark, repeats=max(repeats, 3),
            section_budget=0.45 * budget))
        times, runs = timed("suite", lambda: run_suite(
            spark, sf_dir, repeats=repeats,
            section_budget=max(min(left() - 330, 0.3 * budget), 60)))
        recall = timed("recall", lambda: run_ann_recall(spark, sf_dir))
        probe = pprobe = None
        if os.environ.get("SPARK_GRAFT_PROBE", "1") != "0":
            # pending first: it is the round-4 at-risk metric, and the
            # interleaved-median protocol costs ~160 s (state ~120 s) —
            # the suite reserve above is sized so both normally fit
            if left() > 170:
                pprobe = timed("pending_probe",
                               lambda: run_pending_probe(spark))
            else:
                pprobe = {"skipped": "bench budget exhausted"}
            if left() > 120:
                probe = timed("state_probe",
                              lambda: run_state_probe(spark))
            else:
                probe = {"skipped": "bench budget exhausted"}
        total = round(sum(times.values()) + crawl["sec"], 3)
        out = {
            "metric": "suite+crawl wall sec (headline: crawl urls/sec; "
                      "per-query = median of %d)" % repeats,
            "value": total,
            "unit": "sec",
            "queries": times,
            "query_runs": runs,
            "ann_recall": recall,
            "sf": sf,
            "cpus": cpus,
            "crawl": crawl,
            "section_sec": secs,
        }
        if probe is not None:
            out["state_probe"] = probe
        if pprobe is not None:
            out["pending_probe"] = pprobe
        # surface the north rule's two-parallelism-level criterion in
        # both channels: the latest recorded tools/scaling_bench.py
        # measurement (not re-run here — it is a ~2 h protocol; the
        # JSON artifact carries the full detail)
        def _latest_artifact(pattern: str) -> list[str]:
            """Newest-round artifact last. Primary key: the _rNN round
            number parsed from the name (numeric, so r9 < r10 — the
            round-4 ADVICE drift case); tiebreak: mtime. mtime alone is
            NOT enough: a fresh `git checkout` stamps every artifact
            with the same mtime, and the tie then falls back to
            arbitrary glob order (observed picking _r04 over _r05)."""
            import glob

            def key(p):
                # optional suffix (_r05b, _r05_hostnoise = a same-round
                # re-run; the earlier file stays on disk for
                # transparency) — same round number, mtime breaks the
                # tie newest-last, then the name (a suffixed re-run
                # sorts after its base file)
                m = re.search(r"_r(\d+)[a-z_]*\.json$", p)
                return (int(m.group(1)) if m else -1, os.path.getmtime(p),
                        p)

            return sorted(glob.glob(os.path.join(
                os.path.dirname(os.path.abspath(__file__)), pattern)),
                key=key)

        scaling_1v4 = None
        try:
            cands = _latest_artifact("BENCH_SCALING_1v4*.json")
            if cands:
                with open(cands[-1]) as f:
                    sj = json.load(f)
                s = sj["scaling"]
                # gate on the paired repeat-median when the artifact
                # recorded one over >= 3 repeats, exactly as
                # tools/scaling_bench.py does: derive it here from the
                # raw estimator values so artifacts written before the
                # pass_estimator change gate the same way as new ones.
                med = s.get("efficiency_repeat_median")
                if len(s.get("efficiency_per_repeat") or []) < 3:
                    med = None
                gate = s["efficiency"] if med is None else med
                # gate_valid: a session whose same-session pure-CPU
                # control fell below the target cannot gate the engine
                # (recorded by scaling_bench.py --control-gate;
                # absent = the session was not control-invalidated)
                gate_valid = bool(sj.get("gate_valid", True))
                scaling_1v4 = {
                    "efficiency_median": s["efficiency"],
                    "per_repeat": s.get("efficiency_per_repeat"),
                    "repeat_median": med,
                    "target": s["target"],
                    "pass": gate >= s["target"] and gate_valid,
                    "pass_estimator": ("efficiency" if med is None
                                       else "efficiency_repeat_median"),
                    "gate_valid": gate_valid,
                    "source": os.path.basename(cands[-1]),
                }
                out["scaling_1v4"] = scaling_1v4
        except Exception as ex:                    # pragma: no cover
            print(f"[bench] scaling summary unavailable: {ex}",
                  file=sys.stderr)
        # supporting evidence: the latest REAL-executor-topology
        # (local-cluster) measurement, with the per-barrier accounting
        # (driver barriers/round x measured empty-job RPC cost)
        scaling_exec = None
        try:
            cands = _latest_artifact("BENCH_SCALING_EXEC*.json")
            if cands:
                with open(cands[-1]) as f:
                    d = json.load(f)
                s = d["scaling"]
                hi = d["levels"][str(s["four_n_cores"])]
                scaling_exec = {
                    "efficiency_median": s["efficiency"],
                    "per_repeat": s.get("efficiency_per_repeat"),
                    "barrier_rpc_sec": hi.get("barrier_rpc_sec"),
                    "driver_barrier_sec_est":
                        hi.get("driver_barrier_sec_est"),
                    "source": os.path.basename(cands[-1]),
                }
                out["scaling_exec"] = scaling_exec
        except Exception as ex:                    # pragma: no cover
            print(f"[bench] exec scaling summary unavailable: {ex}",
                  file=sys.stderr)
        # full detail goes to a FILE; stdout gets a COMPACT final line.
        # The driver tail-captures stdout, and r03's line outgrew the
        # capture window ("parsed": null) — keep the machine-readable
        # channel small and stable.
        detail_path = os.environ.get(
            "SPARK_GRAFT_BENCH_DETAIL",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LOCAL_latest.json"))
        try:
            with open(detail_path, "w") as f:
                json.dump(out, f, indent=1)
            print(f"[bench] full detail -> {detail_path}", file=sys.stderr)
        except OSError as ex:                      # pragma: no cover
            print(f"[bench] detail write failed: {ex}", file=sys.stderr)
        compact = {
            "metric": out["metric"],
            "value": total,
            "unit": "sec",
            "queries": times,
            "sf": sf,
            "cpus": cpus,
            "crawl": {k: crawl.get(k) for k in
                      ("sec", "urls_per_sec", "runs_sec", "rounds",
                       "urls_scheduled", "articles_parsed", "pages_corpus")},
            "ann_recall": recall,
        }
        for tag, p in (("state_probe", probe), ("pending_probe", pprobe)):
            if isinstance(p, dict):
                compact[tag] = {k: v for k, v in p.items()
                                if "ratio" in k or "skipped" in k}
        if scaling_1v4 is not None:
            compact["scaling_1v4"] = scaling_1v4
        if scaling_exec is not None:
            compact["scaling_exec"] = scaling_exec
        print(json.dumps(compact))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
