"""Crawl ordering / seen-set equivalence vs the pure-Python reference
simulator (north rule: 'matching the reference's crawl ordering and
URL-seen set under the same seed list + politeness budget').

Also covers: resume-from-snapshot identity, bloom-vs-exact dedup
equivalence, salted-vs-plain politeness equivalence, robots blocking,
and retry semantics for missing pages.
"""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from web_scrapers_python_spark.oracle import frontier_sim as sim
from web_scrapers_python_spark.oracle import reference as ref
from web_scrapers_python_spark.plans.engine import (
    MAX_RETRIES, CrawlConfig, CrawlEngine, merged_seen, read_frontier_full,
    round_metrics)
from web_scrapers_python_spark.sources import datagen as G
from web_scrapers_python_spark.sources.catalog import SnapshotCatalog
from web_scrapers_python_spark.sources.seeds import read_seeds

N, H, SEED = 300, 16, 42
N_SEEDS = 10

POLICY_SCHEMA = ("host string, crawl_delay double, max_per_round int, "
                 "robots_disallow array<string>")


def _seed_dicts():
    return [{"url": G.url_of(SEED, i, H), "label": "a"} for i in range(N_SEEDS)]


def _pages_dict():
    return {G.url_of(SEED, i, H): G.html_of(SEED, i, N, H) for i in range(N)}


def _policy_dict():
    return {r["host"]: r for r in G.host_policy_rows(SEED, H)}


@pytest.fixture(scope="module")
def pages(spark):
    return G.generate_pages(spark, N, H, SEED).cache()


@pytest.fixture(scope="module")
def policy(spark):
    return spark.createDataFrame(G.host_policy_rows(SEED, H), POLICY_SCHEMA)


@pytest.fixture(scope="module")
def seeds_df(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("seeds") / "seeds.txt"
    p.write_text("\n".join(json.dumps(s) for s in _seed_dicts()) + "\n")
    return read_seeds(spark, str(p))


@pytest.fixture(scope="module")
def golden():
    return sim.simulate(_pages_dict(), _seed_dicts(), _policy_dict())


def _run_engine(spark, pages, policy, seeds_df, tmp, cfg=None):
    cat = SnapshotCatalog(spark, str(tmp))
    eng = CrawlEngine(spark, pages, policy, cat, cfg or CrawlConfig())
    metrics = eng.run(seeds_df, max_rounds=30)
    return cat, metrics


def _assert_matches_golden(cat, metrics, golden):
    # per-round scheduled URL sets (ordering within a round is parallel;
    # the cross-round order IS the crawl order)
    assert len(metrics) == len(golden.rounds)
    frontier = read_frontier_full(cat)
    by_round_state = frontier.select("url", "round", "state", "seq").collect()
    # final seen set identical
    seen = {r["url_hash"] for r in cat.read("seen").select("url_hash").collect()}
    assert seen == golden.seen
    # seq assignment identical url→seq (FIFO order parity, O1)
    got_seq = {r["url"]: r["seq"] for r in by_round_state}
    want_seq = {e.url: e.seq for e in golden.entries.values()}
    assert got_seq == want_seq
    # per-round metrics match the simulator's log
    for m, g in zip(metrics, golden.rounds):
        assert m["scheduled"] + m["robots_blocked"] >= m["scheduled"]
        assert m["links_enqueued"] == g["enqueued"], m
        assert m["articles_scraped"] == g["articles"], m
        assert m["errors"] == g["errors"], m
    # articles: same url set + byte-identical content
    arts = {r["url"]: r for r in cat.read("articles").collect()}
    sim_arts = {a["url"]: a for a in golden.articles}
    assert set(arts) == set(sim_arts)
    for u, a in arts.items():
        assert (a["content"] or None) == (sim_arts[u].get("content") or None), u


def test_engine_matches_simulator(spark, pages, policy, seeds_df, golden,
                                  tmp_path):
    cat, metrics = _run_engine(spark, pages, policy, seeds_df, tmp_path)
    _assert_matches_golden(cat, metrics, golden)


def test_weibo_posts_table_parity(spark, pages, policy, seeds_df, golden,
                                  tmp_path):
    """The engine persists WeiboPost rows (weibo.py:15-24) as their own
    table; every stored post must byte-match the transcribed reference
    parser on the same html, and every fetched weibo page with
    parseable content must be stored."""
    cat, _ = _run_engine(spark, pages, policy, seeds_df, tmp_path)
    posts = {r["url"]: r for r in cat.read("weibo_posts").collect()}
    pages_d = _pages_dict()
    from web_scrapers_python_spark.oracle import extract as ox
    expected = {}
    for a in golden.articles:     # golden = parsed (PARSE-labeled) fetches
        u = a["url"]
        if ref.select_parser_id(u) == "weibo":
            p = ox.parse_weibo(pages_d[u], u)
            if p is not None:
                expected[u] = p
    assert set(posts) == set(expected)
    for u, row in posts.items():
        want = expected[u]
        for f in ("id", "author", "content", "likes", "reposts", "comments"):
            assert row[f] == want[f], (u, f)


def test_scheduled_sets_per_round(spark, pages, policy, seeds_df, golden,
                                  tmp_path):
    """Round-r scheduled set == simulator round-r scheduled set (exact)."""
    cat, metrics = _run_engine(spark, pages, policy, seeds_df, tmp_path)
    # reconstruct engine per-round schedules from seen snapshots:
    # a url's last_round flips to r when it is fetched in round r
    for g in golden.rounds:
        r = g["round"]
        snap = merged_seen(cat.read("seen", snapshot_id=r + 1))  # snap 0 = bootstrap
        fetched_r = {
            row["url"] for row in snap.where(
                (F.col("last_round") == r) & (F.col("scrape_count") > 0)
            ).select("url").collect()
        }
        want = {u for u in g["scheduled"] if u in _pages_dict()}
        assert fetched_r == want, f"round {r}"


def test_bloom_dedup_equivalence(spark, pages, policy, seeds_df, golden,
                                 tmp_path):
    cfg = CrawlConfig(use_bloom=True)
    cat, metrics = _run_engine(spark, pages, policy, seeds_df, tmp_path, cfg)
    _assert_matches_golden(cat, metrics, golden)


def test_salted_politeness_equivalence(spark, pages, policy, seeds_df,
                                       golden, tmp_path):
    cfg = CrawlConfig(n_salts=4)
    cat, metrics = _run_engine(spark, pages, policy, seeds_df, tmp_path, cfg)
    _assert_matches_golden(cat, metrics, golden)


def test_unbroadcast_fetch_join_equivalence(spark, pages, policy, seeds_df,
                                            golden, tmp_path):
    """fetch_broadcast_rows=0 forces the no-hint (AQE-chosen) side of
    the J4 size gate — results must be identical to the broadcast
    path."""
    cfg = CrawlConfig(fetch_broadcast_rows=0)
    cat, metrics = _run_engine(spark, pages, policy, seeds_df, tmp_path, cfg)
    _assert_matches_golden(cat, metrics, golden)


def test_seen_compaction_equivalence(spark, pages, policy, seeds_df,
                                     golden, tmp_path):
    """Compacting the seen event log every round must not change any
    observable state (merge is idempotent over disjoint event sets) —
    and the bloom path must stay consistent across compactions."""
    cfg = CrawlConfig(use_bloom=True, compact_seen_every=1,
                      seen_compact_groups=1)
    cat, metrics = _run_engine(spark, pages, policy, seeds_df, tmp_path, cfg)
    _assert_matches_golden(cat, metrics, golden)
    # post-compaction the log IS the merged view: one row per url_hash
    seen = cat.read("seen")
    assert seen.count() == seen.select("url_hash").distinct().count()


def test_seen_rotating_compaction_equivalence(spark, pages, policy, seeds_df,
                                              golden, tmp_path):
    """Rotating per-group compaction (each event rewrites only one
    bucket group's shards — the amortized O(seen/groups) path) must
    leave every observable state identical to the uncompacted run, and
    the most recently compacted group's log must be fully merged."""
    cfg = CrawlConfig(use_bloom=True, compact_seen_every=1,
                      seen_compact_groups=4)
    cat, metrics = _run_engine(spark, pages, policy, seeds_df, tmp_path, cfg)
    _assert_matches_golden(cat, metrics, golden)
    groups = 4
    last_r = metrics[-1]["round"]
    g = ((last_r + 1) // 1 - 1) % groups
    seen_g = cat.read("seen").where(F.pmod(F.col("host_bucket"), F.lit(groups))
                                    == F.lit(g))
    assert seen_g.count() == seen_g.select("url_hash").distinct().count()


def _tear_round(cat, r, suffix=""):
    """Leave round ``r`` torn the way a crash inside it would: junk data
    dirs for ``articles`` and ``seen`` under the snapshot ids their next
    writes pick, but no snapshot metadata file and no ``commit_round``.
    ``suffix=""`` leaves them renamed into place (the crash came after
    the data dir's rename); ``".tmp"`` leaves them as the tmp dirs a
    write that dies mid-task leaves behind."""
    base = cat.last_complete_round()["snapshots"]
    for table in ("articles", "seen"):
        snap_id = cat.current_snapshot(table)["id"] + 1
        cat.read(table, base[table]).limit(3) \
            .withColumn("url", F.lit("https://torn.example.com/")) \
            .withColumn("url_hash", F.lit(f"torn-round-{r}")) \
            .write.parquet(os.path.join(cat.warehouse, table,
                                        f"snap-{snap_id}{suffix}"))


class _Crash(RuntimeError):
    pass


def _crash_commit(monkeypatch, cat, table):
    """The crashed round's ``table`` commit raises inside the parallel
    write pool (its data dir is already renamed into place); every
    write before it on its task, and the other tasks, still commit."""
    commit = cat._commit_snapshot

    def failing(name, *args, **kwargs):
        if name == table:
            raise _Crash(f"{table} commit")
        return commit(name, *args, **kwargs)

    monkeypatch.setattr(cat, "_commit_snapshot", failing)


def _crash_round_commit(monkeypatch, cat):
    """Every table snapshot of round 1 commits; ``commit_round`` never
    runs."""
    def failing(round_no, table_snapshots):
        raise _Crash(f"round {round_no} commit")

    monkeypatch.setattr(cat, "commit_round", failing)


def _snap_id(cat, table):
    """Current snapshot id of ``table``; -1 before its first write."""
    return (cat.current_snapshot(table) or {"id": -1})["id"]


# crash point → the table whose commit raises (None: no table fails)
_CRASH_TABLES = {"frontier_commit": "frontier",
                 "archive_commit": "frontier_archive",
                 "seen_filters_commit": "seen_filters",
                 "round_commit": None,
                 "round0_commit": None}


@pytest.mark.parametrize("crash", ["orphaned_dirs", "tmp_dirs",
                                   "frontier_commit", "archive_commit",
                                   "seen_filters_commit", "round_commit",
                                   "round0_commit"])
def test_resume_from_snapshot_identity(spark, pages, policy, seeds_df,
                                       golden, tmp_path, monkeypatch, crash):
    """Kill after round k-1, and again inside round k — with orphaned
    data dirs or half-written tmp data dirs and no round commit, with
    one table commit failing while the others land (``frontier``;
    ``frontier_archive`` after the ``frontier`` shard overwrite on the
    same task; ``seen_filters`` after ``seen``, bloom on), or with
    every table committed but no round commit; resume from the
    snapshot catalog → final state identical to the uninterrupted run
    (E5). The filters are only written in a round that discovers
    links — round 0 on this corpus — so ``seen_filters_commit``
    crashes inside round 0, the others inside round 1, except
    ``round0_commit``: the exact seen check (no bloom) with every
    round-0 table committed, so the replay must read ``seen`` at the
    pinned bootstrap snapshot — the current one already holds round
    0's children and would dedup them all."""
    cfg = CrawlConfig(use_bloom=crash == "seen_filters_commit")
    k = 0 if crash in ("seen_filters_commit", "round0_commit") else 1
    wh = tmp_path / "wh"
    cat = SnapshotCatalog(spark, str(wh))
    eng = CrawlEngine(spark, pages, policy, cat, cfg)
    eng.run(seeds_df, max_rounds=k)  # bootstrap + rounds < k, then 'crash'
    if crash == "orphaned_dirs":     # crash inside round k
        _tear_round(cat, k)
    elif crash == "tmp_dirs":
        _tear_round(cat, k, ".tmp")
    else:
        failed = _CRASH_TABLES[crash]
        tables = {"frontier", "seen", "articles"} | ({failed} - {None})
        with monkeypatch.context() as m:
            if failed is None:
                _crash_round_commit(m, cat)
            else:
                _crash_commit(m, cat, failed)
            before = {t: _snap_id(cat, t) for t in tables}
            with pytest.raises(_Crash):
                eng.run_round(k)
        after = {t: _snap_id(cat, t) for t in tables}
        # the crash landed mid-round: every table but the failed one
        # committed
        assert {t for t in tables if after[t] > before[t]} \
            == tables - {failed}
    assert cat.last_complete_round()["round"] == k - 1

    # new engine + new catalog object over the same warehouse = resume
    cat2 = SnapshotCatalog(spark, str(wh))
    eng2 = CrawlEngine(spark, pages, policy, cat2, cfg)
    metrics2 = eng2.run(seeds=None, max_rounds=30)

    # stitch: rounds < k from first run + rest from resume
    m0 = [r for r in cat2.rounds() if r["round"] == 0]
    assert m0, "round 0 must be committed"
    assert metrics2[0]["round"] == k
    combined = [{"round": r} for r in range(k)] + metrics2
    assert len(combined) == len(golden.rounds)
    _assert_state_equal(cat2, golden)
    # every committed round, replayed one included, did the simulator's
    # work for that round (a replay over the torn round's committed
    # tables would not)
    for entry, g in zip([e for e in cat2.rounds() if e["round"] >= 0],
                        golden.rounds):
        m = round_metrics(cat2, entry)
        assert (m["links_enqueued"], m["articles_scraped"], m["errors"]) \
            == (g["enqueued"], g["articles"], g["errors"]), m


def test_run_with_seeds_refuses_committed_warehouse(spark, pages, policy,
                                                    seeds_df, golden,
                                                    tmp_path):
    """Seeds for a warehouse that already committed a round raise
    instead of bootstrapping it again: the seed round
    (``_rounds/-1.json``) and every table's current snapshot stay as
    they were, and ``run(seeds=None)`` then resumes at round 1 to the
    uninterrupted run's final state."""
    wh = tmp_path / "wh"
    cat = SnapshotCatalog(spark, str(wh))
    CrawlEngine(spark, pages, policy, cat, CrawlConfig()).run(
        seeds_df, max_rounds=1)
    seed_round = (wh / "_rounds" / "-1.json").read_bytes()
    tables = cat.last_complete_round()["snapshots"]
    before = {t: _snap_id(cat, t) for t in tables}

    cat2 = SnapshotCatalog(spark, str(wh))
    eng2 = CrawlEngine(spark, pages, policy, cat2, CrawlConfig())
    with pytest.raises(ValueError, match="round 0"):
        eng2.run(seeds_df)
    assert (wh / "_rounds" / "-1.json").read_bytes() == seed_round
    fresh = SnapshotCatalog(spark, str(wh))
    assert {t: _snap_id(fresh, t) for t in tables} == before

    metrics = eng2.run(seeds=None, max_rounds=30)
    assert metrics[0]["round"] == 1
    assert len(metrics) + 1 == len(golden.rounds)
    _assert_state_equal(cat2, golden)


def test_seen_only_discoveries_keep_filters_id(spark, pages, policy,
                                               tmp_path):
    """A round whose discover rows yield only already-seen children
    inserts nothing into the seen filters, so it re-commits the base
    round's ``seen_filters`` id instead of rewriting shards. Seeding
    every URL the first seed page links to makes round 0 such a
    round."""
    from web_scrapers_python_spark.oracle import extract as ox
    seed = _seed_dicts()[0]
    children = ox.extract_links(_pages_dict()[seed["url"]], seed["label"])
    seeds = [seed] + [{"url": u, "label": "PARSE"} for u in children]
    p = tmp_path / "seeds.txt"
    p.write_text("\n".join(json.dumps(s) for s in seeds) + "\n")
    golden = sim.simulate(_pages_dict(), seeds, _policy_dict())
    assert golden.rounds[0]["enqueued"] == 0 and children
    cat, metrics = _run_engine(spark, pages, policy,
                               read_seeds(spark, str(p)), tmp_path / "wh",
                               CrawlConfig(use_bloom=True))
    _assert_matches_golden(cat, metrics, golden)
    assert metrics[0]["links_discovered"] > 0
    assert metrics[0]["links_enqueued"] == 0
    filters = {e["round"]: e["snapshots"]["seen_filters"]
               for e in cat.rounds()}
    assert filters[0] == filters[-1]


def test_priority_order_matches_simulator(spark, pages, policy, tmp_path):
    """W1: ``order="priority"`` spends each host's budget by (priority
    desc, depth, seq). Forty seeds of mixed priority outrun the per-host
    budgets, so the order decides what each round schedules (the FIFO
    simulation schedules other sets). The engine matches
    ``frontier_sim.simulate(order="priority")`` round by round:
    scheduled sets, seqs and the seen set."""
    seeds = [{"url": G.url_of(SEED, i, H), "label": "a",
              "priority": (i * 7) % 5} for i in range(40)]
    p = tmp_path / "seeds.txt"
    p.write_text("\n".join(json.dumps(s) for s in seeds) + "\n")
    pages_d = _pages_dict()
    golden = sim.simulate(pages_d, seeds, _policy_dict(), order="priority")
    fifo = sim.simulate(pages_d, seeds, _policy_dict())
    assert [set(g["scheduled"]) for g in golden.rounds] \
        != [set(g["scheduled"]) for g in fifo.rounds]
    cat, metrics = _run_engine(spark, pages, policy,
                               read_seeds(spark, str(p)), tmp_path / "wh",
                               CrawlConfig(order="priority"))
    _assert_matches_golden(cat, metrics, golden)
    entries = [e for e in cat.rounds() if e["round"] >= 0]
    for entry, g in zip(entries, golden.rounds):
        seen = merged_seen(cat.read("seen", entry["snapshots"]["seen"]))
        fetched_r = {row["url"] for row in seen.where(
            F.col("last_scrape_round") == g["round"]).select("url").collect()}
        assert fetched_r == {u for u in g["scheduled"] if u in pages_d}, \
            f"round {g['round']}"


def _assert_state_equal(cat, golden):
    seen = {r["url_hash"] for r in cat.read("seen").select("url_hash").collect()}
    assert seen == golden.seen
    arts = {r["url"] for r in cat.read("articles").select("url").collect()}
    assert arts == {a["url"] for a in golden.articles}
    got_seq = {r["url"]: r["seq"]
               for r in read_frontier_full(cat).select("url", "seq").collect()}
    assert got_seq == {e.url: e.seq for e in golden.entries.values()}


def test_robots_blocking(spark, pages, policy, seeds_df, tmp_path):
    """/private paths on robots-bearing hosts never get fetched."""
    cat, _ = _run_engine(spark, pages, policy, seeds_df, tmp_path)
    frontier = read_frontier_full(cat).collect()
    rules = _policy_dict()
    for r in frontier:
        dis = rules.get(r["host"], {}).get("robots_disallow", [])
        path = r["url"].split(r["host"], 1)[1]
        if any(path.startswith(p) for p in dis):
            assert r["state"] == "robots_blocked", r["url"]
        else:
            assert r["state"] != "robots_blocked", r["url"]


def test_missing_page_retry_then_fail(spark, policy, tmp_path):
    """URLs absent from the pages table retry MAX_RETRIES times then fail
    (orchestrator.py:375-405 semantics)."""
    seeds = spark.createDataFrame(
        [("https://host0.example.com/news/present-0", "a", None, 0, 0),
         ("https://host0.example.com/news/ghost", None, None, 0, 1)],
        "url string, label string, parser string, priority int, seq long",
    )
    pages = spark.createDataFrame(
        [("https://host0.example.com/news/present-0",
          b"<html><head><title>T</title></head><body></body></html>")],
        "url string, html binary",
    ).withColumn("warc_ts", F.current_timestamp()) \
     .withColumn("text", F.lit(None).cast("string")) \
     .withColumn("lang", F.lit("en"))
    cat = SnapshotCatalog(spark, str(tmp_path))
    eng = CrawlEngine(spark, pages, policy, cat, CrawlConfig())
    metrics = eng.run(seeds, max_rounds=10)
    ghost = [r for r in read_frontier_full(cat).collect()
             if "ghost" in r["url"]][0]
    assert ghost["state"] == "failed"
    assert ghost["retry_count"] == MAX_RETRIES == 3
    assert len(metrics) == 3  # three rounds of retries


def test_messy_url_canonical_keyspace(spark, policy, tmp_path):
    """A URL whose canonical form differs from its raw text (uppercase
    host, default port, utm param, unsorted params, trailing slash,
    fragment) must be stored as an article — not falsely quarantined by
    a raw-vs-canonical url_hash keyspace mix — and its recrawl
    duplicate event must land in the seen ladder (round-3 ADVICE)."""
    messy = ("https://HOST0.example.com:443/news/present-0/"
             "?utm_source=x&b=2&a=1#frag")
    html = (b"<html><head><title>Messy Title</title></head><body><article>"
            + b"<p>Stable body words for the parser to keep. </p>" * 20
            + b"</article></body></html>")
    seeds = spark.createDataFrame(
        [(messy, "PARSE", None, 0, 0)],
        "url string, label string, parser string, priority int, seq long")
    pages = (spark.createDataFrame([(messy, html)],
                                   "url string, html binary")
             .withColumn("warc_ts", F.current_timestamp())
             .withColumn("text", F.lit(None).cast("string"))
             .withColumn("lang", F.lit("en")))
    cat = SnapshotCatalog(spark, str(tmp_path))
    eng = CrawlEngine(spark, pages, policy, cat, CrawlConfig(recrawl_ttl=1))
    eng.run(seeds, max_rounds=2)

    can, raw = ref.canonical_url_hash(messy), ref.url_hash(messy)
    assert can != raw, "test URL must exercise the two keyspaces"
    arts = cat.read("articles").collect()
    assert {a["url"] for a in arts} == {messy}
    for a in arts:
        assert a["url_hash"] == can        # engine/scheduled keyspace
        assert a["store_url_hash"] == raw  # cassandra store parity
    # the parse succeeded and keys align → nothing in quarantine
    assert cat.read("quarantine").count() == 0
    # recrawl round re-fetched identical content → duplicate event joins
    # back to the scheduled batch on the canonical key
    seen = merged_seen(cat.read("seen")) \
        .where(F.col("url_hash") == can).collect()
    assert len(seen) == 1
    assert seen[0]["last_dup_round"] is not None


def test_bucketed_pages_full_crawl(spark, policy, seeds_df, golden,
                                   pages, tmp_path, monkeypatch):
    """The whole round loop over a url-bucketed pages warehouse table:
    results identical to the golden simulator AND the round's fetch
    joins never shuffle the corpus — the pages side of the sort-merge
    join reads bucketed (zero Exchange above its scan), only the small
    scheduled batch moves (the 10^10-scale plan)."""
    from web_scrapers_python_spark.sources.bucketed import (
        read_bucketed, write_bucketed)

    write_bucketed(pages, "t_pages_crawl_b", str(tmp_path / "pages_b"),
                   key="url", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge shape (the at-scale path the test is
        # about); broadcast correctness is covered by the other runs
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # required for the scan-side Sort elision (Spark >=3.0 ignores
        # bucketed sortBy metadata without it; write_bucketed
        # guarantees the 1-file-per-bucket precondition)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # record the formatted physical plan of each round's fetch
        # joins as _fetch returns them
        captured_plans = {}
        fetch = CrawlEngine._fetch

        def recording_fetch(self, st, scheduled):
            out = fetch(self, st, scheduled)
            fetched, _, parse_rows, _ = out
            jvm = spark.sparkContext._jvm
            captured_plans[st.r] = {
                name: jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                for name, df in (("fetched", fetched),
                                 ("parse_rows", parse_rows))}
            return out

        monkeypatch.setattr(CrawlEngine, "_fetch", recording_fetch)
        cfg = CrawlConfig(fetch_broadcast_rows=0)
        cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
        eng = CrawlEngine(spark, read_bucketed(spark, "t_pages_crawl_b"),
                          policy, cat, cfg)
        metrics = eng.run(seeds_df, max_rounds=30)
        _assert_matches_golden(cat, metrics, golden)

        assert captured_plans, "the plans of every round must be recorded"

        def depth(line: str) -> int:
            return max(line.find("+- "), line.find(":- "))

        def scan_paths_to_join(tree: str, marker: str):
            """For each bucketed-table scan, the operator chain up to
            the enclosing join node."""
            lines = [ln for ln in tree.splitlines() if ln.strip()]
            out = []
            for i, ln in enumerate(lines):
                if marker not in ln or "Scan parquet" not in ln:
                    continue
                cur, path, j = depth(ln), [], i - 1
                while j >= 0 and cur != 0:
                    dj = depth(lines[j])
                    if dj < cur:
                        path.append(lines[j])
                        cur = dj
                        if "Join" in lines[j]:
                            break
                    j -= 1
                out.append(path)
            return out

        checked = 0
        for r, plans in captured_plans.items():
            for name, plan in plans.items():
                tree = plan.split("== Physical Plan ==")[-1]
                tree = tree.split("\n\n")[0]   # tree section only
                for path in scan_paths_to_join(tree, "t_pages_crawl_b"):
                    assert path and "Join" in path[-1], (r, name, tree)
                    assert "SortMergeJoin" in path[-1], (r, name, path)
                    # the corpus side must reach the join with NO
                    # re-partitioning (and, being sorted at write
                    # time, no Sort either)
                    assert not any("Exchange" in ln for ln in path), \
                        (r, name, path)
                    assert not any(re.search(r"\bSort \(", ln)
                                   for ln in path[:-1]), (r, name, path)
                    checked += 1
        assert checked >= 2   # both joins, at least one round
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset(
            "spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.sql("DROP TABLE IF EXISTS t_pages_crawl_b")
