"""Shard-tracked snapshots + O(round delta) frontier commits.

Covers the round-3 scale fixes: partition-scoped overwrites
(``overwrite_shards``, the Iceberg ``overwritePartitions`` analog),
path-level shard pruning, per-shard compaction, the proof that a crawl
round carries untouched pending buckets by reference (zero I/O), and
the driver job-barrier budget per steady-state round.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from web_scrapers_python_spark.plans.engine import (
    CrawlConfig, CrawlEngine, round_metrics)
from web_scrapers_python_spark.sources import datagen as G
from web_scrapers_python_spark.sources.catalog import SnapshotCatalog
from web_scrapers_python_spark.sources.seeds import read_seeds

POLICY_SCHEMA = ("host string, crawl_delay double, max_per_round int, "
                 "robots_disallow array<string>")


class TestShardCatalog:
    def test_shard_overwrite_and_time_travel(self, spark, tmp_path):
        cat = SnapshotCatalog(spark, str(tmp_path))
        df = spark.range(100).select(
            "id", (F.col("id") % 4).cast("int").alias("b"))
        s0 = cat.write_snapshot("t", df, {"round": 0}, shard_col="b")
        assert cat.read("t").count() == 100
        assert cat.read("t").columns == ["id", "b"]  # _pb never surfaces

        delta = spark.createDataFrame([(1000, 1), (1001, 1)],
                                      "id long, b int")
        s1 = cat.overwrite_shards("t", delta, [1], "b", {"round": 1},
                                  base_snapshot_id=s0)
        t1 = cat.read("t")
        assert t1.count() == 77 and t1.where("b=1").count() == 2
        assert cat.read("t", s0).count() == 100   # time travel intact
        # untouched shards are carried BY REFERENCE (same dirs)
        p0 = set(cat.shard_paths("t", [0, 2, 3], s0))
        p1 = set(cat.shard_paths("t", [0, 2, 3], s1))
        assert p0 == p1

    def test_delta_reads_and_footer_counts(self, spark, tmp_path):
        cat = SnapshotCatalog(spark, str(tmp_path))
        df = spark.range(50).select(
            "id", (F.col("id") % 3).cast("int").alias("b"))
        s0 = cat.write_snapshot("t", df, shard_col="b")
        ap = spark.createDataFrame([(7, 0), (8, 2)], "id long, b int")
        s1 = cat.write_snapshot("t", ap, mode="append",
                                base_snapshot_id=s0, shard_col="b")
        assert cat.read_snapshot_delta("t", s1).count() == 2
        assert cat.snapshot_delta_rowcount("t", s1) == 2
        assert cat.snapshot_delta_rowcount("t", s1, shards=[0]) == 1
        assert cat.snapshot_delta_rowcount("t", s1, shards=[2]) == 1
        assert cat.snapshot_rowcount("t", s1) == 52
        rows = cat.snapshot_delta_columns_local("t", s1, ["id", "b"])
        assert sorted((r["id"], r["b"]) for r in rows) == [(7, 0), (8, 2)]

    def test_shard_pruned_reads(self, spark, tmp_path):
        cat = SnapshotCatalog(spark, str(tmp_path))
        df = spark.range(60).select(
            "id", (F.col("id") % 3).cast("int").alias("b"))
        cat.write_snapshot("t", df, shard_col="b")
        rs = cat.read_shards("t", [1])
        assert rs.count() == 20
        assert rs.select("b").distinct().collect()[0][0] == 1
        # pruning is at the PATH level, not a filter over a full scan
        assert len(cat.shard_paths("t", [1])) == 1
        # shards absent from every dir: empty frame, same schema
        assert cat.read_shards("t", [99]).count() == 0
        assert cat.read_shards("t", [99]).columns == ["id", "b"]

    def test_per_shard_compaction(self, spark, tmp_path):
        cat = SnapshotCatalog(spark, str(tmp_path))
        df = spark.range(30).select(
            "id", (F.col("id") % 2).cast("int").alias("b"))
        s = cat.write_snapshot("t", df, shard_col="b")
        for i in range(3):
            ap = spark.createDataFrame([(100 + i, 0)], "id long, b int")
            s = cat.write_snapshot("t", ap, mode="append",
                                   base_snapshot_id=s, shard_col="b")
        assert len([p for p in cat.shard_paths("t", [0]) if "_pb=0" in p]) == 4
        cat.compact("t", shards=[0])
        assert len([p for p in cat.shard_paths("t", [0]) if "_pb=0" in p]) == 1
        t = cat.read("t")
        assert t.count() == 33 and t.where("b=0").count() == 18
        assert t.where("b=1").count() == 15   # untouched shard intact

    def test_empty_shard_overwrite_stays_readable(self, spark, tmp_path):
        """An empty sharded write (a fresh table's first write, an
        append, a shard overwrite) adds no path to its snapshot, and
        every read of it still has the table's columns and types."""
        cat = SnapshotCatalog(spark, str(tmp_path))
        df = spark.range(10).select(
            "id", (F.col("id") % 2).cast("int").alias("b"))
        empty = spark.createDataFrame([], "id long, b int")
        cat.write_snapshot("full", df, shard_col="b")
        schema = cat.read("full").schema
        for table in ("append", "overwrite"):
            cat.write_snapshot(table, df, shard_col="b")
        writes = {
            "first_write": lambda: cat.write_snapshot(
                "first_write", empty, shard_col="b"),
            "append": lambda: cat.write_snapshot(
                "append", empty, mode="append", shard_col="b"),
            "overwrite": lambda: cat.overwrite_shards(
                "overwrite", empty, [0, 1], "b"),
        }
        for table, write in writes.items():
            before = (cat.current_snapshot(table) or {"paths": []})["paths"]
            sid = write()
            assert set(cat._paths_of(table, sid)) <= set(before), table
            delta = cat.read_snapshot_delta(table, sid)
            assert delta.columns == ["id", "b"] and delta.count() == 0
            assert cat.snapshot_delta_rowcount(table, sid) == 0
            assert cat.read(table).schema == schema, table
        assert cat.read("first_write").count() == 0
        assert cat.read("append").count() == 10
        assert cat.read("overwrite").count() == 0

    def test_reads_launch_no_spark_job(self, spark, tmp_path):
        """Reads hand Spark the snapshot's stored schema, so building
        the frame infers nothing and runs no job — current, time travel,
        delta and shard-pruned reads of a multi-leaf table alike, shard
        values no dir holds included."""
        cat = SnapshotCatalog(spark, str(tmp_path))
        df = spark.range(40).select(
            "id", (F.col("id") % 8).cast("int").alias("b"))
        s0 = cat.write_snapshot("t", df, shard_col="b")
        ap = spark.createDataFrame([(100, 1), (101, 2)], "id long, b int")
        s1 = cat.write_snapshot("t", ap, mode="append",
                                base_snapshot_id=s0, shard_col="b")
        assert len(cat._paths_of("t", s1)) == 10
        reads = {
            "read": lambda: cat.read("t"),
            "time_travel": lambda: cat.read("t", s0),
            "delta": lambda: cat.read_snapshot_delta("t", s1),
            "shards": lambda: cat.read_shards("t", [1, 2, 99], s1),
            "absent_shards": lambda: cat.read_shards("t", [98, 99]),
        }
        sc = spark.sparkContext
        jobs = {}
        try:
            for name, read in reads.items():
                sc.setJobGroup(f"catalog-read-{name}", name)
                assert read().columns == ["id", "b"]
                jobs[name] = len(sc.statusTracker().getJobIdsForGroup(
                    f"catalog-read-{name}"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert jobs == dict.fromkeys(reads, 0)
        assert cat.read_shards("t", [1, 2, 99], s1).count() == 12

    def test_mixed_lineage_guard(self, spark, tmp_path):
        cat = SnapshotCatalog(spark, str(tmp_path))
        df = spark.range(10).select(
            "id", (F.col("id") % 2).cast("int").alias("b"))
        cat.write_snapshot("t", df)   # unsharded, non-empty
        delta = spark.createDataFrame([(99, 1)], "id long, b int")
        with pytest.raises(ValueError, match="unsharded"):
            cat.overwrite_shards("t", delta, [1], "b")

    def test_orphaned_snapshot_dir_does_not_wedge_writes(self, spark,
                                                         tmp_path):
        """A crash after a data dir is renamed to ``snap-<n>`` but before
        the snapshot log is appended leaves an orphaned, non-empty dir
        under the id the next write picks. That write must replace it,
        and no read may see the orphan's rows."""
        cat = SnapshotCatalog(spark, str(tmp_path))
        df = spark.range(10).select(
            "id", (F.col("id") % 2).cast("int").alias("b"))
        s0 = cat.write_snapshot("t", df, shard_col="b")
        orphan = os.path.join(str(tmp_path), "t", f"snap-{s0 + 1}")
        spark.range(1000, 1005).select(
            "id", F.lit(0).alias("b")).write.parquet(orphan)
        ap = spark.createDataFrame([(42, 1)], "id long, b int")
        s1 = cat.write_snapshot("t", ap, mode="append",
                                base_snapshot_id=s0, shard_col="b")
        assert s1 == s0 + 1
        ids = sorted(r["id"] for r in cat.read("t").collect())
        assert ids == list(range(10)) + [42]
        assert cat.snapshot_delta_rowcount("t", s1) == 1

    def test_metadata_is_write_once(self, spark, tmp_path, crawl_setup):
        """Each commit adds exactly one ``snap-<n>.json`` and never
        edits an earlier one; a stale ``.json.tmp`` of a crashed commit
        is not a snapshot; a finished crawl leaves no whole-log or
        pointer file anywhere in its warehouse."""
        cat = SnapshotCatalog(spark, str(tmp_path / "t_wh"))
        tdir = os.path.join(str(tmp_path / "t_wh"), "t")

        def meta():
            return {n: open(os.path.join(tdir, n), "rb").read()
                    for n in os.listdir(tdir) if n.endswith(".json")}

        df = spark.range(20).select(
            "id", (F.col("id") % 4).cast("int").alias("b"))
        one = spark.createDataFrame([(100, 1)], "id long, b int")
        writes = [
            lambda: cat.write_snapshot("t", df, shard_col="b"),
            lambda: cat.write_snapshot("t", one, mode="append",
                                       shard_col="b"),
            lambda: cat.overwrite_shards("t", one, [1], "b"),
            lambda: cat.write_snapshot("t", df, shard_col="b"),
            lambda: cat.write_snapshot("t", one, mode="append",
                                       shard_col="b"),
            lambda: cat.overwrite_shards("t", one, [0, 1], "b"),
        ]
        seen: dict[str, bytes] = {}
        for i, write in enumerate(writes):
            sid = write()
            now = meta()
            assert sid == i
            assert set(now) == set(seen) | {f"snap-{i}.json"}
            assert all(now[n] == seen[n] for n in seen)
            seen = now
        # a crashed commit's tmp file is ignored, then overwritten
        with open(os.path.join(tdir, f"snap-{len(writes)}.json.tmp"),
                  "w") as f:
            f.write('{"id": 99, "paths": ["/nonexistent"]')
        assert cat.current_snapshot("t")["id"] == len(writes) - 1
        assert cat.read("t").count() == 11
        assert SnapshotCatalog(spark, str(tmp_path / "t_wh")).read(
            "t").count() == 11
        assert cat.write_snapshot("t", one) == len(writes)
        assert cat.read("t").count() == 1

        pages, policy, seeds = crawl_setup
        wh = str(tmp_path / "crawl_wh")
        crawl_cat = SnapshotCatalog(spark, wh)
        CrawlEngine(spark, pages, policy, crawl_cat,
                    CrawlConfig(use_bloom=True)).run(
            read_seeds(spark, seeds), max_rounds=2)
        assert crawl_cat.last_complete_round()["round"] >= 0
        names = {n for _, _, files in os.walk(wh) for n in files}
        assert not names & {"snapshots.json", "current.json",
                            "rounds.json"}
        # empty sharded deltas (the bootstrap archive, empty appends)
        # add no path, so no snapshot references an `empty` placeholder
        paths = [p for root, _, files in os.walk(wh) for n in files
                 if n.startswith("snap-") and n.endswith(".json")
                 for p in json.load(open(os.path.join(root, n)))["paths"]]
        assert paths and not [p for p in paths if p.endswith("/empty")]


@pytest.fixture(scope="module")
def crawl_setup(spark, tmp_path_factory):
    n, h, seed = 400, 16, 7
    pages = G.generate_pages(spark, n, h, seed).cache()
    policy = spark.createDataFrame(G.host_policy_rows(seed, h),
                                   POLICY_SCHEMA)
    p = tmp_path_factory.mktemp("seeds") / "seeds.txt"
    p.write_text("\n".join(
        json.dumps({"url": G.url_of(seed, i, h), "label": "a"})
        for i in range(64)) + "\n")
    return pages, policy, str(p)


class TestFrontierDeltaCommit:
    def test_untouched_buckets_carried_by_reference(self, spark, crawl_setup,
                                                    tmp_path):
        """The O(round delta) proof: when a round's batch touches a
        strict subset of host buckets, the frontier commit reuses the
        untouched buckets' data dirs from the previous snapshot
        verbatim — their pending rows cost zero write I/O however large
        the queue grows. Hosts with a zero politeness budget never
        schedule, so their buckets accumulate pending rows that later
        rounds must carry, not rewrite."""
        pages, policy, seeds = crawl_setup
        n, h, seed = 400, 16, 7
        rows = []
        for i, p in enumerate(G.host_policy_rows(seed, h)):
            p = dict(p)
            p["max_per_round"] = 0 if i % 2 else 4
            rows.append(p)
        half_policy = spark.createDataFrame(rows, POLICY_SCHEMA)
        cat = SnapshotCatalog(spark, str(tmp_path))
        eng = CrawlEngine(spark, pages, half_policy, cat, CrawlConfig())
        ms = eng.run(read_seeds(spark, seeds), max_rounds=4)
        # budget-0 hosts keep the queue non-empty throughout
        assert ms[-1]["pending_after"] > 0
        rounds = [e for e in cat.rounds() if e["round"] >= 1]
        assert len(rounds) >= 2
        carried_any = False
        for prev, cur in zip(rounds, rounds[1:]):
            p_prev = set(cat._paths_of("frontier",
                                       prev["snapshots"]["frontier"]))
            p_cur = set(cat._paths_of("frontier",
                                      cur["snapshots"]["frontier"]))
            if p_prev & p_cur:
                carried_any = True
        assert carried_any, ("no frontier data dir was ever carried "
                             "across rounds — commits are full rewrites")

    def test_round_metrics_consistency(self, spark, crawl_setup, tmp_path):
        """The metrics a round returns are exactly ``round_metrics`` over
        its committed record (frontier snapshot properties + footer
        counts), for every committed round of a bloom-on crawl; the
        footer-derived stats agree with a direct recount of the written
        state; and no crawl writes a ``round_metrics`` table."""
        pages, policy, seeds = crawl_setup
        cat = SnapshotCatalog(spark, str(tmp_path))
        eng = CrawlEngine(spark, pages, policy, cat,
                          CrawlConfig(use_bloom=True))
        ms = eng.run(read_seeds(spark, seeds), max_rounds=4)
        by_round = {m["round"]: m for m in ms}
        entries = [e for e in cat.rounds() if e["round"] >= 0]
        assert [e["round"] for e in entries] == sorted(by_round)
        for entry in entries:
            m = by_round[entry["round"]]
            assert round_metrics(cat, entry) == {
                k: v for k, v in m.items()
                if k not in ("_timings", "_collects")}
            snaps = entry["snapshots"]
            arch = cat.read_snapshot_delta("frontier_archive",
                                           snaps["frontier_archive"])
            assert m["fetched"] == arch.where("state='fetched'").count()
            assert m["pending_after"] == cat.read(
                "frontier", snaps["frontier"]).count()
        assert not os.path.exists(os.path.join(str(tmp_path),
                                               "round_metrics"))

    def test_bloom_round_needs_bootstrapped_filters(self, spark,
                                                    crawl_setup, tmp_path):
        """The seen filters are built once, at bootstrap: a bloom round
        over a warehouse whose base round has no ``seen_filters``
        snapshot fails loudly instead of building them a second way."""
        pages, policy, seeds = crawl_setup
        cat = SnapshotCatalog(spark, str(tmp_path))
        CrawlEngine(spark, pages, policy, cat, CrawlConfig()).bootstrap(
            read_seeds(spark, seeds))
        eng = CrawlEngine(spark, pages, policy, cat,
                          CrawlConfig(use_bloom=True))
        with pytest.raises(RuntimeError, match="seen_filters"):
            eng.run_round(0)

    def test_driver_barrier_budget(self, spark, crawl_setup, tmp_path):
        """Per-round driver materializations (collect/count barriers)
        must stay within budget: steady-state rounds pay exactly ONE
        planning collect; discover rounds at most 4. Everything else is
        footer arithmetic or a snapshot write."""
        pages, policy, seeds = crawl_setup
        cat = SnapshotCatalog(spark, str(tmp_path))
        eng = CrawlEngine(spark, pages, policy, cat,
                          CrawlConfig(use_bloom=True))
        ms = eng.run(read_seeds(spark, seeds), max_rounds=6)
        assert len(ms) >= 2
        for m in ms:
            assert m["_collects"] <= 4, m
        # the final drain round has no discoveries: 1 planning collect
        assert ms[-1]["_collects"] == 1, ms[-1]


class TestBucketedJoin:
    def test_fetch_join_elides_both_exchanges(self, spark, tmp_path):
        """Pages corpus and scheduled batch both bucketed by url_hash →
        the round's fetch join runs with ZERO ShuffleExchange (the
        10^10-scale plan: the corpus never moves)."""
        from web_scrapers_python_spark.sources.bucketed import (
            read_bucketed, write_bucketed)
        from web_scrapers_python_spark.operators.links import (
            with_url_identity)

        pages = G.generate_pages(spark, 400, 16, 42)
        ident = with_url_identity(pages.select("url"), 16)
        corpus = pages.join(ident.select("url", "url_hash"), "url")
        sched = ident.select("url_hash", "url").limit(50)

        write_bucketed(corpus, "t_pages_b", str(tmp_path / "pages_b"),
                       n_buckets=8)
        write_bucketed(sched, "t_sched_b", str(tmp_path / "sched_b"),
                       n_buckets=8)
        try:
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = read_bucketed(spark, "t_pages_b").join(
                read_bucketed(spark, "t_sched_b").select("url_hash"),
                "url_hash")
            plan = joined._sc._jvm.PythonSQLUtils.explainString(
                joined._jdf.queryExecution(), "formatted")
            assert "Exchange" not in plan, plan[:2000]
            assert "SortMergeJoin" in plan, plan[:2000]
            # and the result is the real join result
            assert joined.count() == 50
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS t_pages_b")
            spark.sql("DROP TABLE IF EXISTS t_sched_b")

    def test_bucketed_scan_skips_sort(self, spark, tmp_path):
        """sortBy(url_hash) at write time → no Sort operator below the
        bucketed scans in the merge join."""
        from web_scrapers_python_spark.sources.bucketed import (
            read_bucketed, write_bucketed)
        df = spark.range(1000).select(
            F.sha2(F.col("id").cast("string"), 256).substr(1, 16)
            .alias("url_hash"),
            F.col("id").alias("payload"))
        write_bucketed(df, "t_sorted_a", str(tmp_path / "a"), n_buckets=4)
        write_bucketed(df, "t_sorted_b", str(tmp_path / "b"), n_buckets=4)
        try:
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            # Spark >=3.0 ignores bucketed sortBy metadata unless this
            # legacy conf is on (the writer guarantees its 1-file-per-
            # bucket precondition); without it every bucketed join
            # re-sorts the stored side
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering",
                "true")
            j = read_bucketed(spark, "t_sorted_a").join(
                read_bucketed(spark, "t_sorted_b").select("url_hash"),
                "url_hash")
            plan = j._sc._jvm.PythonSQLUtils.explainString(
                j._jdf.queryExecution(), "formatted")
            tree = plan.split("== Physical Plan ==")[-1].split("\n\n")[0]
            assert "Exchange" not in tree
            # a REAL no-sort assert (tree nodes print as "Sort (n)");
            # the old "(Sort" spelling could never match and was
            # vacuously green
            import re as _re
            assert not _re.search(r"\bSort \(", tree), tree
            assert "SortMergeJoin" in tree, tree
            assert j.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.conf.unset(
                "spark.sql.legacy.bucketedTableScan.outputOrdering")
            spark.sql("DROP TABLE IF EXISTS t_sorted_a")
            spark.sql("DROP TABLE IF EXISTS t_sorted_b")
