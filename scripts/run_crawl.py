#!/usr/bin/env python
"""spark-submit entrypoint for the crawl engine (north rule: "launched
with spark-submit --py-files on multi-executor clusters").

Cluster usage:

    zip -r wsps.zip web_scrapers_python_spark
    spark-submit --py-files wsps.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        scripts/run_crawl.py \
        --pages s3://bucket/pages/ --seeds s3://bucket/seeds.txt \
        --warehouse s3://bucket/crawl-wh/ --rounds 10

Local smoke (synthesizes a corpus when --pages is omitted):

    python scripts/run_crawl.py --synthesize 5000 --rounds 3 \
        --warehouse /tmp/crawl-wh

Resume after interruption: rerun with the same --warehouse and no
--seeds or --seed-table; the engine continues from the last complete
round's snapshot. Seeds for a warehouse that already committed a round
are an error; --synthesize writes its seed file only for a new one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet path of the pages table "
                                    "(url, warc_ts, html, text, lang)")
    ap.add_argument("--seeds", help="seeds file (bare URLs and/or JSON "
                                    "lines); omit to resume")
    ap.add_argument("--warehouse", required=True,
                    help="snapshot warehouse directory (state + outputs)")
    ap.add_argument("--host-policy", help="json file: list of {host, "
                    "crawl_delay, max_per_round, robots_disallow}")
    ap.add_argument("--rounds", type=int, default=100)
    ap.add_argument("--budget", type=int, default=None,
                    help="default per-host budget when no policy row")
    ap.add_argument("--order", choices=["fifo", "priority"], default="fifo")
    ap.add_argument("--salts", type=int, default=16)
    ap.add_argument("--bloom", action="store_true",
                    help="bloom pre-filter before the exact seen anti-join")
    ap.add_argument("--synthesize", type=int, default=None, metavar="N",
                    help="generate an N-page synthetic corpus instead of "
                         "--pages (smoke/testing)")
    ap.add_argument("--n-hosts", type=int, default=64)
    ap.add_argument("--seed-table", default=None,
                    help="warehouse seed table; falls back to --seeds "
                         "file when missing/empty (S4 bootstrap chain)")
    ap.add_argument("--seed-limit", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from web_scrapers_python_spark.plans.engine import CrawlConfig, CrawlEngine
    from web_scrapers_python_spark.sources import datagen as G
    from web_scrapers_python_spark.sources.catalog import SnapshotCatalog
    from web_scrapers_python_spark.sources.seeds import read_seeds

    spark = (
        SparkSession.builder.appName("web_scrapers_python_spark-crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    if args.synthesize:
        pages = G.generate_pages(spark, args.synthesize, args.n_hosts, 42)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        ap.error("one of --pages / --synthesize is required")

    if args.host_policy:
        with open(args.host_policy) as f:
            rows = json.load(f)
    else:
        rows = G.host_policy_rows(42, args.n_hosts)
    policy = spark.createDataFrame(
        rows, "host string, crawl_delay double, max_per_round int, "
              "robots_disallow array<string>")

    kwargs = dict(order=args.order, n_salts=args.salts,
                  use_bloom=args.bloom)
    if args.budget is not None:
        kwargs["default_budget"] = args.budget
    engine = CrawlEngine(spark, pages, policy,
                         SnapshotCatalog(spark, args.warehouse),
                         CrawlConfig(**kwargs))

    seeds_path = args.seeds
    if (args.synthesize and not seeds_path
            and engine.catalog.last_complete_round() is None):
        # smoke mode: seed a new warehouse with the first corpus URLs
        # (discover label); a committed one resumes
        os.makedirs(args.warehouse, exist_ok=True)
        seeds_path = os.path.join(args.warehouse, "seeds.txt")
        with open(seeds_path, "w") as f:
            for i in range(min(16, args.synthesize)):
                f.write('{"url": "%s", "label": "a"}\n'
                        % G.url_of(42, i, args.n_hosts))
    if args.seed_table:
        from web_scrapers_python_spark.sources.seeds import seeds_with_fallback
        seeds = seeds_with_fallback(spark, engine.catalog, seeds_path,
                                    args.seed_table, args.seed_limit)
    else:
        seeds = read_seeds(spark, seeds_path) if seeds_path else None
    metrics = engine.run(seeds, max_rounds=args.rounds)
    for m in metrics:
        print(json.dumps({k: v for k, v in m.items()
                          if not k.startswith("_")}))
    spark.stop()


if __name__ == "__main__":
    main()
