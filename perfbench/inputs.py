"""Seeded input generators. Every input is a pure function of the
workload seed and the sizes in :data:`SIZES`; the program under test
only ever sees what these functions return.

Inputs are rebuilt on every run (nothing is cached on disk), so set-up
time measures the same work each time. :func:`input_key` names a set
of inputs by seed, sizes and a fingerprint of the generator source
(this file and ``sources/datagen.py``); the traced run records it so
two trace files can be told apart when their inputs differ.
"""

from __future__ import annotations

import hashlib
import inspect
import json

from pyspark.sql import functions as F

from web_scrapers_python_spark.operators import dedup as D
from web_scrapers_python_spark.operators import links as L
from web_scrapers_python_spark.plans.engine import FRONTIER_COLS
from web_scrapers_python_spark.sources import datagen as G

POLICY_SCHEMA = ("host string, crawl_delay double, max_per_round int, "
                 "robots_disallow array<string>")

SIZES = {
    "refresh_parse": {"pages": 400, "hosts": 128},
    "deep_discover": {"pages": 400, "hosts": 128, "seeds": 48,
                      "buckets": 64, "bloom_capacity": 8192,
                      "cold_hosts": 1000,
                      "aged_pending": 100_000, "aged_seen": 100_000},
    # the traced refresh_parse run also drives the training-data layer
    # over the crawled articles (see workloads.corpus_pass)
    "corpus": {"docs": 300, "max_words": 60, "dup_share": 0.2,
               "vectors": 300, "dim": 64, "clusters": 16},
}

# aged (synthetic) state lives on hosts the corpus never links to
COLD_HOST = "cold{}.aged.example.org"
SEEN_HOST = "seen.aged.example.org"


def input_key(workload: str, seed: int) -> str:
    src = inspect.getsource(G) + inspect.getsource(inspect.getmodule(
        input_key))
    fp = hashlib.sha256(src.encode()).hexdigest()[:12]
    sizes = json.dumps(SIZES[workload], sort_keys=True)
    sz = hashlib.sha256(sizes.encode()).hexdigest()[:8]
    return f"{workload}-s{seed}-{sz}-g{fp}"


def pages(spark, seed: int, n: int, hosts: int):
    """The synthetic Common-Crawl-style corpus, cached in memory."""
    df = G.generate_pages(spark, n, hosts, seed).cache()
    df.count()
    return df


def write_seed_file(path: str, urls: list[str], label: str) -> list[dict]:
    """Seed file, one JSON object a line. Returns the seed dicts in file
    order."""
    seeds = [{"url": u, "label": label} for u in urls]
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(s) for s in seeds) + "\n")
    return seeds


def corpus_urls(seed: int, n: int, hosts: int) -> list[str]:
    return [G.url_of(seed, i, hosts) for i in range(n)]


def one_url_per_host(seed: int, n: int, hosts: int, k: int,
                     policy: list[dict]) -> list[str]:
    """The first corpus URL of each of the first ``k`` hosts whose
    robots rules allow it: every one of them is scheduled in the first
    round whatever the seed, so round sizes do not depend on it."""
    rules = {r["host"]: r["robots_disallow"] for r in policy}
    out, hosts_seen = [], set()
    for i in range(n):
        host = G.host_of(seed, i, hosts)
        url = G.url_of(seed, i, hosts)
        path = url.split(host, 1)[1]
        if host in hosts_seen or any(path.startswith(p)
                                     for p in rules.get(host, [])):
            continue
        hosts_seen.add(host)
        out.append(url)
        if len(out) == k:
            return out
    raise ValueError(f"corpus has fewer than {k} seedable hosts")


def policy_rows(seed: int, hosts: int, budget: int | None = None,
                cold_hosts: int = 0) -> list[dict]:
    """Per-host politeness policy. ``budget`` overrides every corpus
    host's per-round budget; cold hosts get budget 0 (never scheduled)."""
    rows = G.host_policy_rows(seed, hosts)
    if budget is not None:
        for r in rows:
            r["max_per_round"] = budget
    rows += [{"host": COLD_HOST.format(j), "crawl_delay": 86400.0,
              "max_per_round": 0, "robots_disallow": []}
             for j in range(cold_hosts)]
    return rows


def policy_df(spark, rows: list[dict]):
    return spark.createDataFrame(rows, POLICY_SCHEMA)


def _seen_events(df):
    return df.select(
        "url_hash", "url", "host_bucket",
        F.lit(0).alias("first_round"), F.lit(0).alias("last_round"),
        F.lit(0).alias("scrape_count"),
        F.lit(None).cast("int").alias("last_scrape_round"),
        F.lit(None).cast("int").alias("last_dup_round"),
        F.lit(None).cast("int").alias("last_fail_round"),
        F.lit("pending").alias("status"))


def age_state(spark, catalog, seed: int, n_buckets: int, cold_hosts: int,
              n_pending: int, n_seen: int, seq_base: int,
              bloom_capacity: int) -> int:
    """Inject an aged crawl state into a bootstrapped catalog: a pending
    backlog of ``n_pending`` rows on zero-budget cold hosts (with their
    seen insert events — every pending row is seen) plus ``n_seen``
    already-seen rows. Backlog seqs start at ``seq_base`` so they sort
    after every organic row. The one-off full bloom build over the aged
    seen log is paid here too (committed as the ``seen_filters``
    snapshot the engine's first round extends incrementally). Returns
    the new ``max_seq``."""
    tag = F.lit(f"{seed}-")
    base = catalog.last_complete_round()["snapshots"]
    backlog = L.with_url_identity(
        spark.range(n_pending).select(
            F.concat(F.lit("https://cold"),
                     F.pmod(F.col("id"), F.lit(cold_hosts)).cast("string"),
                     F.lit(".aged.example.org/p/"), tag,
                     F.col("id").cast("string")).alias("url"),
            F.lit("a").alias("label"),
            F.lit(None).cast("string").alias("parser"),
            F.lit(0).alias("priority"),
            (F.lit(seq_base) + F.col("id")).alias("seq")),
        n_buckets) \
        .withColumn("depth", F.lit(1)) \
        .withColumn("discovered_from", F.lit(None).cast("string")) \
        .withColumn("round", F.lit(0)) \
        .withColumn("state", F.lit("pending")) \
        .withColumn("retry_count", F.lit(0)) \
        .select(*FRONTIER_COLS)
    max_seq = seq_base + n_pending
    fs = catalog.write_snapshot(
        "frontier",
        catalog.read("frontier", base["frontier"]).unionByName(backlog),
        {"round": -1, "max_seq": max_seq}, shard_col="host_bucket")
    seen_only = L.with_url_identity(
        spark.range(n_seen).select(
            F.concat(F.lit(f"https://{SEEN_HOST}/s/"), tag,
                     F.col("id").cast("string")).alias("url")),
        n_buckets)
    ss = catalog.write_snapshot(
        "seen", _seen_events(backlog).unionByName(_seen_events(seen_only)),
        {"round": -1}, mode="append", shard_col="host_bucket",
        base_snapshot_id=base["seen"])
    filters = D.build_bloom_filters(
        catalog.read("seen", ss).select("host_bucket", "url_hash").distinct(),
        capacity=bloom_capacity)
    fid = catalog.write_snapshot("seen_filters", filters,
                                 {"round": -1, "for_seen_snapshot": ss},
                                 shard_col="host_bucket")
    catalog.commit_round(-1, {**base, "frontier": fs, "seen": ss,
                              "seen_filters": fid})
    return max_seq


def documents(spark, seed: int, texts: list[str], dup_share: float,
              max_words: int):
    """Documents from crawled article texts (cut to their first
    ``max_words`` words, the length of the repository's testdata
    ``documents``) with a planted share of near-duplicates: each planted
    doc copies an earlier doc's text with one word changed. Columns
    match the testdata ``documents`` table, which the
    ``__spark_entry__`` queries and their DuckDB twins read."""
    rows: list[dict] = []
    n = len(texts)
    n_dup = int(n * dup_share)
    for i in range(n):
        h = int.from_bytes(hashlib.sha256(f"{seed}:doc:{i}".encode())
                           .digest()[:8], "big")
        if i >= n - n_dup and i > 0:
            words = rows[h % (n - n_dup)]["text"].split(" ")
            words[h % len(words)] = "edited"
            text = " ".join(words)
        else:
            text = " ".join(texts[i].split(" ")[:max_words])
        rows.append({"doc_id": i, "text": text,
                     "lang": ("en", "es", "zh")[h % 3],
                     "source": f"src{h % 7}", "n_chars": len(text)})
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")


def embeddings(spark, seed: int, n: int, dim: int, clusters: int):
    """Unit vectors around ``clusters`` planted centroids."""
    import numpy as np
    rng = np.random.default_rng(seed)
    cent = rng.normal(size=(clusters, dim))
    lab = rng.integers(0, clusters, size=n)
    vec = cent[lab] + rng.normal(size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in vec[i].astype("float32")],
             int(lab[i])) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")

