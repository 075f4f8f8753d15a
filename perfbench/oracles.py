"""Correctness checks, run outside the timed section. Each returns
``(attempted, failed, notes)`` in the workload's units:

- ``refresh_parse`` — (URL, round) pairs: each URL's outcome in every
  timed round (article / quarantine / fetched without a parser) must
  match the transcribed reference parser (``oracle.extract``), and an
  article's ``content`` must be byte-identical to ``pages.text``.
- ``deep_discover`` — URLs: per-round scheduled and robots-blocked
  sets, every ``seq`` and the final seen set must match a replay of the
  reference frontier semantics (``oracle.frontier_sim``) extended to
  propagate the parent's label (``rediscover``); aged rows must stay
  pending and never collide with organic keys.
- the training-data pass of the traced ``refresh_parse`` run — output
  rows: every operator's output must equal its DuckDB twin from
  ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F

from web_scrapers_python_spark.oracle import extract as ox
from web_scrapers_python_spark.oracle import reference as ref
from web_scrapers_python_spark.oracle.frontier_sim import SimEntry, _path_of


def _blocked(url: str, policy: dict[str, dict]) -> bool:
    rules = policy.get(ref.extract_domain(url), {}).get("robots_disallow",
                                                         [])
    return any(_path_of(url).startswith(p) for p in rules)


# -- refresh_parse ------------------------------------------------------------

def _expected_outcomes(pages, policy: dict[str, dict]):
    """(url, expect) per corpus page: 'blocked', 'article', 'quarantine'
    (a parser was selected but rejected the page) or 'fetched'."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for url, html in zip(b["url"], b["html"]):
                if _blocked(url, policy):
                    out.append("blocked")
                    continue
                pid = ref.select_parser_id(url)
                if pid is None:
                    out.append("fetched")
                    continue
                parsed = (ox.parse_weibo(html, url) if pid == "weibo"
                          else ox.parse_generic_news(html, url))
                out.append("article" if parsed else "quarantine")
            yield pd.DataFrame({"url": b["url"], "expect": out})

    return pages.select("url", "html").mapInPandas(
        run, "url string, expect string")


def check_refresh(spark, catalog, pages, policy: dict[str, dict],
                  rounds: list[int]) -> tuple[int, int, list[str]]:
    by_round = {e["round"]: e["snapshots"] for e in catalog.rounds()}
    parts = []
    for r in rounds:
        snaps = by_round[r]
        fetched = (catalog.read_snapshot_delta("frontier_archive",
                                               snaps["frontier_archive"])
                   .where(F.col("state") == "fetched")
                   .select("url", F.lit(1).alias("f")))
        arts = (catalog.read_snapshot_delta("articles", snaps["articles"])
                .groupBy("url").agg(F.count("*").alias("a"),
                                    F.first("content").alias("content")))
        quar = (catalog.read_snapshot_delta("quarantine",
                                            snaps["quarantine"])
                .groupBy("url").agg(F.count("*").alias("q")))
        parts.append(
            fetched.join(arts, "url", "full").join(quar, "url", "full")
            .withColumn("round", F.lit(r)))
    actual = parts[0]
    for p in parts[1:]:
        actual = actual.unionByName(p)
    expect = _expected_outcomes(pages, policy) \
        .join(pages.select("url", "text"), "url")
    grid = expect.crossJoin(
        spark.createDataFrame([(r,) for r in rounds], "round int"))
    got = (F.when(F.col("a") > 1, "duplicate_article")
           .when(F.col("a") == 1, "article")
           .when(F.col("q") >= 1, "quarantine")
           .when(F.col("f") == 1, "fetched")
           .otherwise("not_fetched"))
    # null and '' are the same "no content" on both sides (weibo posts
    # store '' where the generator's text is null)
    same_text = F.coalesce(F.nullif(F.col("content"), F.lit("")),
                           F.lit("\u0000")) == F.coalesce(
        F.nullif(F.col("text"), F.lit("")), F.lit("\u0000"))
    joined = (grid.join(actual, ["url", "round"], "full")
              .withColumn("got", F.when(F.col("expect").isNull(),
                                        "not_in_corpus").otherwise(got))
              .withColumn("want", F.when(F.col("expect") == "blocked",
                                         "not_fetched")
                          .otherwise(F.coalesce("expect",
                                                F.lit("nothing")))))
    bad = (F.col("got") != F.col("want")) | (
        (F.col("got") == "article") & ~same_text)
    row = joined.agg(
        F.count(F.when(F.col("want") != "not_fetched", 1)).alias("n"),
        F.count(F.when(bad, 1)).alias("bad"),
        F.slice(F.collect_list(F.when(bad, F.concat_ws(
            " ", F.col("round").cast("string"), "url", "want", "got"))),
            1, 5).alias("examples")).collect()[0]
    return int(row["n"]), int(row["bad"]), list(row["examples"])


# -- deep_discover ------------------------------------------------------------

def simulate_discover(pages: dict[str, bytes], seeds: list[dict],
                      policy: dict[str, dict], rounds: int, seq_start: int,
                      max_retries: int = 3) -> tuple[list[dict], dict]:
    """``frontier_sim.simulate`` with ``rediscover`` semantics: a child
    inherits its parent's label, so every fetched page keeps
    discovering. Discovered seqs continue from ``seq_start`` (the
    engine's ``max_seq + 1`` after the aged backlog). Returns the
    per-round log and the entries by url_hash."""
    entries: dict[str, SimEntry] = {}
    for i, s in enumerate(seeds):
        h = ref.canonical_url_hash(s["url"])
        if h not in entries:
            entries[h] = SimEntry(
                url=s["url"], url_hash=h, host=ref.extract_domain(s["url"]),
                depth=0, priority=0, parser=None, label=s["label"],
                discovered_from=None, seq=i)
    next_seq = seq_start
    log = []
    for r in range(rounds):
        allowed, blocked = [], []
        for e in entries.values():
            if e.state != "pending":
                continue
            if _blocked(e.url, policy):
                e.state = "robots_blocked"
                blocked.append(e.url)
            else:
                allowed.append(e)
        allowed.sort(key=lambda e: e.seq)
        taken: dict[str, int] = {}
        scheduled = []
        for e in allowed:
            budget = policy.get(e.host, {}).get("max_per_round", 2)
            if taken.get(e.host, 0) < budget:
                taken[e.host] = taken.get(e.host, 0) + 1
                scheduled.append(e)
        found = []
        for e in scheduled:
            html = pages.get(e.url)
            if html is None:
                e.retry_count += 1
                e.state = ("pending" if e.retry_count < max_retries
                           else "failed")
                continue
            e.state = "fetched"
            for pos, child in enumerate(ox.extract_links(html, e.label)):
                found.append((e.seq, pos, e, child))
        found.sort(key=lambda t: (t[0], t[1]))
        for _, _, parent, child in found:
            h = ref.canonical_url_hash(child)
            if h in entries:
                continue
            entries[h] = SimEntry(
                url=child, url_hash=h, host=ref.extract_domain(child),
                depth=parent.depth + 1, priority=parent.priority,
                parser=parent.parser, label=parent.label,
                discovered_from=parent.url, seq=next_seq)
            next_seq += 1
        log.append({"round": r, "scheduled": {e.url for e in scheduled},
                    "blocked": set(blocked)})
    return log, entries


def check_discover(spark, catalog, pages, seeds: list[dict],
                   policy: dict[str, dict], n_rounds: int, seq_start: int,
                   aged_pending: int, aged_hosts_like: list[str]
                   ) -> tuple[int, int, list[str]]:
    html = {r["url"]: r["html"] for r in
            pages.select("url", "html").toLocalIterator()}
    log, entries = simulate_discover(html, seeds, policy, n_rounds,
                                     seq_start)
    notes: list[str] = []
    failed = attempted = 0
    by_round = {e["round"]: e["snapshots"] for e in catalog.rounds()}
    for g in log:
        delta = catalog.read_snapshot_delta(
            "frontier_archive", by_round[g["round"]]["frontier_archive"])
        got = {"scheduled": set(), "blocked": set()}
        for row in delta.select("url", "state").collect():
            got["blocked" if row["state"] == "robots_blocked"
                else "scheduled"].add(row["url"])
        for k in ("scheduled", "blocked"):
            diff = got[k] ^ g[k]
            attempted += len(g[k])
            failed += len(diff)
            if diff:
                notes.append(f"round {g['round']} {k}: {len(diff)} differ, "
                             f"e.g. {sorted(diff)[:2]}")
    aged = F.lit(False)
    for pat in aged_hosts_like:
        aged = aged | F.col("url").like(pat)
    want = spark.createDataFrame(
        [(e.url_hash, e.url, int(e.seq)) for e in entries.values()],
        "url_hash string, url string, want_seq long")
    frontier = (catalog.read("frontier").unionByName(
        catalog.read("frontier_archive")))
    organic = frontier.where(~aged).select("url_hash", "seq")
    seen = catalog.read("seen").select("url_hash", "url").distinct()
    row = (
        want.join(organic, "url_hash", "full")
        .join(seen.where(~aged).select("url_hash",
                                       F.lit(1).alias("in_seen")),
              "url_hash", "full")
        .agg(F.count("*").alias("n"),
             F.count(F.when(~F.col("want_seq").eqNullSafe(F.col("seq"))
                            | F.col("in_seen").isNull()
                            | F.col("want_seq").isNull(), 1)).alias("bad"))
        .collect()[0])
    attempted += int(row["n"])
    failed += int(row["bad"])
    if row["bad"]:
        notes.append(f"seq/seen set: {row['bad']} of {row['n']} differ")
    # aged rows: all still pending, none sharing a key with organic rows
    aged_pending_now = catalog.read("frontier").where(aged).count()
    collide = (seen.where(aged).select("url_hash")
               .join(organic.select("url_hash"), "url_hash").count())
    attempted += aged_pending
    lost = abs(aged_pending - aged_pending_now) + collide
    failed += lost
    if lost:
        notes.append(f"aged rows: {aged_pending_now}/{aged_pending} pending, "
                     f"{collide} key collisions")
    return attempted, failed, notes


# -- training-data operators --------------------------------------------------

def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order- and float-noise-insensitive form of a result frame (the
    same normalisation as tools/oracle_check.py)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].map(
                lambda v: "nan" if v is None or (isinstance(v, float)
                                                 and math.isnan(v))
                else repr(round(float(v), 9)))
        elif df[c].dtype == object:
            df[c] = df[c].map(repr)
    return df.sort_values(by=list(df.columns), kind="mergesort") \
             .reset_index(drop=True)


def diff_frames(got: pd.DataFrame, want: pd.DataFrame) -> tuple[int, int]:
    """(rows compared, rows that differ) between two result frames."""
    g, w = _canon(got), _canon(want)
    n = max(len(g), len(w))
    if list(g.columns) != list(w.columns):
        return n, n
    if len(g) != len(w):
        gs = set(map(tuple, g.itertuples(index=False)))
        ws = set(map(tuple, w.itertuples(index=False)))
        return n, len(gs ^ ws) or abs(len(g) - len(w))
    return n, int((g != w).any(axis=1).sum())


def check_corpus(spark, corpus_dir: str, results: dict, clusters
                 ) -> tuple[int, int, list[str]]:
    """Every corpus operator's rows against its DuckDB twin; duplicate
    clusters against a union-find over the (twin-checked) MinHash
    pairs."""
    import duckdb

    import __spark_entry__ as E
    sql = E.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            path = f"{corpus_dir}/{t}.parquet"
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{path}/*.parquet')")
        attempted = failed = 0
        notes = []
        for name, df in results.items():
            n, bad = diff_frames(df.toPandas(), con.sql(sql[name]).df())
            attempted += n
            failed += bad
            if bad:
                notes.append(f"{name}: {bad} of {n} rows differ from the "
                             "DuckDB twin")
    finally:
        con.close()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in results["dedup_minhash_pairs"].select(
            "id_a", "id_b").collect():
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in list(parent)}
    got = {r[0]: r[1] for r in clusters.collect()}
    attempted += max(len(want), len(got))
    bad = sum(1 for x in set(want) | set(got) if want.get(x) != got.get(x))
    failed += bad
    if bad:
        notes.append(f"dup_clusters: {bad} docs disagree with union-find")
    return attempted, failed, notes
