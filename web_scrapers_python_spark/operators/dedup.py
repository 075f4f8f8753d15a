"""URL-seen dedup (SURVEY §2.3 J1-J3) — exact anti-join + partitioned
bloom pre-filter.

Reference semantics: exact, point-lookup dedup on ``url_hash``
(cassandra_manager.py:317-329) and first-enqueue-wins within a batch
(crawlee uniqueKey, routes.py:44-57). At the 10^10 design point the
exact anti-join shuffles the full seen set per round, so a partitioned
bloom filter (built per host_bucket, broadcast to executors) prunes the
candidate side first; false positives are re-checked by the exact join,
false negatives are impossible — the composite is exactly the
reference's dedup (SURVEY §4.2.1).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, IntegerType, LongType, StructField, StructType,
)


def first_wins(df: DataFrame, key: str = "url_hash",
               order: str = "seq") -> DataFrame:
    """Within-batch dedup keeping the first enqueue (min order) — J2."""
    w = Window.partitionBy(key).orderBy(F.col(order).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   key: str = "url_hash") -> DataFrame:
    """Exact seen-set anti-join — J1 (the correctness baseline)."""
    return candidates.join(seen.select(key), key, "left_anti")


# --------------------------------------------------------------------------
# Partitioned bloom filters
# --------------------------------------------------------------------------
# Layout: one filter per host_bucket. Sizing at the design point
# (SURVEY §7 hard-part 3): 10^10 keys / 1024 buckets ≈ 10^7 keys/bucket;
# at 1% FP that is ~1.2 * 10^7 bytes ≈ 12 MB per bucket — each executor
# only needs the buckets of the partitions it processes (join on
# host_bucket), never the full set.

BLOOM_SCHEMA = StructType([
    StructField("host_bucket", IntegerType()),
    StructField("filter", BinaryType()),
    StructField("n_bits", LongType()),
    StructField("n_hashes", IntegerType()),
    StructField("n_items", LongType()),
])


def _bloom_params(n_items: int, fp_rate: float) -> tuple[int, int]:
    n = max(n_items, 1)
    m = max(64, int(-n * math.log(fp_rate) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _positions(key: str, m: int, k: int) -> np.ndarray:
    d = hashlib.sha256(key.encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return np.array([(h1 + i * h2) % m for i in range(k)], dtype=np.int64)


def build_bloom_filters(seen: DataFrame, key: str = "url_hash",
                        bucket_col: str = "host_bucket",
                        fp_rate: float = 0.01,
                        capacity: int | None = None) -> DataFrame:
    """Per-bucket bloom build via applyInPandas (grouped-map; each group
    fits one executor — buckets are sized for that). ``capacity`` sizes
    the filter for future incremental inserts (merge_bloom_filters)
    instead of just the current key count."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf[key].dropna().to_numpy()
        m, k = _bloom_params(max(len(keys), capacity or 0), fp_rate)
        bits = np.zeros(m // 8, dtype=np.uint8)
        for s in keys:
            for p in _positions(s, m, k):
                bits[p >> 3] |= 1 << (p & 7)
        return pd.DataFrame([{
            "host_bucket": int(pdf[bucket_col].iloc[0]),
            "filter": bits.tobytes(),
            "n_bits": m,
            "n_hashes": k,
            "n_items": len(keys),
        }])

    return seen.groupBy(bucket_col).applyInPandas(build, BLOOM_SCHEMA)


# A bucket whose expected FP rate has outgrown its bit array degrades to
# an empty sentinel filter (n_bits=0): the probe then treats every key
# as a suspect (exact anti-join path) until the next full rebuild —
# correctness never depends on the filter content.
DEGRADE_FP = 0.05


def _expected_fp(m: int, k: int, n: int) -> float:
    if m <= 0:
        return 1.0
    return (1.0 - math.exp(-k * n / m)) ** k


def merge_bloom_filters(filters: DataFrame, new_keys: DataFrame,
                        key: str = "url_hash",
                        bucket_col: str = "host_bucket",
                        fp_rate: float = 0.01,
                        capacity: int | None = None) -> DataFrame:
    """Incremental seen-filter maintenance: OR this round's new keys
    into the existing per-bucket filters (cogrouped applyInPandas) —
    O(round delta), NOT O(seen). At the 10^10 design point a full
    rebuild touches the entire seen set every round; the incremental
    merge touches only the round's discoveries. Buckets with no prior
    filter are built fresh (sized by ``capacity``); buckets whose
    expected FP exceeds DEGRADE_FP emit the degraded sentinel."""

    def merge(kdf: pd.DataFrame, fdf: pd.DataFrame) -> pd.DataFrame:
        if len(kdf):
            bucket = int(kdf[bucket_col].iloc[0])
        else:
            bucket = int(fdf[bucket_col].iloc[0])
        keys = kdf[key].dropna().to_numpy() if len(kdf) else []
        if len(fdf):
            row = fdf.iloc[0]
            m, k, n = int(row["n_bits"]), int(row["n_hashes"]), int(row["n_items"])
            if m == 0:      # already degraded: keep counting inserts so
                            # the rebuild can size the replacement filter
                return pd.DataFrame([{
                    "host_bucket": bucket, "filter": b"", "n_bits": 0,
                    "n_hashes": 0, "n_items": n + len(keys),
                }])
            bits = np.frombuffer(row["filter"], dtype=np.uint8).copy()
        else:
            m, k = _bloom_params(max(len(keys), capacity or 0), fp_rate)
            n = 0
            bits = np.zeros(m // 8, dtype=np.uint8)
        n_total = n + len(keys)
        if _expected_fp(m, k, n_total) > DEGRADE_FP:
            return pd.DataFrame([{
                "host_bucket": bucket, "filter": b"", "n_bits": 0,
                "n_hashes": 0, "n_items": n_total,
            }])
        for s in keys:
            for p in _positions(s, m, k):
                bits[p >> 3] |= 1 << (p & 7)
        return pd.DataFrame([{
            "host_bucket": bucket, "filter": bits.tobytes(), "n_bits": m,
            "n_hashes": k, "n_items": n_total,
        }])

    return (
        new_keys.select(bucket_col, key).groupBy(bucket_col)
        .cogroup(filters.groupBy(bucket_col))
        .applyInPandas(merge, BLOOM_SCHEMA)
    )


def dedup_against_seen(candidates: DataFrame, seen: DataFrame,
                       filters: DataFrame | None = None,
                       key: str = "url_hash",
                       bucket_col: str = "host_bucket",
                       flag_col: str | None = None) -> DataFrame:
    """J1 at scale: bloom split, then an exact check on suspects only.

    A bloom miss proves the key was never seen → the row bypasses the
    exact check entirely. A bloom hit (true hit or FP) goes through the
    exact check, which catches every truly-seen row. The composite is
    therefore exactly the reference's exact dedup (``anti_join_seen``)
    for ANY filter content — only the join's input volume changes.
    Without filters every candidate is a suspect.

    ``flag_col``: instead of filtering, return EVERY candidate row with
    a boolean ``flag_col`` (true = unseen). Lets the caller keep one
    cached frame serving both the fresh rows and the all-candidates
    aggregates (the crawl engine fuses its links-discovered count into
    the sequencer's planning pass this way). Without it the result is
    the flagged frame filtered on the flag."""
    flag = flag_col or "_unseen"
    if filters is None:
        definite_new, suspects = None, candidates
    else:
        flagged = _bloom_maybe(candidates, filters, key, bucket_col)
        definite_new = flagged.where(~F.col("_maybe")).drop("_maybe")
        suspects = flagged.where(F.col("_maybe")).drop("_maybe")
    # Exact check, seen-side-shuffle-free: a direct suspects-anti-seen
    # would sort-merge BOTH sides — an O(seen) shuffle every round. The
    # suspect set is round-delta-sized (true dups + bloom FPs), so flip
    # it: stream the seen scan against the (AQE-broadcast-able) suspect
    # key set to get the confirmed hits, then left-join those back.
    # seen is scanned (one pruned column) but never shuffled; no
    # explicit broadcast hint, so an oversized suspect set degrades to
    # SMJ instead of OOMing the driver. distinct keeps the join from
    # multiplying candidates when the seen event log repeats a key.
    hits = (seen.select(key)
            .join(suspects.select(key), key, "left_semi")
            .distinct())
    marked = (
        suspects.join(hits.withColumn("_seen", F.lit(True)), key, "left")
        .withColumn(flag, F.col("_seen").isNull())
        .drop("_seen")
    )
    if definite_new is not None:
        marked = definite_new.withColumn(flag, F.lit(True)).unionByName(marked)
    if flag_col is None:
        return marked.where(F.col(flag)).drop(flag)
    return marked


def _bloom_maybe(candidates: DataFrame, filters: DataFrame,
                 key: str, bucket_col: str) -> DataFrame:
    """candidates + boolean ``_maybe`` (bloom hit or degraded bucket);
    a false PROVES the key was never seen."""
    joined = candidates.join(F.broadcast(filters), bucket_col, "left")

    @F.pandas_udf(BooleanType())
    def maybe_seen(keys: pd.Series, flt: pd.Series, n_bits: pd.Series,
                   n_hashes: pd.Series) -> pd.Series:
        out = []
        for s, fb, m, k in zip(keys, flt, n_bits, n_hashes):
            if fb is None or pd.isna(m):
                out.append(False)      # bucket has no seen keys at all
                continue
            if int(m) == 0:
                out.append(True)       # degraded bucket: always confirm
                continue
            bits = np.frombuffer(fb, dtype=np.uint8)
            hit = True
            for p in _positions(s, int(m), int(k)):
                if not (bits[p >> 3] >> (p & 7)) & 1:
                    hit = False
                    break
            out.append(hit)
        return pd.Series(out)

    return joined.withColumn(
        "_maybe",
        F.when(F.col("filter").isNull(), F.lit(False)).otherwise(
            maybe_seen(F.col(key), F.col("filter"), F.col("n_bits"),
                       F.col("n_hashes"))
        ),
    ).select(*candidates.columns, "_maybe")

