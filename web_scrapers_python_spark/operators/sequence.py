"""Deterministic global FIFO sequencing (SURVEY §2.6 O1, §4.2.3).

The reference frontier is a FIFO queue: seeds in file order, then
discovered links in (parent fetch order, link position) order. The
distributed equivalent needs a dense, deterministic, global sequence
for each round's newly discovered batch — NOT
``monotonically_increasing_id`` (partition-dependent) and NOT a
single-partition global window (driver-size bottleneck at 10^10).

The sequencer is a zipWithIndex-style plan with EXPLICIT,
deterministic range buckets, in two steps:

1. ``sample_bounds`` — bound sampling: a deterministic hash-systematic
   sample of the order keys (``key_sample``, an aggregate Column) picks
   literal bucket bounds (``pick_bounds``). One driver job.
2. ``number_by_bounds`` — numbering against literal bounds: each row's
   bucket is a codegen'd when-ladder against the bounds frozen into the
   plan; one per-bucket aggregate (→ driver) gives each bucket's global
   offset, plus the gated/total counts and a set column's values; rows
   then shuffle once on the bucket id and are numbered map-side
   (mapInPandas) inside their sorted bucket. One driver job.

``assign_global_seq`` is step 1 then step 2, for keys whose range no
caller knows in advance. The crawl engine pays step 2 alone: its
planning collect already aggregates ``key_sample`` over the discover
rows' ``seq``, and every child's ``parent_seq`` is one of those seqs,
so those bounds (key prefixes) bucket the children. ANY bounds yield
the same seqs — bounds only choose the bucketing; the numbering is
fixed by the global key order.

Why not ``repartitionByRange`` + ``spark_partition_id``: Spark samples
range bounds PER JOB (the sampling seed derives from the physical
RDD, which every action rebuilds), so the count pass and the numbering
pass — and any later re-evaluation of the result — can disagree about
partition boundaries, silently corrupting the sequence. Literal
bounds + a bucket COLUMN make every pass, and every re-evaluation,
see the same bucketing.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SAMPLE_MOD = 1024     # systematic sample thins to ~n/1024 candidates
SAMPLE_PER_PART = 256  # per-group cap: driver sees O(groups * 256)


def _lex_ge(cols: list[Column], vals: tuple) -> Column:
    """Lexicographic (c0,c1,..) >= (v0,v1,..) as a codegen-able expr;
    a shorter ``vals`` compares a key prefix."""
    prefix_eq = F.lit(True)
    gt = F.lit(False)
    for c, v in zip(cols, vals):
        gt = gt | (prefix_eq & (c > F.lit(v)))
        prefix_eq = prefix_eq & (c == F.lit(v))
    return gt | prefix_eq


def key_sample(keys: list[Column]) -> Column:
    """Aggregate Column: a deterministic BOUNDED sample of ``keys`` per
    group (no RNG, no seed). The pmod filter thins to ~n/SAMPLE_MOD
    candidates; the min-hash truncation (sort by hash, keep the
    SAMPLE_PER_PART smallest) bounds what crosses the final exchange
    and lands on the driver to a constant per group — an unbounded
    n/1024 sample is ~10^7 structs (GBs) through a single reduce task
    at the 10^10 design point. Truncating by smallest hash keeps the
    subsample uniform over the key space."""
    h = F.xxhash64(*keys)
    return F.slice(
        F.array_sort(F.collect_list(
            F.when(F.pmod(h, F.lit(SAMPLE_MOD)) == 0,
                   F.struct(h.alias("_h"), F.struct(*keys).alias("_k"))))),
        1, SAMPLE_PER_PART)


def pick_bounds(sample: list, parts: int) -> list[tuple]:
    """Strictly increasing key tuples that split the collected
    ``key_sample`` structs into at most ``parts`` buckets."""
    keys = sorted(tuple(s["_k"]) for s in sample)
    bounds: list[tuple] = []
    for i in range(1, parts):
        j = (i * len(keys)) // parts
        if 0 < j < len(keys) and (not bounds or keys[j] > bounds[-1]):
            bounds.append(keys[j])
    return bounds


def sample_bounds(df: DataFrame, order_by: list[str]) -> list[tuple]:
    """Bound sampling: one job aggregates ``key_sample`` per input
    partition, so the driver sees O(parts * SAMPLE_PER_PART) keys."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    rows = df.groupBy(F.spark_partition_id()).agg(
        key_sample([F.col(c) for c in order_by]).alias("s")).collect()
    return pick_bounds([s for r in rows for s in r["s"]], parts)


def number_by_bounds(df: DataFrame, order_by: list[str],
                     bounds: list[tuple], start: int = 0,
                     out_col: str = "seq", gate_col: str | None = None,
                     set_col: str | None = None
                     ) -> tuple[DataFrame, dict]:
    """Numbering against literal ``bounds`` (key tuples or key
    prefixes, strictly increasing). Adds ``out_col`` = start + 0-based
    dense rank of the row in the global (order_by) ordering; order_by
    must be a unique, non-null composite key. The result is safe to
    re-evaluate (every plan input is a frozen literal).

    One per-bucket aggregate is the only driver job. With ``gate_col``
    only rows whose boolean ``gate_col`` is true are numbered and
    returned (the column is dropped). Returns ``(frame, stats)`` with
    ``stats = {"n": gated count, "n_all": total count, "set": distinct
    set_col values over all rows}``; ``set_col`` values are
    collect_set'd per bucket — fine for host_bucket (<= 1024 values),
    wrong for high-cardinality columns."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    keys = [F.col(c) for c in order_by]
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(_lex_ge(keys, b), 1).otherwise(0)
    work = df.withColumn("_bkt", bucket.cast("int"))
    gate = (F.col(gate_col).cast("boolean") if gate_col is not None
            else F.lit(True))
    aggs = [F.count(F.when(gate, 1)).alias("n"),
            F.count(F.lit(1)).alias("n_all")]
    if set_col is not None:
        aggs.append(F.collect_set(set_col).alias("_set"))
    rows = sorted(work.groupBy("_bkt").agg(*aggs).collect())
    stats = {"n": sum(r["n"] for r in rows),
             "n_all": sum(r["n_all"] for r in rows),
             "set": ({v for r in rows for v in r["_set"]}
                     if set_col is not None else set())}
    if gate_col is not None:
        work = work.where(gate).drop(gate_col)
    if stats["n"] == 0:
        return (work.drop("_bkt")
                .withColumn(out_col, F.lit(start).cast("long")), stats)
    offsets: dict[int, int] = {}
    acc = start
    for r in rows:
        offsets[r["_bkt"]] = acc
        acc += r["n"]

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local: dict[int, int] = {}
        for b in batches:
            if len(b) == 0:
                continue
            seqs = []
            # buckets are contiguous after the sort; iterate groups in
            # encounter order and number within each
            for bkt, g in b.groupby("_bkt", sort=False):
                base = offsets[int(bkt)] + local.get(int(bkt), 0)
                seqs.append(pd.Series(base + pd.RangeIndex(len(g)),
                                      index=g.index))
                local[int(bkt)] = local.get(int(bkt), 0) + len(g)
            b = b.drop(columns=["_bkt"])
            b[out_col] = pd.concat(seqs).sort_index()
            yield b

    schema = T.StructType(work.drop("_bkt").schema.fields
                          + [T.StructField(out_col, T.LongType())])
    out = (
        work.repartition(min(parts, len(bounds) + 1), "_bkt")
        .sortWithinPartitions("_bkt", *keys)
        .mapInPandas(number, schema)
    )
    return out, stats


def assign_global_seq(df: DataFrame, order_by: list[str], start: int = 0,
                      out_col: str = "seq") -> DataFrame:
    """``number_by_bounds`` over bounds sampled from ``df`` itself: two
    driver jobs (bound sample, per-bucket counts)."""
    return number_by_bounds(df, order_by, sample_bounds(df, order_by),
                            start, out_col)[0]
