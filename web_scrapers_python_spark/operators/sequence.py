"""Deterministic global FIFO sequencing (SURVEY §2.6 O1, §4.2.3).

The reference frontier is a FIFO queue: seeds in file order, then
discovered links in (parent fetch order, link position) order. The
distributed equivalent needs a dense, deterministic, global sequence
for each round's newly discovered batch — NOT
``monotonically_increasing_id`` (partition-dependent) and NOT a
single-partition global window (driver-size bottleneck at 10^10).

``assign_global_seq`` is a zipWithIndex-style plan with EXPLICIT,
deterministic range buckets:

1. a deterministic hash-systematic sample of the order keys picks
   literal bucket bounds (collected once, frozen into the plan);
2. each row's bucket is a codegen'd when-ladder against those bounds;
3. per-bucket counts (one small aggregate → driver) give each bucket's
   global offset;
4. rows shuffle once on the bucket id and are numbered map-side
   (mapInPandas) inside their sorted bucket.

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

SAMPLE_MOD = 1024     # systematic sample thins to ~n/1024 candidates
SAMPLE_PER_PART = 256  # per-partition cap: driver sees O(parts * 256)


def _lex_ge(cols: list[Column], vals: tuple) -> Column:
    """Lexicographic (c0,c1,..) >= (v0,v1,..) as a codegen-able expr."""
    prefix_eq = F.lit(True)
    gt = F.lit(False)
    for c, v in zip(cols, vals):
        gt = gt | (prefix_eq & (c > F.lit(v)))
        prefix_eq = prefix_eq & (c == F.lit(v))
    return gt | prefix_eq


def assign_global_seq(df: DataFrame, order_by: list[str], start: int = 0,
                      out_col: str = "seq",
                      gate_col: str | None = None,
                      set_col: str | None = None):
    """Add ``out_col`` = start + 0-based dense rank of the row in the
    global (order_by) ordering. order_by must be a unique, non-null
    composite key for determinism. The result is safe to re-evaluate
    (all plan inputs are frozen literals). Planning is two driver jobs
    total: one fused count+bound-sample aggregate, one per-bucket count.

    ``gate_col`` fuses a caller-side filter INTO the planning pass:
    only rows where the boolean ``gate_col`` is true are sequenced and
    returned (the column is dropped), but the first planning job
    aggregates over ALL input rows and the call returns ``(out,
    stats)`` with ``stats = {"n": gated count, "n_all": total count,
    "set": distinct set_col values over all rows}``. The crawl engine
    uses this to fold its links-discovered count + touched-bucket set
    (previously a separate job over the child frame) into the planning
    barrier the sequencer pays anyway — one fewer driver round-trip per
    discovery round on real executors. ``set_col`` values are
    collect_set'd per input partition and unioned driver-side:
    bounded at O(parts * |domain|) — fine for host_bucket (<= 1024
    values), wrong for high-cardinality columns."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    keys = [F.col(c) for c in order_by]
    gate = F.col(gate_col).cast("boolean") if gate_col is not None else None

    # one job: row count + deterministic BOUNDED key sample (no RNG, no
    # seed). The pmod filter thins to ~n/SAMPLE_MOD candidates; the
    # per-partition min-hash truncation (sort by hash, keep the
    # SAMPLE_PER_PART smallest) bounds what crosses the final exchange
    # and lands on the driver to O(parts * constant) structs — an
    # unbounded n/1024 sample is ~10^7 structs (GBs) through a single
    # reduce task at the 10^10 design point. Truncating by smallest
    # hash keeps the subsample uniform over the key space, and ANY
    # valid sample yields the same final seq (bounds only choose the
    # bucketing; the numbering is fixed by the global key order).
    h = F.xxhash64(*keys)
    samp_cond = F.pmod(h, F.lit(SAMPLE_MOD)) == 0
    if gate is not None:
        samp_cond = gate & samp_cond
    aggs = [
        (F.count(F.when(gate, F.lit(1))) if gate is not None
         else F.count(F.lit(1))).alias("n"),
        F.slice(
            F.array_sort(F.collect_list(
                F.when(samp_cond,
                       F.struct(h.alias("_h"),
                                F.struct(*keys).alias("_k"))))),
            1, SAMPLE_PER_PART).alias("sample"),
    ]
    if gate is not None:
        aggs.append(F.count(F.lit(1)).alias("n_all"))
        if set_col is not None:
            aggs.append(F.collect_set(set_col).alias("_set"))
    part_stats = df.groupBy(F.spark_partition_id().alias("_pid")).agg(
        *aggs).collect()
    n = int(sum(r["n"] for r in part_stats))
    stats = None
    if gate is not None:
        stats = {
            "n": n,
            "n_all": int(sum(r["n_all"] for r in part_stats)),
            "set": ({v for r in part_stats for v in r["_set"]}
                    if set_col is not None else set()),
        }
        df = df.where(F.col(gate_col)).drop(gate_col)
    if n == 0:
        out = df.withColumn(out_col, F.lit(start).cast("long"))
        return (out, stats) if gate is not None else out
    sample = sorted(tuple(s["_k"]) for r in part_stats for s in r["sample"])
    bounds: list[tuple] = []
    for i in range(1, parts):
        j = (i * len(sample)) // parts
        if 0 < j < len(sample):
            b = sample[j]
            if not bounds or b > bounds[-1]:
                bounds.append(b)

    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(_lex_ge(keys, b), 1).otherwise(0)
    work = df.withColumn("_bkt", bucket.cast("int"))

    counts = {
        r["_bkt"]: r["cnt"]
        for r in work.groupBy("_bkt").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = start
    for bkt in sorted(counts):
        offsets[bkt] = acc
        acc += counts[bkt]

    schema = df.schema.add(out_col, "long")

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

    out = (
        work.repartition(min(parts, len(bounds) + 1), "_bkt")
        .sortWithinPartitions("_bkt", *keys)
        .mapInPandas(number, schema)
    )
    return (out, stats) if gate is not None else out
