"""Approximate-nearest-neighbor search over embedding columns.

Scale-path component for training-data pipelines (no reference
counterpart — the reference stores no vectors). Two strategies:

- ``brute_topk``: exact cosine top-k, query-set x corpus join. The
  baseline and the verifier for the approximate path. All arithmetic
  is JVM-side (zip_with/aggregate fold in double precision), bit-
  reproducible in the DuckDB oracle (same sequential fold).
- ``lsh_topk``: random-hyperplane LSH — sign-bit bucket key, candidate
  generation by bucket equi-join (optionally multi-probe over bands of
  the signature), exact cosine re-rank within candidates. At 10^10
  vectors the bucket join shuffles only (bucket_key), never quadratic.
- ``ivf_topk``: inverted-file index — the corpus is partitioned into
  NLIST cells by nearest pivot vector; a query probes only its NPROBE
  nearest cells. Pivots are chosen by a deterministic hash-systematic
  rule (no RNG, no iteration) so the whole index build is a pure
  function of the data and the DuckDB oracle reproduces it exactly.

Hyperplanes are pseudo-random but *arithmetically* derived (no RNG
state) so the oracle reproduces them. The sign-bit arithmetic is
INTEGER-EXACT: plane coefficients are odd integers
(2*((p*DIM+d)*KNUTH mod 1000) - 999 in [-999, 999]) and vectors are
quantized as floor(v * 2^20), so the bit is the sign of an int64 sum —
identical under ANY summation order. That frees the Spark side to
compute all signatures in one Arrow-batched numpy matmul (the
float-fold spelling cost ~2.4 s of interpreted higher-order exprs per
2k vectors) while DuckDB folds sequentially, with zero cross-engine
divergence risk. Quantization error (<=2^-20 per element against
odd-integer planes) is orders of magnitude below the hash family's
own noise floor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import KNUTH

N_PLANES = 20
BAND_BITS = 5          # join on BAND_BITS-bit bands of the signature
PROBE_RADIUS = 2       # query-side multi-probe: also join every band code
                       # within this Hamming distance. recall@5 vs the
                       # exact brute-force top-5 on the sf0.1 test
                       # embeddings (near-random vectors, the hardest
                       # case for sublinear ANN): 0.46 (12/4/r0) ->
                       # 0.94 (20/5/r2), at a candidate fraction of
                       # ~0.83 — the honest trade on structure-free
                       # data; clustered real embeddings hit the same
                       # recall far cheaper. Measured by replaying this
                       # integer-quantized hash family in numpy over a
                       # planes/band-bits/radius grid.


QUANT = 1 << 20        # vector quantization scale for integer sign bits


def _plane_int(p: int, dim: int) -> list[int]:
    """Odd-integer plane coefficients in [-999, 999] (never 0) —
    direction identical to the historical float planes (same affine
    map), but the dot against quantized vectors is int64-exact."""
    return [2 * ((p * dim + d) * KNUTH % 1000) - 999 for d in range(dim)]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    """Exact cosine in double precision; sequential left-fold so the
    oracle (same fold) is bit-identical."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (F.sqrt(_dot(ad, ad)) * F.sqrt(_dot(bd, bd)))


def cosine_sql(a: str, b: str, dim: int) -> str:
    def dot(x, y):
        return (f"list_reduce([0.0] || [{x}[i]::DOUBLE * {y}[i]::DOUBLE "
                f"for i in range(1, {dim + 1})], (p, q) -> p + q)")
    return (f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))")


def brute_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k per query vector (self-matches excluded).
    Returns (query_id, neighbor_id, rank, cosine_sim). Norms are
    precomputed map-side on each input (N + M dots, not N*M*3); the
    corpus side streams through a broadcast of the (small) query set —
    at scale the roles flip or the LSH path takes over."""
    def prep(df: DataFrame, role: str) -> DataFrame:
        if role == "neighbor":   # corpus side carries the per-pair work
            df = df.repartition(
                df.sparkSession.sparkContext.defaultParallelism)
        dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        return df.select(
            F.col(id_col).alias(f"{role}_id"), dv.alias(f"_{role}v"),
        ).withColumn(f"_{role}n", F.sqrt(_dot(F.col(f"_{role}v"),
                                              F.col(f"_{role}v"))))

    q, c = prep(queries, "query"), prep(corpus, "neighbor")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim",
                    _dot(F.col("_queryv"), F.col("_neighborv"))
                    / (F.col("_queryn") * F.col("_neighborn")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def brute_topk_sql(q_table: str, c_table: str, dim: int, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    cos = cosine_sql(f"q.{vec_col}", f"c.{vec_col}", dim)
    return f"""
WITH scored AS (
  SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id,
         {cos} AS cosine_sim,
         row_number() OVER (PARTITION BY q.{id_col}
                            ORDER BY {cos} DESC, c.{id_col} ASC) AS rank
  FROM {q_table} q CROSS JOIN {c_table} c
  WHERE q.{id_col} != c.{id_col}
)
SELECT query_id, neighbor_id, rank, cosine_sim FROM scored WHERE rank <= {k}
"""


_SIG_UDF_CACHE: dict = {}


def _signature_udf(dim: int, n_planes: int):
    """Arrow-batched signature kernel: all sign bits in one int64
    matmul per batch. floor(v * 2^20) and the odd-integer planes make
    the sum order-independent and |sum| < 2^37, so numpy's pairwise
    matmul, DuckDB's sequential fold, and any cluster reduction agree
    bit-for-bit — the exactness argument that lets the hot path leave
    interpreted higher-order exprs (measured 2.4 s -> ~0.1 s per 2k
    vectors)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    key = (dim, n_planes)
    if key not in _SIG_UDF_CACHE:
        P = np.array([_plane_int(p, dim) for p in range(n_planes)],
                     dtype=np.int64).T              # dim x planes

        def sig_kernel(vec):
            if len(vec) == 0:
                return pd.Series([], dtype=object)
            V = np.stack(vec.to_numpy()).astype(np.float64)
            Q = np.floor(V * QUANT).astype(np.int64)
            bits = (Q @ P >= 0).astype(np.int32)
            return pd.Series(list(bits))

        _SIG_UDF_CACHE[key] = F.pandas_udf(
            sig_kernel, ArrayType(IntegerType()))
    return _SIG_UDF_CACHE[key]


def _probe_flipsets(band_bits: int, radius: int) -> list[tuple[int, ...]]:
    """All bit-position sets of size <= radius — the Hamming ball the
    query side probes. radius=0 -> just the exact code."""
    sets: list[tuple[int, ...]] = [()]
    if radius >= 1:
        sets += [(i,) for i in range(band_bits)]
    if radius >= 2:
        sets += [(i, j) for i in range(band_bits)
                 for j in range(i + 1, band_bits)]
    return sets


def _probe_masks(band_bits: int, radius: int) -> list[int]:
    """The flipsets as XOR masks over the integer band code (bit i of
    the code sits at place band_bits-1-i), sorted for determinism."""
    return sorted(sum(1 << (band_bits - 1 - i) for i in fs)
                  for fs in _probe_flipsets(band_bits, radius))


def lsh_signatures(df: DataFrame, dim: int, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   repartition: bool = True) -> DataFrame:
    """(id, sig ARRAY<INT>, bucket STRING) — map-only signature stage.
    Input repartitioned to cluster parallelism: small single-file
    inputs would otherwise single-thread the hyperplane dot products.
    Pass repartition=False for a side that is small by contract (e.g.
    the broadcast query set) — the shuffle would cost more than the
    dots."""
    if repartition:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sig = _signature_udf(dim, N_PLANES)(F.col(vec_col))
    return df.select(
        F.col(id_col), F.col(vec_col), sig.alias("sig"),
    ).withColumn(
        "bucket",
        F.concat_ws("", *[F.element_at(F.col("sig"), i + 1).cast("string")
                          for i in range(N_PLANES)]))


def lsh_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             probe_radius: int = PROBE_RADIUS) -> DataFrame:
    """ANN top-k: candidates share at least one BAND_BITS-bit band of
    the hyperplane signature, with QUERY-side Hamming multi-probe —
    each query band also joins every code within ``probe_radius`` bit
    flips (the recall knob; the flip variants are built statically at
    plan time, so the corpus side stays one exact code per band and
    the index is unchanged). Then exact cosine re-rank. Join key is
    (band_idx, band_bits): uniform, shuffle-friendly, no cross join
    anywhere; multi-probe multiplies only the QUERY side's band rows
    (x sum(C(band_bits, r)) for r <= radius), never the corpus.

    Shuffle discipline: the band join and the candidate `distinct()`
    carry ONLY ids — vectors would otherwise cross the wire once per
    band match AND sit inside the dedup's shuffle key (the round-1
    scale bug). Embeddings are joined back exactly once per unique
    candidate pair for the re-rank: query vectors via a broadcast
    (query set is small by contract), corpus vectors via one hash join
    on neighbor_id."""
    n_bands = N_PLANES // BAND_BITS

    def banded(df: DataFrame, role: str, radius: int = 0) -> DataFrame:
        # INTEGER band codes (shift-add over the sig bits) + XOR probe
        # masks: the whole band stage is a handful of small int exprs,
        # so it stays inside whole-stage codegen — the string-concat
        # spelling of the 64 probe variants blew the 64 KB codegen
        # limit and dropped the stage to interpreted mode.
        # repartition=False on BOTH sides: signatures are one numpy
        # matmul per Arrow batch, so the work per row is trivial and a
        # real warehouse scan already has file-level parallelism — the
        # explicit exchange only made sense when each signature cost 20
        # interpreted folds (measured: dropping it cut ~1.3 s of the
        # sf0.1 wall, and the first downstream shuffle re-spreads
        # anyway).
        s = lsh_signatures(df, dim, id_col, vec_col, repartition=False)
        codes = []
        for b in range(n_bands):
            code = F.lit(0)
            for i in range(BAND_BITS):
                code = code * 2 + F.element_at(F.col("sig"),
                                               b * BAND_BITS + i + 1)
            for m in _probe_masks(BAND_BITS, radius):
                codes.append(F.struct(
                    F.lit(b).alias("bi"),
                    code.bitwiseXOR(F.lit(m)).alias("bk")))
        return (s.select(F.col(id_col).alias(f"{role}_id"),
                         F.explode(F.array(*codes)).alias("_c"))
                .select(f"{role}_id",
                        F.col("_c.bi").alias("band_idx"),
                        F.col("_c.bk").alias("band_key")))

    # id-only candidate generation + dedup (narrow shuffles)
    cand = (
        banded(queries, "query", probe_radius)
        .join(banded(corpus, "neighbor"), ["band_idx", "band_key"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # vectors join back once per unique pair; norms are precomputed
    # once per VECTOR before the join (N + M sqrt-dots, not 2 more per
    # candidate pair) — same arithmetic as brute_topk's prep, so the
    # cosine value (hence the oracle hash) is bit-identical
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        dv.alias("_queryv")) \
        .withColumn("_queryn", F.sqrt(_dot(F.col("_queryv"),
                                           F.col("_queryv"))))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       dv.alias("_neighborv")) \
        .withColumn("_neighborn", F.sqrt(_dot(F.col("_neighborv"),
                                              F.col("_neighborv"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cosine_sim", _dot(F.col("_queryv"), F.col("_neighborv"))
                    / (F.col("_queryn") * F.col("_neighborn")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def embedding_near_dup_pairs(df: DataFrame, dim: int,
                             threshold: float = 0.9,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate detection: unordered id pairs
    (id_a < id_b) sharing at least one LSH band whose exact cosine
    meets the threshold. Candidate generation and dedup carry ONLY ids
    (one uniform band-key shuffle + one id-pair distinct); vectors join
    back once per unique pair for the exact verify — the corpus-scale
    member of the dedup family (docdedup.py covers text sketches)."""
    n_bands = N_PLANES // BAND_BITS

    def banded(role: str) -> DataFrame:
        s = lsh_signatures(df, dim, id_col, vec_col)
        return s.select(
            F.col(id_col).alias(role),
            F.posexplode(F.array(*[
                F.concat_ws("", *[
                    F.element_at(F.col("sig"), b * BAND_BITS + i + 1)
                    .cast("string") for i in range(BAND_BITS)])
                for b in range(n_bands)
            ])).alias("band_idx", "band_bits"))

    cand = (
        banded("id_a").join(banded("id_b"), ["band_idx", "band_bits"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # per-vector norms precomputed before the join (see lsh_topk)
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    va = df.select(F.col(id_col).alias("id_a"), dv.alias("_va")) \
        .withColumn("_na", F.sqrt(_dot(F.col("_va"), F.col("_va"))))
    vb = df.select(F.col(id_col).alias("id_b"), dv.alias("_vb")) \
        .withColumn("_nb", F.sqrt(_dot(F.col("_vb"), F.col("_vb"))))
    cos = (_dot(F.col("_va"), F.col("_vb"))
           / (F.col("_na") * F.col("_nb")))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine_sim", cos)
        .where(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def embedding_near_dup_sql(table: str, dim: int, threshold: float = 0.9,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> str:
    """DuckDB twin of embedding_near_dup_pairs (same planes/bands,
    same int64-exact sign-bit arithmetic)."""
    n_bands = N_PLANES // BAND_BITS

    def dot_plane(vec: str, p: int) -> str:
        plane = _plane_int(p, dim)
        terms = " + ".join(
            f"floor({vec}[{d + 1}]::DOUBLE * {QUANT})::BIGINT "
            f"* ({plane[d]})" for d in range(dim))
        return f"(0 + {terms})"

    def bit(vec: str, p: int) -> str:
        return f"CASE WHEN {dot_plane(vec, p)} >= 0 THEN '1' ELSE '0' END"

    def band_rows(role: str) -> str:
        sels = []
        for b in range(n_bands):
            key = " || ".join(bit(vec_col, b * BAND_BITS + i)
                              for i in range(BAND_BITS))
            sels.append(
                f"SELECT {id_col} AS {role}, {b} AS band_idx, "
                f"{key} AS band_bits FROM {table}")
        return " UNION ALL ".join(sels)

    cos = cosine_sql(f"a.{vec_col}", f"b.{vec_col}", dim)
    return f"""
WITH ba AS ({band_rows('id_a')}),
bb AS ({band_rows('id_b')}),
cand AS (
  SELECT DISTINCT id_a, id_b
  FROM ba JOIN bb ON ba.band_idx = bb.band_idx
                 AND ba.band_bits = bb.band_bits
  WHERE id_a < id_b
)
SELECT id_a, id_b, {cos} AS cosine_sim
FROM cand
JOIN {table} a ON a.{id_col} = cand.id_a
JOIN {table} b ON b.{id_col} = cand.id_b
WHERE {cos} >= {threshold}
"""


def lsh_topk_sql(q_table: str, c_table: str, dim: int, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 probe_radius: int = PROBE_RADIUS) -> str:
    """DuckDB twin of lsh_topk (same planes, bands, query-side Hamming
    multi-probe, re-rank). Sign bits are computed ONCE per vector in a
    sig CTE; the probe variants just flip precomputed bit columns, so
    the SQL stays compact at any radius."""
    n_bands = N_PLANES // BAND_BITS

    def dot_plane(vec: str, p: int) -> str:
        plane = _plane_int(p, dim)
        terms = " + ".join(
            f"floor({vec}[{d + 1}]::DOUBLE * {QUANT})::BIGINT "
            f"* ({plane[d]})" for d in range(dim))
        return f"(0 + {terms})"

    def bit(vec: str, p: int) -> str:
        return f"CASE WHEN {dot_plane(vec, p)} >= 0 THEN 1 ELSE 0 END"

    def sig_cols() -> str:
        return ", ".join(f"{bit(vec_col, p)} AS b{p}"
                         for p in range(N_PLANES))

    def band_code(b: int) -> str:
        return "(" + " + ".join(
            f"b{b * BAND_BITS + i} * {1 << (BAND_BITS - 1 - i)}"
            for i in range(BAND_BITS)) + ")"

    masks = ", ".join(str(m) for m in
                      _probe_masks(BAND_BITS, probe_radius))
    # probe variants via ONE mask unnest per band (not a UNION branch
    # per (band, mask) — 64 branches made DuckDB's planner the
    # bottleneck)
    qb = " UNION ALL ".join(
        f"SELECT query_id, {b} AS band_idx, "
        f"xor({band_code(b)}, mm.m) AS band_key "
        f"FROM qsig CROSS JOIN (SELECT unnest([{masks}]) AS m) mm"
        for b in range(n_bands))
    cb = " UNION ALL ".join(
        f"SELECT neighbor_id, {b} AS band_idx, "
        f"{band_code(b)} AS band_key FROM csig"
        for b in range(n_bands))
    cos = cosine_sql(f"q.{vec_col}", f"c.{vec_col}", dim)
    return f"""
WITH qsig AS (SELECT {id_col} AS query_id, {sig_cols()} FROM {q_table}),
csig AS (SELECT {id_col} AS neighbor_id, {sig_cols()} FROM {c_table}),
qb AS ({qb}),
cb AS ({cb}),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM qb JOIN cb ON qb.band_idx = cb.band_idx
                 AND qb.band_key = cb.band_key
  WHERE query_id != neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id, {cos} AS cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {cos} DESC, neighbor_id ASC) AS rank
  FROM cand
  JOIN {q_table} q ON q.{id_col} = cand.query_id
  JOIN {c_table} c ON c.{id_col} = cand.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine_sim FROM scored WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

NLIST = 16             # cells; scale as ~sqrt(N) on a real corpus
NPROBE = 10            # cells probed per query — the recall knob.
                       # Measured on the sandbox embeddings (near-
                       # random vectors): recall@5 0.52 (nprobe=4) ->
                       # 0.88 (nprobe=10) at sf0.1, re-rank touching
                       # ~nprobe/nlist = 62% of the corpus — the price
                       # of recall on structure-free data; on clustered
                       # real embeddings the same recall needs far
                       # fewer probes (the knob, not the architecture).
PIVOT_MOD = 1_000_003  # hash-systematic pivot selection modulus


def _pivot_key(id_col: Column) -> Column:
    """Deterministic pivot-selection key:
    (pmod(id, PIVOT_MOD) * KNUTH) % PIVOT_MOD. Plain integer
    arithmetic (no engine-specific hash) so the DuckDB twin computes
    the identical ordering. The id is reduced mod PIVOT_MOD BEFORE the
    multiply so the product stays < 2^52 for any int64 id — no
    overflow divergence between Spark (wrapping pmod) and DuckDB
    (raising %) at large id spaces (round-3 ADVICE)."""
    return F.pmod(
        F.pmod(id_col.cast("long"), F.lit(PIVOT_MOD)) * F.lit(KNUTH),
        F.lit(PIVOT_MOD))


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Driver-side dot with the SAME left-fold order as ``_dot`` /
    ``cosine_sql`` so pivot norms are bit-identical across engines."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def ivf_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             nlist: int = NLIST, nprobe: int = NPROBE) -> DataFrame:
    """IVF ANN top-k: (query_id, neighbor_id, rank, cosine_sim).

    Index build: NLIST pivot vectors are the corpus rows with the
    smallest hash-systematic key (TakeOrdered — one narrow top-k job,
    NLIST rows to the driver). Every corpus vector is assigned to its
    max-cosine pivot ENTIRELY map-side against the broadcast pivot
    literals — no shuffle, no cross join, no iteration; the inverted
    "list" is just a column. Query: the NPROBE highest-cosine cells
    are probed, so the re-rank touches ~nprobe/nlist of the corpus.

    Scale: the only shuffles are the (list_id) candidate equi-join and
    the per-query top-k window — both keyed uniformly (cells are
    hash-balanced pivots). At 10^10 vectors raise nlist toward
    sqrt(N); assignment cost is O(N * nlist * dim) map-side, the probe
    join is never quadratic. A Lloyd-refinement of the pivots is a
    drop-in (re-collect, re-assign) but is deliberately NOT the
    default: the unrefined index is a pure function of the data, which
    keeps the cross-engine oracle exact.
    """
    import math as _math

    pivots = (corpus
              .orderBy(_pivot_key(F.col(id_col)), F.col(id_col))
              .limit(nlist)
              .select(id_col, vec_col)
              .collect())
    pvecs = [[float(x) for x in r[vec_col]] for r in pivots]
    pnorms = [_math.sqrt(_fold_dot(v, v)) for v in pvecs]

    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def with_cells(df: DataFrame, role: str) -> DataFrame:
        if role == "neighbor":
            # only the corpus side needs the parallelism spread; the
            # query side is small by contract and broadcast below — a
            # repartition there is a pure extra stage
            df = df.repartition(
                df.sparkSession.sparkContext.defaultParallelism)
        df = df.select(F.col(id_col).alias(f"{role}_id"),
                       dv.alias(f"_{role}v"))
        df = df.withColumn(f"_{role}n",
                           F.sqrt(_dot(F.col(f"_{role}v"),
                                       F.col(f"_{role}v"))))
        pcos = F.array(*[
            _dot(F.col(f"_{role}v"),
                 F.array(*[F.lit(x) for x in pvecs[p]]))
            / (F.col(f"_{role}n") * F.lit(pnorms[p]))
            for p in range(nlist)])
        return df.withColumn("_pcos", pcos)

    # corpus: map-only argmax assignment (first index on ties == the
    # oracle's ORDER BY cos DESC, pidx ASC)
    c = (with_cells(corpus, "neighbor")
         .withColumn("list_id",
                     F.array_position(F.col("_pcos"),
                                      F.array_max(F.col("_pcos")))
                     .cast("int"))
         .select("neighbor_id", "_neighborv", "_neighborn", "list_id"))

    # queries: NPROBE best cells each (sort by (-cos, pidx) — Spark
    # normalizes -0.0 == 0.0 in comparisons, matching the oracle)
    probe_structs = F.array(*[
        F.struct((-F.element_at(F.col("_pcos"), p + 1)).alias("d"),
                 F.lit(p + 1).alias("p"))
        for p in range(nlist)])
    q = (with_cells(queries, "query")
         .withColumn("list_id",
                     F.explode(F.transform(
                         F.slice(F.array_sort(probe_structs), 1, nprobe),
                         lambda s: s["p"].cast("int"))))
         .select("query_id", "_queryv", "_queryn", "list_id"))

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        c.join(F.broadcast(q), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim",
                    _dot(F.col("_queryv"), F.col("_neighborv"))
                    / (F.col("_queryn") * F.col("_neighborn")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def ivf_topk_sql(q_table: str, c_table: str, dim: int, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 nlist: int = NLIST, nprobe: int = NPROBE) -> str:
    """DuckDB twin of ivf_topk (same pivots, assignment, probes)."""
    key = f"((({id_col} % {PIVOT_MOD}) * {KNUTH}) % {PIVOT_MOD})"
    cos_cp = cosine_sql(f"c.{vec_col}", "p.pv", dim)
    cos_qp = cosine_sql(f"q.{vec_col}", "p.pv", dim)
    cos_qn = cosine_sql("qv", "nv", dim)
    return f"""
WITH piv AS (
  SELECT row_number() OVER (ORDER BY {key}, {id_col}) AS pidx,
         {vec_col} AS pv
  FROM (SELECT {id_col}, {vec_col} FROM {c_table}
        ORDER BY {key}, {id_col} LIMIT {nlist})
),
assign AS (
  SELECT neighbor_id, nv, list_id FROM (
    SELECT c.{id_col} AS neighbor_id, c.{vec_col} AS nv, p.pidx AS list_id,
           row_number() OVER (PARTITION BY c.{id_col}
                              ORDER BY {cos_cp} DESC, p.pidx ASC) AS rn
    FROM {c_table} c CROSS JOIN piv p) WHERE rn = 1
),
probe AS (
  SELECT query_id, qv, list_id FROM (
    SELECT q.{id_col} AS query_id, q.{vec_col} AS qv, p.pidx AS list_id,
           row_number() OVER (PARTITION BY q.{id_col}
                              ORDER BY {cos_qp} DESC, p.pidx ASC) AS rn
    FROM {q_table} q CROSS JOIN piv p) WHERE rn <= {nprobe}
),
scored AS (
  SELECT query_id, neighbor_id, {cos_qn} AS cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {cos_qn} DESC, neighbor_id ASC) AS rank
  FROM probe JOIN assign USING (list_id)
  WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine_sim FROM scored WHERE rank <= {k}
"""
