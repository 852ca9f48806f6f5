"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk``: brute-force top-k — the exactness baseline.  The query
  side is collected/broadcast (query sets are small); the corpus side
  streams through one scan, so the cost is O(|corpus| * |queries|) FLOPs
  with NO shuffle except the final per-query top-k (TakeOrdered-style).
- ``lsh_topk``: random-hyperplane LSH — sign-bit signatures bucketed into
  bands; candidates only join within matching buckets.  The scale path:
  at 100 TB the corpus never self-joins, it equi-joins on (band, bucket).

Dot products use higher-order array functions (zip_with + aggregate) —
JVM-side, no Python/Arrow round trip.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: zero-norm vectors yield null similarity (ranked last)
    # instead of an ANSI division-by-zero error
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int | None = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Returns (query_id, vec_id, rank, sim).  The join is a broadcast
    nested-loop (queries broadcast), then one shuffle for the per-query
    top-k window.  Deterministic: ties break by vec_id.  ``k=None``
    returns ALL ranked candidates (downstream operators — e.g.
    hard-negative mining — apply their own filtered cut).
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
    joined = c.crossJoin(F.broadcast(q))
    if not include_self:
        joined = joined.where(F.col("vec_id") != F.col("query_id"))
    sims = joined.select(
        "query_id",
        "vec_id",
        cosine(F.col("qv"), F.col("cv")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    ranked = sims.withColumn("rank", F.row_number().over(w))
    if k is not None:
        ranked = ranked.where(F.col("rank") <= k)
    return ranked.select("query_id", "vec_id", "rank", "sim")


def hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def _dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`_dot` (mirrors the Column form token for
    token)."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def lsh_signature(vec: str, planes: list[list[float]]) -> Column:
    """Sign-bit signature of the vector column ``vec``: bit i is set when
    the vector's dot product with ``planes[i]`` is >= 0 (BIGINT)."""
    from janus_spark.datapipe.exprcache import (
        cached_expr,
        float_array_sql,
        qident,
    )

    terms = ["CAST(0 AS BIGINT)"]
    for i, p in enumerate(planes):
        bit = (
            f"CASE WHEN {_dot_sql(qident(vec), float_array_sql(p))} >= 0 "
            "THEN 1 ELSE 0 END"
        )
        terms.append(f"CAST({bit} AS BIGINT) * CAST({1 << i} AS BIGINT)")
    return cached_expr(" + ".join(terms))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_band: int = 8,
    bands: int = 4,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share >= 1 LSH band bucket with the
    query, then exact cosine rank within candidates."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(dim, bits_per_band * bands, seed)

    def banded(df: DataFrame, idc: str, vc: str, out_id: str, out_vec: str) -> DataFrame:
        sig_cols = []
        for b in range(bands):
            ps = planes[b * bits_per_band : (b + 1) * bits_per_band]
            sig_cols.append(F.struct(F.lit(b).alias("band"), lsh_signature(vc, ps).alias("bh")))
        return df.select(
            F.col(idc).alias(out_id),
            F.col(vc).alias(out_vec),
            F.explode(F.array(*sig_cols)).alias("bb"),
        ).select(out_id, out_vec, "bb.band", "bb.bh")

    cb = banded(corpus, id_col, vec_col, "vec_id", "cv")
    qb = banded(queries, id_col, vec_col, "query_id", "qv")
    cand = (
        cb.join(F.broadcast(qb), on=["band", "bh"])
        .where(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    sims = cand.select("query_id", "vec_id", cosine(F.col("qv"), F.col("cv")).alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def _cell_sims(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of (sim, cell) structs — cosine of ``vec`` against every
    centroid, as pure Column expressions (centroids are literals, so the
    assignment is map-only: NO shuffle, no Python)."""
    from janus_spark.datapipe.exprcache import cached_expr, nested_float_array_sql

    cb = cached_expr(nested_float_array_sql(centroids))
    # one indexed transform over a nested-array literal instead of
    # n_cells unrolled struct branches — identical (sim, cell) structs in
    # identical order, ~n_cells× smaller codegen tree (same fix as
    # pq_codes; the unrolled form spent seconds in analysis/compile)
    return F.transform(
        cb,
        lambda c, i: F.struct(
            # zero-norm vectors get sim -2 so struct-compare stays total
            F.coalesce(cosine(vec, c), F.lit(-2.0)).alias("sim"),
            i.alias("cell"),
        ),
    )


def nearest_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the highest-cosine centroid (ties -> highest cell id,
    irrelevant in practice; struct array_max compares sim first)."""
    return F.array_max(_cell_sims(vec, centroids))["cell"]


def probe_cells(vec: Column, centroids: list[list[float]], nprobe: int) -> Column:
    """The ``nprobe`` nearest cell ids, best first."""
    top = F.slice(F.reverse(F.array_sort(_cell_sims(vec, centroids))), 1, nprobe)
    return F.transform(top, lambda s: s["cell"])


def _md5_seed_rows(
    corpus: DataFrame, n: int, id_col: str, vec_col: str
) -> list:
    """The shared md5-hash-ordered coreset sample that seeds both
    ``ivf_train`` and ``pq_train`` — ONE TakeOrdered job; callers that
    need both models over the same corpus (``ivfadc_topk``) collect
    ``max(n_cells, k_codes)`` rows once and slice, instead of running
    the seed job twice (identical rows by the total (md5, id) order)."""
    return (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(n)
        .collect()
    )


def ivf_train(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    seed_rows: list | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd k-means over the corpus -> centroid list.

    Init is a hash-ordered sample (md5 of the id — the cross-engine
    ordering a DuckDB oracle can reproduce; ``iters=0`` returns the raw
    seed sample, which is what the oracle-exact IVF gate uses), so
    training is reproducible without any RNG state.  Each iteration is ONE shuffle
    (groupBy cell,dim avg) and collects only n_cells * dim floats to the
    driver.  At 100 TB you train on ``corpus.sample(...)`` — centroid
    quality needs thousands of points per cell, not the full corpus —
    and the result is still just literals broadcast inside the plan.
    """
    if seed_rows is None:
        seed_rows = _md5_seed_rows(corpus, n_cells, id_col, vec_col)
    centroids = [list(r.v) for r in seed_rows[:n_cells]]
    for _ in range(iters):
        assigned = corpus.select(
            nearest_cell(F.col(vec_col), centroids).alias("cell"),
            F.col(vec_col).alias("v"),
        )
        rows = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda s: s["m"]).alias("c"))
            .collect()
        )
        for r in rows:  # cells that lost every member keep their centroid
            centroids[r.cell] = list(r.c)
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are assigned to their nearest
    centroid's inverted list; each query probes its ``nprobe`` nearest
    cells and exact-cosine-ranks only those candidates.

    Scale path: assignment is map-only (centroid literals), the candidate
    join shuffles the corpus ONCE on ``cell`` (or zero times if the
    inverted lists are pre-bucketed on disk), and the query side is
    broadcast.  ``nprobe = n_cells`` degrades to exact search — the
    correctness anchor used by the tests.
    """
    if centroids is None:
        centroids = ivf_train(corpus, n_cells, id_col, vec_col, iters)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        nearest_cell(F.col(vec_col), centroids).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_cells(F.col(vec_col), centroids, nprobe)).alias("cell"),
    )
    cand = (
        c.join(F.broadcast(q), on="cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cosine(F.col("qv"), F.col("cv")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as a left-fold — fixed evaluation order so a
    SQL oracle can reproduce the float result bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 0,
    seed_rows: list | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the vector is split into ``m``
    contiguous subspaces and each subspace gets ``k_codes`` centroids.
    Seeding is the same md5-hash-ordered coreset as ``ivf_train`` with
    ``iters=0`` — the sampled rows' subvectors ARE the codebooks, so
    training is RNG-free and an oracle can re-derive it in SQL (the form
    the exact gate pins).

    ``iters > 0`` runs per-subspace Lloyd refinement — ALL subspaces in
    one pass per iteration: encode (map-only against current literals)
    → posexplode (subspace, code, position) → one groupBy avg, so an
    iteration costs ONE shuffle of (m·k_codes·d_sub) partial sums
    regardless of corpus size, and collects only codebook-sized floats.
    Same deterministic-given-init property as ``ivf_train``.

    Returns ``codebooks[j][c]`` = centroid ``c`` of subspace ``j``."""
    rows = (
        seed_rows[:k_codes]
        if seed_rows is not None
        else _md5_seed_rows(corpus, k_codes, id_col, vec_col)
    )
    dim = len(rows[0].v)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    cbs = [[[float(x) for x in list(r.v)[j * d : (j + 1) * d]] for r in rows] for j in range(m)]
    for _ in range(iters):
        enc = corpus.select(
            pq_codes(F.col(vec_col), cbs).alias("codes"), F.col(vec_col).alias("v")
        )
        parts = (
            enc.select(F.posexplode("codes").alias("j", "code"), "v")
            .select("j", "code", F.posexplode(F.slice("v", F.col("j") * d + 1, F.lit(d))).alias("pos", "x"))
            .groupBy("j", "code", "pos")
            .agg(F.avg("x").alias("mval"))
            .collect()
        )
        for r in parts:  # codes that lost every member keep their centroid
            cbs[r.j][r.code][r.pos] = float(r.mval)
    return cbs


def pq_codes(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """Encode a vector into its ``m`` nearest-codeword indices (squared-L2
    per subspace, ties → lowest code).  Pure Column arithmetic against
    codebook literals: encoding is map-only, NO shuffle, no Python — the
    same centroids-as-literals trick as IVF cell assignment."""
    from janus_spark.datapipe.exprcache import cached_expr, nested_float_array_sql

    d = len(codebooks[0][0])
    codes = []
    for j, cb in enumerate(codebooks):
        sub = F.slice(vec, j * d + 1, d)
        cb_lit = cached_expr(nested_float_array_sql(cb))
        # ONE transform lambda over a nested-array literal instead of
        # k_codes unrolled struct branches: identical argmin (ties →
        # first position = lowest code, same as the (dist, code) struct
        # ordering) but the codegen tree shrinks ~k_codes× — the
        # unrolled form cost ~4 s of analysis/compile per query at
        # m=4, k=16 before a single row moved
        dists = F.transform(cb_lit, lambda c: _l2sq(sub, c))
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*codes)


def _adc_table(qv: Column, codebooks: list[list[list[float]]]) -> Column:
    """Per-QUERY ADC lookup table (the distance-table half of Jégou et
    al. 2011): ``tab[j][c] = dot(q_j, codebook_j[c])`` — m × k_codes
    doubles, computed ONCE per query row on the tiny broadcast side, so
    each of the O(|corpus| · |queries|) candidate pairs pays m array
    lookups + (m−1) adds instead of m zip_with-allocating dot folds.
    Every entry is the exact ``_dot`` expression the per-pair form
    evaluated, so the looked-up double is bit-identical."""
    d = len(codebooks[0][0])
    from janus_spark.datapipe.exprcache import cached_expr, nested_float_array_sql

    tabs = []
    for j, cb in enumerate(codebooks):
        subq = F.slice(qv, j * d + 1, d)
        cb_lit = cached_expr(nested_float_array_sql(cb))
        tabs.append(F.transform(cb_lit, lambda c: _dot(subq, c)))
    return F.array(*tabs)


def _adc_dot_from_table(codes: Column, qtab: Column, m: int) -> Column:
    """Σ_j tab[j][code_j] over a precomputed ``_adc_table`` column —
    same left-to-right addition order as the per-pair Σ_j dot(q_j,
    codebook_j[code_j]) form the oracles spell out, so the float result
    is identical."""
    adc = None
    for j in range(m):
        contrib = F.element_at(
            F.element_at(qtab, j + 1), F.element_at(codes, j + 1) + 1
        )
        adc = contrib if adc is None else adc + contrib
    return adc


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    rerank: int = 0,
    iters: int = 0,
) -> DataFrame:
    """Product-quantization ANN top-k by asymmetric distance computation
    (ADC, Jégou et al. 2011): corpus vectors are stored as ``m`` one-byte
    codes, the query stays full-precision, and the approximate inner
    product is ``Σ_j  dot(q_j, codebook_j[code_j(x)])``.

    THE memory-compression scale path: a 64-dim float vector (256 B)
    becomes ``m`` bytes (64× here) — at 100 TB of raw embeddings the
    encoded corpus is ~1.6 TB and fits hot across a cluster, turning ANN
    into a map-only scan of the codes table + a per-query top-k.  In
    production the encode runs ONCE at ingest (``pq_codes`` on write);
    the search never touches raw vectors except for the optional
    ``rerank`` step, which re-scores only the top ``rerank`` ADC
    candidates per query with exact cosine (one extra broadcast probe of
    the raw table, standard IVFADC practice).

    ``rerank=0`` ranks purely by ADC — deterministic and SQL-expressible,
    which is what the exact-oracle gate pins.  Ties break by vec_id.
    """
    if codebooks is None:
        codebooks = pq_train(corpus, m, k_codes, id_col, vec_col, iters=iters)
    d = len(codebooks[0][0])
    enc = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        pq_codes(F.col(vec_col), codebooks).alias("codes"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _adc_table(F.col(vec_col), codebooks).alias("qtab"),
    )
    joined = enc.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    adc = _adc_dot_from_table(F.col("codes"), F.col("qtab"), m)
    sims = joined.select("query_id", "vec_id", "qv", "cv", adc.alias("sim_adc"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim_adc").desc(), F.col("vec_id"))
    if rerank:
        cand = sims.withColumn("r", F.row_number().over(w)).where(F.col("r") <= rerank)
        exact = cand.select(
            "query_id", "vec_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
        )
        w2 = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
        return (
            exact.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "sim")
        )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.col("sim_adc").alias("sim"))
    )


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int = 0,
    residual: bool = False,
) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFADC architecture): corpus vectors
    live in inverted lists keyed by their nearest coarse centroid AND are
    stored as m-byte PQ codes; a query probes its ``nprobe`` nearest
    cells and ADC-scores only those cells' codes.

    This is the 100 TB search shape: the scan touches ``nprobe/n_cells``
    of a corpus that is itself 64× compressed — both reductions compose.
    Cell assignment and encoding are map-only (literals); the candidate
    join shuffles the codes table once on ``cell`` (zero times if the
    lists are pre-bucketed on disk); the query side is broadcast.
    ``rerank`` re-scores the top ADC candidates with exact cosine against
    the raw vectors.

    ``residual=True`` is classic IVFADC: codes quantize ``x − c_cell``
    (the part the coarse quantizer missed) with shared residual
    codebooks, and the score decomposes exactly as
    ``dot(q, x) ≈ dot(q, c_cell) + dot(q, r̂)`` — the first term is
    computed exactly per (query, cell), so only the residual carries
    quantization error.  Same plan shape (the residual is one extra
    map-side zip against a centroid literal).  ``residual=False`` codes
    raw vectors — simpler, and what the base gate pins.

    RNG-free end to end (md5-coreset centroids and codebooks), so the
    whole composition is SQL-reproducible — the gates are oracle-EXACT.
    """
    seed = None
    if centroids is None:
        # one TakeOrdered seed job serves BOTH models when the raw-vector
        # codebooks also need training (residual=False): the (md5, id)
        # order is total, so the top-max(n_cells, k_codes) prefix slices
        # into exactly the rows each train call would have collected
        if codebooks is None and not residual:
            seed = _md5_seed_rows(corpus, max(n_cells, k_codes), id_col, vec_col)
        centroids = ivf_train(corpus, n_cells, id_col, vec_col, iters=0, seed_rows=seed)
    from janus_spark.datapipe.exprcache import cached_expr, nested_float_array_sql

    cent_lit = cached_expr(nested_float_array_sql(centroids))
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        nearest_cell(F.col(vec_col), centroids).alias("cell"),
    )
    if residual:
        assigned = assigned.withColumn(
            "rv",
            F.zip_with(
                F.col("cv"),
                F.element_at(cent_lit, F.col("cell") + 1),
                lambda a, b: a.cast("double") - b,
            ),
        )
        if codebooks is None:
            res_frame = assigned.select(F.col("vec_id").alias(id_col), F.col("rv").alias(vec_col))
            codebooks = pq_train(res_frame, m, k_codes, id_col, vec_col)
        enc = assigned.withColumn("codes", pq_codes(F.col("rv"), codebooks)).drop("rv")
    else:
        if codebooks is None:
            codebooks = pq_train(corpus, m, k_codes, id_col, vec_col, seed_rows=seed)
        enc = assigned.withColumn("codes", pq_codes(F.col("cv"), codebooks))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _adc_table(F.col(vec_col), codebooks).alias("qtab"),
        F.explode(probe_cells(F.col(vec_col), centroids, nprobe)).alias("cell"),
    )
    score = _adc_dot_from_table(F.col("codes"), F.col("qtab"), m)
    if residual:
        score = _dot(F.col("qv"), F.element_at(cent_lit, F.col("cell") + 1)) + score
    cand = (
        enc.join(F.broadcast(q), on="cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qv", "cv", score.alias("sim_adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim_adc").desc(), F.col("vec_id"))
    if rerank:
        shortlist = cand.withColumn("r", F.row_number().over(w)).where(F.col("r") <= rerank)
        exact = shortlist.select(
            "query_id", "vec_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
        )
        w2 = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
        return (
            exact.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "sim")
        )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.col("sim_adc").alias("sim"))
    )


def _banded_signatures_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    bands: int,
    bits_per_band: int,
) -> DataFrame:
    """Banded sign-LSH signatures via ``mapInArrow`` + numpy — the
    vectorized form of the Column-expression fold, ~25× faster on the
    signature stage (the higher-order ``zip_with``/``aggregate`` dot is
    interpreted per element; an unrolled arithmetic expression was
    tried and OOMs janino compiling the 16k-term whole-stage class).

    BIT-IDENTICAL to the expression fold, which is what keeps the
    oracle SQL valid: the elementwise products are exact in either
    order, and ``np.add.accumulate`` is a strict left-to-right
    sequential sum by definition (it must produce every intermediate),
    i.e. the same ((0+x₁)+x₂)+… the ``F.aggregate`` fold computes —
    parity is pinned by a test.  This is also the 100 TB shape: dense
    linear algebra belongs in Arrow-batched numpy, not per-element
    Catalyst lambdas (same seam as the multimodal decode).

    Edge parity with the expression fold (pinned by tests):
    - the id column keeps ITS OWN type — the output schema mirrors the
      input and the repeated id array is built with pyarrow ``take``
      (nulls and strings round-trip);
    - a NULL / wrong-length / null-element vector folds to a null dot
      in the JVM, so every bit is 0 and bh = 0 — the kernel gives such
      rows bh 0 for every band;
    - NaN components: Spark treats NaN as larger than any numeric, so
      ``NaN >= 0`` is TRUE — the kernel computes bits as ``~(dot < 0)``
      which is True for NaN in numpy too."""
    import numpy as np
    import pyarrow as pa

    P = np.array(planes, dtype=np.float64)
    nplanes = bands * bits_per_band
    dim = P.shape[1]
    id_type = df.schema[id_col].dataType.simpleString()

    def _matrix(varr: "pa.Array", n: int):
        """(n, dim) float64 matrix + bool mask of conforming rows."""
        if varr.null_count == 0:
            flat = varr.flatten()
            # per-row length check (list_value_length is slice-safe and
            # covers List/LargeList/FixedSizeList): a total-length check
            # alone would let compensating ragged rows (dim-1 next to
            # dim+1) slip through the reshape and misalign every row after
            lens = pa.compute.list_value_length(varr)
            if (
                flat.null_count == 0
                and lens.null_count == 0
                and bool(
                    np.all(lens.to_numpy(zero_copy_only=False) == dim)
                )
            ):
                m = flat.to_numpy(zero_copy_only=False).astype(
                    np.float64, copy=False
                ).reshape(n, dim)
                return m, np.ones(n, dtype=bool)
        rows = varr.to_pylist()
        ok = np.array(
            [r is not None and len(r) == dim and None not in r for r in rows],
            dtype=bool,
        )
        m = np.zeros((len(rows), dim), dtype=np.float64)
        for i, r in enumerate(rows):
            if ok[i]:
                m[i] = r
        return m, ok

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            embs, ok = _matrix(batch.column("v"), n)
            signs = np.empty((n, nplanes), dtype=bool)
            for j in range(nplanes):
                dots = np.add.accumulate(embs * P[j], axis=1)[:, -1]
                signs[:, j] = ~(dots < 0.0)  # NaN >= 0 is TRUE in Spark
            bhs = np.zeros((n, bands), dtype=np.int64)
            for b in range(bands):
                for i in range(bits_per_band):
                    bhs[:, b] += signs[:, b * bits_per_band + i].astype(np.int64) << i
            bhs[~ok] = 0  # null/ragged vector: the JVM fold yields bh 0
            rep_idx = pa.array(np.repeat(np.arange(n, dtype=np.int64), bands))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("id").take(rep_idx),
                    pa.array(np.tile(np.arange(bands, dtype=np.int32), n)),
                    pa.array(bhs.reshape(-1)),
                ],
                names=["id", "band", "bh"],
            )

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return src.mapInArrow(gen, f"id {id_type}, band int, bh long")


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_threshold: float = 0.95,
    bits_per_band: int = 16,
    bands: int = 8,
    seed: int = 42,
    use_arrow: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, sim >= threshold) via
    self-LSH bucketing — the embedding leg of the dedup suite.

    ``bits_per_band`` is the candidate-volume knob and must grow with the
    corpus: expected bucket occupancy is ~n/2**bits per band (plus the
    structural collisions of genuinely-near vectors, which are the point),
    and candidate pairs grow with the square of occupancy.  8-bit bands at
    n=200k measured 822M candidate pair-occurrences on the clustered test
    corpus vs 84M at 16 bits — a 10x shuffle/spill difference before the
    verify joins even start.  Recall cost is small for a dedup threshold:
    a 0.99-cosine pair collides in a 16-bit band with p~0.48, so misses
    all 8 bands with p~0.4% (identical vectors always collide).
    """
    dim = len(df.select(vec_col).first()[0])
    planes = hyperplanes(dim, bits_per_band * bands, seed)
    # signatures are computed ONCE (both self-join sides read the
    # materialized frame, same move as the minhash/simhash joins) and the
    # candidate join + dedup shuffle carry ONLY ids — the raw vectors
    # (the widest column in the pipeline) join back once per side after
    # the (a, b) set is final, instead of riding every LSH band through
    # the shuffle.  use_arrow picks the numpy signature kernel
    # (bit-identical to the expression fold — see _banded_signatures_arrow);
    # the expression path stays as the pure-JVM fallback and parity pin.
    if use_arrow:
        banded = _banded_signatures_arrow(
            df, id_col, vec_col, planes, bands, bits_per_band
        ).localCheckpoint(eager=True)
    else:
        sig_cols = []
        for b in range(bands):
            ps = planes[b * bits_per_band : (b + 1) * bits_per_band]
            sig_cols.append(F.struct(F.lit(b).alias("band"), lsh_signature(vec_col, ps).alias("bh")))
        banded = (
            df.select(
                F.col(id_col).alias("id"),
                F.explode(F.array(*sig_cols)).alias("bb"),
            )
            .select("id", "bb.band", "bb.bh")
            .localCheckpoint(eager=True)
        )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), on=["band", "bh"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        cand.join(vecs.select(F.col("id").alias("a"), F.col("v").alias("va")), "a")
        .join(vecs.select(F.col("id").alias("b"), F.col("v").alias("vb")), "b")
        .select("a", "b", cosine(F.col("va"), F.col("vb")).alias("sim"))
        .where(F.col("sim") >= sim_threshold)
    )


def tfidf_topk_pairs(
    docs: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 1000,
    round_sim: int | None = None,
) -> DataFrame:
    """Top-k most similar document pairs by TF-IDF cosine, computed over
    an inverted index: term→postings equi-join, never a doc×doc cross
    join.  The sparse-vector complement of the dense-embedding ANN path.

    - tf = in-doc count, idf = ln(n_docs / df_t); per-doc L2 normalize.
    - Terms with document frequency > ``max_df`` are dropped before the
      postings self-join (stopword blow-up guard: a term in f docs
      yields f^2 candidate pairs — at web scale the head term would
      dominate the entire shuffle; the cutoff bounds any term to
      max_df^2).  Scores are therefore "tf-idf over informative terms" —
      the oracle applies the same cutoff.
    - One shuffle on term for the join, one on the pair for the sum,
      then TakeOrdered for the global top-k (ties break on ids).
    - ``round_sim``: round scores to N decimals BEFORE ranking, so the
      k-boundary cut is reproducible across engines whose float-sum
      order differs (used by the oracle gate).
    """
    from janus_spark.datapipe.text import clean_tokens, exploded_run_lengths

    # tf = run lengths of the per-doc SORTED token array — a narrow
    # projection of one materialized tokenize pass, replacing the r5
    # explode → groupBy(id, t) corpus-token shuffle (bit-identical
    # counts; optimization guide §2.4)
    staged = docs.select(
        F.col(id_col).alias("id"),
        F.array_sort(clean_tokens(text_col)).alias("__st"),
    ).localCheckpoint(eager=False)
    tf = exploded_run_lengths(staged, "__st", keep=["id"]).select(
        "id", F.col("v").alias("t"), F.col("cnt").alias("tf")
    )
    n_docs = docs.select(F.countDistinct(id_col).alias("nd"))
    dft = tf.groupBy("t").agg(F.count("*").alias("dft")).where(F.col("dft") <= max_df)
    w = (
        tf.join(dft, "t")
        .crossJoin(F.broadcast(n_docs))
        .select("id", "t", (F.col("tf") * F.log(F.col("nd") / F.col("dft"))).alias("w"))
        # tokenize+tf+df happen ONCE: w feeds both the norm aggregate and
        # the unit projection, and unit feeds both self-join sides
        .localCheckpoint(eager=True)
    )
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    unit = (
        w.join(norms, "id")
        .select("id", "t", F.try_divide(F.col("w"), F.col("nrm")).alias("u"))
        .localCheckpoint(eager=True)
    )
    pairs = (
        unit.alias("l")
        .join(unit.alias("r"), "t")
        .where(F.col("l.id") < F.col("r.id"))
        .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .agg(F.sum(F.col("l.u") * F.col("r.u")).alias("sim"))
    )
    if round_sim is not None:
        pairs = pairs.withColumn("sim", F.round("sim", round_sim))
    return pairs.orderBy(F.desc("sim"), F.asc("a"), F.asc("b")).limit(k)


def pq_permutation(
    corpus: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """OPQ-lite: a dimension permutation that balances variance across
    the ``m`` PQ subspaces (the parametric goal of OPQ's rotation,
    restricted to permutations — no matrix math, deterministic, and the
    inverse transform is free).  Contiguous subspace splits quantize
    badly when signal concentrates in a few dimensions (all the energy
    lands in one codebook); snake-assigning dimensions by variance rank
    equalizes per-subspace energy, which is the first-order term of the
    OPQ objective (Ge et al. 2013).

    One aggregation over the corpus (per-dimension variance via
    posexplode → groupBy pos), then a driver-side sort of ``dim``
    floats.  Returns ``perm`` such that permuted[i] = vec[perm[i]];
    apply with :func:`apply_permutation` to corpus AND queries before
    any pq_* call (inner products are permutation-invariant, so ranking
    semantics are unchanged — only quantization error drops).
    """
    rows = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.var_samp(F.col("x").cast("double")).alias("v"))
        .collect()
    )
    dim = len(rows)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    order = [r["pos"] for r in sorted(rows, key=lambda r: (-(r["v"] or 0.0), r["pos"]))]
    groups: list[list[int]] = [[] for _ in range(m)]
    for r in range(dim // m):
        idxs = range(m) if r % 2 == 0 else range(m - 1, -1, -1)
        for gi, j in enumerate(idxs):
            groups[j].append(order[r * m + gi])
    return [p for g in groups for p in g]


def apply_permutation(df: DataFrame, perm: list[int], vec_col: str = "embedding"):
    """Reorder a vector column by ``perm`` — map-only element gathers."""
    gathered = F.array(*[F.element_at(F.col(vec_col), int(p) + 1) for p in perm])
    return df.withColumn(vec_col, gathered)


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_sim: int | None = 6,
) -> DataFrame:
    """Embedding-based decontamination: corpus vectors whose cosine
    similarity to ANY benchmark vector reaches ``threshold`` — the
    semantic complement of the exact/n-gram decontamination pair
    (datapipe/dedup.py): paraphrased or reformatted eval items that
    share no n-grams still collide in embedding space.

    The benchmark side is broadcast (eval sets are small); the corpus
    is scanned ONCE map-side — per corpus vector the max similarity
    over benchmark vectors folds inside the join before any shuffle, so
    at 100 TB this is a single pass with a benchmark-sized hash table
    per executor.  Returns (vec_id, max_sim, matched_benchmark_id) for
    flagged vectors; ties on max_sim break to the lowest benchmark id.
    """
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
    b = benchmark.select(F.col(id_col).alias("bench_id"), F.col(vec_col).alias("bv"))
    sims = c.crossJoin(F.broadcast(b)).select(
        "vec_id", "bench_id", cosine(F.col("cv"), F.col("bv")).alias("sim")
    )
    if round_sim is not None:
        sims = sims.withColumn("sim", F.round("sim", round_sim))
    best = sims.groupBy("vec_id").agg(
        F.max("sim").alias("max_sim"),
        F.min_by("bench_id", F.struct((-F.col("sim")).alias("s"), F.col("bench_id").alias("b"))).alias(
            "matched_benchmark_id"
        ),
    )
    return best.where(F.col("max_sim") >= F.lit(threshold))
