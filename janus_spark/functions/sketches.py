"""Approximate / mergeable sketch aggregates — the 100 TB scale path for
cardinality and quantile questions where exact answers need a full
shuffle of all distinct values.

Everything here is a thin, typed wrapper over Spark's built-in sketch
aggregates (Datasketches HLL, count-min, T-digest-style quantiles), so
the heavy lifting stays JVM-side and partial aggregates merge map-side.
The point of wrapping: a stable engine API plus *persistable* sketch
columns — `hll_by_key` materializes per-key sketches you can store in
parquet and re-union later (incremental daily rollups without rescanning
history; the pattern the exact path cannot express).

Accuracy contract (pinned by tests/test_sketches.py): HLL relative error
< 3% at lgK=14 on the test corpus; percentile_approx within the value
spread of the exact interpolated percentile at accuracy 10k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hll_distinct(df: DataFrame, value_col: str, by: list[str], lgk: int = 14) -> DataFrame:
    """Approximate distinct count of ``value_col`` per group (HLL).
    One narrow aggregation: each executor builds partial sketches, the
    merge is a tiny shuffle of ~2^lgk-byte binaries, never of values."""
    return df.groupBy(*by).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(value_col, F.lit(lgk))).alias("approx_distinct")
    )


def hll_by_key(df: DataFrame, value_col: str, by: list[str], lgk: int = 14) -> DataFrame:
    """Per-key HLL sketches as a binary column — store these, then roll up
    later with :func:`hll_merge` instead of rescanning raw history."""
    return df.groupBy(*by).agg(F.hll_sketch_agg(value_col, F.lit(lgk)).alias("hll"))


def hll_merge(df: DataFrame, by: list[str]) -> DataFrame:
    """Union stored sketches to a coarser grouping and estimate."""
    return df.groupBy(*by).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("approx_distinct")
    )


def approx_quantiles(
    df: DataFrame, value_col: str, by: list[str], probs: list[float], accuracy: int = 10000
) -> DataFrame:
    """Mergeable approximate percentiles (Greenwald-Khanna).  Returns one
    array column ``q`` aligned with ``probs``."""
    return df.groupBy(*by).agg(
        F.percentile_approx(value_col, F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)).alias("q")
    )


# ---------------------------------------------------------------------------
# Deterministic (engine-portable) HLL over the shared md5 hash family.
#
# The Datasketches wrappers above are the production path (fastest, JVM
# binary sketches).  The ``hll_det_*`` family below is a full HyperLogLog
# whose every step is reproducible by ANY engine that has md5 — the
# sketch state is plain (register, max_rank) ROWS, not an opaque binary,
# so it can be written to parquet and merged/estimated later by DuckDB,
# Trino, or plain SQL.  That portability is also what lets the driver's
# DuckDB oracle verify the ESTIMATE itself exactly (q_hll_distinct /
# q_sliding_hll_distinct), not just an error band.
#
# Determinism notes (why the estimate hash-matches across engines):
#  * hash = shared_hash64: first 15 md5 hex chars -> 60-bit integer
#    (identical bytes on both engines for string input).
#  * rank uses length(bin(w)) -- integer bit-length, no floating log2.
#  * the register sum is computed as EXACT bigints (sum of 1<<(50-rank)),
#    so partial-sum ORDER cannot perturb it -- the only float ops are one
#    literal division (raw estimate) or m*ln(m/V) (linear counting),
#    identical single operations on both engines, rounded to 4 dp.
# ---------------------------------------------------------------------------

_HLL_SCALE_BITS = 50  # sum of 2^(50-rank) over <= 2^p registers fits a bigint


def _hll_alpha(m: int) -> float:
    return 0.7213 / (1.0 + 1.079 / m)


def hll_det_partials(df: DataFrame, value_col: str, by: list[str], p: int = 12) -> DataFrame:
    """Mergeable deterministic-HLL state: one row per (group, register)
    holding the max rank.  Merge = groupBy(register).max(rank); at most
    ``2^p`` rows per group ever cross a shuffle regardless of input size."""
    m = 1 << p
    wbits = 60 - p
    h = F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10).cast("long")
    w = F.shiftright(h, p)
    rank = F.when(w == 0, F.lit(wbits + 1)).otherwise(F.lit(wbits + 1) - F.length(F.bin(w)))
    return (
        df.select(*by, (h % m).alias("reg"), rank.alias("rank"))
        .groupBy(*by, "reg")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_det_estimate(partials: DataFrame, by: list[str], p: int = 12) -> DataFrame:
    """Finish a deterministic-HLL estimate from (register, max_rank) rows:
    exact-bigint register sum, then the standard HLL raw estimate with
    small-range linear counting (Flajolet et al. 2007)."""
    m = 1 << p
    a_num = _hll_alpha(m) * m * m * float(1 << _HLL_SCALE_BITS)
    term = F.expr(f"shiftleft(cast(1 as bigint), {_HLL_SCALE_BITS} - max_rank)")
    agg = partials.groupBy(*by).agg(
        F.sum(term).alias("s_present"), F.count(F.lit(1)).alias("n_present")
    )
    total = F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(1 << _HLL_SCALE_BITS)
    raw = F.lit(a_num) / total.cast("double")
    v = (F.lit(m) - F.col("n_present")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return agg.select(*by, F.round(est, 4).alias("approx_distinct"))


def hll_det_distinct(df: DataFrame, value_col: str, by: list[str], p: int = 12) -> DataFrame:
    """Deterministic HLL distinct count per group — same plan shape as
    :func:`hll_distinct` (one partial-merging aggregation; the shuffle
    carries at most 2^p register rows per group, never values)."""
    return hll_det_estimate(hll_det_partials(df, value_col, by, p), by, p)


def hll_det_oracle_sql(value_expr: str, group_expr: str, from_sql: str, p: int = 12) -> str:
    """The ANSI-SQL twin of :func:`hll_det_distinct` (DuckDB dialect is
    plain here) — used by the driver gates; kept next to the Spark code so
    the two stay in lockstep."""
    m = 1 << p
    wbits = 60 - p
    a_num = repr(_hll_alpha(m) * m * m * float(1 << _HLL_SCALE_BITS))
    return f"""
    WITH h AS (
      SELECT {group_expr} AS grp,
             ('0x' || substr(md5(CAST({value_expr} AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM {from_sql}
    ),
    r AS (
      SELECT grp, hv % {m} AS reg,
             CASE WHEN (hv >> {p}) = 0 THEN {wbits + 1}
                  ELSE {wbits + 1} - length(bin(hv >> {p})) END AS rank
      FROM h
    ),
    regs AS (SELECT grp, reg, MAX(rank) AS max_rank FROM r GROUP BY grp, reg),
    agg AS (
      SELECT grp,
             SUM(1::BIGINT << ({_HLL_SCALE_BITS} - max_rank)) AS s_present,
             COUNT(*) AS n_present
      FROM regs GROUP BY grp
    )
    SELECT grp,
           ROUND(CASE WHEN {a_num} / CAST(s_present + ({m} - n_present) * (1::BIGINT << {_HLL_SCALE_BITS}) AS DOUBLE) <= {2.5 * m}
                       AND ({m} - n_present) > 0
                      THEN {float(m)} * ln({float(m)} / CAST({m} - n_present AS DOUBLE))
                      ELSE {a_num} / CAST(s_present + ({m} - n_present) * (1::BIGINT << {_HLL_SCALE_BITS}) AS DOUBLE)
                 END, 4) AS approx_distinct
    FROM agg"""


# ---------------------------------------------------------------------------
# Deterministic Count-Min Sketch — same portability story as hll_det_*:
# the sketch state is plain (row, col, count) ROWS over the shared md5
# hash family, so partials persist to parquet, merge by summing in any
# engine, and the driver's DuckDB oracle reproduces point estimates
# exactly.  Use it for heavy-hitter frequency estimation where exact
# per-key counts would shuffle the full key universe: the sketch caps
# shuffle rows at d*w per group regardless of distinct keys, and
# estimates overcount by at most eN with probability 1-delta
# (w = ceil(e/eps), d = ceil(ln(1/delta)); Cormode & Muthukrishnan 2005).
# ---------------------------------------------------------------------------


def cms_cells(v: Column, depth: int, width: int) -> Column:
    """The ``depth`` CMS cells of the string value ``v``: an array of
    ``struct(row, col)`` with ``col = shared_hash64(v, row) % width``.
    The one cell spelling of the batch build, the probe and the
    streaming build (``streaming.native_agg``)."""
    from janus_spark.datapipe.dedup import shared_hash64

    return F.array(
        *[
            F.struct(F.lit(r).alias("row"), (shared_hash64(v, r) % width).alias("col"))
            for r in range(depth)
        ]
    )


def cms_partials(
    df: DataFrame, value_col: str, by: list[str], depth: int = 4, width: int = 1024
) -> DataFrame:
    """Mergeable CMS state: (group..., row, col, cnt) with at most
    ``depth*width`` rows per group crossing the shuffle.  Merge finer
    partials to coarser groups with SUM(cnt) on (row, col)."""
    pairs = cms_cells(F.col(value_col).cast("string"), depth, width)
    return (
        df.select(*by, F.explode(pairs).alias("p"))
        .select(*by, F.col("p.row").alias("row"), F.col("p.col").alias("col"))
        .groupBy(*by, "row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    partials: DataFrame, probes: DataFrame, probe_col: str, by: list[str],
    depth: int = 4, width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates for each probe item against each group's
    sketch: est = min over rows of the probed cell (0 if absent).  The
    probe side is expected small → broadcast; never an overestimate by
    less than the true count (CMS never undercounts)."""
    cells = cms_cells(F.col(probe_col).cast("string"), depth, width)
    probe_cells = probes.select(
        F.col(probe_col).alias("item"), F.explode(cells).alias("p")
    ).select("item", F.col("p.row").alias("row"), F.col("p.col").alias("col"))
    # start from the full group × probe-cell grid so an item whose cells
    # were never touched in a group still gets est = 0 (a cell absent
    # from the partials means count 0, and the MIN must see it)
    grid = partials.select(*by).distinct().crossJoin(F.broadcast(probe_cells))
    joined = grid.join(partials, on=[*by, "row", "col"], how="left")
    agg = joined.groupBy(*by, "item").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")
    )
    return agg.select(*by, "item", F.col("est").cast("long").alias("est"))


def cms_oracle_sql(
    value_expr: str, group_expr: str, from_sql: str, probe_sql: str,
    depth: int = 4, width: int = 1024,
) -> str:
    """DuckDB twin of cms_partials + cms_estimate (probe_sql must yield a
    single column ``item``)."""
    from janus_spark.datapipe.dedup import shared_hash64_sql

    def cell(expr: str, r: int) -> str:
        return f"{shared_hash64_sql(expr, r)} % {width}"

    row_cells = " UNION ALL ".join(
        f"SELECT grp, {r} AS row, {cell('v', r)} AS col FROM base" for r in range(depth)
    )
    probe_cells = " UNION ALL ".join(
        f"SELECT item, {r} AS row, {cell('CAST(item AS VARCHAR)', r)} AS col FROM probes"
        for r in range(depth)
    )
    return f"""
    WITH base AS (SELECT {group_expr} AS grp, CAST({value_expr} AS VARCHAR) AS v
                  FROM {from_sql}),
         cells AS ({row_cells}),
         partials AS (SELECT grp, row, col, COUNT(*) AS cnt
                      FROM cells GROUP BY grp, row, col),
         probes AS ({probe_sql}),
         pc AS ({probe_cells}),
         j AS (SELECT p.grp, pc.item, pc.row,
                      COALESCE(pt.cnt, 0) AS cnt
               FROM (SELECT DISTINCT grp FROM partials) p
               CROSS JOIN pc
               LEFT JOIN partials pt
                 ON pt.grp = p.grp AND pt.row = pc.row AND pt.col = pc.col)
    SELECT grp, item, CAST(MIN(cnt) AS BIGINT) AS est
    FROM j GROUP BY grp, item"""


def hll_det_overlap(
    df: DataFrame, value_col: str, set_col: str, set_a: str, set_b: str, p: int = 12
) -> DataFrame:
    """Sketch algebra: estimate |A|, |B|, |A∪B| and the inclusion-
    exclusion intersection |A∩B| ≈ |A|+|B|−|A∪B| from ONE pass of
    deterministic-HLL partials — the sketch union is max(rank) per
    register, so the union estimate needs no second scan.  The classic
    audience-overlap / shared-users question at key-universe scale.
    Returns one row: (est_a, est_b, est_union, est_intersection)."""
    both = df.where(F.col(set_col).isin(set_a, set_b))
    parts = hll_det_partials(both, value_col, [set_col], p)
    ests = hll_det_estimate(parts, [set_col], p)
    union_parts = parts.groupBy("reg").agg(F.max("max_rank").alias("max_rank"))
    est_union = hll_det_estimate(union_parts.withColumn("__g", F.lit(1)), ["__g"], p)
    a = ests.where(F.col(set_col) == set_a).select(F.col("approx_distinct").alias("est_a"))
    b = ests.where(F.col(set_col) == set_b).select(F.col("approx_distinct").alias("est_b"))
    u = est_union.select(F.col("approx_distinct").alias("est_union"))
    return (
        a.crossJoin(b)
        .crossJoin(u)
        .select(
            "est_a", "est_b", "est_union",
            F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 4).alias(
                "est_intersection"
            ),
        )
    )


def cms_join_size(
    pa: DataFrame, pb: DataFrame, depth: int = 4
) -> DataFrame:
    """Join-cardinality estimate from two Count-Min sketches (Cormode &
    Muthukrishnan): |A ⋈_k B| = Σ_k f_A(k)·f_B(k) ≈ min over rows of the
    cell-wise inner product.  Never an underestimate; error ≤
    e·N_A·N_B/width w.p. 1−e^−depth.  The planning primitive: estimate a
    join's output size from two d×w sketches — built in one pass each,
    mergeable across partitions/days — without touching either table
    again.  Input frames are ``cms_partials`` outputs (ungrouped: by=[]).
    Returns one row: (est_join_size)."""
    a = pa.select("row", "col", F.col("cnt").alias("ca"))
    b = pb.select("row", "col", F.col("cnt").alias("cb"))
    per_row = (
        a.join(b, ["row", "col"])  # cells empty in either side contribute 0
        .groupBy("row")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
    )
    # a row with NO shared non-empty cells has inner product 0
    n_rows = per_row.count()
    if n_rows < depth:
        return pa.sparkSession.range(1).select(F.lit(0).cast("long").alias("est_join_size"))
    return per_row.agg(F.min("ip").cast("long").alias("est_join_size"))


# ------------------------------------------------ deterministic q-histogram
def qhist_partials(
    df: DataFrame,
    value_col: str,
    by: list[str],
    width_cents: int = 100,
) -> DataFrame:
    """Mergeable fixed-width histogram partials for distributed quantile
    estimation WITHOUT a global sort: values (exact at 2 decimals) are
    floor-binned in integer cents; state is plain ``(by…, bin, cnt)``
    rows — any engine (or a later run) can merge partials by summing
    counts, the same portable-parquet contract as the det-HLL/CMS
    sketches.  Error is bounded by the bin width by construction.

    The bin is a sign-aware integer floor division (no floats), so
    partials are bit-identical across engines and partitionings.
    """
    if width_cents <= 0:
        raise ValueError("width_cents must be positive")
    c = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    w = int(width_cents)
    bin_ = F.when(c >= 0, F.expr(f"__qh_c div {w}")).otherwise(
        -F.expr(f"((-__qh_c) + {w - 1}) div {w}")
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .withColumn("__qh_c", c)
        .groupBy(*by, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def qhist_quantile(
    partials: DataFrame,
    by: list[str],
    q_num: int,
    q_den: int,
    width_cents: int = 100,
) -> DataFrame:
    """Quantile read-off from (merged) ``qhist_partials``: the value of
    the smallest bin whose cumulative count reaches rank
    ``ceil(q_num·n / q_den)`` — rank arithmetic is pure integers (the
    quantile fraction is a rational, never a float, so 0.95-style
    ulp-of-a-product rank drift cannot occur), the cumulative count is a
    sequential ordered prefix sum, and the emitted estimate is one
    division of exact integers.  Returns (by…, n, q_value) with
    ``q_value`` = the bin's lower edge in value units.
    """
    if not (0 < q_num <= q_den):
        raise ValueError("need 0 < q_num <= q_den")
    from pyspark.sql import Window

    wtot = Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1))
    wcum = wtot.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        partials.withColumn("__n", F.sum("cnt").over(wtot))
        .withColumn("__cum", F.sum("cnt").over(wcum))
        .withColumn(
            "__rank", F.expr(f"(__n * {int(q_num)} + {int(q_den) - 1}) div {int(q_den)}")
        )
    )
    hit = staged.where(F.col("__cum") >= F.col("__rank")).groupBy(*by).agg(
        F.min("bin").alias("__bin"), F.max("__n").alias("n")
    )
    return hit.select(
        *by,
        F.col("n").cast("long").alias("n"),
        ((F.col("__bin") * width_cents).cast("double") / 100.0).alias("q_value"),
    )
