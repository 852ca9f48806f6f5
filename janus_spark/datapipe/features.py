"""ML feature engineering over tabular logs — the feature-prep leg of
the training-data pipeline (alongside dedup/sampling/text): categorical
target encoding without label leakage.

Reference parity: the reference has no feature-engineering surface; this
is part of the "operations a large-scale training-data pipeline needs"
suite.

Scale notes:
- Target encoding is ONE groupBy on the category key (partial-agg
  combines map-side) + one broadcastable join of the per-category stats
  back to the rows — no window, no self-join, no per-row state.  At
  100 TB the stats frame is |categories| rows; broadcast when small,
  shuffle-join on the same key otherwise (AQE decides).
- Exactness: target sums are integer cents in DECIMAL(38,0); every
  emitted statistic is a single division (or one fixed cross-multiplied
  rational) of exact integer operands, so any engine reproduces the
  doubles bit-for-bit — the property that makes feature parity checks
  between the offline pipeline and a serving recompute trustworthy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_D38 = "decimal(38,0)"


def target_encode(
    df: DataFrame,
    cat_cols: list[str],
    target_col: str = "value",
    smoothing: int = 0,
) -> DataFrame:
    """Leave-one-out target encoding of ``cat_cols`` against a numeric
    target (exact at 2 decimals): each row gets the mean target of the
    OTHER rows in its category — the standard leakage-free encoding for
    high-cardinality categoricals (a row never sees its own label).

    With ``smoothing`` m > 0, the encoding is shrunk toward the global
    mean by m pseudo-observations (empirical-Bayes form)::

        loo_smoothed = (sum_cat − y + m·mean_global) / (n_cat − 1 + m)

    computed as ONE division of exact integers via cross-multiplication
    by the global count, so the result is engine-exact despite the
    rational prior.  Rows whose target is null, and singleton categories
    under m = 0 (denominator 0), encode as null.

    Returns the input columns plus ``loo_mean``.
    """
    if smoothing < 0:
        raise ValueError("smoothing must be >= 0")
    y = (F.col(target_col).cast("decimal(18,2)") * 100).cast(_D38)
    staged = df.withColumn("__y", y)
    stats = (
        staged.where(F.col("__y").isNotNull())
        .groupBy(*cat_cols)
        .agg(
            F.count(F.lit(1)).cast(_D38).alias("__n"),
            F.sum("__y").alias("__s"),
        )
    )
    out = staged.join(stats, cat_cols, "left")
    if smoothing == 0:
        enc = F.when(
            F.col("__y").isNotNull() & (F.col("__n") > 1),
            ((F.col("__s") - F.col("__y")).cast("double") / (F.col("__n") - 1).cast("double"))
            / 100.0,
        )
    else:
        g = staged.where(F.col("__y").isNotNull()).agg(
            F.count(F.lit(1)).cast(_D38).alias("__gn"),
            F.sum("__y").alias("__gs"),
        )
        out = out.crossJoin(F.broadcast(g))
        m = F.lit(smoothing).cast(_D38)
        num = (F.col("__s") - F.col("__y")) * F.col("__gn") + m * F.col("__gs")
        den = (F.col("__n") - 1 + m) * F.col("__gn")
        enc = F.when(
            F.col("__y").isNotNull(),
            (num.cast("double") / den.cast("double")) / 100.0,
        )
    drop = ["__y", "__n", "__s"] + (["__gn", "__gs"] if smoothing else [])
    return out.withColumn("loo_mean", enc).drop(*drop)


def feature_hash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 1 << 12,
) -> DataFrame:
    """Signed feature hashing (the "hashing trick", Weinberger et al.
    2009): map each token to a column index by hash and accumulate ±1
    signs, giving fixed-width sparse feature vectors with no vocabulary
    pass, no dictionary state, and unbiased inner products — the
    constant-memory featurizer for streaming/sharded corpora.

    Plan: tokenize → explode → map-side hash/sign (md5 family, so the
    vectors are engine- and run-reproducible) → ONE groupBy on
    (doc, index).  Output is the sparse COO form (doc_id, idx, val),
    val ≠ 0 — the layout downstream trainers and the ANN operators
    consume.
    """
    if n_features <= 0:
        raise ValueError("n_features must be positive")
    from janus_spark.datapipe.dedup import shared_hash64
    from janus_spark.datapipe.text import clean_tokens

    tok = df.select(
        F.col(id_col), F.explode(clean_tokens(text_col)).alias("__t")
    )
    h = shared_hash64(F.col("__t"))
    sgn = F.when(shared_hash64(F.col("__t"), 1) % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        tok.select(F.col(id_col), (h % n_features).alias("idx"), sgn.alias("__s"))
        .groupBy(id_col, "idx")
        .agg(F.sum("__s").cast("long").alias("val"))
        .where(F.col("val") != 0)
    )


def drift_chi2(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    width_cents: int = 100,
) -> DataFrame:
    """Two-sample chi-square drift statistic between a reference and a
    current batch of a numeric column (exact at 2 decimals) — the
    distribution-shift tripwire a training pipeline runs before letting
    a new ingest into the mix.

    Values are floor-binned in integer cents (shared fixed-width bins,
    no quantile fitting — deterministic across runs); the classic
    pooled-expectation 2×k chi-square reduces per bin to ONE exact
    integer rational::

        term_i = (a_i·nb − b_i·na)² / ((a_i + b_i)·na·nb)

    Exactness: a float per-bin term summed across bins would NOT be
    engine-exact (window cumulative sums reassociate doubles —
    segment-tree evaluation), so each term is quantized at 10⁻⁶ by ONE
    integral round-division over the FULL denominator —
    ``round(num_i²·10⁶ / ((a_i+b_i)·na·nb))`` — giving chi2-sized
    integer quotients (a partial denominator overflows the 64-bit
    quotient at scale), summed order-free and divided by 10⁶ once.
    DECIMAL(38) bounds the exact path at roughly 4×10⁷ rows per side
    (num²·10⁶ ≈ 4n⁴·10⁶); beyond that ANSI decimal overflow raises
    rather than silently degrading.  Degrees of freedom = k − 1.

    Returns one row: (n_ref, n_cur, n_bins, chi2).
    """
    if width_cents <= 0:
        raise ValueError("width_cents must be positive")
    from pyspark.sql import Window

    w = int(width_cents)

    def binned(df, name):
        c = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
        b = F.when(c >= 0, F.expr(f"__c div {w}")).otherwise(
            -F.expr(f"((-__c) + {w - 1}) div {w}")
        )
        return (
            df.where(F.col(value_col).isNotNull())
            .withColumn("__c", c)
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias(name))
        )
    a = binned(ref, "a")
    b = binned(cur, "b")
    cells = (
        a.join(b, "bin", "full")
        .select(
            "bin",
            F.coalesce("a", F.lit(0)).cast("decimal(38,0)").alias("a"),
            F.coalesce("b", F.lit(0)).cast("decimal(38,0)").alias("b"),
        )
    )
    tot = Window.partitionBy(F.lit(1))
    staged = (
        cells.withColumn("na", F.sum("a").over(tot))
        .withColumn("nb", F.sum("b").over(tot))
        .withColumn("__num", F.col("a") * F.col("nb") - F.col("b") * F.col("na"))
        .withColumn("__ab", F.col("a") + F.col("b"))
    )
    # round-half-up integral division of the non-negative num² over the
    # FULL denominator — quotients are chi2-sized so they fit the
    # 64-bit `div` result, and the cross-bin SUM is order-free (plain
    # `/` on decimals rounds at a fixed result scale, hence `div`)
    # An empty reference or current side (na=0 / nb=0) would zero the
    # denominator — a raw DIVIDE_BY_ZERO under ANSI, a silent null chi2
    # otherwise.  Fail in-plan (stays lazy, survives column pruning
    # because the guard wraps the term itself) with a diagnosable
    # message: a drift tripwire must never mask a broken feed.
    term_u = F.when(
        (F.col("na") == 0) | (F.col("nb") == 0),
        F.raise_error(
            F.lit("drift_chi2: empty reference or current batch (na=0 or nb=0)")
        ).cast(_D38),
    ).otherwise(
        F.expr("((__num * __num) * 2000000 + __ab * na * nb) div (__ab * na * nb * 2)")
    )
    agg = staged.groupBy("na", "nb").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(term_u.cast(_D38)).alias("__x"),
    )
    return agg.select(
        F.col("na").cast("long").alias("n_ref"),
        F.col("nb").cast("long").alias("n_cur"),
        "n_bins",
        (F.col("__x").cast("double") / 1e6).alias("chi2"),
    )


def drift_chi2_from_binned(
    bins: DataFrame,
    ref: DataFrame,
    group_cols: list[str],
    bin_col: str = "bin",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Per-group chi-square drift against a SHARED reference histogram —
    the batch read-off half of the live drift monitor: the stream only
    maintains per-window bin counts (bounded state, see
    streaming/native_agg.histogram_quantile_stream); this finisher
    scores every closed window against the reference without touching
    the stream.

    Inputs: ``bins`` = (group…, bin, cnt) per-group histograms; ``ref``
    = (bin, cnt) the reference histogram (dimension-sized → broadcast).
    Bins absent on either side count 0.  Same exact integer term
    algebra and 1e-6 quantization as :func:`drift_chi2`.

    Returns (group…, n_ref, n_cur, n_bins, chi2).
    """
    refc = ref.select(
        F.col(bin_col).alias("__bin"), F.col(cnt_col).cast(_D38).alias("a")
    )
    ref_tot = refc.agg(F.sum("a").alias("na"))
    cur = bins.select(
        *group_cols, F.col(bin_col).alias("__bin"), F.col(cnt_col).cast(_D38).alias("b")
    )
    groups = cur.select(*group_cols).distinct()
    grid = groups.crossJoin(F.broadcast(refc))
    cells = (
        grid.join(cur, [*group_cols, "__bin"], "full")
        .select(
            *group_cols,
            "__bin",
            F.coalesce("a", F.lit(0)).cast(_D38).alias("a"),
            F.coalesce("b", F.lit(0)).cast(_D38).alias("b"),
        )
        .crossJoin(F.broadcast(ref_tot))
    )
    from pyspark.sql import Window

    wg = Window.partitionBy(*group_cols)
    staged = (
        cells.withColumn("nb", F.sum("b").over(wg))
        .withColumn("__num", F.col("a") * F.col("nb") - F.col("b") * F.col("na"))
        .withColumn("__ab", F.col("a") + F.col("b"))
        .where(F.col("__ab") > 0)
    )
    # Same empty-side guard as drift_chi2: a reference histogram with
    # zero total (na=0) would zero every denominator for every group.
    term_u = F.when(
        (F.col("na") == 0) | (F.col("nb") == 0),
        F.raise_error(
            F.lit(
                "drift_chi2_from_binned: empty reference histogram or "
                "empty group (na=0 or nb=0)"
            )
        ).cast(_D38),
    ).otherwise(
        F.expr("((__num * __num) * 2000000 + __ab * na * nb) div (__ab * na * nb * 2)")
    )
    return (
        staged.groupBy(*group_cols, "na", "nb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.sum(term_u.cast(_D38)).alias("__x"),
        )
        .select(
            *group_cols,
            F.col("na").cast("long").alias("n_ref"),
            F.col("nb").cast("long").alias("n_cur"),
            "n_bins",
            (F.col("__x").cast("double") / 1e6).alias("chi2"),
        )
    )
