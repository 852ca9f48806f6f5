"""Baseline bootstrap — operator W8, the historical→live bridge.

Reference (src/api/janus_api.rs:592-841, docs/BASELINES.md): run the
historical windows, pick an ANCHOR variable, accumulate per (anchor, var)
a running numeric mean + last non-numeric value, and materialize compact
static triples ``<anchor> <https://janus.rs/baseline#var> "value"`` that
the live query joins against.

- anchor priority: ``sensor`` → ``subject`` → ``entity`` → ``s``, else the
  first variable whose values are IRIs (janus_api.rs:773-792);
- AGGREGATE mode: mean of the numeric values across ALL windows (a
  non-numeric var keeps its last seen value) (janus_api.rs:707-746);
- LAST mode: the accumulator is cleared at each new window, so only the
  FINAL window's values survive (janus_api.rs:642-671,748-771).

Spark-first: the per-row accumulator loop is a groupBy — mean over the
numeric view, last-by-window-order otherwise; the resulting frame is tiny
(one row per (anchor, var)).  ``JanusEngine.warm_baseline`` materializes
it once, at warm-up, and it is broadcast into every live plan from
memory: live windows never re-run the historical window or re-read the
quad log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from janus_spark.model import BASELINE_NS

ANCHOR_PRIORITY = ("sensor", "subject", "entity", "s")


def pick_anchor(df: DataFrame) -> str:
    """Anchor variable heuristic, replicated exactly (janus_api.rs:773-792)."""
    cols = [c for c in df.columns if not c.startswith("window_") and c != "__window_id"]
    for name in ANCHOR_PRIORITY:
        if name in cols:
            return name
    sample = df.limit(50).collect()
    for c in cols:
        for row in sample:
            v = row[c]
            if v is not None:
                if str(v).startswith(("http://", "https://", "urn:")):
                    return c
                break
    return cols[0]


def _num_lexical(d: F.Column) -> F.Column:
    """Format a double the way Rust's ``{}`` does for whole floats
    ("15", not "15.0") so baseline triples match the reference exactly."""
    return F.when(
        d == F.floor(d), d.cast("long").cast("string")
    ).otherwise(d.cast("string"))


def build_baseline(
    hist_result: DataFrame,
    mode: str = "AGGREGATE",
    window_ord_col: str | None = None,
    anchor: str | None = None,
) -> DataFrame:
    """historical result frame → (anchor, var, value) baseline frame."""
    mode = (mode or "AGGREGATE").upper()
    anchor = anchor or pick_anchor(hist_result)
    value_cols = [
        c for c in hist_result.columns
        if c not in (anchor, window_ord_col, "window_start", "window_end", "__window_id")
    ]
    ord_col = window_ord_col if window_ord_col and window_ord_col in hist_result.columns else None

    if mode == "LAST" and ord_col:
        last_w = hist_result.agg(F.max(ord_col).alias("m")).collect()[0]["m"]
        hist_result = hist_result.where(F.col(ord_col) == F.lit(last_w))

    melted = hist_result.select(
        F.col(anchor).alias("anchor"),
        (F.col(ord_col) if ord_col else F.lit(0)).alias("__ord"),
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(c) for c in value_cols]).alias("var"),
                F.array(*[F.col(c).cast("string") for c in value_cols]).alias("value"),
            )
        ).alias("kv"),
    ).select("anchor", "__ord", F.col("kv.var").alias("var"), F.col("kv.value").alias("value"))

    melted = melted.where(F.col("value").isNotNull())
    num = F.col("value").try_cast("double")
    agg = melted.groupBy("anchor", "var").agg(
        F.avg(num).alias("__mean"),
        F.count(num).alias("__numcount"),
        F.max_by("value", F.col("__ord")).alias("__last"),
    )
    return agg.select(
        "anchor",
        "var",
        F.when(F.col("__numcount") > 0, _num_lexical(F.col("__mean")))
        .otherwise(F.col("__last"))
        .alias("value"),
    )


def baseline_to_quads(baseline: DataFrame) -> DataFrame:
    """(anchor, var, value) → static quads ``<anchor> <baseline#var> value``
    (janus_api.rs:682-697); joined into live plans via static_quads (the
    compiler unions them into every scan; Catalyst broadcasts the tiny side).
    The frame is lazy; ``JanusEngine.warm_baseline`` materializes it.
    """
    return baseline.select(
        F.lit(0).cast("long").alias("ts"),
        F.col("anchor").alias("subject"),
        F.concat(F.lit(BASELINE_NS), F.col("var")).alias("predicate"),
        F.col("value").alias("object"),
        F.lit("").alias("graph"),
    )
