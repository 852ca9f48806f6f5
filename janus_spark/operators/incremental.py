"""Incrementally-maintained aggregate rollups over an append-only log.

The 100 TB pattern for "keep the dashboard warm": instead of re-scanning
the full history per refresh, persist a MERGEABLE partial-aggregate table
(count / sum / min / max in exact integer units, plus deterministic-HLL
register rows for approx-distinct) and fold each new batch into it.  Per
refresh the engine touches ``O(|groups| + batch)`` rows, never the
history — the same algebra the det-HLL/CMS sketches already use for
cross-engine-exact estimates (`functions/sketches.py`).

Reference parity: the reference recomputes window aggregates from
re-materialized history per hop (src/execution/historical_executor.rs);
this module is the Spark-first alternative for the monotone append-only
case — partial-agg the delta, merge, overwrite a version directory.

Versioned layout (no in-place mutation, readers never see a torn write):

    <path>/v=<N>/aggs/   (group..., n, sum_cents, min_v, max_v)
    <path>/v=<N>/hll/    (group..., reg, max_rank)

``update()`` commits v=N+1 from v=N ∪ partial(batch) through the
snapshot-store protocol of ``janus_spark/store.py`` (staging directory,
one atomic rename).  Old versions are retained for time travel until
``vacuum_versions()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from janus_spark.functions.sketches import hll_det_estimate, hll_det_partials
from janus_spark.store import Snapshots, commit

_D38 = "decimal(38,0)"


class IncrementalAgg(Snapshots):
    """Maintained rollup of COUNT / SUM / MIN / MAX (+ optional det-HLL
    approx-distinct) per group over an append-only stream of batches.

    ``value_col`` must be exact at 2 decimals (sums are kept in integer
    cents, so merge order never changes a digit); ``distinct_col``
    enables the HLL leg.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: list[str],
        value_col: str = "value",
        distinct_col: str | None = None,
        p: int = 12,
    ):
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.distinct_col = distinct_col
        self.p = p

    # -- core algebra -------------------------------------------------------
    def _partial(self, batch: DataFrame) -> DataFrame:
        cents = (F.col(self.value_col).cast("decimal(18,2)") * 100).cast(_D38)
        return (
            batch.where(F.col(self.value_col).isNotNull())
            .groupBy(*self.group_cols)
            .agg(
                F.count(F.lit(1)).cast(_D38).alias("n"),
                F.sum(cents).alias("sum_cents"),
                F.min(self.value_col).alias("min_v"),
                F.max(self.value_col).alias("max_v"),
            )
        )

    def _merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy(*self.group_cols)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_cents").alias("sum_cents"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
            )
        )

    def update(self, batch: DataFrame) -> int:
        """Fold one batch into the rollup; returns the new version.

        Crash-safe: both legs of v=N+1 are written to the staging
        directory and published by one rename (``store.commit``), so a
        failure between the aggs and hll writes leaves only ignorable
        staging garbage, never a version whose ``read()`` throws."""
        cur = self.current_version()

        def write(stage: str) -> None:
            aggs = self._partial(batch)
            if cur:
                aggs = self._merge(self.spark.read.parquet(f"{self._vdir(cur)}/aggs"), aggs)
            aggs.coalesce(1).write.parquet(f"{stage}/aggs")
            if self.distinct_col is not None:
                hll = hll_det_partials(batch, self.distinct_col, self.group_cols, self.p)
                if cur:
                    hll = (
                        self.spark.read.parquet(f"{self._vdir(cur)}/hll")
                        .unionByName(hll)
                        .groupBy(*self.group_cols, "reg")
                        .agg(F.max("max_rank").alias("max_rank"))
                    )
                hll.coalesce(1).write.parquet(f"{stage}/hll")

        return commit(self.path, write)

    def read(self, version: int | None = None) -> DataFrame:
        """Finalized aggregates at a version (default: newest): group
        cols + (n, sum_v, avg_v, min_v, max_v[, approx_distinct]).  The
        finishing arithmetic is one fixed double tree over exact integer
        state, so any engine reading the parquet gets identical numbers."""
        v = version or self.current_version()
        aggs = self.spark.read.parquet(f"{self._vdir(v)}/aggs")
        nd = F.col("n").cast("double")
        out = aggs.select(
            *self.group_cols,
            F.col("n").cast("long").alias("n"),
            F.round(F.col("sum_cents").cast("double") / 100, 2).alias("sum_v"),
            F.round(F.col("sum_cents").cast("double") / nd / 100, 6).alias("avg_v"),
            F.col("min_v"),
            F.col("max_v"),
        )
        if self.distinct_col is not None:
            est = hll_det_estimate(
                self.spark.read.parquet(f"{self._vdir(v)}/hll"), self.group_cols, self.p
            )
            out = out.join(est, self.group_cols)
        return out
