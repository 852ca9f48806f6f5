"""Timeseries operators: time-weighted average, pane-based sliding
aggregation, and the exact Jaccard similarity self-join."""

import pytest
from pyspark.sql import functions as F

from janus_spark.datapipe.dedup import (
    jaccard_similarity_join,
    ngram_jaccard_pairs,
    word_shingles,
)
from janus_spark.operators.timeseries import pane_sliding_agg, time_weighted_avg


def test_time_weighted_avg_hand_computed(spark):
    # key A: value 10 holds for 1000ms, value 30 holds for 3000ms,
    # final observation carries no weight -> TWA = (10*1000+30*3000)/4000
    rows = [
        ("A", 0, 10.0),
        ("A", 1000, 30.0),
        ("A", 4000, 99.0),
        ("B", 0, 5.0),  # single observation: no interval, key dropped
    ]
    df = spark.createDataFrame(rows, ["k", "ts_ms", "value"])
    out = {r["k"]: r for r in time_weighted_avg(df, ["k"]).collect()}
    assert set(out) == {"A"}
    assert out["A"]["n_intervals"] == 2
    assert out["A"]["span_ms"] == 4000.0
    assert out["A"]["twa"] == pytest.approx((10 * 1000 + 30 * 3000) / 4000)


def test_time_weighted_avg_tie_uses_tiebreak(spark):
    # two observations at the same ts: the tiebreak column makes the
    # LOCF ordering (and therefore which value gets the gap) total
    rows = [("A", 0, 1, 10.0), ("A", 0, 2, 20.0), ("A", 1000, 3, 0.0)]
    df = spark.createDataFrame(rows, ["k", "ts_ms", "eid", "value"])
    out = time_weighted_avg(df, ["k"], order_tiebreak="eid").collect()[0]
    # eid=1 gets dt=0, eid=2 gets dt=1000 -> twa = 20
    assert out["twa"] == pytest.approx(20.0)


def test_pane_sliding_agg_matches_naive_explode(spark):
    ev = (
        spark.range(500)
        .select(
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 137 % 10_000).alias("ts_ms"),
            (F.col("id") % 13).cast("double").alias("value"),
        )
    )
    range_ms, step_ms = 3000, 1000
    panes = pane_sliding_agg(ev, ["k"], range_ms=range_ms, step_ms=step_ms)
    n = range_ms // step_ms
    naive = (
        ev.withColumn(
            "w",
            F.explode(
                F.sequence(
                    F.floor(F.col("ts_ms") / step_ms) - (n - 1),
                    F.floor(F.col("ts_ms") / step_ms),
                )
            ),
        )
        .groupBy("k", "w")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_v"),
            F.round(F.min("value"), 6).alias("min_v"),
            F.round(F.max("value"), 6).alias("max_v"),
            F.round(F.avg("value"), 6).alias("avg_v"),
        )
        .withColumn("window_start", (F.col("w") * step_ms).cast("long"))
        .drop("w")
    )
    cols = sorted(panes.columns)
    assert sorted(naive.columns) == cols
    a = sorted(map(tuple, panes.select(*cols).collect()))
    b = sorted(map(tuple, naive.select(*cols).collect()))
    assert a == b


def test_pane_sliding_agg_rejects_uneven_step(spark):
    ev = spark.range(1).select(F.col("id").alias("k"), F.col("id").alias("ts_ms"),
                               F.col("id").cast("double").alias("value"))
    with pytest.raises(ValueError):
        pane_sliding_agg(ev, ["k"], range_ms=2500, step_ms=1000)


def test_jaccard_join_matches_pairwise_verification(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different words in this document here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "short text"),  # < k tokens -> whole-text shingle
        (6, "short text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_similarity_join(df, threshold=0.3).collect()
    }
    assert got[(1, 4)] == 1.0
    assert got[(5, 6)] == 1.0
    assert (1, 2) in got and 0.3 <= got[(1, 2)] < 1.0
    assert not any(3 in p for p in got)

    # the posting-count jaccard must equal the array-verification jaccard
    # for every emitted pair
    pairs = spark.createDataFrame([(a, b) for a, b in got], ["a", "b"])
    verified = {
        (r["a"], r["b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(df, pairs).collect()
    }
    assert {p: round(j, 9) for p, j in got.items()} == verified


def test_jaccard_join_complete_vs_bruteforce(spark, sf_dir):
    """Inverted-index join finds EVERY pair the quadratic scan finds."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    got = {(r["a"], r["b"]) for r in jaccard_similarity_join(docs, threshold=0.2).collect()}
    sh = docs.select("doc_id", word_shingles("text", 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size(F.array_union("sha", "shb"))
    brute = {
        (r["a"], r["b"])
        for r in a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .where(inter / union >= 0.2)
        .collect()
    }
    assert got == brute


def test_jaccard_prefix_join_equals_unpruned(spark, sf_dir):
    """The prefix filter is exactness-preserving: identical output to
    the full inverted-index join at every threshold tested."""
    from janus_spark.datapipe.dedup import (
        jaccard_prefix_join,
        jaccard_similarity_join,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    for t in (0.3, 0.5, 0.8):
        full = {
            (r["a"], r["b"]): r["jaccard"]
            for r in jaccard_similarity_join(docs, threshold=t).collect()
        }
        pruned = {
            (r["a"], r["b"]): r["jaccard"]
            for r in jaccard_prefix_join(docs, threshold=t).collect()
        }
        assert full == pruned


def test_jaccard_positional_filter_keeps_boundary_pair(spark):
    """The PPJoin positional filter (r10 optimization) must keep a pair
    whose Jaccard is EXACTLY the threshold — the bound holds with
    equality there (O·(1+t) = t·(na+nb)), the case an off-by-one or
    strict comparison would silently drop."""
    from janus_spark.datapipe.dedup import jaccard_prefix_join

    docs = spark.createDataFrame(
        [(1, "w x y"), (2, "x y z")], "doc_id long, text string"
    )
    # k=1 shingles = distinct tokens: inter {x,y}=2, union 4 -> J = 0.5
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_prefix_join(docs, shingle_k=1, threshold=0.5).collect()
    }
    assert got == {(1, 2): 0.5}


def test_pane_sliding_distinct_tracks_exact(spark):
    """HLL pane sketches union losslessly: every window's estimate is
    within the HLL error contract of the true sliding distinct count."""
    from janus_spark.operators.timeseries import pane_sliding_distinct

    ev = spark.range(5000).select(
        (F.col("id") % 3).alias("k"),
        (F.col("id") * 137 % 60_000).alias("ts_ms"),
        (F.col("id") % 700).cast("string").alias("value"),
    )
    range_ms, step_ms = 6_000, 2_000
    approx = {
        (r["k"], r["window_start"]): r["approx_distinct"]
        for r in pane_sliding_distinct(
            ev, ["k"], range_ms=range_ms, step_ms=step_ms
        ).collect()
    }
    n = range_ms // step_ms
    exact = {
        (r["k"], r["w"] * step_ms): r["n"]
        for r in ev.withColumn(
            "w",
            F.explode(
                F.sequence(
                    F.floor(F.col("ts_ms") / step_ms) - (n - 1),
                    F.floor(F.col("ts_ms") / step_ms),
                )
            ),
        )
        .groupBy("k", "w")
        .agg(F.countDistinct("value").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for key, est in approx.items():
        assert abs(est - exact[key]) <= max(3, 0.05 * exact[key]), (key, est, exact[key])


def test_pane_sliding_agg_null_values_avg(spark):
    # NULL values: excluded from sum/min/max AND from the AVG denominator
    # (SQL AVG semantics); n_events still counts every row
    rows = [("A", 500, 10.0), ("A", 600, None), ("A", 700, 20.0)]
    df = spark.createDataFrame(rows, "k string, ts_ms long, value double")
    out = pane_sliding_agg(df, ["k"], range_ms=1000, step_ms=1000).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 3
    assert r["sum_v"] == 30.0
    assert r["avg_v"] == pytest.approx(15.0)  # not 30/3


def test_pane_sliding_percentile_within_bin_width_of_exact(spark):
    """Histogram-sketch sliding quantiles: every p-quantile is within one
    bin width of the exact rank-ceil(p*n) order statistic, and n_events
    is exact."""
    import math
    import random

    from janus_spark.operators.timeseries import pane_sliding_percentile

    rng = random.Random(7)
    rows = [("k", float(rng.randrange(0, 10_000)), rng.uniform(0.0, 100.0)) for _ in range(800)]
    df = spark.createDataFrame(rows, "k string, ts_ms double, value double")
    range_ms, step_ms, width = 3000, 1000, 1.0
    out = {
        int(r["window_start"]): r
        for r in pane_sliding_percentile(
            df, ["k"], range_ms=range_ms, step_ms=step_ms,
            probs=(0.5, 0.9), vmin=0.0, vmax=100.0, n_bins=100,
        ).collect()
    }
    # windows over panes: window w covers [w*step, w*step + range)
    starts = {int(t // step_ms) * step_ms - k * step_ms for _, t, _ in rows for k in range(3)}
    for ws in starts:
        vals = sorted(v for _, t, v in rows if ws <= t < ws + range_ms)
        if not vals:
            continue
        r = out[ws]
        assert r["n_events"] == len(vals)
        for p, col in ((0.5, "p50"), (0.9, "p90")):
            exact = vals[math.ceil(p * len(vals)) - 1]
            assert abs(r[col] - exact) <= width, (ws, col, r[col], exact)


def test_scd2_intervals_collapses_repeats_and_closes_intervals(spark):
    from janus_spark.operators.timeseries import scd2_intervals

    rows = [
        ("u1", 1, "login", 100), ("u1", 2, "login", 200), ("u1", 3, "buy", 300),
        ("u1", 4, "login", 400), ("u2", 5, "view", 50),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "event_type", "ts_ms"])
    out = sorted(
        tuple(r) for r in scd2_intervals(df, ["user_id"], "event_type", "ts_ms",
                                         tie_cols=["event_id"]).collect()
    )
    assert out == [
        ("u1", "buy", 300, 400),
        ("u1", "login", 100, 300),
        ("u1", "login", 400, None),
        ("u2", "view", 50, None),
    ]


def test_scd2_intervals_single_shuffle_plan(spark):
    """Both window passes share one (key, order) partitioning — exactly
    one hash exchange in the physical plan."""
    from janus_spark.operators.timeseries import scd2_intervals

    df = spark.range(100).selectExpr(
        "CAST(id % 7 AS STRING) AS user_id", "id AS event_id",
        "CAST(id % 3 AS STRING) AS event_type", "id * 10 AS ts_ms",
    )
    out = scd2_intervals(df, ["user_id"], "event_type", "ts_ms", tie_cols=["event_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_interp_resample_linear_and_exact_hits(spark):
    from janus_spark.operators.timeseries import interp_resample

    rows = [(1, 0, 10.0), (1, 100, 20.0), (1, 250, 50.0)]
    df = spark.createDataFrame(rows, "k long, ts_ms long, value double")
    out = {r["ts_ms"]: r["value_interp"] for r in
           interp_resample(df, ["k"], step_ms=50).collect()}
    assert out[0] == 10.0          # slot on an observation → that value
    assert out[50] == 15.0         # midway 0→100
    assert out[100] == 20.0
    assert out[150] == 30.0        # 1/3 along 100→250
    assert out[200] == 40.0
    assert out[250] == 50.0
    assert set(out) == {0, 50, 100, 150, 200, 250}  # grid clipped to [mn, mx]


def test_interp_resample_single_shuffle_plan(spark):
    """Both brackets come out of one union+window pass: exactly one
    exchange on the key feeds the sort (plus the grid-bounds aggregate),
    and no join appears anywhere in the plan."""
    from janus_spark.operators.timeseries import interp_resample

    df = spark.createDataFrame(
        [(1, i * 37, float(i)) for i in range(20)], "k long, ts_ms long, value double"
    )
    plan = interp_resample(df, ["k"], step_ms=100)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # the four bracket columns share one partitioning + sort: exactly one
    # Sort, and exactly two Exchanges (union→window, grid-bounds agg)
    assert plan.count("+- Sort") == 1
    assert plan.count("+- Exchange") == 2


def test_ewma_hand_computed_with_null_and_series_start(spark):
    from janus_spark.operators.timeseries import ewma

    rows = [(1, 0, 10.0), (1, 1, 20.0), (1, 2, None), (1, 3, 40.0)]
    df = spark.createDataFrame(rows, "k long, ts_ms long, value double")
    out = {r["ts_ms"]: r["ewma"] for r in
           ewma(df, ["k"], alpha=0.5, max_lag=3).collect()}
    assert out[0] == 10.0                                # lone first value
    assert out[1] == round((20 + 0.5 * 10) / 1.5, 6)     # two lags
    # null value at t=2: skipped in num AND den (not treated as 0)
    assert out[2] == round((0.5 * 20 + 0.25 * 10) / 0.75, 6)
    assert out[3] == round((40 + 0.25 * 20) / 1.25, 6)   # null lag skipped


def test_ewma_all_null_window_yields_null(spark):
    from janus_spark.operators.timeseries import ewma

    df = spark.createDataFrame([(1, 0, None), (1, 1, None)], "k long, ts_ms long, value double")
    out = ewma(df, ["k"], alpha=0.5, max_lag=2).collect()
    assert all(r["ewma"] is None for r in out)


def test_winsorize_clips_tails_and_passes_nulls(spark):
    from janus_spark.operators.timeseries import winsorize

    rows = [(i, "a", float(i)) for i in range(1, 100)] + [(100, "a", 1000.0), (101, "a", None)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {r["event_id"]: r for r in winsorize(df, ["event_type"]).collect()}
    assert out[100]["clipped"] is True
    assert out[100]["value_winsorized"] < 1000.0   # pulled down to p95
    assert out[50]["clipped"] is False and out[50]["value_winsorized"] == 50.0
    assert out[101]["clipped"] is False and out[101]["value_winsorized"] is None
    assert out[1]["clipped"] is True               # low tail clips too


def test_winsorize_broadcasts_bounds(spark):
    from janus_spark.operators.timeseries import winsorize

    df = spark.createDataFrame(
        [(i, "t", float(i)) for i in range(50)], "event_id long, event_type string, value double"
    )
    plan = winsorize(df, ["event_type"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_cusum_closed_form_matches_recursion(spark):
    """The prefix closed form must equal the textbook sequential
    recursion S+_i = max(0, S+_{i-1} + (x_i - mu - k)), including the
    adaptive per-key-mean target the oracle gate avoids."""
    import itertools

    from janus_spark.operators.timeseries import cusum

    vals = [10.0, 12.0, 9.0, 30.0, 31.0, 29.5, 8.0, 11.0]
    rows = [("a", i, v) for i, v in enumerate(vals)] + [("b", i, v * 2) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, ts_ms long, value double")
    out = {
        (r["k"], r["ts_ms"]): (r["s_pos"], r["s_neg"])
        for r in cusum(df, ["k"], target=None, drift=1.0).collect()
    }
    for key, scale in (("a", 1.0), ("b", 2.0)):
        xs = [v * scale for v in vals]
        mu = sum(xs) / len(xs)
        sp = sn = 0.0
        for i, x in enumerate(xs):
            sp = max(0.0, sp + (x - mu - 1.0))
            sn = max(0.0, sn + (mu - x - 1.0))
            got = out[(key, i)]
            assert abs(got[0] - sp) < 1e-6 and abs(got[1] - sn) < 1e-6, (key, i, got, sp, sn)


def test_cusum_alarm_fires_on_shift(spark):
    from janus_spark.operators.timeseries import cusum

    # mean ~10 for 20 rows, then a +5 level shift: alarm must fire after
    # the shift and not before
    rows = [("a", i, 10.0 + (i % 2) * 0.2) for i in range(20)]
    rows += [("a", 20 + i, 15.0 + (i % 2) * 0.2) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, ts_ms long, value double")
    out = sorted(
        cusum(df, ["k"], target=10.1, drift=0.5, threshold=10.0).collect(),
        key=lambda r: r["ts_ms"],
    )
    assert not any(r["alarm"] for r in out[:20])
    assert any(r["alarm"] for r in out[25:])


def test_autocorr_detects_period(spark):
    from janus_spark.operators.timeseries import autocorr

    # period-2 alternating series: ac1 strongly negative, ac2 strongly positive
    rows = [("a", i, float(i % 2)) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, ts_ms long, value double")
    r = autocorr(df, ["k"], lags=(1, 2)).collect()[0]
    assert r["ac1"] < -0.9 and r["ac2"] > 0.9


def test_decompose_identities(spark):
    """trend+seasonal+residual == value exactly (integer units), and
    seasonal components sum to ~0 per key."""
    from janus_spark.operators.timeseries import decompose

    rows = [(1, i * 3_600_000, float(10 + (i % 24) + 0.25 * (i % 3))) for i in range(72)]
    df = spark.createDataFrame(rows, "k int, ts_ms long, value double")
    out = decompose(df, ["k"], trend_window=3).collect()
    for r in out:
        assert abs((r["trend"] + r["seasonal"] + r["residual"]) - r["value"]) < 1e-9
    per_bucket = {}
    for r in out:
        per_bucket.setdefault(r["period_bucket"], []).append(r["seasonal"])
    # seasonal is constant within a bucket by construction
    for vals in per_bucket.values():
        assert max(vals) - min(vals) < 1e-9


def test_decompose_flat_series_has_zero_seasonal_and_residual(spark):
    from janus_spark.operators.timeseries import decompose

    rows = [(1, i * 1000, 5.0) for i in range(50)]
    df = spark.createDataFrame(rows, "k int, ts_ms long, value double")
    for r in decompose(df, ["k"], trend_window=4).collect():
        assert r["trend"] == 5.0 and r["seasonal"] == 0.0 and r["residual"] == 0.0


def test_decompose_negative_values_round_half_away_from_zero(spark):
    """Negative-valued series (temperatures, deltas): the trend round
    division must be sign-aware — truncating `div` on a negative
    numerator rounds toward zero, not to nearest, which silently broke
    bit-reproducibility vs a flooring oracle.  Pin trend against the
    Python round-half-away-from-zero reference, and the additive
    identity must still hold exactly."""
    from janus_spark.operators.timeseries import decompose

    # values chosen so trend sums are negative AND hit .5 ulp boundaries
    vals = [-1.25, -3.75, -2.25, -7.25, -0.25, -5.75, -4.25, -6.75]
    rows = [(1, i * 3_600_000, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, ts_ms long, value double")
    got = {r["ts_ms"]: r for r in decompose(df, ["k"], trend_window=2).collect()}

    u = [round(v * 100) for v in vals]  # exact integer cents
    k = 100  # round_dp=4, in_scale=2

    for i in range(len(vals)):
        lo, hi = max(0, i - 2), min(len(vals) - 1, i + 2)
        tn, tc = sum(u[lo:hi + 1]), hi - lo + 1
        expect_units = (
            (tn * 2 * k + tc) // (2 * tc) if tn >= 0
            else -(((-tn) * 2 * k + tc) // (2 * tc))
        )
        r = got[i * 3_600_000]
        assert r["trend"] == expect_units / 10000.0, (i, tn, tc)
        assert abs((r["trend"] + r["seasonal"] + r["residual"]) - vals[i]) < 1e-9
