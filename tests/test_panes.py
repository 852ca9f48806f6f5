"""Pane-decomposed historical sliding execution: the fast path must be
bit-identical to the general window-id-explode path across window
geometries, including rows landing exactly on pane boundaries (the
inclusive-bounds subtlety)."""

import pytest
from pyspark.sql import functions as F

from janus_spark.compiler import parse_sparql
from janus_spark.operators.historical import (
    run_historical_fixed,
    run_historical_sliding,
    sliding_pane_spec,
    sliding_window_bounds,
)
from janus_spark.sources.melt import melt_sensor_fixture

EX = "http://example.org/"

AGG_QUERY = f"""
SELECT ?s (COUNT(?t) AS ?n) (SUM(?t) AS ?sum_t) (AVG(?t) AS ?avg_t)
       (MIN(?t) AS ?min_t) (MAX(?t) AS ?max_t)
WHERE {{ ?s <{EX}temperature> ?t . }}
GROUP BY ?s
"""


@pytest.fixture(scope="module")
def quads(spark):
    # ts = 100..20000 in steps of 100: every pane boundary that is a
    # multiple of 100 carries rows, exercising the boundary partials
    df = melt_sensor_fixture(spark, 200).cache()
    df.count()
    return df


def _collect(df):
    return sorted(
        map(tuple, df.select(*sorted(df.columns)).collect()), key=repr
    )


@pytest.mark.parametrize(
    "offset,rng,step",
    [
        (10_000, 2_000, 1_000),  # reference bench shape (8+ hops, r=2)
        (10_000, 4_000, 500),    # deep overlap (r=8)
        (10_000, 1_000, 1_000),  # tumbling (r=1)
        (7_300, 2_000, 1_000),   # base not aligned to the fixture's ts grid
    ],
)
def test_pane_path_matches_general_path(spark, quads, offset, rng, step):
    q = parse_sparql(AGG_QUERY)
    now = 20_000
    fast = run_historical_sliding(q, quads, now, offset, rng, step, use_panes=True)
    slow = run_historical_sliding(q, quads, now, offset, rng, step, use_panes=False)
    assert sorted(fast.columns) == sorted(slow.columns)
    assert _collect(fast) == _collect(slow)


def test_pane_path_with_filter(spark, quads):
    text = f"""
    SELECT (COUNT(?t) AS ?n) (AVG(?t) AS ?avg_t)
    WHERE {{ ?s <{EX}temperature> ?t . FILTER(?t > 24) }}
    """
    q = parse_sparql(text)
    fast = run_historical_sliding(q, quads, 20_000, 10_000, 2_000, 1_000, use_panes=True)
    slow = run_historical_sliding(q, quads, 20_000, 10_000, 2_000, 1_000, use_panes=False)
    assert _collect(fast) == _collect(slow)


@pytest.mark.parametrize("use_panes", [True, False])
def test_global_aggregate_yields_one_row_per_hop(spark, use_panes):
    """A hop without solutions yields the aggregate over no solutions
    (COUNT 0, SUM and AVG null), as a per-hop evaluation does."""
    q = parse_sparql(
        f"SELECT (COUNT(?t) AS ?n) (SUM(?t) AS ?sum_t) (AVG(?t) AS ?avg_t)"
        f" WHERE {{ ?s <{EX}temperature> ?t . }}"
    )
    quads = melt_sensor_fixture(spark, 20)  # ts 100..2000
    now, offset, rng, step = 5_000, 5_000, 1_000, 1_000
    cols = ["n", "sum_t", "avg_t"]
    got = run_historical_sliding(q, quads, now, offset, rng, step, use_panes=use_panes)
    per_hop = [
        (start, end, *run_historical_fixed(q, quads, start, end).select(*cols).first())
        for _, start, end in sliding_window_bounds(now, offset, rng, step)
    ]
    assert len(per_hop) == 6 and per_hop[-1][2:] == (0, None, None)
    assert sorted(map(tuple, got.select("window_start", "window_end", *cols).collect())) == per_hop


def test_pane_spec_rejects_joins_paths_distinct(spark):
    multi = parse_sparql(
        f"SELECT (COUNT(?t) AS ?n) WHERE {{ ?s <{EX}a> ?t . ?s <{EX}b> ?u . }}"
    )
    assert sliding_pane_spec(multi) is None
    path = parse_sparql(f"SELECT (COUNT(?o) AS ?n) WHERE {{ ?s <{EX}a>/<{EX}b> ?o . }}")
    assert sliding_pane_spec(path) is None
    dist = parse_sparql(f"SELECT (COUNT(DISTINCT ?t) AS ?n) WHERE {{ ?s <{EX}a> ?t . }}")
    assert sliding_pane_spec(dist) is None
    rows_only = parse_sparql(f"SELECT ?s ?t WHERE {{ ?s <{EX}a> ?t . }}")
    assert sliding_pane_spec(rows_only) is None


def test_pane_force_raises_on_ineligible(spark, quads):
    q = parse_sparql(f"SELECT ?s ?t WHERE {{ ?s <{EX}temperature> ?t . }}")
    with pytest.raises(ValueError):
        run_historical_sliding(q, quads, 20_000, 10_000, 2_000, 1_000, use_panes=True)


def test_uneven_step_falls_back_to_general(spark, quads):
    # range not a multiple of step: auto mode must take the general path
    q = parse_sparql(AGG_QUERY)
    auto = run_historical_sliding(q, quads, 20_000, 10_000, 2_500, 1_000)
    slow = run_historical_sliding(q, quads, 20_000, 10_000, 2_500, 1_000, use_panes=False)
    assert _collect(auto) == _collect(slow)


def test_pane_plan_aggregates_before_explode(spark, quads):
    """The win is structural: the pane plan partial-aggregates BELOW the
    window explode (replicating partials), the general plan explodes raw
    rows below every aggregate."""
    q = parse_sparql(AGG_QUERY)
    fast = run_historical_sliding(q, quads, 20_000, 10_000, 4_000, 500, use_panes=True)
    slow = run_historical_sliding(q, quads, 20_000, 10_000, 4_000, 500, use_panes=False)
    pf = fast._jdf.queryExecution().executedPlan().toString()
    ps = slow._jdf.queryExecution().executedPlan().toString()
    gen_f = pf.index("Generate")
    gen_s = ps.index("Generate")
    # plans print top-down: an aggregate BELOW the explode appears after
    # it (HashAggregate, or SortAggregate when min/max runs on strings)
    aggs = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
    assert any(a in pf[gen_f:] for a in aggs), "pane plan must aggregate below the explode"
    assert not any(a in ps[gen_s:] for a in aggs), "general plan explodes raw rows"


def test_window_tagging_gapped_geometry_matches_range_join(spark, quads):
    """range < step (gapped windows) and the tail past the last window's
    end leave some rows in NO window; the arithmetic tagger must drop
    them exactly like the membership range-join does.  (Regression: an
    unguarded F.sequence(lo, hi) with lo > hi yields a DESCENDING
    sequence — spurious assignments.)"""
    from janus_spark.operators.historical import (
        assign_sliding_windows,
        assign_sliding_windows_regular,
        sliding_window_bounds,
    )

    now, offset, rng, step = 20_000, 9_700, 800, 2_000  # gapped + ragged tail
    bounds = sliding_window_bounds(now, offset, rng, step)
    by_join = assign_sliding_windows(quads, bounds)
    by_math = assign_sliding_windows_regular(quads, now, offset, rng, step)
    cols = ["ts", "subject", "predicate", "object", "graph", "__window_id"]
    a = sorted(map(tuple, by_join.select(*cols).collect()))
    # the range-join tags with window bounds columns; ids beyond k_max
    # cannot appear there by construction, so it is the membership oracle
    b = sorted(map(tuple, by_math.select(*cols).collect()))
    assert a == b


def test_sliding_gapped_geometry_aggregates_correctly(spark, quads):
    from janus_spark.compiler import parse_sparql

    q = parse_sparql(AGG_QUERY)
    out = run_historical_sliding(q, quads, 20_000, 9_700, 800, 2_000, use_panes=False)
    rows = out.collect()
    # every emitted window honors its own inclusive bounds: re-derive the
    # expected count per window from the raw fixture
    raw = [r["ts"] for r in quads.where(f"predicate = '{EX}temperature'").collect()]
    per_window = {}
    for r in rows:
        per_window[(r["window_start"], r["window_end"])] = per_window.get(
            (r["window_start"], r["window_end"]), 0
        ) + r["n"]
    for (lo_w, hi_w), n in per_window.items():
        assert n == sum(1 for t in raw if lo_w <= t <= hi_w)


def test_pane_path_zero_range_matches_general(spark, quads):
    # range = 0: point windows — only rows at exact step multiples belong;
    # every non-boundary partial maps to lo > hi and must drop, not get a
    # descending-sequence window assignment (ADVICE r2)
    q = parse_sparql(AGG_QUERY)
    fast = run_historical_sliding(q, quads, 20_000, 10_000, 0, 1_000, use_panes=True)
    slow = run_historical_sliding(q, quads, 20_000, 10_000, 0, 1_000, use_panes=False)
    assert _collect(fast) == _collect(slow)
    assert fast.count() > 0  # boundary rows exist in the fixture


def test_pane_path_aliased_group_key(spark, quads):
    # (?s AS ?sensor): frame groups by the var, output carries the alias
    text = f"""
    SELECT (?s AS ?sensor) (COUNT(?t) AS ?n)
    WHERE {{ ?s <{EX}temperature> ?t . }}
    GROUP BY ?s
    """
    q = parse_sparql(text)
    assert sliding_pane_spec(q) is not None
    fast = run_historical_sliding(q, quads, 20_000, 10_000, 2_000, 1_000, use_panes=True)
    slow = run_historical_sliding(q, quads, 20_000, 10_000, 2_000, 1_000, use_panes=False)
    assert "sensor" in fast.columns
    assert sorted(fast.columns) == sorted(slow.columns)
    assert _collect(fast) == _collect(slow)
