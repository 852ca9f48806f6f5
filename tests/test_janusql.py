"""Janus-QL parsing + historical window execution + baseline semantics.

Pins the reference behaviors: window-spec forms (janusql_parser.rs:381-402),
inclusive storage bounds (segmented_storage.rs:318,451-459), sliding hop
iteration (historical_executor.rs:424-460), baseline LAST vs AGGREGATE
(janus_api.rs:1010-1073).
"""

import pytest

from janus_spark.engine import JanusEngine
from janus_spark.operators.baseline import build_baseline
from janus_spark.operators.historical import sliding_window_bounds
from janus_spark.parsing import HIST_FIXED, HIST_SLIDING, LIVE_SLIDING, parse_janusql
from janus_spark.sources.melt import melt_sensor_fixture
from janus_spark.streaming import ListSink

EX = "http://example.org/"

HYBRID = f"""
PREFIX ex: <{EX}>
REGISTER RStream <output> AS
SELECT ?sensor ?temp ?mean
FROM NAMED WINDOW ex:live ON STREAM ex:sensors [RANGE 5000 STEP 1000]
FROM NAMED WINDOW ex:hist ON LOG ex:sensors [START 1000 END 3000]
USING BASELINE ex:hist AGGREGATE
WHERE {{
  WINDOW ex:live {{ ?sensor ex:temperature ?temp . }}
  WINDOW ex:hist {{ ?sensor ex:mean ?mean . }}
  ?sensor <https://janus.rs/baseline#mean> ?mean .
}}
"""


def test_parse_hybrid_query():
    q = parse_janusql(HYBRID)
    assert q.operator == "RStream"
    assert q.output == "output"
    assert len(q.windows) == 2
    live, hist = q.live_windows[0], q.historical_windows[0]
    assert live.kind == LIVE_SLIDING and live.range_ms == 5000 and live.step_ms == 1000
    assert hist.kind == HIST_FIXED and hist.start_ts == 1000 and hist.end_ts == 3000
    assert q.baseline_window == f"{EX}hist" and q.baseline_mode == "AGGREGATE"
    assert q.is_hybrid()
    assert set(q.window_bodies) == {f"{EX}live", f"{EX}hist"}
    assert len(q.non_window.elements) == 1


def test_parse_hist_sliding_spec():
    q = parse_janusql(
        f"""PREFIX ex: <{EX}>
        SELECT ?s
        FROM NAMED WINDOW ex:w ON LOG ex:log [OFFSET 4000 RANGE 1000 STEP 500]
        WHERE {{ WINDOW ex:w {{ ?s ex:p ?o }} }}"""
    )
    w = q.windows[0]
    assert w.kind == HIST_SLIDING
    assert (w.offset_ms, w.range_ms, w.step_ms) == (4000, 1000, 500)


def test_live_spec_on_log_rejected():
    bad = f"""PREFIX ex: <{EX}>
    SELECT ?s FROM NAMED WINDOW ex:w ON LOG ex:log [RANGE 100 STEP 10]
    WHERE {{ WINDOW ex:w {{ ?s ex:p ?o }} }}"""
    with pytest.raises(SyntaxError):
        parse_janusql(bad)


def test_baseline_must_name_historical_window():
    bad = f"""PREFIX ex: <{EX}>
    SELECT ?s FROM NAMED WINDOW ex:w ON STREAM ex:s [RANGE 100 STEP 10]
    USING BASELINE ex:w LAST
    WHERE {{ WINDOW ex:w {{ ?s ex:p ?o }} }}"""
    with pytest.raises(SyntaxError):
        parse_janusql(bad)


# ------------------------------------------------------------ execution
FIXED_QUERY = f"""
PREFIX ex: <{EX}>
REGISTER RStream <out> AS
SELECT ?sensor ?temp
FROM NAMED WINDOW ex:hist ON STREAM ex:sensors [START 1000 END 3000]
WHERE {{ WINDOW ex:hist {{ ?sensor ex:temperature ?temp . }} }}
"""


def test_historical_fixed_inclusive_bounds(spark):
    quads = melt_sensor_fixture(spark, 100)  # ts = 100..10000
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(FIXED_QUERY)
    res = eng.start_historical(qid)[f"{EX}hist"]
    rows = res.collect()
    # ts in [1000, 3000] inclusive -> i in 10..30 -> 21 rows
    assert len(rows) == 21
    assert set(res.columns) >= {"sensor", "temp", "query_id", "source", "timestamp"}
    assert all(r["source"] == "historical" and r["timestamp"] == 3000 for r in rows)
    assert eng.get_query(qid).status == "Running"


def test_sliding_bounds_iteration():
    # reference bench shape: OFFSET 10s RANGE 2s STEP 1s => 11 hops (cur<=now)
    b = sliding_window_bounds(now=10_000, offset_ms=10_000, range_ms=2_000, step_ms=1_000)
    assert len(b) == 11
    assert b[0] == (0, 0, 2_000)
    assert b[-1] == (10, 10_000, 10_000)  # end clamped to now
    assert b[8] == (8, 8_000, 10_000)


SLIDING_QUERY = f"""
PREFIX ex: <{EX}>
REGISTER RStream <out> AS
SELECT ?sensor (AVG(?temp) AS ?avg_temp)
FROM NAMED WINDOW ex:h ON LOG ex:sensors [OFFSET 4000 RANGE 1000 STEP 1000]
WHERE {{ WINDOW ex:h {{ ?sensor ex:temperature ?temp . }} }}
GROUP BY ?sensor
"""


def test_historical_sliding_execution(spark):
    quads = melt_sensor_fixture(spark, 100)
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(SLIDING_QUERY)
    res = eng.start_historical(qid, now=5000)[f"{EX}h"]
    rows = res.collect()
    assert {"sensor", "avg_temp", "window_start", "window_end"} <= set(res.columns)
    # hops: [1000,2000],[2000,3000],[3000,4000],[4000,5000],[5000,5000]
    starts = {r["window_start"] for r in rows}
    assert starts == {1000, 2000, 3000, 4000, 5000}
    # window [1000,2000]: i in 10..20, sensor0 gets i in {10,15,20} -> temps 20,25,20
    w1 = {r["sensor"]: r["avg_temp"] for r in rows if r["window_start"] == 1000}
    assert abs(w1[f"{EX}sensor0"] - (20 + 25 + 20) / 3) < 1e-9


# -------------------------------------------------------------- baseline
def test_baseline_aggregate_mean(spark):
    # mirrors janus_api.rs:1010-1037 — two windows, sensor mean 10 then 20 -> 15
    hist = spark.createDataFrame(
        [(f"{EX}s1", "10", 1), (f"{EX}s1", "20", 2)],
        ["sensor", "mean", "wid"],
    )
    bl = build_baseline(hist, "AGGREGATE", window_ord_col="wid")
    rows = {(r["anchor"], r["var"]): r["value"] for r in bl.collect()}
    assert rows[(f"{EX}s1", "mean")] == "15"


def test_baseline_last_mode(spark):
    hist = spark.createDataFrame(
        [(f"{EX}s1", "10", 1), (f"{EX}s1", "20", 2)],
        ["sensor", "mean", "wid"],
    )
    bl = build_baseline(hist, "LAST", window_ord_col="wid")
    rows = {(r["anchor"], r["var"]): r["value"] for r in bl.collect()}
    assert rows[(f"{EX}s1", "mean")] == "20"


def test_baseline_non_numeric_keeps_last(spark):
    hist = spark.createDataFrame(
        [(f"{EX}s1", "low", 1), (f"{EX}s1", "high", 2)],
        ["sensor", "state", "wid"],
    )
    bl = build_baseline(hist, "AGGREGATE", window_ord_col="wid")
    rows = {(r["anchor"], r["var"]): r["value"] for r in bl.collect()}
    assert rows[(f"{EX}s1", "state")] == "high"


def test_hybrid_baseline_flow(spark, tmp_path):
    """End-to-end W8: historical window -> baseline quads -> live join."""
    quads = melt_sensor_fixture(spark, 30)  # ts 100..3000
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(HYBRID.replace("ex:mean ?mean", "ex:temperature ?mean"))
    sink = ListSink()
    runner = eng.start_live(qid, str(tmp_path / "buf"), sink=sink)  # warms the baseline
    srows = runner.static_quads.collect()
    assert all(r["predicate"] == "https://janus.rs/baseline#mean" for r in srows)
    assert len(srows) == 5  # one baseline triple per sensor
    # live windows: join live temps against baseline means
    runner.on_batch(quads.limit(50))
    runner.close(10_000)
    means = {r["subject"]: r["object"] for r in srows}
    lrows = [r for b in sink.batches for r in b["rows"]]
    assert len(lrows) > 0
    assert all(r["mean"] == means[r["sensor"]] for r in lrows)


def test_sliding_window_limit_is_per_window(spark):
    """LIMIT inside a sliding-window query applies per window evaluation
    (reference: each hop runs its own SPARQL with the LIMIT)."""
    quads = melt_sensor_fixture(spark, 100)
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(f"""
    PREFIX ex: <{EX}>
    REGISTER RStream <out> AS
    SELECT ?sensor ?temp
    FROM NAMED WINDOW ex:h ON LOG ex:sensors [OFFSET 4000 RANGE 1000 STEP 1000]
    WHERE {{ WINDOW ex:h {{ ?sensor ex:temperature ?temp . }} }}
    ORDER BY ?sensor LIMIT 3
    """)
    res = eng.start_historical(qid, now=5000)[f"{EX}h"]
    rows = res.collect()
    by_window = {}
    for r in rows:
        by_window.setdefault(r["window_start"], []).append(r)
    assert len(by_window) >= 4
    for ws, wrows in by_window.items():
        assert len(wrows) <= 3, f"window {ws} exceeded per-window LIMIT"
    assert any(len(w) == 3 for w in by_window.values())


def test_historical_query_keeps_order_by_on_aggregate_alias():
    """ORDER BY on a projection alias (e.g. (COUNT(?e) AS ?n)) must
    survive decomposition — aliases are in scope for modifiers even
    though no pattern binds them (regression: silently dropped)."""
    from janus_spark.parsing import parse_janusql

    text = """
    REGISTER RStream <out> AS
    SELECT ?u (COUNT(?e) AS ?n)
    FROM NAMED WINDOW <urn:w> ON LOG <urn:s> [START 0 END 100]
    WHERE { WINDOW <urn:w> { ?e <urn:p> ?u . } }
    GROUP BY ?u
    ORDER BY DESC(?n) ?u
    LIMIT 3
    """
    sq = parse_janusql(text).historical_query(
        parse_janusql(text).historical_windows[0]
    )
    assert len(sq.order_by) == 2
    (e1, asc1), (e2, asc2) = sq.order_by
    assert not asc1 and asc2
    assert sq.limit == 3
