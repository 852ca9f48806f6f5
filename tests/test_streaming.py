"""Live window runtime (W3-W6) — semantics mirrored from the reference's
live-stream integration tests (tests/live_stream_integration_test.rs)."""

import pytest
from pyspark.sql import functions as F

from janus_spark.parsing import parse_janusql
from janus_spark.sources.melt import melt_sensor_fixture
from janus_spark.streaming import LiveQueryRunner, ListSink, replay_quads

EX = "http://example.org/"

LIVE_QUERY = f"""
PREFIX ex: <{EX}>
REGISTER RStream <out> AS
SELECT ?sensor ?temp
FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 1000]
WHERE {{ WINDOW ex:w {{ ?sensor ex:temperature ?temp . }} }}
"""


def make_runner(spark, tmp_path, text=LIVE_QUERY, static=None):
    sink = ListSink()
    runner = LiveQueryRunner(
        spark, parse_janusql(text), str(tmp_path / "buf"), static_quads=static, sink=sink
    )
    return runner, sink


def test_window_fires_on_event_time_advance(spark, tmp_path):
    quads = melt_sensor_fixture(spark, 50)  # ts 100..5000
    runner, sink = make_runner(spark, tmp_path)
    # feed ts <= 1900: no window closed yet ([0,2000) needs ts >= 2000)
    runner.on_batch(quads.where("ts < 1900"))
    assert sink.batches == []
    # event at 2100 closes [0,2000)
    runner.on_batch(quads.where("ts >= 1900 and ts <= 2100"))
    assert len(sink.batches) == 1
    b = sink.batches[0]
    assert (b["window_start"], b["window_end"]) == (0, 2000)
    # [0,2000) contains ts 100..1900 -> 19 quads
    assert len(b["rows"]) == 19


def test_rstream_full_reemission(spark, tmp_path):
    """RStream: each close emits the full window content, not deltas (W6)."""
    quads = melt_sensor_fixture(spark, 50)
    runner, sink = make_runner(spark, tmp_path)
    runner.on_batch(quads.where("ts <= 3100"))
    ends = [b["window_end"] for b in sink.batches]
    assert ends == [2000, 3000]
    # [1000,3000) holds ts 1000..2900 -> 20 rows, all re-emitted
    assert len(sink.batches[1]["rows"]) == 20


def test_close_stream_sentinel_flushes(spark, tmp_path):
    quads = melt_sensor_fixture(spark, 30)  # ts 100..3000
    runner, sink = make_runner(spark, tmp_path)
    runner.on_batch(quads)
    fired = len(sink.batches)
    runner.close(6000)
    assert len(sink.batches) > fired  # remaining windows flushed
    ends = [b["window_end"] for b in sink.batches]
    assert ends == sorted(ends)


def test_empty_window_emits_empty_batch(spark, tmp_path):
    quads = melt_sensor_fixture(spark, 10)  # ts 100..1000
    sparse = quads.union(
        spark.createDataFrame(
            [(9100, f"{EX}sensorX", f"{EX}temperature", "42", "g")],
            ["ts", "subject", "predicate", "object", "graph"],
        )
    )
    runner, sink = make_runner(spark, tmp_path)
    runner.on_batch(sparse)
    # windows like [4000,6000) contain nothing -> emitted with 0 rows
    empty = [b for b in sink.batches if len(b["rows"]) == 0]
    assert empty, "empty windows must still emit (reference behavior)"


def test_static_quads_join_live(spark, tmp_path):
    text = f"""
    PREFIX ex: <{EX}>
    REGISTER RStream <out> AS
    SELECT ?sensor ?temp ?mean
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 2000]
    WHERE {{
      WINDOW ex:w {{ ?sensor ex:temperature ?temp . }}
      ?sensor <https://janus.rs/baseline#mean> ?mean .
    }}
    """
    static = spark.createDataFrame(
        [(0, f"{EX}sensor1", "https://janus.rs/baseline#mean", "23.5", "")],
        ["ts", "subject", "predicate", "object", "graph"],
    )
    quads = melt_sensor_fixture(spark, 50)
    runner, sink = make_runner(spark, tmp_path, text, static)
    runner.on_batch(quads.where("ts <= 2100"))
    rows = sink.batches[0]["rows"]
    assert rows and all(r["mean"] == "23.5" and r["sensor"] == f"{EX}sensor1" for r in rows)


def test_multi_window_cross_merge(spark, tmp_path):
    """W4: when window A fires, other windows' content joins in."""
    text = f"""
    PREFIX ex: <{EX}>
    REGISTER RStream <out> AS
    SELECT ?sensor ?temp ?hum
    FROM NAMED WINDOW ex:a ON STREAM ex:s1 [RANGE 2000 STEP 2000]
    FROM NAMED WINDOW ex:b ON STREAM ex:s2 [RANGE 4000 STEP 4000]
    WHERE {{
      WINDOW ex:a {{ ?sensor ex:temperature ?temp . }}
      WINDOW ex:b {{ ?sensor ex:humidity ?hum . }}
    }}
    """
    temps = melt_sensor_fixture(spark, 30)
    hums = temps.select(
        (F.col("ts") - 50).alias("ts"),
        "subject",
        F.lit(f"{EX}humidity").alias("predicate"),
        F.concat(F.lit("h"), F.col("object")).alias("object"),
        "graph",
    )
    runner, sink = make_runner(spark, tmp_path, text)
    runner.on_batch(temps.unionByName(hums))
    runner.close(8000)
    joined = [b for b in sink.batches if b["rows"]]
    assert joined, "cross-window merge should produce joined rows"
    r = joined[0]["rows"][0]
    assert r["temp"] is not None and r["hum"] is not None

    # sliding windows whose ranges AND steps differ, fed in two batches,
    # with a per-batch fire cap: every fire sees exactly the quads in
    # [end - max range, end) — the widest live window ending there
    from collections import Counter

    text = text.replace("[RANGE 2000 STEP 2000]", "[RANGE 3000 STEP 1000]").replace(
        "[RANGE 4000 STEP 4000]", "[RANGE 5000 STEP 2000]"
    )
    runner, sink = make_runner(spark, tmp_path / "sliding", text)
    quads = temps.unionByName(hums)
    runner.on_batch(quads.where("ts <= 2100"))
    assert sink.batches == []  # no window has closed yet
    runner.on_batch(quads.where("ts > 2100"))
    runner.max_windows_per_batch = 4
    runner.close(9000)
    fired = [(b["window"], b["window_start"], b["window_end"]) for b in sink.batches]
    a, b = (w.spec.name for w in runner.windows)
    assert fired == [
        (a, 0, 3000),  # closed by ts 3000 in the second batch
        # close(9000) closes k = 1..6 of a; the cap keeps the newest 4
        (a, 3000, 6000), (a, 4000, 7000), (a, 5000, 8000), (a, 6000, 9000),
        (b, 0, 5000), (b, 2000, 7000), (b, 4000, 9000),
    ]
    pts = [tuple(q) for q in quads.collect()]
    temp_q = [q for q in pts if q[2] == f"{EX}temperature"]
    hum_q = [q for q in pts if q[2] == f"{EX}humidity"]
    for batch in sink.batches:
        e = batch["window_end"]

        def live(qs):
            return [q for q in qs if e - 5000 <= q[0] < e]

        expected = Counter(
            (t[1], t[3], h[3]) for t in live(temp_q) for h in live(hum_q) if t[1] == h[1]
        )
        got = Counter((r["sensor"], r["temp"], r["hum"]) for r in batch["rows"])
        assert got == expected, (batch["window"], e)


def test_replay_with_dual_write(spark, tmp_path):
    from janus_spark.sources.quadstore import QuadStore

    quads = melt_sensor_fixture(spark, 30)
    runner, sink = make_runner(spark, tmp_path)
    store = QuadStore(spark, str(tmp_path / "store"), bucket_ms=1000)
    n = replay_quads(quads, runner, batch_ms=1000, store=store)
    assert n >= 3
    assert store.read().count() == 30  # dual-write (S8)
    assert sink.batches  # live side fired


def test_attach_structured_streaming(spark, tmp_path):
    """S7: real readStream file source -> foreachBatch -> window fires."""
    from janus_spark.model import QUAD_SCHEMA

    src = tmp_path / "stream_src"
    src.mkdir()
    quads = melt_sensor_fixture(spark, 50)
    quads.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    stream = spark.readStream.schema(QUAD_SCHEMA).parquet(str(src / "f1"))
    runner, sink = make_runner(spark, tmp_path)
    q = runner.attach(stream, once=True)
    q.awaitTermination(120)
    assert sink.batches
    assert sink.batches[0]["window_end"] % 1000 == 0


def test_engine_start_live_hybrid(spark, tmp_path):
    """Full hybrid lifecycle: register -> warm baseline -> live runner."""
    from janus_spark.engine import JanusEngine

    text = f"""
    PREFIX ex: <{EX}>
    REGISTER RStream <out> AS
    SELECT ?sensor ?temp ?mean
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 2000]
    FROM NAMED WINDOW ex:hist ON LOG ex:sensors [START 100 END 3000]
    USING BASELINE ex:hist AGGREGATE
    WHERE {{
      WINDOW ex:w {{ ?sensor ex:temperature ?temp . }}
      WINDOW ex:hist {{ ?sensor ex:temperature ?mean . }}
      ?sensor <https://janus.rs/baseline#mean> ?mean .
    }}
    """
    quads = melt_sensor_fixture(spark, 50)
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(text)
    runner = eng.start_live(qid, str(tmp_path / "livebuf"))
    assert eng.get_query(qid).status == "Running"
    runner.on_batch(quads.where("ts <= 2100"))
    rows = runner.sink.batches[0]["rows"]
    assert rows, "hybrid live join with baseline should match"
    # every row's mean equals the historical per-sensor average
    assert all(r["mean"] is not None for r in rows)


def _unique_subject_quads(spark, n=50):
    """Each event has a unique subject so window solutions are unique."""
    return melt_sensor_fixture(spark, n).selectExpr(
        "ts", "concat(subject, '_', ts) as subject", "predicate", "object", "graph"
    )


def test_istream_emits_only_new_rows(spark, tmp_path):
    text = LIVE_QUERY.replace("RStream", "IStream")
    quads = _unique_subject_quads(spark, 50)
    runner, sink = make_runner(spark, tmp_path, text)
    runner.on_batch(quads.where("ts <= 3100"))
    # windows [0,2000) then [1000,3000): second emission only solutions
    # new relative to the previous window (bag difference)
    assert [b["window_end"] for b in sink.batches] == [2000, 3000]
    first, second = sink.batches
    assert len(first["rows"]) == 19
    # [1000,3000) holds 20 rows; overlap [1000,2000) has 10 -> 10 new
    assert len(second["rows"]) == 10


def test_dstream_emits_dropped_rows(spark, tmp_path):
    text = LIVE_QUERY.replace("RStream", "DStream")
    quads = _unique_subject_quads(spark, 50)
    runner, sink = make_runner(spark, tmp_path, text)
    runner.on_batch(quads.where("ts <= 3100"))
    first, second = sink.batches
    assert first["rows"] == []  # nothing existed before the first window
    # rows in [0,2000) but not [1000,3000): ts 100..900 -> 9 dropped
    assert len(second["rows"]) == 9


def test_native_window_agg_stream(spark, tmp_path):
    """Aggregate-shaped live queries run as native watermarked window
    aggregations (incremental state, no foreachBatch)."""
    from janus_spark.model import QUAD_SCHEMA
    from janus_spark.streaming.native_agg import native_window_agg_stream

    text = f"""
    PREFIX ex: <{EX}>
    REGISTER RStream <out> AS
    SELECT ?sensor (AVG(?t) AS ?avg_t) (COUNT(?t) AS ?n)
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 1000]
    WHERE {{ WINDOW ex:w {{ ?sensor ex:temperature ?t . }} }}
    GROUP BY ?sensor
    """
    src = tmp_path / "nat_src"
    src.mkdir()
    melt_sensor_fixture(spark, 50).coalesce(1).write.parquet(str(src / "f1"))
    stream = spark.readStream.schema(QUAD_SCHEMA).parquet(str(src / "f1"))
    out = native_window_agg_stream(parse_janusql(text), stream)
    q = (
        out.writeStream.format("memory")
        .queryName("nat_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "nat_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM nat_agg ORDER BY window_start, sensor").collect()
    assert rows
    # spark's window(): [k*step, k*step+range) — same hop shape as the runtime
    w0 = [r for r in rows if r["window_start"] == 0]
    assert {r["sensor"] for r in w0} == {f"{EX}sensor{i}" for i in range(5)}
    s0 = [r for r in w0 if r["sensor"].endswith("sensor0")][0]
    # window [0,2000): sensor0 events i in {5,10,15} -> temps 25,20,25
    assert s0["n"] == 3 and abs(s0["avg_t"] - (25 + 20 + 25) / 3) < 1e-9


def test_native_agg_rejects_join_shapes(spark):
    from janus_spark.streaming.native_agg import native_window_agg_stream

    text = f"""
    PREFIX ex: <{EX}>
    REGISTER RStream <out> AS
    SELECT ?s (COUNT(?t) AS ?n)
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 1000]
    WHERE {{ WINDOW ex:w {{ ?s ex:temperature ?t . ?s ex:humidity ?h . }} }}
    GROUP BY ?s
    """
    # sliding (STEP < RANGE) multi-pattern stays on foreachBatch
    with pytest.raises(ValueError, match="tumbling"):
        native_window_agg_stream(parse_janusql(text), None)


def test_native_multi_pattern_join_stream(spark, tmp_path):
    """Multi-pattern BGPs over tumbling windows run natively: per-pattern
    window-tagged streams -> stream-stream join on (window, shared vars)
    -> chained windowed aggregation, all incremental (append mode)."""
    from janus_spark.model import QUAD_SCHEMA
    from janus_spark.streaming.native_agg import native_agg_reason, native_window_agg_stream

    text = f"""
    PREFIX ex: <{EX}>
    REGISTER RStream <out> AS
    SELECT ?s (COUNT(?t) AS ?n) (AVG(?h) AS ?avg_h)
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 2000]
    WHERE {{ WINDOW ex:w {{ ?s ex:temperature ?t . ?s ex:humidity ?h . }} }}
    GROUP BY ?s
    """
    parsed = parse_janusql(text)
    assert native_agg_reason(parsed) is None

    temps = melt_sensor_fixture(spark, 40)
    hums = temps.select(
        "ts", "subject", F.lit(f"{EX}humidity").alias("predicate"),
        (F.col("object").cast("int") + 50).cast("string").alias("object"), "graph",
    )

    def closer(ts):  # advances the watermark on BOTH pattern legs
        return temps.unionByName(hums).where("ts = 100").selectExpr(
            f"CAST({ts} AS LONG) as ts", "subject", "predicate", "object", "graph"
        )

    src = tmp_path / "natj_src"
    src.mkdir()
    # one file per micro-batch (maxFilesPerTrigger=1): the closer files
    # advance event time so append mode emits the closed windows
    temps.unionByName(hums).coalesce(1).write.parquet(str(src / "f1.parquet"))
    closer(60_000).coalesce(1).write.parquet(str(src / "f2.parquet"))
    closer(120_000).coalesce(1).write.parquet(str(src / "f3.parquet"))
    stream = (
        spark.readStream.schema(QUAD_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    out = native_window_agg_stream(parse_janusql(text), stream, watermark="1 second")
    q = (
        out.writeStream.format("memory")
        .queryName("nat_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "natj_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT * FROM nat_join WHERE window_start = 0 ORDER BY s"
    ).collect()
    # window [0,2000): ids 1..19; sensor0 has temps {25,20,25} and
    # humidity {75,70,75} -> BGP cross product: 3x3 = 9 bindings,
    # avg over ?h repeats each humidity 3 times
    assert {r["s"] for r in rows} == {f"{EX}sensor{i}" for i in range(5)}
    s0 = [r for r in rows if r["s"].endswith("sensor0")][0]
    assert s0["n"] == 9
    assert abs(s0["avg_h"] - (75 + 70 + 75) / 3) < 1e-9


def test_native_join_late_data_within_watermark(spark, tmp_path):
    """A late event arriving within the watermark delay still lands in its
    (already-open) window on both join legs — the late-data story the
    reference lacks entirely (its MQTT path overwrites event time with
    arrival time; SURVEY W7)."""
    from janus_spark.model import QUAD_SCHEMA
    from janus_spark.streaming.native_agg import native_window_agg_stream

    text = f"""
    PREFIX ex: <{EX}>
    REGISTER RStream <out> AS
    SELECT ?s (COUNT(?t) AS ?n)
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 2000]
    WHERE {{ WINDOW ex:w {{ ?s ex:temperature ?t . ?s ex:humidity ?h . }} }}
    GROUP BY ?s
    """
    rows = [
        # batch 1: one temp event for sensor A in window [0,2000)
        (100, "A", "temp", "21"),
        (100, "A", "hum", "70"),
        # batch 2: advance event time to 2500 (watermark = 2500-10000 < 0,
        # window [0,2000) still open), THEN a late ts=300 humidity pairing
        (2500, "B", "temp", "20"),
        (2500, "B", "hum", "60"),
        # batch 3: the late event — ts=300 arrives after ts=2500 was seen
        (300, "A", "temp", "22"),
        (300, "A", "hum", "71"),
        # batch 4: far-future closer flushes everything
        (60_000, "C", "temp", "20"),
        (60_000, "C", "hum", "60"),
        (120_000, "C", "temp", "20"),
        (120_000, "C", "hum", "60"),
    ]
    batches = [rows[0:2], rows[2:4], rows[4:6], rows[6:8], rows[8:10]]
    src = tmp_path / "natl_src"
    src.mkdir()
    for i, b in enumerate(batches):
        spark.createDataFrame(
            [(ts, f"{EX}{s}", f"{EX}{'temperature' if p == 'temp' else 'humidity'}", o, f"{EX}g")
             for ts, s, p, o in b],
            QUAD_SCHEMA,
        ).coalesce(1).write.parquet(str(src / f"f{i}.parquet"))
    stream = (
        spark.readStream.schema(QUAD_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    out = native_window_agg_stream(parse_janusql(text), stream, watermark="10 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("nat_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "natl_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["s"]: r["n"]
        for r in spark.sql("SELECT * FROM nat_late WHERE window_start = 0").collect()
    }
    # sensor A: temps {21,22} x hums {70,71} -> 4 bindings; the late
    # ts=300 pair MUST be counted even though ts=2500 arrived first
    assert got == {f"{EX}A": 4}


def test_engine_dispatches_live_mode(spark, tmp_path):
    """start_live_auto picks native for aggregate shapes, foreachBatch
    for join shapes; explain_live reports the choice and reason."""
    from janus_spark.engine import JanusEngine
    from janus_spark.model import QUAD_SCHEMA
    from janus_spark.streaming.live import LiveQueryRunner

    eng = JanusEngine(spark)
    agg_q = eng.register_query(f"""
    PREFIX ex: <{EX}>
    REGISTER RStream <out> AS
    SELECT ?sensor (COUNT(?t) AS ?n)
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 1000]
    WHERE {{ WINDOW ex:w {{ ?sensor ex:temperature ?t . }} }}
    GROUP BY ?sensor
    """)
    join_q = eng.register_query(f"""
    PREFIX ex: <{EX}>
    REGISTER RStream <out> AS
    SELECT ?s ?t ?h
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 1000]
    WHERE {{ WINDOW ex:w {{ ?s ex:temperature ?t . ?s ex:humidity ?h . }} }}
    """)
    assert eng.explain_live(agg_q)["mode"] == "native"
    # sliding multi-pattern (and non-aggregate projection) -> foreachBatch
    assert eng.explain_live(join_q)["mode"] == "foreachbatch"
    assert "tumbling" in eng.explain_live(join_q)["reason"]

    src = tmp_path / "disp_src"
    src.mkdir()
    melt_sensor_fixture(spark, 20).coalesce(1).write.parquet(str(src / "f1"))
    stream = spark.readStream.schema(QUAD_SCHEMA).parquet(str(src / "f1"))
    mode, handle = eng.start_live_auto(agg_q, stream, str(tmp_path / "b1"))
    assert mode == "native" and hasattr(handle, "writeStream")
    mode, handle = eng.start_live_auto(join_q, stream, str(tmp_path / "b2"))
    assert mode == "foreachbatch" and isinstance(handle, LiveQueryRunner)


def test_interval_join_stream_matches_batch_join(spark):
    """Stream-stream interval join ≡ the equivalent batch inequality
    join on the same fixture (the gate q_live_interval_join pins the
    same thing against DuckDB; this keeps it in the fast suite)."""
    from janus_spark.queries import QUERIES

    out = QUERIES["q_live_interval_join"](spark, "unused")
    rows = set(tuple(r) for r in out.collect())
    c = spark.range(0, 40).selectExpr("id AS click_id", "id % 5 AS user_id", "id * 700 + 10000 AS cts_ms")
    b = spark.range(0, 30).selectExpr(
        "id AS buy_id", "id % 5 AS user_id", "id * 1100 + 10000 AS bts_ms",
        "CAST(id * 10 AS DOUBLE) AS amount",
    )
    exp = set(
        tuple(r)
        for r in c.join(b, "user_id")
        .where("bts_ms >= cts_ms AND bts_ms <= cts_ms + 3000")
        .select("click_id", "buy_id", "user_id", "cts_ms", "bts_ms", "amount")
        .collect()
    )
    assert rows == exp and len(rows) == 24


def test_rule_violation_stream_rejects_non_row_rules(spark):
    import pytest

    from janus_spark.streaming.native_agg import rule_violation_stream

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("CAST(value AS LONG) AS ts", "CAST(value AS DOUBLE) AS v")
    )
    with pytest.raises(ValueError):
        rule_violation_stream(stream, [("unique", "v")])


def test_parquet_sink_rejects_delta_operators(spark, tmp_path):
    """Distributed sinks are RStream-only: the delta operators keep
    driver-side multiset state over the previous emission, which a
    DataFrame sink exists to avoid — reject at construction."""
    import pytest

    from janus_spark.parsing import parse_janusql
    from janus_spark.streaming import LiveQueryRunner, ParquetSink

    text = """
    PREFIX ex: <http://example.org/>
    REGISTER IStream <out> AS
    SELECT ?s ?t
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 4000 STEP 2000]
    WHERE { WINDOW ex:w { ?s ex:temperature ?t . } }
    """
    sink = ParquetSink(str(tmp_path / "out"))
    with pytest.raises(ValueError, match="RStream only"):
        LiveQueryRunner(spark, parse_janusql(text), str(tmp_path / "buf"), sink=sink)


def test_parquet_sink_manifest_and_full_rows(spark, tmp_path):
    """ParquetSink via direct on_batch driving: full window results land
    distributed; manifests carry exact bounds and counts."""
    from janus_spark.parsing import parse_janusql
    from janus_spark.streaming import LiveQueryRunner, ParquetSink

    text = """
    PREFIX ex: <http://example.org/>
    REGISTER RStream <out> AS
    SELECT ?s ?t
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 2000]
    WHERE { WINDOW ex:w { ?s ex:temperature ?t . } }
    """
    rows = [(i * 100, "urn:s", "http://example.org/temperature", str(i), "g")
            for i in range(1, 50)]
    batch = spark.createDataFrame(
        rows, "ts long, subject string, predicate string, object string, graph string"
    )
    sink = ParquetSink(str(tmp_path / "out"))
    runner = LiveQueryRunner(spark, parse_janusql(text), str(tmp_path / "buf"), sink=sink)
    runner.on_batch(batch, 0)
    # ts up to 4900 -> windows [0,2000) and [2000,4000) closed
    assert [(m["window_start"], m["window_end"]) for m in sink.manifests] == [
        (0, 2000), (2000, 4000)
    ]
    m0 = sink.manifests[0]
    got = {r["t"] for r in spark.read.parquet(m0["path"]).collect()}
    assert got == {str(i) for i in range(1, 20)} and m0["n_rows"] == 19


HYBRID_QUERY = f"""
PREFIX ex: <{EX}>
REGISTER RStream <out> AS
SELECT ?sensor ?temp ?mean
FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 2000]
FROM NAMED WINDOW ex:hist ON LOG ex:sensors [START 100 END 3000]
USING BASELINE ex:hist AGGREGATE
WHERE {{
  WINDOW ex:w {{ ?sensor ex:temperature ?temp . }}
  WINDOW ex:hist {{ ?sensor ex:temperature ?mean . }}
  ?sensor <https://janus.rs/baseline#mean> ?mean .
}}
"""


def _store_backed_engine(spark, tmp_path, quads):
    from janus_spark.engine import JanusEngine
    from janus_spark.sources.quadstore import QuadStore

    store = QuadStore(spark, str(tmp_path / "store"), bucket_ms=1000)
    store.write(quads)
    return store, JanusEngine(spark, store.read())


def _means(batch):
    return {r["sensor"]: r["mean"] for r in batch["rows"]}


def test_store_compaction_keeps_hybrid_query_running(spark, tmp_path):
    """The baseline is materialized at warm-up, so rewriting the quad log
    under a running hybrid query leaves its later windows unaffected."""
    quads = melt_sensor_fixture(spark, 50)
    store, eng = _store_backed_engine(spark, tmp_path, quads)
    qid = eng.register_query(HYBRID_QUERY)
    runner = eng.start_live(qid, str(tmp_path / "livebuf"))
    runner.on_batch(quads.where("ts <= 2100"))
    store.compact()
    runner.on_batch(quads.where("ts > 2100 and ts <= 4100"))
    first, second = runner.sink.batches
    assert (second["window_start"], second["window_end"]) == (2000, 4000)
    # the historical window [100, 3000] holds ts 100..3000: 6 readings a sensor
    expected = {}
    for i in range(1, 31):
        expected.setdefault(f"{EX}sensor{i % 5}", []).append(20 + i % 10)
    expected = {k: sum(v) / len(v) for k, v in expected.items()}
    assert {k: float(v) for k, v in _means(first).items()} == expected
    assert _means(second) == _means(first)


def test_close_before_any_data_emits_empty_windows(spark, tmp_path):
    """A runner that never buffered a quad still closes: the buffer read
    has a fixed schema, so its windows fire empty."""
    quads = melt_sensor_fixture(spark, 30).withColumn("ts", F.col("ts") + 5000)
    # replay stopped before its first batch: the closing sentinel at ts 5100
    runner, sink = make_runner(spark, tmp_path / "stopped")
    assert replay_quads(quads, runner, batch_ms=1000, should_stop=lambda: True) == 0
    assert [(b["window_start"], b["window_end"], b["rows"]) for b in sink.batches] == [
        (0, 2000, []), (1000, 3000, []), (2000, 4000, []), (3000, 5000, [])
    ]
    # replay over an empty source, then an explicit close
    runner, sink = make_runner(spark, tmp_path / "empty")
    assert replay_quads(quads.where("ts < 0"), runner, batch_ms=1000) == 0
    runner.close(3000)
    assert [(b["window_end"], b["rows"]) for b in sink.batches] == [(2000, []), (3000, [])]
    # an empty micro-batch buffers nothing and counts no rows
    runner.on_batch(quads.where("ts < 0"))
    assert list(runner.buffer_path.iterdir()) == []
    assert runner.metrics["rows_in"] == 0
    runner.on_batch(quads.where("ts <= 5500"))
    assert runner.metrics["rows_in"] == 5
    assert [p.name for p in runner.buffer_path.iterdir()] == ["c00000000"]


class _ScanSink:
    """DataFrame sink that keeps the files each fired window's plan scans."""

    wants_dataframe = True

    def __init__(self):
        self.scans = []

    def write(self, window_name, window_start, window_end, result):
        self.scans.append(result.inputFiles())


def test_live_batch_job_count_and_plan(spark, tmp_path):
    """Pins the per-batch Spark work of a hybrid query after warm-up: a
    non-firing batch is one job (the buffer append), a batch firing one
    window is at most six, and no live plan scans the quad log.

    The firing batch is the append, one dedup shuffle per pattern, the
    baseline broadcast and the result collect.  The collect reads its two
    final partitions (window rows, baseline rows) in one job or two,
    depending on the order in which adaptive execution finishes stages."""
    from janus_spark.streaming.live import LiveQueryRunner

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    assert not spark.streams.active, "a running stream would add jobs to the count"

    def jobs(fn):
        before = dag.numTotalJobs()
        fn()
        return dag.numTotalJobs() - before

    quads = melt_sensor_fixture(spark, 50)
    store, eng = _store_backed_engine(spark, tmp_path, quads)
    qid = eng.register_query(HYBRID_QUERY)
    runner = eng.start_live(qid, str(tmp_path / "livebuf"))
    runner.on_batch(quads.where("ts <= 2100"))
    assert len(runner.sink.batches) == 1
    assert jobs(lambda: runner.on_batch(quads.where("ts > 2100 and ts <= 3500"))) == 1
    assert len(runner.sink.batches) == 1
    assert jobs(lambda: runner.on_batch(quads.where("ts > 3500 and ts <= 4100"))) <= 6
    assert len(runner.sink.batches) == 2

    sink = _ScanSink()
    plan_runner = LiveQueryRunner(
        spark, eng.get_query(qid).parsed, str(tmp_path / "planbuf"),
        static_quads=runner.static_quads, sink=sink,
    )
    plan_runner.on_batch(quads.where("ts <= 2100"))
    (files,) = sink.scans
    assert files and all("/planbuf/" in f for f in files), files
    assert store.path.endswith("/store") and not any("/store/" in f for f in files)
