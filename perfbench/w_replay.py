"""``replay_catchup``: stream-bus replay of a recorded log, closed loop.

The recorded log holds sensor readings with epoch timestamps.
``replay_quads`` feeds it to the hybrid anomaly query's foreachBatch
runner in event-time batches of ``10 × STEP``, so about ten windows
close per batch, and dual-writes every batch to the ``QuadStore``.  This
uses ``streaming.live`` differently from ``live_mqtt_hybrid``: many
windows per batch instead of one.
"""

from __future__ import annotations

import time
from collections import Counter

from harness import SparkCounters, dir_stats, mean, median
from sensors import N_SENSORS, SENSOR, TEMP, Readings, expected_anomalies
from w_live import HIST_READINGS, STEP_MS, hybrid_query

RATE = 100  # recorded events per second of event time
BATCH_MS = 10 * STEP_MS
MAX_BATCHES = 8
MIN_MEASURED_BATCHES = 2
R0 = 1_700_000_000_000  # recording start, a multiple of STEP_MS
MAX_WINDOWS_PER_BATCH = 10  # ten close per batch; caps the first batch's stale ones


def recorded_log(seed: int) -> list[tuple[int, int, str]]:
    readings = Readings(seed, N_SENSORS)
    n = RATE * MAX_BATCHES * BATCH_MS // 1000
    return [(R0 + i * 1000 // RATE, *readings.value(i)) for i in range(n)]


def run(ctx):
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from janus_spark.engine import JanusEngine
    from janus_spark.sources.quadstore import QuadStore
    from janus_spark.streaming.replay import replay_quads

    spark = ctx.start_spark()
    tracer = ctx.tracer
    counters = SparkCounters(spark)

    h1 = R0 - 60_000
    h0 = h1 - 600_000
    hist_readings = Readings(ctx.seed + 7_000_003, N_SENSORS)
    hist = []
    for i in range(N_SENSORS * HIST_READINGS):
        k, v = hist_readings.value(i)
        hist.append((h0 + i * (h1 - h0) // (N_SENSORS * HIST_READINGS), k, v))
    means: dict[int, list[float]] = {}
    for _ts, k, v in hist:
        means.setdefault(k, []).append(float(v))
    means = {k: sum(vs) / len(vs) for k, vs in means.items()}

    def frame(rows):
        return spark.createDataFrame(
            [Row(ts=ts, subject=f"{SENSOR}{k}", predicate=TEMP, object=v, graph="")
             for ts, k, v in rows])

    store = QuadStore(spark, str(ctx.work / "store"))
    store.write(frame(hist))
    events = recorded_log(ctx.seed)
    log = frame(events).localCheckpoint(eager=True)

    engine = JanusEngine(spark, store.read())
    qid = engine.register_query(hybrid_query(h0, h1))
    fired: list[tuple[int, int, list]] = []

    def sink(_name, s, e, rows):
        fired.append((s, e, [r.asDict() for r in rows]))

    if tracer:
        sink = tracer.traced("bench.sink", sink)
    runner = engine.start_live(qid, str(ctx.work / "live"), sink=sink)
    runner.max_windows_per_batch = MAX_WINDOWS_PER_BATCH
    if tracer:
        ctx.tracer.wrap(runner, "on_batch", "streaming.live.on_batch")

    # batch boundaries: replay_quads polls should_stop before each batch
    ticks: list[float] = []
    jobs: list[int] = []

    def should_stop() -> bool:
        ticks.append(time.perf_counter())
        jobs.append(counters.jobs())
        measured = len(ticks) - 2  # batches finished after the first
        if tracer:
            # alternate traced and untraced batches (interleaved A/B)
            tracer.enabled = measured >= 0 and measured % 2 == 1
        limit = 2 * ctx.seconds if tracer else ctx.seconds
        return measured >= MIN_MEASURED_BATCHES * (2 if tracer else 1) and \
            ticks[-1] - ticks[1] >= limit

    setup_s = ctx.elapsed()
    t_start = time.perf_counter()
    n = replay_quads(log, runner, batch_ms=BATCH_MS, store=store, close_at_end=False,
                     should_stop=should_stop)
    ticks.append(time.perf_counter())
    jobs.append(counters.jobs())
    wall = time.perf_counter() - t_start

    # ---- correctness: every fired window against the plain-Python reference
    replayed_hi = R0 + n * BATCH_MS
    ends = [e for _s, e, _r in fired]
    for s, e, rows in fired:
        got = sorted((r["sensor"], r["temp"]) for r in rows)
        ok = got == expected_anomalies(events, s, e, means) and all(
            abs(float(r["mean"]) - means[int(r["sensor"].rsplit("/", 1)[1])]) <= 1e-6
            for r in rows)
        ctx.check(ok, f"replay window ending {e}: rows differ from reference")
    for e, c in Counter(ends).items():
        if c > 1:
            ctx.fail(f"replay window ending {e} fired {c} times")
    expected_ends = set(range(min(ends), replayed_hi - STEP_MS + 1, STEP_MS))
    for e in sorted(expected_ends - set(ends)):
        ctx.fail(f"replay window ending {e} never fired")
    stored = pq.read_table(store.path, columns=["ts"]).column("ts").to_pylist()
    ctx.check(sum(1 for t in stored if t >= R0) == sum(1 for t, _k, _v in events
                                                      if t < replayed_hi),
              "QuadStore dual-write does not hold every replayed event")

    # ---- metrics: batches after the first
    per_batch = RATE * BATCH_MS // 1000
    durs = [(b - a) for a, b in zip(ticks[1:-1], ticks[2:])]
    traced_flags = [i % 2 == 1 for i in range(len(durs))] if tracer else [False] * len(durs)
    untraced = [d for d, tr in zip(durs, traced_flags) if not tr]
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_mean_ms": (mean(untraced) * 1000, "ms"),
        "throughput_per_s": (per_batch * len(untraced) / sum(untraced), "1/s"),
    }
    report = {
        "replay_events_per_s": (per_batch * len(untraced) / sum(untraced), "1/s"),
        "replay_batch_p50_ms": (median(untraced) * 1000, "ms"),
        "first_batch_s": (ticks[1] - ticks[0], "s"),
        "batches_measured": (len(untraced), "count"),
        "windows_fired": (len(fired), "count"),
        "replay_wall_s": (wall, "s"),
    }
    layers = {}
    if tracer:
        traced = [d for d, tr in zip(durs, traced_flags) if tr]
        batch_jobs = [j1 - j0 for j0, j1, tr in zip(jobs[1:-1], jobs[2:], traced_flags) if tr]
        on_batch = [(e - s) * 1000 for s, e, _k in tracer.spans_named("streaming.live.on_batch")]
        files, nbytes = dir_stats(store.path)
        writes = [(e - s) * 1000 for s, e, _k in tracer.spans_named("sources.quadstore.write")]
        layers = {
            "streaming.live.batch_ms_p50": (median(on_batch), "ms"),
            "streaming.live.busy_share": (sum(on_batch) / 1000 / sum(traced), "ratio"),
            "streaming.live.windows_fired": (runner.metrics["windows_fired"], "count"),
            "streaming.live.jobs_per_batch": (median(batch_jobs), "count"),
            "streaming.live.state_bytes": (dir_stats(runner.buffer_path)[1], "bytes"),
            "sources.quadstore.write_ms": (median(writes), "ms"),
            "sources.quadstore.files_written": (files, "count"),
            "sources.quadstore.bytes": (nbytes, "bytes"),
            "spark.jobs": (sum(batch_jobs), "count"),
            "trace.overhead_share": ((median(traced) - median(untraced)) / median(untraced),
                                     "ratio"),
        }
        layers.update(tracer.engine_layer_metrics())
    return e2e, report, layers
