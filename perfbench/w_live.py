"""``live_mqtt_hybrid``: the paper's headline path, open loop.

A generator process (``gen.py``) hosts the MQTT broker and publishes
timestamped readings at a fixed rate.  Two Janus-QL queries are
registered over HTTP and fed by one ``open_quad_stream("mqtt://…")``:

- a hybrid anomaly query (historical fixed window, ``USING BASELINE …
  AGGREGATE``, live ``[RANGE 10000 STEP 2000]``, ``janus:abs_diff``
  FILTER) on the foreachBatch runner that ``/start`` creates;
- a per-sensor AVG over the same live window, which ``start_live_auto``
  routes to ``streaming.native_agg``.

Results are read over ``/results/ws``.  Latency is WebSocket receipt
time minus ``window_end``; event timestamps are the generator's creation
wall clock, so this is event creation to result.
"""

from __future__ import annotations

import http.client
import json
import logging
import os
import socket
import subprocess
import sys
import threading
import time
from collections import Counter

from harness import BENCH_DIR, EX, SparkCounters, dir_stats, mean, median, percentile
from sensors import (ANOMALY_THRESHOLD, N_SENSORS, RATE, SENSOR, TEMP, TOPIC, Readings,
                     expected_anomalies, expected_avgs)

RANGE_MS, STEP_MS = 10_000, 2_000
# the native query emits two windows per trigger: at one trigger per
# STEP, its jobs and the hybrid runner's would fill the Spark driver
NATIVE_TRIGGER_MS = 2 * STEP_MS
HIST_READINGS = 20  # per sensor, in the historical log
# While warming up, the runner fires only the newest closed window per
# batch (a public runner setting).  The first batch closes every window
# since the epoch, and while the JVM is cold a batch takes longer than a
# STEP: firing every closed window would build a backlog of windows that
# drains more slowly than the JVM warms.  The default is restored for
# the measurement.
WARMUP_MAX_WINDOWS = 1
# after the first live result: per-window latency falls for about 15 s
# on 4 cores as the JVM compiles the hot paths
WARMUP_S = 20.0


def hybrid_query(h0: int, h1: int) -> str:
    return f"""
PREFIX ex: <{EX}>
PREFIX janus: <https://janus.rs/fn#>
REGISTER RStream <anomalies> AS
SELECT ?sensor ?temp ?mean
FROM NAMED WINDOW ex:live ON STREAM ex:sensors [RANGE {RANGE_MS} STEP {STEP_MS}]
FROM NAMED WINDOW ex:hist ON LOG ex:sensors [START {h0} END {h1}]
USING BASELINE ex:hist AGGREGATE
WHERE {{
  WINDOW ex:live {{ ?sensor <{TEMP}> ?temp . }}
  WINDOW ex:hist {{ ?sensor <{TEMP}> ?mean . }}
  ?sensor <https://janus.rs/baseline#mean> ?mean .
  FILTER(janus:abs_diff(?temp, ?mean) > {ANOMALY_THRESHOLD})
}}
"""


AVG_QUERY = f"""
PREFIX ex: <{EX}>
REGISTER RStream <avgs> AS
SELECT ?sensor (AVG(?temp) AS ?avg)
FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE {RANGE_MS} STEP {STEP_MS}]
WHERE {{ WINDOW ex:w {{ ?sensor <{TEMP}> ?temp . }} }}
GROUP BY ?sensor
"""


def _post(port: int, path: str, body: dict | None = None) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", path, body=json.dumps(body or {}),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = json.loads(resp.read() or b"{}")
        if resp.status >= 400:
            raise RuntimeError(f"POST {path}: {resp.status} {data}")
        return data
    finally:
        conn.close()


class WsReader(threading.Thread):
    """Reads one query's result stream; records (receipt wall ms,
    receipt perf_counter, message) and adds up the results the hub
    reports dropped (``lag`` messages)."""

    def __init__(self, port: int, qid: str, on_message=None) -> None:
        super().__init__(daemon=True)
        from janus_spark.ws import MiniWsClient

        self.ws = MiniWsClient("127.0.0.1", port,
                               f"/api/queries/{qid}/results/ws?timeout=900&max=10000000",
                               timeout_s=900)
        self.messages: list[tuple[float, float, dict]] = []
        self.on_message = on_message
        self.dropped = 0
        self.error: Exception | None = None

    def stop(self) -> None:
        """Close the connection; ``shutdown`` also wakes a blocked read."""
        try:
            self.ws.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.ws.close()
        self.join(timeout=10)

    def run(self) -> None:
        from janus_spark.ws import OP_CLOSE, OP_TEXT

        try:
            while True:
                opcode, payload = self.ws.recv_message()
                t_wall, t_perf = time.time() * 1000.0, time.perf_counter()
                if opcode == OP_CLOSE:
                    return
                if opcode == OP_TEXT:
                    msg = json.loads(payload)
                    if msg.get("type") == "lag":
                        self.dropped += int(msg.get("dropped", 0))
                    if self.on_message:
                        self.on_message(msg)
                    self.messages.append((t_wall, t_perf, msg))
        except (OSError, ConnectionError, ValueError) as e:
            self.error = e


def start_generator(ctx, events_path: str) -> tuple[subprocess.Popen, int]:
    proc = subprocess.Popen(
        [sys.executable, str(BENCH_DIR / "gen.py"), "--seed", str(ctx.seed),
         "--out", events_path],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    line = proc.stdout.readline().split()
    if len(line) != 2 or line[0] != "PORT":
        proc.kill()
        proc.wait()
        raise RuntimeError(f"generator did not start: {line}")
    return proc, int(line[1])


def stop_generator(proc: subprocess.Popen) -> tuple[int, float]:
    try:
        proc.stdin.write("STOP\n")
        proc.stdin.flush()
    except OSError:
        pass
    out, _ = proc.communicate(timeout=60)
    done = [ln for ln in out.splitlines() if ln.startswith("DONE")]
    if not done:
        raise RuntimeError("generator ended without a DONE line")
    _, n, lag = done[-1].split()
    return int(n), float(lag)


def read_events(path: str) -> list[tuple[int, int, str]]:
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            ts, k, v = line.rstrip("\n").split("\t")
            out.append((int(ts), int(k), v))
    return out


def run(ctx):
    from werkzeug.serving import make_server

    # the generator starts first: it only hosts the broker until GO
    events_path = str(ctx.work / "events.tsv")
    gen, broker_port = start_generator(ctx, events_path)
    try:
        return _run(ctx, gen, broker_port, events_path, make_server)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()


def _run(ctx, gen, broker_port, events_path, make_server):
    from pyspark.sql import Row

    from janus_spark.engine import JanusEngine
    from janus_spark.http_api import create_app, make_result
    from janus_spark.sources.quadstore import QuadStore
    from janus_spark.sources.stream import open_quad_stream

    spark = ctx.start_spark()
    tracer = ctx.tracer
    counters = SparkCounters(spark)

    # ---- historical log: HIST_READINGS per sensor, ending a minute ago
    now_ms = int(time.time() * 1000)
    h1 = now_ms - 60_000
    h0 = h1 - 600_000
    hist_readings = Readings(ctx.seed + 7_000_003, N_SENSORS)
    hist = []
    for i in range(N_SENSORS * HIST_READINGS):
        k, v = hist_readings.value(i)
        hist.append((h0 + i * (h1 - h0) // (N_SENSORS * HIST_READINGS), k, v))
    means = {}
    for _ts, k, v in hist:
        means.setdefault(k, []).append(float(v))
    means = {k: sum(vs) / len(vs) for k, vs in means.items()}
    store = QuadStore(spark, str(ctx.work / "store"))
    store.write(spark.createDataFrame(
        [Row(ts=ts, subject=f"{SENSOR}{k}", predicate=TEMP, object=v, graph="")
         for ts, k, v in hist]))

    engine = JanusEngine(spark, store.read())
    app = create_app(engine, buffer_root=str(ctx.work / "live"))
    hub = app.extensions["janus"]["hub"]
    runners = app.extensions["janus"]["runners"]
    if tracer:
        _trace_hub(ctx, hub)
    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    server = make_server("127.0.0.1", 0, app, threaded=True)
    server_thread = threading.Thread(target=server.serve_forever, daemon=True)
    server_thread.start()
    port = server.server_port
    queries = []
    readers: list[WsReader] = []
    bridge = None
    backlog: list[tuple[float, float]] = []
    try:
        stream = open_quad_stream(spark, f"mqtt://127.0.0.1:{broker_port}/{TOPIC}",
                                  spool_dir=str(ctx.work / "spool"))
        bridge = stream.mqtt_bridge

        qid_h = _post(port, "/api/queries", {"query": hybrid_query(h0, h1)})["query_id"]
        qid_a = _post(port, "/api/queries", {"query": AVG_QUERY})["query_id"]
        first_live = threading.Event()

        def on_hybrid(msg):
            if msg.get("source") == "live":
                first_live.set()

        readers = [WsReader(port, qid_h, on_hybrid), WsReader(port, qid_a)]
        for r in readers:
            r.start()
        _post(port, f"/api/queries/{qid_h}/start")

        # /start builds the foreachBatch runner but never subscribes it
        # to a stream: attach it here, to the shared MQTT stream, with
        # back-to-back micro-batches (the runner's default).  Spark aligns
        # processing-time triggers to the epoch, so a trigger every STEP
        # would start exactly at a window's end: an on-time trigger then
        # fires the window one STEP later, a late one at once, and the
        # latency of a window jumps by a whole STEP with the host's load.
        deadline = time.time() + 120
        while qid_h not in runners:
            if time.time() > deadline:
                raise RuntimeError("hybrid runner never appeared")
            time.sleep(0.02)
        runner = runners[qid_h]
        default_max_windows = runner.max_windows_per_batch
        runner.max_windows_per_batch = WARMUP_MAX_WINDOWS
        if tracer:
            _trace_runner(ctx, runner, stream)
        queries.append(runner.attach(stream))

        mode, native_df = engine.start_live_auto(
            qid_a, stream, str(ctx.work / "native"), watermark="2 seconds")
        if mode != "native":
            raise RuntimeError(f"AVG query routed to {mode}, expected native")

        def native_sink(df, _bid):
            by_end: dict[int, list] = {}
            for r in df.collect():
                d = r.asDict()
                by_end.setdefault(int(d.pop("window_end")), []).append(d)
            for we in sorted(by_end):
                rows = [{k: v for k, v in d.items() if k != "window_start"} for d in by_end[we]]
                hub.publish(qid_a, make_result(qid_a, "live", we, rows))

        if tracer:
            native_sink = tracer.traced("bench.native_sink", native_sink)
        queries.append(
            native_df.writeStream.outputMode("append").foreachBatch(native_sink)
            .trigger(processingTime=f"{NATIVE_TRIGGER_MS} milliseconds")
            .option("checkpointLocation", str(ctx.work / "native" / "_checkpoint"))
            .start()
        )

        # open the feed once both queries are subscribed
        gen.stdin.write("GO\n")
        gen.stdin.flush()
        t_go = time.time()
        if not first_live.wait(timeout=150 - ctx.elapsed()):
            raise RuntimeError("no live result before the time limit")
        setup_s = ctx.elapsed()

        # ---- warm-up
        if tracer:
            tracer.enabled = False
        time.sleep(WARMUP_S)
        runner.max_windows_per_batch = default_max_windows

        # ---- measure.  A traced run lasts twice as long and switches
        # tracing on and off every two STEPs (interleaved A/B), so traced
        # and untraced results see the same engine state.
        t_start = time.perf_counter()
        if tracer:
            jobs0, stages0 = counters.jobs(), counters.stages()
            live_group = str(queries[0].runId)
            group0 = counters.jobs_in_group(live_group)
            fired0 = runner.metrics["windows_fired"]
            batches0 = runner.metrics["n_batches"]
        total = 2 * ctx.seconds if tracer else ctx.seconds
        while (now := time.perf_counter()) - t_start < total:
            if tracer:
                tracer.enabled = _traced_slot(now - t_start)
            time.sleep(0.05)
            sent = RATE * (time.time() - t_go)
            backlog.append((time.perf_counter(), sent - runner.metrics["rows_in"]))
        t_end = time.perf_counter()
        # events the runner consumed per second since the feed opened: the
        # offered rate less whatever backlog is left at the end
        consumed_per_s = runner.metrics["rows_in"] / (time.time() - t_go)
        if tracer:
            tracer.enabled = False
            ctx.notes["jobs"] = counters.jobs() - jobs0
            ctx.notes["stages"] = counters.stages() - stages0
            ctx.notes["jobs_in_live_group"] = counters.jobs_in_group(live_group) - group0
            ctx.notes["windows_fired"] = runner.metrics["windows_fired"] - fired0
            ctx.notes["n_batches"] = runner.metrics["n_batches"] - batches0
            ctx.notes["progress"] = [q.recentProgress for q in queries]
    finally:
        t_down = time.perf_counter()
        for q in queries:
            q.stop()
        for r in readers:
            r.stop()
        if bridge is not None:
            bridge.stop()
        n_sent, gen_lag_ms = stop_generator(gen) if gen.poll() is None else (0, 0.0)
        server.shutdown()
        server_thread.join(timeout=10)
        ctx.notes["teardown_s"] = time.perf_counter() - t_down

    events = read_events(events_path)
    # the WebSocket route reports drops in ``lag`` messages and then
    # resets the hub's count; what is left there was never reported
    dropped = sum(r.dropped for r in readers) + sum(hub.dropped.values())
    for _ in range(dropped):  # a dropped result is an operation that failed
        ctx.check(False, "result hub dropped a result")
    _check_hybrid(ctx, readers[0].messages, events, means, hist, t_start)
    _check_native(ctx, readers[1].messages, events)
    for r in readers:
        if r.error is not None and not isinstance(r.error, OSError):
            ctx.fail(f"websocket reader: {r.error!r}")

    # latency over the measured results, one sample per row (or per window)
    def latencies(messages, traced: bool = False, per_row: bool = True):
        out = []
        for t_wall, t_perf, msg in messages:
            if msg.get("source") != "live" or not t_start < t_perf <= t_end:
                continue
            if tracer and _traced_slot(t_perf - t_start) != traced:
                continue
            out += [t_wall - msg["timestamp"]] * (max(1, len(msg["bindings"])) if per_row else 1)
        return out

    lat_h = latencies(readers[0].messages)
    lat_n = latencies(readers[1].messages)
    # the gated figure is the mean over windows: the hybrid runner's
    # firing batch overlaps the native query's trigger for every other
    # window, so a median of five windows flips between the two kinds
    lat_w = mean(latencies(readers[0].messages, per_row=False))
    grew = _backlog_grew([b for t, b in backlog if t_start <= t <= t_end])
    if grew:
        # open-loop validity: a growing backlog means the rate is not
        # sustained, so the run yields no valid latency
        ctx.fail(f"open-loop backlog grew by {grew:.0f} events during the measurement")
        ctx.failed = ctx.attempted = max(ctx.attempted, 1)
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_mean_ms": (lat_w, "ms"),
        "throughput_per_s": (consumed_per_s, "1/s"),
    }
    report = {
        "live_latency_p50_ms": (median(lat_h), "ms"),
        "live_latency_p90_ms": (percentile(lat_h, 90), "ms"),
        "live_latency_window_mean_ms": (lat_w, "ms"),
        "native_latency_p50_ms": (median(lat_n), "ms"),
        "native_latency_p90_ms": (percentile(lat_n, 90), "ms"),
        "live_results_measured": (len(lat_h), "count"),
        "native_results_measured": (len(lat_n), "count"),
        "backlog_max_events": (max((b for t, b in backlog if t >= t_start), default=0.0),
                               "count"),
        "gen_lag_max_ms": (gen_lag_ms, "ms"),
        "teardown_s": (ctx.notes["teardown_s"], "s"),
    }
    layers = {}
    if tracer:
        lat_traced = mean(latencies(readers[0].messages, traced=True, per_row=False))
        layers = _layer_metrics(ctx, tracer, t_start, t_end, dropped, n_sent, gen_lag_ms,
                                latencies(readers[1].messages, traced=True))
        layers["trace.overhead_share"] = ((lat_traced - lat_w) / lat_w, "ratio")
        layers.update(_setup_layer_metrics(tracer, store.path, readers[0].messages))
        layers.update(tracer.engine_layer_metrics())
    return e2e, report, layers


def _traced_slot(t: float) -> bool:
    """Odd slots of a traced run are traced.  A slot is two STEPs, so
    each slot holds two hybrid fires and the native query's results
    (every 2 STEPs) alternate between traced and untraced slots."""
    return int(t / (2 * STEP_MS / 1000)) % 2 == 1


def _backlog_grew(samples: list[float]) -> float:
    """Growth of the backlog (events offered minus consumed) from the
    first to the last quarter of the measurement, beyond 2 s of input."""
    if len(samples) < 8:
        return 0.0
    q = len(samples) // 4
    first, last = samples[:q], samples[-q:]
    growth = sum(last) / len(last) - sum(first) / len(first)
    return growth if growth > 2 * RATE else 0.0


def _check_hybrid(ctx, messages, events, means, hist, t_start) -> None:
    hist_msgs = [m for _w, _p, m in messages if m.get("source") == "historical"]
    expect_hist = Counter((f"{SENSOR}{k}", v) for _ts, k, v in hist)
    for m in hist_msgs:
        got = Counter((b["sensor"], b["mean"]) for b in m["bindings"])
        ctx.check(got == expect_hist, "historical window rows differ from the log")
    if len(hist_msgs) != 1:
        ctx.fail(f"{len(hist_msgs)} historical results, expected 1")
    for m in messages:
        if m[2].get("type") == "error":
            ctx.fail(f"engine error: {m[2].get('error')}")
    live = [(p, m) for _w, p, m in messages if m.get("source") == "live"]
    # windows the warm-up skipped are not results; from the restore on,
    # every window must arrive
    restored = [m["timestamp"] for p, m in live if p > t_start]
    if not restored:
        ctx.fail("hybrid: no live results after the warm-up")
    _check_windows(ctx, "hybrid", [m for _p, m in live],
                   lambda m, s, e: _hybrid_ok(m, events, means, s, e),
                   from_end=min(restored, default=None))


def _hybrid_ok(msg, events, means, s, e) -> bool:
    got = sorted((b["sensor"], b["temp"]) for b in msg["bindings"])
    if got != expected_anomalies(events, s, e, means):
        return False
    for b in msg["bindings"]:
        k = int(b["sensor"].rsplit("/", 1)[1])
        if abs(float(b["mean"]) - means[k]) > 1e-6:
            return False
    return True


def _check_native(ctx, messages, events) -> None:
    def ok(msg, s, e):
        exp = expected_avgs(events, s, e)
        got = {b["sensor"]: b["avg"] for b in msg["bindings"]}
        return len(got) == len(msg["bindings"]) and got.keys() == exp.keys() and all(
            abs(got[k] - exp[k]) <= 1e-9 * max(1.0, abs(exp[k])) for k in exp)

    _check_windows(ctx, "native", [m for _w, _p, m in messages if m.get("source") == "live"], ok)


def _check_windows(ctx, label, msgs, ok, from_end=None) -> None:
    """Every window result is right, none is repeated, and window ends
    step by STEP_MS with no gap between the first (or ``from_end``) and
    the last."""
    ends = [m["timestamp"] for m in msgs]
    for m in msgs:
        e = m["timestamp"]
        ctx.check(ok(m, e - RANGE_MS, e), f"{label} window ending {e}: rows differ from reference")
    for e, n in Counter(ends).items():
        if n > 1:
            ctx.fail(f"{label} window ending {e} delivered {n} times")
    if ends:
        lo = min(ends) if from_end is None else from_end
        expected = set(range(lo, max(ends) + 1, STEP_MS))
        for e in sorted(expected - set(ends)):
            ctx.fail(f"{label} window ending {e} missing")
    else:
        ctx.fail(f"{label}: no live results")


# ------------------------------------------------------------------ trace
def _trace_hub(ctx, hub) -> None:
    """Span each ``QueryResultHub.publish`` and track the deepest queue."""
    tracer = ctx.tracer
    inner = hub.publish

    def publish(qid, payload):
        if not tracer.enabled:
            return inner(qid, payload)
        with tracer.span("http_api.publish", key=qid):
            inner(qid, payload)
        depth = hub.get(qid).qsize()
        ctx.notes["queue_depth_max"] = max(ctx.notes.get("queue_depth_max", 0), depth)

    hub.publish = publish


def _files_read_through(sources_log, batch_id: int) -> set[str]:
    """Spool files the file source assigned to batches <= ``batch_id``,
    from its metadata log (``<id>`` and ``<id>.compact`` files: a version
    line, then one JSON entry per file)."""
    out: set[str] = set()
    for f in sources_log.iterdir():
        stem = f.name.split(".")[0]
        if not stem.isdigit() or int(stem) > batch_id or f.name.endswith(".tmp"):
            continue
        for line in f.read_text(encoding="utf-8").splitlines()[1:]:
            out.add(os.path.basename(json.loads(line)["path"]))
    return out


def _trace_runner(ctx, runner, stream) -> None:
    """Wrap the runner's public ``on_batch``: a span per micro-batch plus
    the spool backlog at batch start and the buffer size at batch end."""
    tracer = ctx.tracer
    spool = stream.mqtt_bridge.spool_dir
    sources_log = runner.buffer_path / "_checkpoint" / "sources" / "0"
    consumed: set[str] = set()
    samples = ctx.notes.setdefault("batches", [])
    inner = runner.on_batch

    def on_batch(batch_df, batch_id=None):
        if not tracer.enabled:
            return inner(batch_df, batch_id)
        now = time.time()
        consumed.update(_files_read_through(sources_log, batch_id))
        waiting = [os.path.getmtime(os.path.join(spool, f)) for f in os.listdir(spool)
                   if f.endswith(".txt") and f not in consumed]
        with tracer.span("streaming.live.on_batch", key=str(batch_id)):
            out = inner(batch_df, batch_id)
        samples.append({
            "spool_lag_ms": (now - min(waiting)) * 1000 if waiting else 0.0,
            "spool_files": len(waiting),
            "state_bytes": dir_stats(runner.buffer_path)[1],
        })
        return out

    runner.on_batch = on_batch


def _setup_layer_metrics(tracer, store_path, hybrid_messages) -> dict:
    """The historical side of the hybrid query runs once, in set-up: the
    log's ``QuadStore.write`` and the historical window that ``/start``
    evaluates."""
    run_ms = [(e - s) * 1000 for s, e, _k in tracer.spans_named("operators.historical.run_fixed")]
    write_ms = [(e - s) * 1000 for s, e, _k in tracer.spans_named("sources.quadstore.write")]
    files, nbytes = dir_stats(store_path)
    rows = sum(len(m["bindings"]) for _w, _p, m in hybrid_messages
               if m.get("source") == "historical")
    return {
        "operators.historical.exec_ms_p50": (median(run_ms), "ms"),
        "operators.historical.rows_out": (rows, "count"),
        "sources.quadstore.write_ms": (sum(write_ms), "ms"),
        "sources.quadstore.files_written": (files, "count"),
        "sources.quadstore.bytes": (nbytes, "bytes"),
    }


def _layer_metrics(ctx, tracer, t0, t1, dropped, n_sent, gen_lag_ms, lat_n):
    batches = ctx.notes.get("batches", [])
    durs = [(e - s) * 1000 for s, e, _k in tracer.spans_named("streaming.live.on_batch", t0, t1)]
    prog_live, prog_native = ctx.notes["progress"]

    def trigger_overhead(p):
        d = p.get("durationMs", {})
        return d.get("triggerExecution", 0) - d.get("addBatch", 0)

    live_prog = [p for p in prog_live if p.get("numInputRows", 0) > 0]
    nat_prog = [p for p in prog_native if p.get("numInputRows", 0) > 0]
    state_rows = [sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
                  for p in nat_prog]
    m = {
        "sources.mqtt.spool_lag_ms": (median([b["spool_lag_ms"] for b in batches]), "ms"),
        "sources.mqtt.spool_files": (median([b["spool_files"] for b in batches]), "count"),
        "streaming.live.batch_ms_p50": (median(durs), "ms"),
        "streaming.live.busy_share": (sum(durs) / 1000 / ((t1 - t0) / 2), "ratio"),
        "streaming.live.windows_fired": (ctx.notes["windows_fired"], "count"),
        # streaming sets each query's job group to its run id
        "streaming.live.jobs_per_batch": (
            ctx.notes["jobs_in_live_group"] / max(1, ctx.notes["n_batches"]), "count"),
        "streaming.live.state_bytes": (max([b["state_bytes"] for b in batches] or [0]), "bytes"),
        "streaming.live.trigger_overhead_ms": (
            median([trigger_overhead(p) for p in live_prog]), "ms"),
        "streaming.native_agg.trigger_ms_p50": (
            median([p["durationMs"].get("triggerExecution", 0) for p in nat_prog]), "ms"),
        "streaming.native_agg.state_rows": (max(state_rows or [0]), "count"),
        "streaming.native_agg.latency_p50_ms": (median(lat_n), "ms"),
        "streaming.native_agg.latency_p90_ms": (percentile(lat_n, 90), "ms"),
        "http_api.publish_calls": (tracer.count("http_api.publish"), "count"),
        "http_api.dropped": (dropped, "count"),
        "http_api.queue_depth_max": (ctx.notes.get("queue_depth_max", 0), "count"),
        "gen.lag_max_ms": (gen_lag_ms, "ms"),
        "gen.events_sent": (n_sent, "count"),
        "spark.jobs": (ctx.notes["jobs"], "count"),
        "spark.stages": (ctx.notes["stages"], "count"),
    }
    return m
