"""HTTP API layer (C6) — route behavior mirrored from the reference's
tests/http_server_integration_test.rs."""

import json
import time

import pytest

from janus_spark.engine import JanusEngine
from janus_spark.http_api import HAVE_FLASK, create_app
from janus_spark.sources.melt import melt_sensor_fixture

pytestmark = pytest.mark.skipif(not HAVE_FLASK, reason="flask not available")

EX = "http://example.org/"

HIST_QUERY = f"""
PREFIX ex: <{EX}>
REGISTER RStream <out> AS
SELECT ?sensor ?temp
FROM NAMED WINDOW ex:hist ON LOG ex:sensors [START 1000 END 3000]
WHERE {{ WINDOW ex:hist {{ ?sensor ex:temperature ?temp . }} }}
"""


@pytest.fixture()
def client(spark, tmp_path):
    quads = melt_sensor_fixture(spark, 100)
    engine = JanusEngine(spark, quads)
    app = create_app(engine, buffer_root=str(tmp_path / "live"))
    app.testing = True
    return app.test_client()


def test_health_and_ops(client):
    assert client.get("/health").get_json()["status"] == "ok"
    ops = client.get("/ops/status").get_json()
    assert ops["queries"] == 0


def test_register_validates(client):
    r = client.post("/api/queries", json={})
    assert r.status_code == 400
    r = client.post("/api/queries", json={"query": "SELECT garbage FROM"})
    assert r.status_code == 400
    assert "parse error" in r.get_json()["error"]


def test_register_get_delete_lifecycle(client):
    r = client.post("/api/queries", json={"query": HIST_QUERY})
    assert r.status_code == 201
    qid = r.get_json()["query_id"]
    assert r.get_json()["status"] == "Registered"

    meta = client.get(f"/api/queries/{qid}").get_json()
    assert meta["historical_windows"] == 1 and meta["live_windows"] == 0

    listed = client.get("/api/queries").get_json()
    assert [q["query_id"] for q in listed] == [qid]

    assert client.delete(f"/api/queries/{qid}").get_json()["ok"]
    assert client.get(f"/api/queries/{qid}").status_code == 404


LIVE_QUERY = f"""
PREFIX ex: <{EX}>
REGISTER RStream <out> AS
SELECT ?sensor ?temp
FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 2000]
WHERE {{ WINDOW ex:w {{ ?sensor ex:temperature ?temp . }} }}
"""


def _started_runner(client, engine):
    qid = client.post("/api/queries", json={"query": LIVE_QUERY}).get_json()["query_id"]
    client.post(f"/api/queries/{qid}/start")
    for _ in range(100):
        if qid in engine._runners:
            return qid
        time.sleep(0.1)
    raise AssertionError("live runner never started")


def test_delete_and_stop_drop_the_live_runner(client):
    """The app reads the engine's one runner registry, and neither a
    deleted nor a stopped query keeps its runner referenced."""
    engine = client.application.extensions["janus"]["engine"]
    qid = _started_runner(client, engine)
    client.delete(f"/api/queries/{qid}")
    assert qid not in engine._runners
    qid = _started_runner(client, engine)
    client.post(f"/api/queries/{qid}/stop")
    assert qid not in engine._runners
    assert client.application.extensions["janus"]["runners"] is engine._runners


def test_start_and_stream_results(client):
    qid = client.post("/api/queries", json={"query": HIST_QUERY}).get_json()["query_id"]
    assert client.post(f"/api/queries/{qid}/start").get_json()["status"] == "starting"
    r = client.get(f"/api/queries/{qid}/results?timeout=60&max=1")
    lines = [json.loads(x) for x in r.data.decode().strip().splitlines() if x]
    assert len(lines) == 1
    msg = lines[0]
    assert msg["source"] == "historical"
    assert msg["type"] == "result"
    assert msg["timestamp"] == 3000  # fixed window emits ts=end
    assert len(msg["bindings"]) == 21  # inclusive bounds, ts 1000..3000
    assert {"sensor", "temp"} <= set(msg["bindings"][0].keys())

    # status flipped to Running by the background start
    for _ in range(50):
        if client.get(f"/api/queries/{qid}").get_json()["status"] == "Running":
            break
        time.sleep(0.2)
    assert client.get(f"/api/queries/{qid}").get_json()["status"] == "Running"

    stopped = client.post(f"/api/queries/{qid}/stop").get_json()
    assert stopped["status"] == "Stopped"


def test_results_timeout_empty(client):
    qid = client.post("/api/queries", json={"query": HIST_QUERY}).get_json()["query_id"]
    t0 = time.time()
    r = client.get(f"/api/queries/{qid}/results?timeout=1&max=5")
    assert time.time() - t0 < 5
    assert r.data.decode().strip() == ""


def test_replay_requires_live_query(client):
    qid = client.post("/api/queries", json={"query": HIST_QUERY}).get_json()["query_id"]
    r = client.post("/api/replay/start", json={"query_id": qid})
    assert r.status_code == 400
    r2 = client.post("/api/replay/start", json={"query_id": "nope"})
    assert r2.status_code == 400


LIVE_HYBRID_QUERY = f"""
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


def test_sse_stream_framing(client):
    """SSE delivery (the WS stand-in): same payloads as NDJSON, framed as
    text/event-stream data: events."""
    qid = client.post("/api/queries", json={"query": HIST_QUERY}).get_json()["query_id"]
    client.post(f"/api/queries/{qid}/start")
    r = client.get(f"/api/queries/{qid}/results/sse?timeout=60&max=1")
    assert r.mimetype == "text/event-stream"
    frames = [f for f in r.data.decode().split("\n\n") if f.strip()]
    assert len(frames) == 1
    assert frames[0].startswith("data: ")
    msg = json.loads(frames[0][len("data: "):])
    assert msg["source"] == "historical" and msg["type"] == "result"
    assert len(msg["bindings"]) == 21


def test_hybrid_lifecycle_end_to_end(client):
    """VERDICT r1 item 9: the full product path through HTTP — register a
    hybrid query, start (baseline warm -> Running), consume the
    historical result, replay live data, consume live window fires whose
    rows carry the baseline join, stop replay (idempotent post-finish),
    stop the query."""
    qid = client.post("/api/queries", json={"query": LIVE_HYBRID_QUERY}).get_json()["query_id"]
    meta = client.get(f"/api/queries/{qid}").get_json()
    assert meta["historical_windows"] == 1 and meta["live_windows"] == 1

    assert client.post(f"/api/queries/{qid}/start").get_json()["status"] == "starting"
    # historical result arrives first (WarmingBaseline happens inside
    # start_live; by the time the live runner exists the status is Running)
    r = client.get(f"/api/queries/{qid}/results?timeout=120&max=1")
    hist = [json.loads(x) for x in r.data.decode().strip().splitlines() if x]
    assert hist and hist[0]["source"] == "historical"

    for _ in range(100):
        if client.get(f"/api/queries/{qid}").get_json()["status"] == "Running":
            break
        time.sleep(0.2)
    assert client.get(f"/api/queries/{qid}").get_json()["status"] == "Running"

    # replay the engine's quads into the live side; tumbling 2s windows
    # fire.  The live runner is created by the background start thread
    # after the historical pass — poll until replay accepts it.
    for _ in range(300):
        r = client.post("/api/replay/start", json={"query_id": qid, "batch_ms": 1000})
        if r.status_code == 200:
            break
        time.sleep(0.2)
    assert r.get_json().get("ok")
    r = client.get(f"/api/queries/{qid}/results?timeout=120&max=2")
    live = [json.loads(x) for x in r.data.decode().strip().splitlines() if x]
    live = [m for m in live if m.get("source") == "live"]
    assert live, "live window fires must reach the result stream"
    assert all("mean" in b and b["mean"] is not None for m in live for b in m["bindings"])

    for _ in range(150):
        if not client.get("/api/replay/status").get_json()["running"]:
            break
        time.sleep(0.2)
    status = client.get("/api/replay/status").get_json()
    assert status["running"] is False and status["batches"] > 0

    # replay stop after completion is idempotent
    assert client.post("/api/replay/stop").get_json()["ok"]
    assert client.get("/api/replay/status").get_json()["stopped"] is True

    # runtime metrics reflect the replay that just ran
    m = client.get(f"/api/queries/{qid}/metrics").get_json()
    assert m["status"] == "Running" and m["n_batches"] > 0
    assert m["rows_in"] > 0 and m["windows_fired"] > 0
    assert m["last_batch_wall_ms"] is not None
    assert m["windows_skipped"] >= 0 and m["rows_late"] >= 0

    stopped = client.post(f"/api/queries/{qid}/stop").get_json()
    assert stopped["status"] == "Stopped"


def test_metrics_unknown_query_404(client):
    assert client.get("/api/queries/nope/metrics").status_code == 404


def test_replay_stop_interrupts_inflight(client):
    """POST /api/replay/stop halts an in-flight replay before it feeds
    every batch (C6 route parity with server.rs:548+)."""
    qid = client.post("/api/queries", json={"query": LIVE_HYBRID_QUERY}).get_json()["query_id"]
    client.post(f"/api/queries/{qid}/start")
    client.get(f"/api/queries/{qid}/results?timeout=120&max=1")  # wait for hist

    # 100ms batches over ts 100..10000 -> ~100 batches, several seconds
    for _ in range(300):
        r = client.post("/api/replay/start", json={"query_id": qid, "batch_ms": 100})
        if r.status_code == 200:
            break
        time.sleep(0.2)
    assert r.get_json().get("ok")
    for _ in range(100):
        if client.get("/api/replay/status").get_json()["running"]:
            break
        time.sleep(0.1)
    assert client.post("/api/replay/stop").get_json()["ok"]
    for _ in range(300):
        if not client.get("/api/replay/status").get_json()["running"]:
            break
        time.sleep(0.2)
    status = client.get("/api/replay/status").get_json()
    assert status["running"] is False
    assert status["stopped"] is True
    assert status["batches"] < 100, "stop must interrupt before the full replay"
    client.post(f"/api/queries/{qid}/stop")


def test_lag_reports_drops_published_while_a_lag_line_is_read(client, monkeypatch):
    """A drop that lands after one lag notice was read must show up in the
    next notice — the count is taken and zeroed in one locked step, not
    read, yielded, then reset."""
    from janus_spark import http_api

    monkeypatch.setattr(http_api, "RESULT_QUEUE_CAP", 2)
    hub = client.application.extensions["janus"]["hub"]
    for i in range(5):  # cap 2: results 0-2 dropped, 3-4 queued
        hub.publish("q", {"type": "result", "i": i})
    r = client.get("/api/queries/q/results?timeout=30&max=3", buffered=False)
    lines = (json.loads(chunk) for chunk in r.response)
    assert next(lines) == {"type": "lag", "dropped": 3}
    for i in range(5, 8):  # drops 4 and 5 while the stream is suspended
        hub.publish("q", {"type": "result", "i": i})
    rest = list(lines)
    r.close()
    assert rest == [
        {"type": "result", "i": 3},
        {"type": "lag", "dropped": 2},
        {"type": "result", "i": 6},
        {"type": "result", "i": 7},
    ]
    assert hub.dropped["q"] == 0
