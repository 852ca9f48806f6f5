"""HTTP control-plane API — operator C6.

Mirrors the reference's route surface (src/http/server.rs:273-289):

    POST   /api/queries               register (body: {"query": "...", "baseline_mode": "..."})
    GET    /api/queries               list
    GET    /api/queries/<id>          metadata + status
    DELETE /api/queries/<id>          unregister
    POST   /api/queries/<id>/start    run historical windows (+ baseline warm-up)
    POST   /api/queries/<id>/stop     stop
    GET    /api/queries/<id>/results  result stream (chunked NDJSON — the
                                      HTTP-native framing)
    GET    /api/queries/<id>/results/ws   the reference's WebSocket channel
                                      (server.rs:473-545), served by the
                                      from-scratch RFC 6455 layer in
                                      janus_spark/ws.py (round 5 — no WS
                                      library exists here, so the protocol
                                      slice is implemented from the RFC)
    GET    /api/queries/<id>/results/sse  same stream as Server-Sent Events
                                      (text/event-stream: push framing for
                                      browser EventSource consumers)
    GET    /api/queries/<id>/metrics  runtime counters (batches, rows in,
                                      window fires, last batch wall time)
    POST   /api/replay/start          replay a quads source into live queries
    POST   /api/replay/stop           stop an in-flight replay (server.rs:548+)
    GET    /api/replay/status
    GET    /ops/status
    GET    /health

Result payload shape matches the reference's WS JSON
(server.rs:526-541): {query_id, timestamp, type, source, bindings}.
Flask is used because it is the HTTP library available in this
environment; the app is a thin layer over JanusEngine (engine.py), same
as the reference's axum layer over JanusApi.
"""

from __future__ import annotations

import json
import queue
import threading
import time

try:
    from flask import Flask, Response, jsonify, request

    HAVE_FLASK = True
except ImportError:  # pragma: no cover
    HAVE_FLASK = False

from janus_spark.engine import COMPLETED, FAILED, RUNNING, JanusEngine

RESULT_QUEUE_CAP = 1024  # reference broadcast channel capacity (server.rs:34)


class QueryResultHub:
    """Per-query bounded result queues (reference: tokio broadcast with
    lag-drop, server.rs:506-545 — a full queue drops oldest, and the
    consumer is told how many it missed)."""

    def __init__(self) -> None:
        self.queues: dict[str, queue.Queue] = {}
        self.dropped: dict[str, int] = {}
        self.lock = threading.Lock()

    def get(self, query_id: str) -> queue.Queue:
        with self.lock:
            if query_id not in self.queues:
                self.queues[query_id] = queue.Queue(maxsize=RESULT_QUEUE_CAP)
                self.dropped[query_id] = 0
            return self.queues[query_id]

    def publish(self, query_id: str, payload: dict) -> None:
        q = self.get(query_id)
        while True:
            try:
                q.put_nowait(payload)
                return
            except queue.Full:
                try:
                    q.get_nowait()
                    with self.lock:
                        self.dropped[query_id] += 1
                except queue.Empty:
                    pass

    def take_dropped(self, query_id: str) -> int:
        """Read and zero the drop count in one step under the lock, so a
        drop that lands while the lag notice is being sent is reported by
        the next notice instead of being erased."""
        with self.lock:
            n = self.dropped.get(query_id, 0)
            if n:
                self.dropped[query_id] = 0
            return n


def make_result(query_id: str, source: str, timestamp: int, bindings: list[dict]) -> dict:
    return {
        "query_id": query_id,
        "timestamp": timestamp,
        "type": "result",
        "source": source,
        "bindings": bindings,
    }


def create_app(engine: JanusEngine, buffer_root: str = "/tmp/janus_spark_live") -> "Flask":
    if not HAVE_FLASK:
        raise ImportError("flask is required for the HTTP API layer")
    app = Flask("janus_spark")
    hub = QueryResultHub()
    runners = engine._runners  # qid -> LiveQueryRunner, the engine's own
    replay_state = {"running": False, "batches": 0, "events": 0, "stopped": False}
    replay_stop = threading.Event()
    app.extensions["janus"] = {"engine": engine, "hub": hub, "runners": runners}

    # ------------------------------------------------------------ queries
    @app.post("/api/queries")
    def register():
        body = request.get_json(force=True, silent=True) or {}
        text = body.get("query")
        if not text:
            return jsonify({"error": "missing 'query'"}), 400
        try:
            qid = engine.register_query(text, body.get("baseline_mode"))
        except SyntaxError as e:
            return jsonify({"error": f"parse error: {e}"}), 400
        return jsonify({"query_id": qid, "status": engine.get_query(qid).status}), 201

    @app.get("/api/queries")
    def list_queries():
        return jsonify(
            [
                {
                    "query_id": rq.query_id,
                    "status": rq.status,
                    "registered_at": rq.registered_at,
                    "execution_count": rq.execution_count,
                }
                for rq in engine.list_queries()
            ]
        )

    @app.get("/api/queries/<qid>")
    def get_query(qid):
        try:
            rq = engine.get_query(qid)
        except KeyError:
            return jsonify({"error": "not found"}), 404
        return jsonify(
            {
                "query_id": rq.query_id,
                "query": rq.text,
                "status": rq.status,
                "baseline_mode": rq.baseline_mode,
                "live_windows": len(rq.parsed.live_windows),
                "historical_windows": len(rq.parsed.historical_windows),
            }
        )

    @app.delete("/api/queries/<qid>")
    def delete_query(qid):
        engine.unregister_query(qid)
        return jsonify({"ok": True})

    @app.post("/api/queries/<qid>/start")
    def start_query(qid):
        try:
            rq = engine.get_query(qid)
        except KeyError:
            return jsonify({"error": "not found"}), 404

        def run():
            try:
                results = engine.start_historical(qid)
                for wname, df in results.items():
                    rows = df.drop("query_id", "source").collect()
                    ts = int(time.time() * 1000)
                    if rows and "timestamp" in rows[0].asDict():
                        ts = rows[0]["timestamp"]
                    bindings = [
                        {k: v for k, v in r.asDict().items() if k != "timestamp"} for r in rows
                    ]
                    hub.publish(qid, make_result(qid, "historical", ts, bindings))
                if rq.parsed.live_windows:
                    def sink(window_name, ws, we, rows):
                        hub.publish(
                            qid,
                            make_result(
                                qid, "live", we,
                                [{k: v for k, v in r.asDict().items()} for r in rows],
                            ),
                        )

                    engine.start_live(qid, f"{buffer_root}/{qid}", sink=sink)
            except Exception as e:  # surface execution errors via status
                rq.status = FAILED
                hub.publish(qid, {"query_id": qid, "type": "error", "error": str(e)})

        threading.Thread(target=run, daemon=True).start()
        return jsonify({"query_id": qid, "status": "starting"})

    @app.post("/api/queries/<qid>/stop")
    def stop_query(qid):
        engine.stop_query(qid)
        return jsonify({"query_id": qid, "status": engine.get_query(qid).status})

    @app.get("/api/queries/<qid>/metrics")
    def query_metrics(qid):
        if qid not in engine.registry:
            return jsonify({"error": f"unknown query {qid}"}), 404
        return jsonify(engine.query_metrics(qid))

    def _drain(qid, timeout, max_results):
        """Yield (kind, payload) result/lag items from the hub queue —
        shared by the NDJSON and SSE framings."""
        q = hub.get(qid)
        n = 0
        deadline = time.time() + timeout
        while n < max_results and time.time() < deadline:
            try:
                item = q.get(timeout=max(0.05, min(0.5, deadline - time.time())))
            except queue.Empty:
                continue
            dropped = hub.take_dropped(qid)
            if dropped:
                yield "lag", {"type": "lag", "dropped": dropped}
            yield "result", item
            n += 1

    @app.get("/api/queries/<qid>/results")
    def results(qid):
        timeout = float(request.args.get("timeout", "5"))
        max_results = int(request.args.get("max", "1000"))

        def gen():
            for _, payload in _drain(qid, timeout, max_results):
                yield json.dumps(payload, default=str) + "\n"

        return Response(gen(), mimetype="application/x-ndjson")

    @app.route("/api/queries/<qid>/results/ws", websocket=True)
    def results_ws(qid):
        """The reference's WS result channel (server.rs:473-545), served
        by the from-scratch RFC 6455 layer (janus_spark/ws.py): werkzeug
        hands over the raw connection (``werkzeug.socket``), we complete
        the Upgrade handshake and push the same hub stream as the
        NDJSON/SSE framings — lag notices become ``{"type": "lag"}``
        messages, exactly the reference's dropped-results contract."""
        from janus_spark.ws import WsServerConnection

        sock = request.environ.get("werkzeug.socket")
        key = request.headers.get("Sec-WebSocket-Key")
        if sock is None or not key:
            return jsonify({"error": "not a websocket upgrade request"}), 400
        timeout = float(request.args.get("timeout", "5"))
        max_results = int(request.args.get("max", "1000"))
        conn = WsServerConnection.upgrade(sock, key)
        try:
            q = hub.get(qid)
            n = 0
            deadline = time.time() + timeout
            while n < max_results and time.time() < deadline:
                if not conn.poll_control():  # PING→PONG, client CLOSE
                    break
                try:
                    item = q.get(timeout=0.25)
                except queue.Empty:
                    continue
                dropped = hub.take_dropped(qid)
                if dropped:
                    conn.send_text(json.dumps({"type": "lag", "dropped": dropped}))
                conn.send_text(json.dumps(item, default=str))
                n += 1
        except OSError:
            pass
        finally:
            conn.close()
        return Response(status=204)

    @app.get("/api/queries/<qid>/results/sse")
    def results_sse(qid):
        timeout = float(request.args.get("timeout", "5"))
        max_results = int(request.args.get("max", "1000"))

        def gen():
            for kind, payload in _drain(qid, timeout, max_results):
                if kind == "lag":
                    yield "event: lag\ndata: " + json.dumps(payload) + "\n\n"
                else:
                    yield "data: " + json.dumps(payload, default=str) + "\n\n"

        return Response(gen(), mimetype="text/event-stream")

    # ------------------------------------------------------------- replay
    @app.post("/api/replay/start")
    def replay_start():
        body = request.get_json(force=True, silent=True) or {}
        qid = body.get("query_id")
        path = body.get("source")  # parquet quads path or nquads file
        batch_ms = int(body.get("batch_ms", 1000))
        if not qid or qid not in {r.query_id for r in engine.list_queries()}:
            return jsonify({"error": "unknown query_id"}), 400
        if qid not in runners:
            return jsonify({"error": "query has no running live side (call start first)"}), 400

        def run():
            from janus_spark.sources.nquads import read_nquads
            from janus_spark.streaming.replay import replay_quads

            replay_stop.clear()
            replay_state.update(running=True, batches=0, stopped=False)
            if path and path.endswith((".nq", ".nt", ".txt")):
                quads = read_nquads(engine.spark, path)
            elif path:
                quads = engine.spark.read.parquet(path)
            else:
                quads = engine.quads
            n = replay_quads(
                quads, runners[qid], batch_ms=batch_ms, should_stop=replay_stop.is_set
            )
            replay_state.update(running=False, batches=n, stopped=replay_stop.is_set())

        threading.Thread(target=run, daemon=True).start()
        return jsonify({"ok": True})

    @app.post("/api/replay/stop")
    def replay_stop_route():
        # reference replay stop (server.rs:548+): idempotent; the replay
        # thread observes the flag before its next batch
        replay_stop.set()
        if not replay_state["running"]:
            replay_state["stopped"] = True
        return jsonify({"ok": True, "was_running": replay_state["running"]})

    @app.get("/api/replay/status")
    def replay_status():
        return jsonify(replay_state)

    # ---------------------------------------------------------------- ops
    @app.get("/ops/status")
    def ops_status():
        return jsonify(
            {
                "queries": len(engine.list_queries()),
                "running": sum(1 for r in engine.list_queries() if r.status == RUNNING),
                "spark": engine.spark.sparkContext.applicationId,
            }
        )

    @app.get("/health")
    def health():
        return jsonify({"status": "ok"})

    return app
