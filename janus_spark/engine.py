"""Query lifecycle orchestration — operators C3 (registry) and C4.

Reference: src/registry/query_registry.rs (register/get/unregister/list,
status machine) and src/api/janus_api.rs:197-515 (start_query spawning one
thread per historical window, a live processor, and an async baseline
warm-up).  Spark mapping: each historical window is a lazy batch
DataFrame plan (Catalyst schedules it distributed — no hand threading);
the live side is a streaming runner (janus_spark.streaming); baseline
warm-up is a small batch job run once, whose tiny result is materialized
in memory and broadcast into every live plan — live windows never
re-read the quad log.

Status machine (janus_api.rs:110-118): Registered → [WarmingBaseline →]
Running → Stopped/Completed/Failed.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from janus_spark.operators.baseline import baseline_to_quads, build_baseline
from janus_spark.operators.historical import (
    run_historical_fixed,
    run_historical_sliding,
    tag_results,
)
from janus_spark.parsing.janusql import (
    HIST_FIXED,
    HIST_SLIDING,
    JanusQuery,
    WindowDef,
    parse_janusql,
)

def parse_mqtt_uri(uri: str) -> tuple[str, int, str]:
    """C7: ``mqtt://host:port/topic`` → (host, port, topic); any other URI
    falls back to localhost:1883 with the last path segment as topic
    (janus_api.rs:849-884).  Used to map stream URIs onto broker topics
    (or, in this engine, Kafka topics / file channels)."""
    if uri.startswith("mqtt://"):
        rest = uri[len("mqtt://"):]
        hostport, _, topic = rest.partition("/")
        host, _, port = hostport.partition(":")
        return host or "localhost", int(port) if port else 1883, topic or "janus"
    topic = uri.rstrip("/").rsplit("/", 1)[-1] or "janus"
    return "localhost", 1883, topic


REGISTERED = "Registered"
WARMING_BASELINE = "WarmingBaseline"
RUNNING = "Running"
STOPPED = "Stopped"
COMPLETED = "Completed"
FAILED = "Failed"


@dataclass
class RegisteredQuery:
    query_id: str
    text: str
    parsed: JanusQuery
    baseline_mode: str | None
    status: str = REGISTERED
    registered_at: float = field(default_factory=time.time)
    execution_count: int = 0


class JanusEngine:
    """Library entry point (reference JanusApi, janus_api.rs:131-138)."""

    def __init__(
        self,
        spark: SparkSession,
        quads: DataFrame | None = None,
        max_queries: int = 100,
        property_tables: dict | None = None,
        path_max_hops: int | None = None,
        predicate_stats: dict | None = None,
    ):
        self.spark = spark
        self.quads = quads
        self.path_max_hops = path_max_hops
        # ANALYZE output (QuadStore.analyze / predicate_stats) — seeds
        # BGP join order with the rarest predicate in every compile
        self.predicate_stats = predicate_stats or {}
        self.registry: dict[str, RegisteredQuery] = {}
        self._runners: dict[str, object] = {}  # qid -> LiveQueryRunner (foreachBatch path)
        self.max_queries = max_queries
        # star-join elimination registry matching `quads` (sources.melt.
        # property_registry); windowed executors re-slice it per window
        self.property_tables = property_tables

    # ------------------------------------------------------------- C3
    def register_query(self, text: str, baseline_mode: str | None = None, query_id: str | None = None) -> str:
        if len(self.registry) >= self.max_queries:
            raise RuntimeError(f"query registry full (max {self.max_queries})")
        parsed = parse_janusql(text)
        if baseline_mode is not None:
            parsed.baseline_mode = baseline_mode.upper()
        qid = query_id or str(uuid.uuid4())
        self.registry[qid] = RegisteredQuery(qid, text, parsed, parsed.baseline_mode)
        return qid

    def get_query(self, query_id: str) -> RegisteredQuery:
        return self.registry[query_id]

    def list_queries(self) -> list[RegisteredQuery]:
        return list(self.registry.values())

    def unregister_query(self, query_id: str) -> None:
        self.registry.pop(query_id, None)
        self._runners.pop(query_id, None)

    def stop_query(self, query_id: str) -> None:
        rq = self.registry.get(query_id)
        if rq:
            rq.status = STOPPED
        self._runners.pop(query_id, None)

    # ------------------------------------------------------------- C4
    def run_historical_window(
        self,
        parsed: JanusQuery,
        window: WindowDef,
        quads: DataFrame,
        now: int | None = None,
    ) -> DataFrame:
        sq = parsed.historical_query(window)
        if window.kind == HIST_FIXED:
            return run_historical_fixed(
                sq,
                quads,
                window.start_ts,
                window.end_ts,
                property_tables=self.property_tables if quads is self.quads else None,
                path_max_hops=self.path_max_hops,
                predicate_stats=self.predicate_stats,
            )
        if window.kind == HIST_SLIDING:
            if now is None:
                now = int(time.time() * 1000)
            return run_historical_sliding(
                sq, quads, now, window.offset_ms, window.range_ms, window.step_ms,
                property_tables=self.property_tables if quads is self.quads else None,
                path_max_hops=self.path_max_hops,
                predicate_stats=self.predicate_stats,
            )
        raise ValueError(f"not a historical window: {window.kind}")

    def start_historical(
        self, query_id: str, quads: DataFrame | None = None, now: int | None = None
    ) -> dict[str, DataFrame]:
        """Run all historical windows of a registered query; returns one
        tagged result frame per window (reference emits one Historical
        batch per window, janus_api.rs:260-273)."""
        rq = self.registry[query_id]
        quads = quads if quads is not None else self.quads
        out: dict[str, DataFrame] = {}
        for w in rq.parsed.historical_windows:
            df = self.run_historical_window(rq.parsed, w, quads, now)
            ts = w.end_ts if w.kind == HIST_FIXED else None
            out[w.name] = tag_results(df, query_id, "historical", ts)
        rq.status = RUNNING
        rq.execution_count += 1
        return out

    def warm_baseline(
        self, query_id: str, quads: DataFrame | None = None, now: int | None = None
    ) -> DataFrame:
        """W8 warm-up: run the baseline historical window, compact to
        (anchor, var, value), return static quads for the live side.
        The quads are materialized here, once (the reference also inserts
        them as static triples at warm-up): live windows read the small
        in-memory relation, not the quad log, so they neither re-run the
        baseline nor break when the log is compacted.
        Status flips WarmingBaseline → Running (janus_api.rs:352-407)."""
        rq = self.registry[query_id]
        parsed = rq.parsed
        if parsed.baseline_window is None:
            raise ValueError("query has no USING BASELINE clause")
        rq.status = WARMING_BASELINE
        quads = quads if quads is not None else self.quads
        w = next(x for x in parsed.historical_windows if x.name == parsed.baseline_window)
        hist = self.run_historical_window(parsed, w, quads, now)
        ord_col = "window_end" if "window_end" in hist.columns else None
        bl = build_baseline(hist, parsed.baseline_mode or "LAST", window_ord_col=ord_col)
        static = baseline_to_quads(bl).localCheckpoint(eager=True)
        rq.status = RUNNING
        return static

    def start_live(
        self,
        query_id: str,
        buffer_path: str,
        quads: DataFrame | None = None,
        sink=None,
        now: int | None = None,
    ):
        """Start the live side of a registered query (hybrid queries warm
        the baseline first — reference's WarmingBaseline phase)."""
        from janus_spark.streaming.live import LiveQueryRunner

        rq = self.registry[query_id]
        static = None
        if rq.parsed.baseline_window is not None:
            static = self.warm_baseline(query_id, quads, now)
        runner = LiveQueryRunner(
            self.spark, rq.parsed, buffer_path, static_quads=static, sink=sink
        )
        rq.status = RUNNING
        self._runners[query_id] = runner
        return runner

    def query_metrics(self, query_id: str) -> dict:
        """Runtime observability for a registered query: lifecycle state +
        the live runner's counters (batches, rows in, window fires, last
        batch wall time) when the foreachBatch path is active.  Counters
        ride metrics each batch's buffer write observes — reading them costs
        nothing.  (Native-path queries expose Spark's own progress via
        ``StreamingQuery.lastProgress``; callers hold that handle.)"""
        rq = self.registry[query_id]
        out = {
            "query_id": query_id,
            "status": rq.status,
            "execution_count": rq.execution_count,
            "registered_at": rq.registered_at,
        }
        runner = self._runners.get(query_id)
        if runner is not None:
            out.update(runner.metrics)
            out["buffered_chunks"] = len(runner._chunks)
        return out

    def explain_live(self, query_id: str) -> dict:
        """Which live execution mode a registered query would get and why.

        ``native``: pure Structured Streaming watermark+window aggregation
        (incremental state, engine-managed cleanup — the scale path for
        metrics-style continuous queries).  ``foreachbatch``: the general
        LiveQueryRunner (joins, merges, deltas, baselines)."""
        from janus_spark.streaming.native_agg import native_agg_reason

        reason = native_agg_reason(self.registry[query_id].parsed)
        return {
            "mode": "native" if reason is None else "foreachbatch",
            "reason": reason or "aggregate-shaped query over one live window",
        }

    def start_live_auto(
        self,
        query_id: str,
        stream_df: DataFrame,
        buffer_path: str,
        sink=None,
        watermark: str = "10 seconds",
    ):
        """Optimizer choice for the live side: dispatch aggregate-shaped
        queries to the native streaming window aggregation, everything
        else to the foreachBatch runtime.  Returns ``("native", df)``
        where df is the unstarted output streaming DataFrame, or
        ``("foreachbatch", runner)`` with the runner not yet attached."""
        from janus_spark.streaming.native_agg import native_agg_reason, native_window_agg_stream

        rq = self.registry[query_id]
        if native_agg_reason(rq.parsed) is None:
            rq.status = RUNNING
            return "native", native_window_agg_stream(rq.parsed, stream_df, watermark=watermark)
        return "foreachbatch", self.start_live(query_id, buffer_path, sink=sink)
