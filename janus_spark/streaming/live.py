"""Live sliding-window runtime — operators W3 (S2R window), W4
(cross-window merge), W5 (close via event time / sentinel), W6 (RStream).

Reference behavior (rsp-rs usage in src/stream/live_stream_processing.rs):

- a live window ``[RANGE r STEP st]`` produces hops ``[k*st, k*st + r)``;
  a window closes when an event with ts >= its end arrives (:431-507);
- at fire time the contents of every OTHER live window are merged into
  the firing window's container before evaluation (:466-482);
- RStream: each close emits the FULL current result set (not deltas);
- ``close_stream(uri, final_ts)`` force-flushes remaining windows (:229-264);
- static/baseline quads are visible to every evaluation (:509-530).

Spark-first design: the runtime rides Structured Streaming's
``foreachBatch``.  Each micro-batch appends to a time-retention event
buffer (bounded by the max window range — the same state rsp-rs keeps in
memory, but spillable and distributed) in one Spark job: the batch's max
event time and row count are observed metrics of the chunk write, not a
separate aggregation.  Newly closed windows are computed from the max
event time and each fires one batch evaluation of the compiled plan over
the merged window slice; the buffer is read with the fixed quad schema,
so no schema-inference job runs per fire.  A hybrid query's baseline
arrives here already materialized (``JanusEngine.warm_baseline``), so a
live plan never re-reads the quad log.  Late events older than the
watermark slack are dropped (the reference has NO late-data story at all —
its MQTT path overwrites event time with arrival time; we document the
divergence and keep a configurable allowed lateness instead).
"""

from __future__ import annotations

import re
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from janus_spark.compiler.compile import compile_sparql
from janus_spark.model import QUAD_SCHEMA
from janus_spark.parsing.janusql import JanusQuery, WindowDef

# rows of one fired window collected to the driver; ParquetSink has no cap
COLLECT_LIMIT = 100_000


class ListSink:
    """Collects emitted result batches driver-side (test/QueryHandle use)."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def __call__(self, window_name: str, window_start: int, window_end: int, rows: list) -> None:
        self.batches.append(
            {
                "window": window_name,
                "window_start": window_start,
                "window_end": window_end,
                "rows": rows,
            }
        )


class ParquetSink:
    """Distributed RStream result delivery — the at-scale escape hatch
    for ``COLLECT_LIMIT``: each fired window's FULL result is written as
    parquet by the executors (one directory per fire), and only a
    manifest row (window bounds, path, row count) crosses to the driver
    channel.  The reference's results-to-channel contract
    (src/http/server.rs:473-545) stays intact — consumers follow the
    manifest to the data instead of receiving the rows inline.

    RStream only: the delta operators (IStream/DStream) maintain
    driver-side multiset state over the previous emission, which is
    exactly what a distributed sink exists to avoid; LiveQueryRunner
    rejects the combination up front.
    """

    wants_dataframe = True

    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.manifests: list[dict] = []

    def write(self, window_name: str, window_start: int, window_end: int,
              result: DataFrame) -> None:
        safe = re.sub(r"[^A-Za-z0-9_.-]", "_", window_name)
        path = str(self.root / safe / f"w_{window_start}_{window_end}")
        # the row count is an observed metric of the write itself
        obs = Observation()
        result.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
        n = obs.get["n"]
        self.manifests.append(
            {
                "window": window_name,
                "window_start": window_start,
                "window_end": window_end,
                "path": path,
                "n_rows": n,
            }
        )


@dataclass
class _WindowState:
    spec: WindowDef
    last_fired_end: int = -1


class LiveQueryRunner:
    """Evaluates a parsed Janus-QL live query over a quad stream.

    Drive it either from Structured Streaming (``attach(stream_df)``) or
    directly per batch (``on_batch``) — replay (S8) uses the latter.
    """

    def __init__(
        self,
        spark: SparkSession,
        parsed: JanusQuery,
        buffer_path: str,
        static_quads: DataFrame | None = None,
        sink=None,
        registry: dict | None = None,
        max_windows_per_batch: int = 100,
    ):
        self.spark = spark
        self.parsed = parsed
        self.buffer_path = Path(buffer_path)
        self.buffer_path.mkdir(parents=True, exist_ok=True)
        self.static_quads = static_quads
        self.sink = sink if sink is not None else ListSink()
        self.registry = registry
        self.max_windows_per_batch = max_windows_per_batch
        self.windows = [_WindowState(w) for w in parsed.live_windows]
        if not self.windows:
            raise ValueError("query has no live windows")
        self.max_range = max(w.spec.range_ms for w in self.windows)
        self.max_ts: int = -1
        self._live_query = parsed.live_query()
        self._chunks: dict[str, int] = {}  # subdir name -> max ts (for pruning)
        self._chunk_no = 0
        # R2S operator: RStream re-emits the full result each close (the
        # only mode the reference implements); IStream emits only rows new
        # since the previous close, DStream only rows that disappeared
        self.operator = (parsed.operator or "RStream").upper()
        if getattr(self.sink, "wants_dataframe", False) and self.operator != "RSTREAM":
            raise ValueError(
                "distributed (DataFrame) sinks support RStream only: "
                f"{self.operator} maintains driver-side multiset state over "
                "the previous emission"
            )
        self._prev_rows: dict[str, list] = {}
        # runtime observability (served by /api/queries/<id>/metrics):
        # counters ride the metrics observed on the buffer write — no
        # extra jobs
        self.metrics: dict = {
            "n_batches": 0,
            "rows_in": 0,
            "windows_fired": 0,
            "last_fire_window_end": None,
            "last_batch_wall_ms": None,
        }

    # ------------------------------------------------------------ buffer
    def _append_buffer(self, batch_df: DataFrame) -> int | None:
        """Append micro-batch to the retention buffer in one job; returns
        batch max ts.  Max ts and row count are observed during the
        chunk write; an empty batch's chunk is deleted again."""
        sub = f"c{self._chunk_no:08d}"
        path = self.buffer_path / sub
        obs = Observation()
        observed = batch_df.observe(obs, F.max("ts").alias("m"), F.count(F.lit(1)).alias("n"))
        observed.write.mode("overwrite").parquet(str(path))
        stats = obs.get
        self.metrics["rows_in"] += int(stats["n"])
        if stats["m"] is None:
            shutil.rmtree(path, ignore_errors=True)
            return None
        self._chunk_no += 1
        self._chunks[sub] = int(stats["m"])
        return int(stats["m"])

    def _prune_buffer(self) -> None:
        """Drop chunks entirely older than any window can still need."""
        cutoff = self.max_ts - self.max_range - 1
        for sub, mx in list(self._chunks.items()):
            if mx < cutoff:
                shutil.rmtree(self.buffer_path / sub, ignore_errors=True)
                del self._chunks[sub]

    def _buffer_df(self) -> DataFrame:
        paths = [str(self.buffer_path / s) for s in self._chunks]
        # fixed schema: no inference job per read, and an empty buffer
        # (close() before any data) reads as an empty frame
        return self.spark.read.schema(QUAD_SCHEMA).parquet(*paths)

    # ------------------------------------------------------------- fire
    def on_batch(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        t0 = time.perf_counter()
        self.metrics["n_batches"] += 1
        m = self._append_buffer(batch_df.select("ts", "subject", "predicate", "object", "graph"))
        if m is None:
            self.metrics["last_batch_wall_ms"] = round((time.perf_counter() - t0) * 1000, 1)
            return
        self.max_ts = max(self.max_ts, m)
        self._fire_closed_windows(self.max_ts)
        self._prune_buffer()
        self.metrics["last_batch_wall_ms"] = round((time.perf_counter() - t0) * 1000, 1)

    def close(self, final_ts: int | None = None) -> None:
        """W5 sentinel: force-close every window up to final_ts
        (reference close_stream, live_stream_processing.rs:229-264)."""
        t = final_ts if final_ts is not None else self.max_ts + self.max_range + 1
        self.max_ts = max(self.max_ts, t)
        self._fire_closed_windows(t)

    def _fire_closed_windows(self, upto_ts: int) -> None:
        buffer = None
        for ws in self.windows:
            st, rng = ws.spec.step_ms, ws.spec.range_ms
            # window hops [k*st, k*st + rng); closed when end <= upto_ts.
            # Fire, oldest first, every closed k whose end is past the
            # last fired end (k*st + rng > last_fired_end), at most
            # max_windows_per_batch of the newest
            k_end = (upto_ts - rng) // st  # largest k with k*st+rng <= upto_ts
            k_lo = max(
                0,
                (ws.last_fired_end - rng) // st + 1,
                k_end - self.max_windows_per_batch + 1,
            )
            for k in range(k_lo, k_end + 1):
                s, e = k * st, k * st + rng
                if buffer is None:
                    buffer = self._buffer_df()
                self._evaluate_window(ws, buffer, s, e)
                ws.last_fired_end = e

    def _evaluate_window(self, ws: _WindowState, buffer: DataFrame, s: int, e: int) -> None:
        self.metrics["windows_fired"] += 1
        self.metrics["last_fire_window_end"] = e
        # W4 cross-window merge: the firing window's own slice [s, e)
        # plus every other live window's active slice [e - range, e).
        # All end at e, so their union is the widest one, [e - max_range,
        # e); window containers have SET semantics (rsp-rs QuadContainer
        # is a HashSet<Quad>): identical quads collapse, incl. feed
        # duplicates
        content = buffer.where(
            (F.col("ts") >= e - self.max_range) & (F.col("ts") < e)
        ).dropDuplicates(["ts", "subject", "predicate", "object", "graph"])
        result = compile_sparql(
            self._live_query,
            content,
            registry=self.registry,
            static_quads=self.static_quads,
        )
        if getattr(self.sink, "wants_dataframe", False):
            # distributed delivery: executors write the full result; only
            # the manifest reaches the driver (no COLLECT_LIMIT bound)
            self.sink.write(ws.spec.name, s, e, result)
            return
        rows = result.limit(COLLECT_LIMIT).collect()
        if self.operator in ("ISTREAM", "DSTREAM"):
            # bag (multiset) semantics: a solution's multiplicity delta
            # determines how many copies are inserted/deleted
            from collections import Counter

            prev = self._prev_rows.get(ws.spec.name, [])
            cur_cnt, prev_cnt = Counter(map(tuple, rows)), Counter(map(tuple, prev))
            emitted = []
            if self.operator == "ISTREAM":
                budget = cur_cnt - prev_cnt
                source = rows
            else:
                budget = prev_cnt - cur_cnt
                source = prev
            remaining = dict(budget)
            for r in source:
                t = tuple(r)
                if remaining.get(t, 0) > 0:
                    remaining[t] -= 1
                    emitted.append(r)
            self._prev_rows[ws.spec.name] = rows
            self.sink(ws.spec.name, s, e, emitted)
        else:
            self.sink(ws.spec.name, s, e, rows)

    # -------------------------------------------------- structured stream
    def attach(self, stream_df: DataFrame, trigger_seconds: float | None = None, once: bool = False):
        """Attach to a streaming quads DataFrame via foreachBatch (S7)."""
        writer = stream_df.writeStream.foreachBatch(lambda df, bid: self.on_batch(df, bid))
        writer = writer.option("checkpointLocation", str(self.buffer_path / "_checkpoint"))
        if once:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()
