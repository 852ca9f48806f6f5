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
event time, row count and late-row count are observed metrics of the
chunk write, not a separate aggregation.

Newly closed windows are computed from the max event time, and ALL of
them fire as ONE evaluation of the compiled plan — the historical
sliding plan shape (``operators/historical.py::run_historical_sliding``).
A fired window's merged content is ``[e - max_range, e)`` for its end
``e``, so each buffer row is tagged with every fired end whose merged
range holds it (``__window_end``), the plan is compiled once with that
column as a partition key, collected once, and the rows are split per
end on the driver.  Windows of different specs that end together share
one evaluation.  The buffer is read with the fixed quad schema, so no
schema-inference job runs per fire.  A hybrid query's baseline arrives
here already materialized (``JanusEngine.warm_baseline``), so a live
plan never re-reads the quad log.

Late data: there is no allowed-lateness setting and nothing is dropped
on arrival.  A late event (ts below the newest fired window end) is
buffered like any other, counted in ``metrics["rows_late"]``, and seen
by every later-firing window whose merged range covers it; a window that
already fired never fires again.  Buffer chunks whose newest row is
older than ``max_ts - max_range`` are pruned, so rows that old are never
seen.  (The reference has no late-data story at all — its MQTT path
overwrites event time with arrival time.)
"""

from __future__ import annotations

import shutil
import time
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from janus_spark.compiler.compile import compile_sparql
from janus_spark.model import QUAD_COLUMNS, QUAD_SCHEMA
from janus_spark.parsing.janusql import JanusQuery, WindowDef

# rows of one fired window collected to the driver; ParquetSink has no cap
COLLECT_LIMIT = 100_000
# the fired window end each evaluated row belongs to
WINDOW_END = "__window_end"


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
    for ``COLLECT_LIMIT``: a firing batch's FULL result is written as
    parquet by the executors in one write, partitioned by
    ``__window_end`` (one directory per batch, one partition per fired
    end), and only a manifest row per fired window (window bounds, path,
    row count) crosses to the driver channel.  The per-end row counts are
    observed metrics of that write.  A fired window without rows gets
    ``n_rows == 0`` and a path holding a schema-only file, so it reads as
    an empty frame.  Windows of different specs that end together share
    one partition path.  The reference's results-to-channel contract
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

    def write(self, fired: list[tuple[str, int, int]], result: DataFrame) -> None:
        """``fired``: (window name, start, end) per fired window, oldest
        first per spec; ``result`` carries every fired window's rows,
        keyed by ``__window_end``."""
        ends = sorted({e for _name, _s, e in fired})
        path = self.root / f"w_{ends[0]}_{ends[-1]}"
        obs = Observation()
        counts = [F.count_if(F.col(WINDOW_END) == e).alias(f"n{e}") for e in ends]
        result.observe(obs, *counts).write.mode("overwrite").partitionBy(WINDOW_END).parquet(
            str(path)
        )
        n = obs.get
        for name, s, e in fired:
            part = path / f"{WINDOW_END}={e}"
            if not part.exists():
                # an empty window writes no partition: leave a schema-only
                # file (driver-side, no Spark job) so its path still reads
                import pyarrow.parquet as pq
                from pyspark.sql.pandas.types import to_arrow_schema

                part.mkdir()
                schema = to_arrow_schema(result.drop(WINDOW_END).schema)
                pq.write_table(schema.empty_table(), str(part / "part-empty.parquet"))
            self.manifests.append(
                {
                    "window": name,
                    "window_start": s,
                    "window_end": e,
                    "path": str(part),
                    "n_rows": n[f"n{e}"],
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

    Window cap: a batch fires, per spec, at most the newest
    ``max_windows_per_batch`` of its newly closed windows.  Older closed
    windows past the cap are skipped for good — a later batch never
    fires them — and are counted in ``metrics["windows_skipped"]``.
    """

    def __init__(
        self,
        spark: SparkSession,
        parsed: JanusQuery,
        buffer_path: str,
        static_quads: DataFrame | None = None,
        sink=None,
        max_windows_per_batch: int = 100,
    ):
        self.spark = spark
        self.parsed = parsed
        self.buffer_path = Path(buffer_path)
        self.buffer_path.mkdir(parents=True, exist_ok=True)
        self.static_quads = static_quads
        self.sink = sink if sink is not None else ListSink()
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
        # counters ride the metrics observed on the buffer write or the
        # fire arithmetic — no extra jobs
        self.metrics: dict = {
            "n_batches": 0,
            "rows_in": 0,
            "rows_late": 0,
            "windows_fired": 0,
            "windows_skipped": 0,
            "last_fire_window_end": None,
            "last_batch_wall_ms": None,
        }

    # ------------------------------------------------------------ buffer
    def _append_buffer(self, batch_df: DataFrame) -> int | None:
        """Append micro-batch to the retention buffer in one job; returns
        batch max ts.  Max ts, row count and late-row count (ts below the
        newest fired end) are observed during the chunk write; an empty
        batch's chunk is deleted again."""
        sub = f"c{self._chunk_no:08d}"
        path = self.buffer_path / sub
        fired_end = max(ws.last_fired_end for ws in self.windows)
        obs = Observation()
        observed = batch_df.observe(
            obs,
            F.max("ts").alias("m"),
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("ts") < fired_end).alias("late"),
        )
        observed.write.mode("overwrite").parquet(str(path))
        stats = obs.get
        self.metrics["rows_in"] += int(stats["n"])
        self.metrics["rows_late"] += int(stats["late"])
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
        m = self._append_buffer(batch_df.select(*QUAD_COLUMNS))
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
        fired: list[tuple[_WindowState, int, int]] = []
        for ws in self.windows:
            st, rng = ws.spec.step_ms, ws.spec.range_ms
            # window hops [k*st, k*st + rng); closed when end <= upto_ts.
            # Newly closed: every k from k_new (first end past the last
            # fired end) to k_end; the cap fires the newest of them and
            # skips the rest for good
            k_end = (upto_ts - rng) // st  # largest k with k*st+rng <= upto_ts
            k_new = max(0, (ws.last_fired_end - rng) // st + 1)
            k_lo = max(k_new, k_end - self.max_windows_per_batch + 1)
            self.metrics["windows_skipped"] += k_lo - k_new
            fired += [(ws, k * st, k * st + rng) for k in range(k_lo, k_end + 1)]
        if not fired:
            return
        ends = sorted({e for _ws, _s, e in fired})
        result = self._evaluate(ends)
        if getattr(self.sink, "wants_dataframe", False):
            # distributed delivery: executors write the full result; only
            # the manifests reach the driver (no COLLECT_LIMIT bound)
            self.sink.write([(ws.spec.name, s, e) for ws, s, e in fired], result)
        else:
            by_end = self._collect(result, ends)
            for ws, s, e in fired:
                self._emit(ws, s, e, by_end.get(e, []))
        for ws, _s, e in fired:
            ws.last_fired_end = e
        self.metrics["windows_fired"] += len(fired)
        self.metrics["last_fire_window_end"] = fired[-1][2]

    def _evaluate(self, ends: list[int]) -> DataFrame:
        """One plan for every fired end: its rows carry ``__window_end``.

        W4 cross-window merge: a window fired at end e sees its own slice
        [s, e) plus every other live window's active slice [e - range, e).
        All end at e, so their union is the widest one, [e - max_range,
        e); window containers have SET semantics (rsp-rs QuadContainer is
        a HashSet<Quad>): identical quads collapse per end, incl. feed
        duplicates.  One end is a literal key; several are an explode."""
        ts = F.col("ts")
        if len(ends) == 1:
            tag = all_ends = F.lit(ends[0])
        else:
            lits = F.array(*[F.lit(e) for e in ends])
            tag = F.explode(F.filter(lits, lambda e: (ts >= e - self.max_range) & (ts < e)))
            all_ends = F.explode(lits)
        content = (
            self._buffer_df()
            .where((ts >= ends[0] - self.max_range) & (ts < ends[-1]))
            .select(*QUAD_COLUMNS, tag.alias(WINDOW_END))
            .dropDuplicates([*QUAD_COLUMNS, WINDOW_END])
        )
        static = None
        if self.static_quads is not None:
            # baseline quads are visible to every fired window
            static = self.static_quads.select("*", all_ends.alias(WINDOW_END))
        return compile_sparql(
            self._live_query,
            content,
            partition_cols=[WINDOW_END],
            static_quads=static,
            partition_domain=lambda: self.spark.range(1).select(all_ends.alias(WINDOW_END)),
        )

    def _collect(self, result: DataFrame, ends: list[int]) -> dict[int, list]:
        """Collect at most ``COLLECT_LIMIT`` rows per fired end in one job
        and split them per end, each end's rows in result order.  With one
        end the rows need no key: they are collected as they are (a
        struct per row costs about 10 ms per 2,500 rows to unpack)."""
        if len(ends) == 1:
            return {ends[0]: result.drop(WINDOW_END).limit(COLLECT_LIMIT).collect()}
        cols = [c for c in result.columns if c != WINDOW_END]
        seq = result.withColumn("__seq", F.monotonically_increasing_id())
        rank = F.row_number().over(Window.partitionBy(WINDOW_END).orderBy("__seq"))
        capped = seq.withColumn("__rn", rank).where(F.col("__rn") <= COLLECT_LIMIT)
        by_end: dict[int, list] = {}
        for e, row in capped.select(WINDOW_END, F.struct(*cols)).collect():
            by_end.setdefault(e, []).append(row)
        return by_end

    def _emit(self, ws: _WindowState, s: int, e: int, rows: list) -> None:
        if self.operator not in ("ISTREAM", "DSTREAM"):
            self.sink(ws.spec.name, s, e, rows)
            return
        # bag (multiset) semantics: a solution's multiplicity delta
        # determines how many copies are inserted/deleted
        prev = self._prev_rows.get(ws.spec.name, [])
        cur_cnt, prev_cnt = Counter(map(tuple, rows)), Counter(map(tuple, prev))
        if self.operator == "ISTREAM":
            budget = cur_cnt - prev_cnt
            source = rows
        else:
            budget = prev_cnt - cur_cnt
            source = prev
        remaining = dict(budget)
        emitted = []
        for r in source:
            t = tuple(r)
            if remaining.get(t, 0) > 0:
                remaining[t] -= 1
                emitted.append(r)
        self._prev_rows[ws.spec.name] = rows
        self.sink(ws.spec.name, s, e, emitted)

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
