"""Native window-aggregate fast path for live queries — the pure
Structured Streaming alternative to the foreachBatch runtime.

When a live query is aggregate-shaped — ONE live window, a BGP of
triple patterns, aggregates over its variables — the RStream
evaluation is exactly Spark's built-in event-time machinery:

    single pattern (sliding or tumbling):
        stream.withWatermark(ts).groupBy(window(ts, range, step), keys).agg(...)
    multi-pattern BGP (tumbling):
        per-pattern window-tagged streams, chained stream-stream
        equi-joins on (window, shared vars), then the windowed agg —
        Spark's window-join + chained-aggregation pipeline.

This path gets incremental state, watermark-driven cleanup, and
exactly-once sinks from the engine itself (no driver-side window
bookkeeping, no full re-evaluation per close) — at 100 TB/day this is
the mode you want for metrics-style continuous queries.  Queries that
need OPTIONAL, deltas, baselines, sliding multi-pattern joins, or
multi-window merge stay on LiveQueryRunner (which trades those
capabilities for generality).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from janus_spark.compiler.ast import ECall, EVar, Filter, Group, TriplePattern, Var
from janus_spark.compiler.expressions import compile_aggregate, compile_expr
from janus_spark.parsing.janusql import JanusQuery


def native_agg_reason(parsed: JanusQuery) -> str | None:
    """Why a live query CANNOT use the native window-agg path, or None
    if it can.  The engine's dispatcher consults this; the reasons are
    user-facing (surfaced in query status / explain output)."""
    if len(parsed.live_windows) != 1:
        return "native agg path needs exactly one live window"
    if (parsed.operator or "RStream").upper() != "RSTREAM":
        return "IStream/DStream deltas need the foreachBatch runtime"
    if parsed.baseline_window is not None:
        return "baseline warm-up joins need the foreachBatch runtime"
    if parsed.non_window is not None and parsed.non_window.elements:
        return "non-window patterns need the foreachBatch runtime"
    if parsed.distinct or parsed.order_by or parsed.limit is not None or parsed.offset:
        return "DISTINCT/ORDER/LIMIT need per-close evaluation (foreachBatch)"
    if parsed.having is not None:
        return "HAVING needs per-close evaluation (foreachBatch)"
    w = parsed.live_windows[0]
    body = parsed.window_bodies[w.name]
    patterns = [el for el in body.elements if isinstance(el, TriplePattern)]
    filters = [el for el in body.elements if isinstance(el, Filter)]
    if len(patterns) + len(filters) != len(body.elements):
        return "OPTIONAL/UNION/subpatterns need the foreachBatch runtime"
    if not patterns:
        return "native agg path needs at least one triple pattern"
    if len(patterns) > 1 and w.range_ms != w.step_ms:
        return (
            "multi-pattern BGPs run natively only on tumbling windows "
            "(sliding window() cannot be projected per-row for a "
            "stream-stream join); foreachBatch handles sliding"
        )
    if parsed.projection is None or not any(
        isinstance(e, ECall) and e.is_aggregate() for e, _ in parsed.projection
    ):
        return "native agg path needs an aggregate projection"
    if any(not isinstance(e, EVar) for e, _ in parsed.group_by):
        return "computed GROUP BY keys need the foreachBatch runtime"
    group_vars = {e.name for e, _ in parsed.group_by if isinstance(e, EVar)}
    for e, _ in parsed.projection:
        if isinstance(e, ECall) and e.is_aggregate():
            continue
        if not (isinstance(e, EVar) and e.name in group_vars):
            return "projection mixes non-grouped expressions (foreachBatch)"
    return None


def _pattern_stream(stream_quads: DataFrame, tp: TriplePattern) -> tuple[DataFrame, set[str]]:
    """Constant-term filter + variable projection for ONE triple pattern,
    keeping the event time; returns (stream, bound variable names)."""
    df = stream_quads
    proj: dict[str, str] = {}
    for pos, term in (("subject", tp.s), ("predicate", tp.p), ("object", tp.o)):
        if isinstance(term, Var):
            proj[term.name] = pos
        else:
            df = df.where(F.col(pos) == term.value if hasattr(term, "value") else term.lexical)
    sel: list[Column] = [F.timestamp_millis(F.col("ts")).alias("__event_time")]
    sel += [F.col(src).alias(var) for var, src in proj.items()]
    return df.select(*sel), set(proj)


def native_window_agg_stream(
    parsed: JanusQuery,
    stream_quads: DataFrame,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Compile an aggregate-shaped live query to a native streaming
    window aggregation.  Raises ValueError (with the reason) when the
    query's shape needs the general foreachBatch runtime instead.

    Single pattern: watermark + sliding/tumbling ``window()`` groupBy.
    Multi-pattern BGP (tumbling windows only): each pattern becomes a
    filtered projection of the stream, window-tagged per-row, and the
    patterns chain through stream-stream equi-joins on
    (window, shared vars) — Spark's window-equality join lets the state
    store evict a window's rows once the watermark passes, so join state
    is O(open windows), and the chained windowed aggregation after the
    join is the multiple-stateful-operator pipeline Structured Streaming
    supports natively (append mode).  The reference evaluates the same
    shape by re-running the full SPARQL join on every window close
    (src/stream/, rsp-rs); here the join state is incremental."""
    reason = native_agg_reason(parsed)
    if reason is not None:
        raise ValueError(reason)
    w = parsed.live_windows[0]
    body = parsed.window_bodies[w.name]
    patterns = [el for el in body.elements if isinstance(el, TriplePattern)]
    filters = [el for el in body.elements if isinstance(el, Filter)]

    group_vars = [e.name for e, _ in parsed.group_by if isinstance(e, EVar)]
    aggs = [
        compile_aggregate(e).alias(name)
        for e, name in parsed.projection
        if isinstance(e, ECall) and e.is_aggregate()
    ]

    if len(patterns) == 1:
        df, _ = _pattern_stream(stream_quads, patterns[0])
        for f in filters:
            df = df.where(compile_expr(f.expr, "bool"))
        spark_window = F.window(
            F.col("__event_time"), f"{w.range_ms} milliseconds", f"{w.step_ms} milliseconds"
        )
        out = (
            df.withWatermark("__event_time", watermark)
            .groupBy(spark_window.alias("window"), *[F.col(v) for v in group_vars])
            .agg(*aggs)
        )
    else:
        joined: DataFrame | None = None
        bound: set[str] = set()
        for tp in patterns:
            df, tp_vars = _pattern_stream(stream_quads, tp)
            df = df.withWatermark("__event_time", watermark).select(
                F.window(F.col("__event_time"), f"{w.range_ms} milliseconds").alias("window"),
                *[F.col(v) for v in tp_vars],
            )
            if joined is None:
                joined, bound = df, tp_vars
            else:
                # shared vars = SPARQL join keys; window equality scopes the
                # join to co-windowed events AND drives state eviction
                joined = joined.join(df, on=["window", *sorted(bound & tp_vars)])
                bound |= tp_vars
        for f in filters:
            joined = joined.where(compile_expr(f.expr, "bool"))
        out = joined.groupBy(F.col("window"), *[F.col(v) for v in group_vars]).agg(*aggs)

    return out.select(
        F.unix_millis(F.col("window.start")).alias("window_start"),
        F.unix_millis(F.col("window.end")).alias("window_end"),
        *[F.col(v) for v in group_vars],
        *[F.col(name) for e, name in parsed.projection if isinstance(e, ECall) and e.is_aggregate()],
    )


def histogram_quantile_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    window_ms: int = 4_000,
    vmin: float = 0.0,
    vmax: float = 100.0,
    n_bins: int = 100,
    watermark: str = "1 second",
) -> DataFrame:
    """Streaming half of the live percentile operator: per tumbling
    event-time window and key, aggregate fixed-bin histogram COUNTS with
    Spark's native incremental state (watermark-evicted, append-mode
    emission on window close).  The shuffle carries at most ``n_bins``
    rows per (key, window) regardless of event rate — the same mergeable
    -sketch argument as the batch pane path, running continuously.

    Feed the sunk counts to ``operators.timeseries.quantiles_from_binned``
    for the quantile read-off; the split matters at scale because the
    histogram state is the only thing the stream maintains — quantile
    extraction is a cheap batch query over closed windows, re-runnable
    for any prob set without touching the stream.

    ``ts_col`` holds epoch milliseconds (the quad-stream convention)."""
    width = (vmax - vmin) / n_bins
    bin_ = F.least(
        F.greatest(F.floor((F.col(value_col) - F.lit(vmin)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("long")
    ev = (
        stream.withColumn("__evt", F.timestamp_millis(F.col(ts_col).cast("long")))
        .withWatermark("__evt", watermark)
        .where(F.col(value_col).isNotNull())
        .withColumn("bin", bin_)
    )
    return (
        ev.groupBy(F.window("__evt", f"{window_ms} milliseconds"), *key_cols, "bin")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start"),
            *key_cols,
            "bin",
            "cnt",
        )
    )


def cms_count_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    window_ms: int = 4_000,
    depth: int = 4,
    width: int = 256,
    watermark: str = "1 second",
) -> DataFrame:
    """Streaming Count-Min-Sketch build: per tumbling event-time window
    (and key), aggregate the deterministic-CMS cell counts
    (functions/sketches.cms_partials) as native incremental state —
    append-mode emission on window close, watermark-evicted.

    Same state-vs-readout split as histogram_quantile_stream: the stream
    maintains at most ``depth×width`` counter rows per (key, window) no
    matter the event rate or key-universe size; point-frequency
    estimates (functions/sketches.cms_estimate) are a cheap batch query
    over the sunk cells, re-runnable for any probe set.  This is the
    scale shape for "how often did X occur in window W" over
    unbounded key universes — exact per-key streaming counts would grow
    state with distinct keys; the sketch caps it.
    """
    from janus_spark.functions.sketches import cms_cells

    cells = cms_cells(F.col(value_col).cast("string"), depth, width)
    ev = (
        stream.withColumn("__evt", F.timestamp_millis(F.col(ts_col).cast("long")))
        .withWatermark("__evt", watermark)
        .where(F.col(value_col).isNotNull())
        .select("__evt", *key_cols, F.explode(cells).alias("p"))
    )
    return (
        ev.groupBy(
            F.window("__evt", f"{window_ms} milliseconds"),
            *key_cols,
            F.col("p.row").alias("row"),
            F.col("p.col").alias("col"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start"),
            *key_cols,
            "row",
            "col",
            "cnt",
        )
    )


def moment_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    window_ms: int = 4_000,
    watermark: str = "1 second",
) -> DataFrame:
    """Streaming per-window OLS regression state: tumbling event-time
    windows accumulate the five exact integer moment sums
    (Σx, Σy, Σxy, Σx², Σy² as DECIMAL(38,0), y in cents) with Spark's
    native incremental aggregation — constant state per (key, window),
    watermark-evicted, append-mode emission on close.

    The finish (slope/intercept/r²) is a batch read over the sunk
    moments via ``operators.timeseries.ols_from_moments`` — the same
    split as ``histogram_quantile_stream``: the stream maintains ONLY
    mergeable state, finishing math replays for free.  Because the
    moments are order-free integers, a restart/replay of the stream
    produces bit-identical fits.

    ``ts_col`` holds epoch milliseconds; x is the raw epoch-ms value
    (rebase in the finisher's slope_unit if the magnitudes matter).
    """
    d38 = "decimal(38,0)"
    x = F.col(ts_col).cast("long").cast(d38)
    y = (F.col(value_col).cast("decimal(18,2)") * 100).cast(d38)
    ev = (
        stream.withColumn("__evt", F.timestamp_millis(F.col(ts_col).cast("long")))
        .withWatermark("__evt", watermark)
        .where(F.col(value_col).isNotNull())
    )
    return (
        ev.groupBy(F.window("__evt", f"{window_ms} milliseconds"), *key_cols)
        .agg(
            F.count(F.lit(1)).cast(d38).alias("__n"),
            F.sum(x).alias("__sx"),
            F.sum(y).alias("__sy"),
            F.sum(x * y).alias("__sxy"),
            F.sum(x * x).alias("__sxx"),
            F.sum(y * y).alias("__syy"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start"),
            *key_cols,
            "__n", "__sx", "__sy", "__sxy", "__sxx", "__syy",
        )
    )


def ohlc_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tie_col: str = "event_id",
    window_ms: int = 4_000,
    watermark: str = "1 second",
) -> DataFrame:
    """Streaming OHLC bars: per tumbling event-time window and key,
    open/high/low/close via native incremental aggregation — open/close
    are ``min_by``/``max_by`` over the (ts, tie) ordering struct, so the
    state per (key, window) is four scalars + two witness structs,
    watermark-evicted, append-mode emission on close.  The continuous
    form of the batch resampler (`queries.py::q_ohlc_resample`), same
    deterministic tie rule (earliest/latest by (ts, tie))."""
    order = F.struct(F.col(ts_col).cast("long").alias("t"), F.col(tie_col).alias("k"))
    ev = (
        stream.withColumn("__evt", F.timestamp_millis(F.col(ts_col).cast("long")))
        .withWatermark("__evt", watermark)
        .where(F.col(value_col).isNotNull())
    )
    return (
        ev.groupBy(F.window("__evt", f"{window_ms} milliseconds"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by(F.col(value_col), order).alias("open"),
            F.max(F.col(value_col)).alias("high"),
            F.min(F.col(value_col)).alias("low"),
            F.max_by(F.col(value_col), order).alias("close"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start"),
            *key_cols,
            "n", "open", "high", "low", "close",
        )
    )


def hll_register_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    window_ms: int = 4_000,
    p: int = 12,
    watermark: str = "1 second",
) -> DataFrame:
    """Streaming deterministic-HLL build: per tumbling event-time window
    (and key), maintain the (register, max_rank) rows of the det-HLL
    sketch (functions/sketches.hll_det_partials' algebra) as native
    incremental MAX state — append-mode emission on window close.

    The distinct-count sibling of ``cms_count_stream``: state per
    (key, window) is at most 2^p register rows regardless of event rate
    or value universe; the estimate
    (functions/sketches.hll_det_estimate) is a batch read over the sunk
    registers, and because the sketch is the engine-portable md5-family
    one, the whole streaming pipeline stays oracle-EXACT.
    """
    m = 1 << p
    wbits = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = F.shiftright(h, p)
    rank = F.when(w == 0, F.lit(wbits + 1)).otherwise(F.lit(wbits + 1) - F.length(F.bin(w)))
    ev = (
        stream.withColumn("__evt", F.timestamp_millis(F.col(ts_col).cast("long")))
        .withWatermark("__evt", watermark)
        .where(F.col(value_col).isNotNull())
        .select("__evt", *key_cols, (h % m).alias("reg"), rank.alias("rank"))
    )
    return (
        ev.groupBy(F.window("__evt", f"{window_ms} milliseconds"), *key_cols, "reg")
        .agg(F.max("rank").alias("max_rank"))
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start"),
            *key_cols,
            "reg",
            "max_rank",
        )
    )


def rule_violation_stream(
    stream: DataFrame,
    rules: list[tuple],
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    window_ms: int = 4_000,
    watermark: str = "1 second",
) -> DataFrame:
    """Continuous data-quality monitoring: per tumbling event-time
    window (and key), violation counts for the row-level rule subset of
    ``datapipe/validate.py`` (not_null / in_range / in_set / matches) —
    all rules fold into ONE native incremental aggregation (conditional
    sums), append-emitted on window close.  The streaming face of the
    batch validation suite: same rule tuples, same counting semantics.
    """
    key_cols = key_cols or []
    aggs = []
    for i, rule in enumerate(rules):
        kind, col = rule[0], rule[1]
        if kind == "not_null":
            cond = F.col(col).isNull()
        elif kind == "in_range":
            cond = F.col(col).isNotNull() & ~F.col(col).between(F.lit(rule[2]), F.lit(rule[3]))
        elif kind == "in_set":
            cond = F.col(col).isNotNull() & ~F.col(col).isin(list(rule[2]))
        elif kind == "matches":
            cond = F.col(col).isNotNull() & ~F.col(col).rlike(rule[2])
        else:
            raise ValueError(f"streaming validation supports row rules only, got {kind!r}")
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"v{i}_{kind}_{col}"))
    ev = stream.withColumn(
        "__evt", F.timestamp_millis(F.col(ts_col).cast("long"))
    ).withWatermark("__evt", watermark)
    return (
        ev.groupBy(F.window("__evt", f"{window_ms} milliseconds"), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start"),
            *key_cols,
            "n_rows",
            *[f"v{i}_{r[0]}_{r[1]}" for i, r in enumerate(rules)],
        )
    )
