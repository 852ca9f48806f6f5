"""``historical_log``: writes then reads on one ``QuadStore``, closed loop
with one client and no streaming.

A seeded sensor log (two predicates over ``N_SENSORS`` sensors, several
hour buckets) is appended in batches through ``QuadStore.write`` — that
gives the ingest throughput.  Then a fixed rotation of Janus-QL queries
runs through ``JanusEngine`` over ``QuadStore.read()`` with the store's
ANALYZE statistics: fixed windows over 1%, 10% and 100% of the log, a
two-pattern join with GROUP BY, an 8-hop sliding aggregate (pane path),
an 8-hop sliding join (general path) and AGGREGATE / LAST baseline
warm-ups.  One operation is ``register_query`` → ``start_historical`` (or
``warm_baseline``) → every window frame collected.  Every result is
compared with DuckDB SQL over the store's parquet files.
"""

from __future__ import annotations

import time

from harness import EX, SparkCounters, dir_stats, median, percentile

N_QUADS = 400_000
N_BATCHES = 8
N_SENSORS = 500
T0 = 1_699_999_200_000  # an hour boundary
SPAN_MS = 8 * 3_600_000  # eight hour buckets
TEMP, HUM = EX + "temperature", EX + "humidity"
BASELINE_NS = "https://janus.rs/baseline#"


def generate(spark, seed: int, lo: int, hi: int):
    """Quads ``lo <= id < hi`` of the log: quad ``i`` is sensor
    ``(i // 2) % N_SENSORS``, temperature for even ``i``, humidity for odd,
    at ts ``T0 + i * SPAN_MS / N_QUADS``."""
    from pyspark.sql import functions as F

    i = F.col("id")
    h = F.abs(F.xxhash64(F.lit(seed), i)) % 1000
    return spark.range(lo, hi).select(
        (F.lit(T0) + i * F.lit(SPAN_MS) / F.lit(N_QUADS)).cast("long").alias("ts"),
        F.concat(F.lit(EX + "sensor/"), ((i / 2).cast("long") % N_SENSORS).cast("string"))
        .alias("subject"),
        F.when(i % 2 == 0, F.lit(TEMP)).otherwise(F.lit(HUM)).alias("predicate"),
        F.when(i % 2 == 0, (h / 10.0).cast("string")).otherwise((h % 100).cast("string"))
        .alias("object"),
        F.lit("").alias("graph"),
    )


def _at(frac: float) -> int:
    return T0 + int(SPAN_MS * frac)


T1 = _at(1.0)
HOP = SPAN_MS // 100  # 1% of the log


def _fixed(name, lo, hi, body, select, group=""):
    return (f"""
PREFIX ex: <{EX}>
REGISTER RStream <{name}> AS
SELECT {select}
FROM NAMED WINDOW ex:h ON LOG ex:sensors [START {lo} END {hi}]
WHERE {{ WINDOW ex:h {{ {body} }} }}
{group}""")


def _sliding(name, rng, step, body, select, group=""):
    return (f"""
PREFIX ex: <{EX}>
REGISTER RStream <{name}> AS
SELECT {select}
FROM NAMED WINDOW ex:h ON LOG ex:sensors [OFFSET {7 * step} RANGE {rng} STEP {step}]
WHERE {{ WINDOW ex:h {{ {body} }} }}
{group}""")


def _baseline(name, window, mode):
    return (f"""
PREFIX ex: <{EX}>
REGISTER RStream <{name}> AS
SELECT ?sensor ?temp ?mean
FROM NAMED WINDOW ex:live ON STREAM ex:sensors [RANGE 10000 STEP 2000]
FROM NAMED WINDOW ex:h ON LOG ex:sensors {window}
USING BASELINE ex:h {mode}
WHERE {{
  WINDOW ex:live {{ ?sensor <{TEMP}> ?temp . }}
  WINDOW ex:h {{ ?sensor <{TEMP}> ?mean . }}
  ?sensor <{BASELINE_NS}mean> ?mean .
}}""")


AGG_SELECT = "?sensor (COUNT(?t) AS ?n) (AVG(?t) AS ?a)"
T_BODY = f"?sensor <{TEMP}> ?t ."
JOIN_BODY = f"?sensor <{TEMP}> ?t . ?sensor <{HUM}> ?h ."
JOIN_SELECT = "?sensor (COUNT(?h) AS ?n) (AVG(?t) AS ?a)"
GROUP = "GROUP BY ?sensor"

# (name, kind, Janus-QL text); kind "hist" runs start_historical, "baseline" warm_baseline
ROTATION = [
    ("fixed_1pct", "hist", _fixed("f1", _at(0.50), _at(0.51), T_BODY, "?sensor ?t")),
    ("fixed_10pct", "hist", _fixed("f10", _at(0.30), _at(0.40), T_BODY, AGG_SELECT, GROUP)),
    ("fixed_100pct", "hist", _fixed("f100", T0, T1, T_BODY, AGG_SELECT, GROUP)),
    ("join_group", "hist", _fixed("j", _at(0.70), _at(0.71), JOIN_BODY, JOIN_SELECT, GROUP)),
    ("sliding_agg_8", "hist", _sliding("sa", 2 * HOP, HOP, T_BODY, AGG_SELECT, GROUP)),
    ("sliding_join_8", "hist", _sliding("sj", HOP // 2, HOP // 4, JOIN_BODY, JOIN_SELECT, GROUP)),
    ("baseline_aggregate", "baseline",
     _baseline("ba", f"[START {_at(0.2)} END {_at(0.3)}]", "AGGREGATE")),
    ("baseline_last", "baseline",
     _baseline("bl", f"[OFFSET {7 * HOP} RANGE {HOP} STEP {HOP}]", "LAST")),
]


def run_query(engine, kind: str, text: str) -> list[dict]:
    """One operation: register, run every historical window (or warm the
    baseline), collect every frame, unregister."""
    qid = engine.register_query(text)
    try:
        if kind == "baseline":
            frames = [engine.warm_baseline(qid, now=T1)]
        else:
            frames = list(engine.start_historical(qid, now=T1).values())
        rows = []
        for df in frames:
            keep = [c for c in df.columns if c not in ("query_id", "source", "timestamp")]
            rows += [r.asDict() for r in df.select(*keep).collect()]
        return rows
    finally:
        engine.unregister_query(qid)


# ------------------------------------------------------------ reference
def reference(con, name: str) -> list[tuple]:
    """DuckDB answer for rotation entry ``name``, as sorted tuples."""
    t, hm = f"'{TEMP}'", f"'{HUM}'"

    def agg(where):
        return con.sql(f"""SELECT subject, COUNT(*), AVG(TRY_CAST(object AS DOUBLE))
            FROM quads WHERE predicate = {t} AND {where} GROUP BY subject""").fetchall()

    def join(where):
        return con.sql(f"""WITH tt AS (SELECT subject, object o FROM quads
                                   WHERE predicate = {t} AND {where}),
                             hh AS (SELECT subject, object o FROM quads
                                   WHERE predicate = {hm} AND {where})
            SELECT tt.subject, COUNT(*), AVG(TRY_CAST(tt.o AS DOUBLE))
            FROM tt JOIN hh USING (subject) GROUP BY tt.subject""").fetchall()

    def hops(rng, step):
        base = T1 - 7 * step
        return [(base + k * step, min(base + k * step + rng, T1)) for k in range(8)]

    def between(lo, hi):
        return f"ts BETWEEN {lo} AND {hi}"

    if name == "fixed_1pct":
        return sorted(con.sql(f"""SELECT subject, object FROM quads WHERE predicate = {t}
            AND {between(_at(0.50), _at(0.51))}""").fetchall())
    if name == "fixed_10pct":
        return sorted(agg(between(_at(0.30), _at(0.40))))
    if name == "fixed_100pct":
        return sorted(agg(between(T0, T1)))
    if name == "join_group":
        return sorted(join(between(_at(0.70), _at(0.71))))
    if name == "sliding_agg_8":
        return sorted((lo, hi, *r) for lo, hi in hops(2 * HOP, HOP) for r in agg(between(lo, hi)))
    if name == "sliding_join_8":
        return sorted((lo, hi, *r) for lo, hi in hops(HOP // 2, HOP // 4)
                      for r in join(between(lo, hi)))
    if name == "baseline_aggregate":
        return sorted((s, BASELINE_NS + "mean", a)
                      for s, _n, a in agg(between(_at(0.2), _at(0.3))))
    if name == "baseline_last":
        lo, hi = T1 - HOP, T1  # the hops whose window_end is the latest
        return sorted((s, BASELINE_NS + "mean", a) for s, _n, a in agg(between(lo, hi)))
    raise KeyError(name)


def as_tuples(name: str, rows: list[dict]) -> list[tuple]:
    if name == "fixed_1pct":
        return sorted((r["sensor"], r["t"]) for r in rows)
    if name.startswith("baseline"):
        return sorted((r["subject"], r["predicate"], float(r["object"])) for r in rows)
    if name.startswith("sliding"):
        return sorted((r["window_start"], r["window_end"], r["sensor"], r["n"], r["a"])
                      for r in rows)
    return sorted((r["sensor"], r["n"], r["a"]) for r in rows)


def same(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if u is None or v is None or abs(u - v) > 1e-9 * max(1.0, abs(v)):
                    return False
            elif u != v:
                return False
    return True


def run(ctx):
    import duckdb
    import pyarrow.parquet as pq

    from janus_spark.engine import JanusEngine
    from janus_spark.sources.quadstore import QuadStore

    spark = ctx.start_spark()
    tracer = ctx.tracer
    counters = SparkCounters(spark)
    per = N_QUADS // N_BATCHES
    batches = [generate(spark, ctx.seed, b * per, (b + 1) * per).localCheckpoint(eager=True)
               for b in range(N_BATCHES)]
    store = QuadStore(spark, str(ctx.work / "store"))
    setup_s = ctx.elapsed()

    write_s = []
    for df in batches:
        t = time.perf_counter()
        store.write(df)
        write_s.append(time.perf_counter() - t)
        ctx.check(True, "write")
    files, nbytes = dir_stats(store.path)
    for df in batches:
        df.unpersist()
    stats = store.analyze()
    engine = JanusEngine(spark, store.read(), predicate_stats=stats)

    # DuckDB cannot decode the store's Hadoop-LZ4 pages; Arrow reads them
    quads = pq.read_table(store.path, columns=["ts", "subject", "predicate", "object"])
    con = duckdb.connect()
    con.register("quads", quads)
    expected = {name: reference(con, name) for name, _k, _t in ROTATION}
    ctx.check(con.sql("SELECT COUNT(*) FROM quads").fetchone()[0] == N_QUADS,
              "store does not hold every appended quad")

    def op(record: list, name: str, kind: str, text: str, traced: bool) -> None:
        if tracer:
            tracer.enabled = traced
        j0 = counters.jobs()
        t = time.perf_counter()
        try:
            if traced:
                with tracer.span("bench.query", key=name):
                    rows = run_query(engine, kind, text)
            else:
                rows = run_query(engine, kind, text)
            dt = time.perf_counter() - t
        except Exception as e:  # a failed query counts, the run goes on
            ctx.check(False, f"{name}: {e!r}")
            return
        record.append((name, dt, counters.jobs() - j0, len(rows), traced))
        ctx.check(same(as_tuples(name, rows), expected[name]),
                  f"{name}: result differs from DuckDB")

    def rotation(record: list, n: int) -> None:
        for i, (name, kind, text) in enumerate(ROTATION):
            if not tracer:
                op(record, name, kind, text, traced=False)
                continue
            # traced run: every query twice, untraced and traced, in
            # alternating order (interleaved A/B)
            for traced in ((False, True) if (n + i) % 2 == 0 else (True, False)):
                op(record, name, kind, text, traced)

    rotation([], 0)  # first executions: codegen and JIT
    ops: list = []
    t_start = time.perf_counter()
    limit = 2 * ctx.seconds if tracer else ctx.seconds
    # whole rotations, while one more would end less than half a
    # rotation past the limit
    n_rot = 0
    while n_rot < 1 or (time.perf_counter() - t_start) * (1 + 0.5 / n_rot) < limit:
        rotation(ops, n_rot)
        n_rot += 1
    con.close()

    untraced = [o[1] for o in ops if not o[4]]
    # the rotation mixes query kinds, so its unit of work is the whole
    # rotation: the gated p50 is the mean over kinds of each kind's
    # median time (a median of single queries would pick whichever kind
    # lands in the middle)
    kind_p50 = {name: median([o[1] for o in ops if o[0] == name and not o[4]])
                for name, _k, _t in ROTATION}
    rotation_mean = sum(kind_p50.values()) / len(ROTATION)
    # each append is one sample: the median write is not moved by one
    # batch that meets a garbage collection
    ingest = N_QUADS / N_BATCHES / median(write_s)
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_mean_ms": (rotation_mean * 1000, "ms"),
        "throughput_per_s": (ingest, "1/s"),
    }
    report = {
        "ingest_quads_per_s": (ingest, "1/s"),
        "hist_query_p50_s": (median(untraced), "s"),
        "hist_rotation_query_mean_s": (rotation_mean, "s"),
        "hist_query_p90_s": (percentile(untraced, 90), "s"),
        "queries_measured": (len(untraced), "count"),
    }
    for name, p50 in kind_p50.items():
        report[f"{name}_p50_s"] = (p50, "s")
    layers = {}
    if tracer:
        traced = [o for o in ops if o[4]]
        t_us = median([o[1] for o in ops if not o[4]])
        layers = {
            "operators.historical.exec_ms_p50": (median([o[1] for o in traced]) * 1000, "ms"),
            "operators.historical.jobs_per_query": (median([o[2] for o in traced]), "count"),
            "operators.historical.rows_out": (sum(o[3] for o in traced), "count"),
            "trace.overhead_share": ((median([o[1] for o in traced]) - t_us) / t_us, "ratio"),
            "sources.quadstore.write_ms": (sum(write_s) * 1000, "ms"),
            "sources.quadstore.files_written": (files, "count"),
            "sources.quadstore.bytes": (nbytes, "bytes"),
            "spark.jobs": (sum(o[2] for o in traced), "count"),
        }
        layers.update(tracer.engine_layer_metrics())
    return e2e, report, layers
