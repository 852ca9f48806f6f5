"""``curation_daily``: incremental training-data curation, closed loop.

Seeded document batches go through ``curation_bootstrap`` (the founding
corpus) and then, one "day" at a time, ``curation_increment`` against
the persistent MinHash store.  Batches are id-monotone; their cut points
and the planted near-duplicates (copies of earlier documents with one
token changed) come from the seed.  The reference is the registry's
``q_curation_increment`` DuckDB oracle with the founding cut moved to
this run's: by the incrementality theorem, the union of the survivors
equals the one-shot batch SQL over every document processed.
"""

from __future__ import annotations

import random
import time

from harness import SparkCounters, dir_stats, mean, median

EN_WORDS = ("the be to of and that have with data stream window query table join "
            "value sensor time event graph store batch scan order group merge "
            "spark vector model token corpus index").split()
OTHER_WORDS = ("der die und les des los las der zum pour para avec mit dans sur "
               "bei nach sich eine einen uno una dos tres").split()
LANGS = ("en", "en", "de", "fr", "es")
FOUNDING = 200  # documents in the founding corpus
DAY_MIN, DAY_MAX = 150, 170  # documents per daily increment
MAX_DAYS = 40
# untimed days first: an increment gets faster over about ten days as
# the JVM compiles the hot paths (about 4.1 s falling to 2.2 s on 4
# cores, most of it in the first six), and run-to-run spread is several
# times larger without them
WARMUP_DAYS = 6
DUP_SHARE = 0.08


def documents(seed: int) -> tuple[list[tuple[int, str, str]], list[int]]:
    """All documents ``(doc_id, text, lang)`` and the batch cut points."""
    rng = random.Random(seed)
    cuts = [FOUNDING]
    while len(cuts) <= MAX_DAYS:
        cuts.append(cuts[-1] + rng.randint(DAY_MIN, DAY_MAX))
    docs: list[tuple[int, str, str]] = []
    for doc_id in range(cuts[-1]):
        if docs and rng.random() < DUP_SHARE:
            _i, text, lang = docs[rng.randrange(len(docs))]
            toks = text.split()
            toks[rng.randrange(len(toks))] = rng.choice(EN_WORDS)
            docs.append((doc_id, " ".join(toks), lang))
            continue
        lang = rng.choice(LANGS)
        words = EN_WORDS if lang == "en" else OTHER_WORDS + EN_WORDS[:8]
        n = rng.randint(12, 70)
        docs.append((doc_id, " ".join(rng.choice(words) for _ in range(n)), lang))
    return docs, cuts


def oracle_survivors(docs, founding: int) -> set[int]:
    """The registry's DuckDB oracle over ``docs`` with the quality model
    frozen to ``doc_id < founding``."""
    import duckdb

    from janus_spark.queries import ORACLES

    sql = ORACLES["q_curation_increment"]
    if sql.count("doc_id < 250") != 1:
        raise RuntimeError("q_curation_increment oracle changed shape")
    sql = sql.replace("doc_id < 250", f"doc_id < {founding}")
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", docs)
        return {r[0] for r in con.sql(sql).fetchall()}
    finally:
        con.close()


def run(ctx):
    from janus_spark.datapipe.curation import curation_bootstrap, curation_increment

    spark = ctx.start_spark()
    tracer = ctx.tracer
    counters = SparkCounters(spark)
    docs, cuts = documents(ctx.seed)
    starts = [0] + cuts

    def batch(day: int):
        return spark.createDataFrame(docs[starts[day]:cuts[day]],
                                     "doc_id long, text string, lang string")

    store = str(ctx.work / "minhash_store")
    surv0, model = curation_bootstrap(batch(0), store)
    survivors = [{r["doc_id"] for r in surv0.select("doc_id").collect()}]
    setup_s = ctx.elapsed()

    def increment(day: int, traced: bool) -> tuple[float, int, int]:
        if tracer:
            tracer.enabled = traced
        docs_df = batch(day)
        j0, s0 = counters.jobs(), counters.stages()
        t = time.perf_counter()
        got = {r["doc_id"] for r in
               curation_increment(docs_df, store, model).select("doc_id").collect()}
        dt = time.perf_counter() - t
        survivors.append(got)
        return dt, counters.jobs() - j0, counters.stages() - s0

    for day in range(1, WARMUP_DAYS + 1):
        increment(day, traced=False)
    ops = []  # (day, seconds, jobs, stages, traced)
    day = WARMUP_DAYS + 1
    t_start = time.perf_counter()
    limit = 2 * ctx.seconds if tracer else ctx.seconds
    while day < len(cuts) and (len(ops) < 2 or time.perf_counter() - t_start < limit):
        traced = bool(tracer) and day % 2 == 1  # interleaved A/B in the traced run
        ops.append((day, *increment(day, traced), traced))
        day += 1

    # ---- correctness against the DuckDB oracle over every processed day
    processed = docs[: cuts[day - 1]]
    expected = oracle_survivors(processed, FOUNDING)
    for d, got in enumerate(survivors):
        ctx.check(got == {i for i in expected if starts[d] <= i < cuts[d]},
                  f"curation day {d}: survivors differ from the DuckDB oracle")

    arrivals = {d: cuts[d] - starts[d] for d in range(len(cuts))}
    untraced = [(d, dt) for d, dt, _j, _s, tr in ops if not tr]
    times = [dt for _d, dt in untraced]
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_mean_ms": (mean(times) * 1000, "ms"),
        "throughput_per_s": (sum(arrivals[d] for d, _dt in untraced) / sum(times), "1/s"),
    }
    report = {
        "curation_docs_per_s": e2e["throughput_per_s"],
        "increment_p50_s": (median(times), "s"),
        "increments_measured": (len(times), "count"),
    }
    layers = {}
    if tracer:
        traced_ops = [(d, dt, j, st) for d, dt, j, st, tr in ops if tr]
        n_in = sum(arrivals[d] for d, _dt, _j, _s in traced_ops)
        n_out = sum(len(survivors[d]) for d, _dt, _j, _s in traced_ops)
        t_tr = median([dt for _d, dt, _j, _s in traced_ops])
        layers = {
            "datapipe.increment_ms_p50": (t_tr * 1000, "ms"),
            "datapipe.jobs_per_increment": (median([j for _d, _dt, j, _s in traced_ops]),
                                            "count"),
            "datapipe.store_bytes": (dir_stats(store)[1], "bytes"),
            "datapipe.survivor_ratio": (n_out / n_in, "ratio"),
            "datapipe.arrivals": (n_in, "count"),
            "spark.jobs": (sum(j for _d, _dt, j, _s in traced_ops), "count"),
            "spark.stages": (sum(st for _d, _dt, _j, st in traced_ops), "count"),
            "trace.overhead_share": ((t_tr - median(times)) / median(times), "ratio"),
        }
        layers.update(tracer.engine_layer_metrics())
    return e2e, report, layers
