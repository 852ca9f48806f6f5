"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with a full materialization (count of the collected
plan) so the number covers scan + shuffle + aggregation, mirroring the
reference's end-to-end bench shapes (BASELINE.md: ingest rate, range scan,
sliding sweep, live injection)."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    "q_bgp_scan",
    "q_bgp_join",
    "q_agg_group",
    "q_join_bind_concat",
    "q_hist_fixed",
    "q_hist_sliding",
    "q_hist_sliding_star",
    "q_tpch_pricing",
    "q_comparator_stats",
    "q_baseline_aggregate",
]


def bench_storage(spark, tmp_root: str) -> tuple[dict[str, float], dict[str, float]]:
    """Ingest + time-range-scan benches mirroring the reference's storage
    microbenchmarks (BASELINE.md: write quads/s, range scan quads/s)."""
    import shutil

    from janus_spark.sources.melt import melt_sensor_fixture
    from janus_spark.sources.quadstore import QuadStore

    n = 1_000_000
    quads = melt_sensor_fixture(spark, n).cache()
    quads.count()  # materialize so the write bench measures the write
    path = f"{tmp_root}/bench_store"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(f"{tmp_root}/bench_store_warm", ignore_errors=True)
    store = QuadStore(spark, path, bucket_ms=3_600_000)

    # warm the parquet writer/committer path so the measurement reflects
    # steady-state throughput, not first-write JVM initialization
    QuadStore(spark, f"{tmp_root}/bench_store_warm", bucket_ms=3_600_000).write(
        melt_sensor_fixture(spark, 10_000), mode="overwrite"
    )

    # best-of-3 (criterion-style steady state, like the query bench): the
    # first 1M-row write also pays one-time codec/buffer init, and this
    # box's background load makes any single run ±40% noisy
    w = s_full = s_10 = None
    scanned = 0
    for _ in range(3):
        t0 = time.perf_counter()
        store.write(quads, mode="overwrite")
        dt = time.perf_counter() - t0
        w = dt if w is None else min(w, dt)

        t0 = time.perf_counter()
        scanned = store.query(0, n * 100).count()  # 100% range
        dt = time.perf_counter() - t0
        s_full = dt if s_full is None else min(s_full, dt)
        t0 = time.perf_counter()
        store.query(0, n * 10).count()  # 10% range
        dt = time.perf_counter() - t0
        s_10 = dt if s_10 is None else min(s_10, dt)
    # Point-query shape (BASELINE.md: index lookup at one exact ts,
    # 0.235ms @ 1M in the reference).  A single lookup in Spark is bounded
    # below by task scheduling, so we report the honest single-lookup
    # latency AND the batched form — 10K lookups in ONE job — whose
    # amortized per-lookup cost is the distributed engine's answer to
    # point access (at 100 TB the workload is always the batched one).
    from pyspark.sql import functions as F

    mid_ts = (n // 2) * 100  # fixture ts domain is 100..n*100
    p = None
    for _ in range(3):
        t0 = time.perf_counter()
        store.query(mid_ts, mid_ts).count()
        dt = time.perf_counter() - t0
        p = dt if p is None else min(p, dt)

    k = 10_000
    keys = spark.range(1, k + 1).select((F.col("id") * (n // k) * 100).alias("ts"))
    b = None
    for _ in range(2):
        t0 = time.perf_counter()
        store.query(100, n * 100).join(F.broadcast(keys), "ts").count()
        dt = time.perf_counter() - t0
        b = dt if b is None else min(b, dt)
    quads.unpersist()

    timings = {
        "ingest_1m_quads": round(w, 3),
        "range_scan_100pct_1m": round(s_full, 3),
        "range_scan_10pct_1m": round(s_10, 3),
        "point_query_1m": round(p, 3),
        "point_lookup_10k_batch": round(b, 3),
    }
    extra = {
        "write_quads_per_sec": round(n / w),
        "scan_quads_per_sec": round(scanned / s_full),
        "point_lookup_amortized_ms": round(b / k * 1000, 4),
    }
    return timings, extra


def bench_live(spark, tmp_root: str) -> dict[str, float]:
    """Live injection-to-first-result latency (BASELINE shape: RANGE 10s
    STEP 1s window, N events per window, latency to the first emitted
    batch — benches/live_injection.rs)."""
    import shutil

    from janus_spark.parsing import parse_janusql
    from janus_spark.sources.melt import melt_sensor_fixture
    from janus_spark.streaming import LiveQueryRunner, ListSink

    text = """
    PREFIX ex: <http://example.org/>
    REGISTER RStream <out> AS
    SELECT ?s ?t
    FROM NAMED WINDOW ex:w ON STREAM ex:s [RANGE 10000 STEP 1000]
    WHERE { WINDOW ex:w { ?s ex:temperature ?t . } }
    """
    out: dict[str, float] = {}
    for n_events in (100,):
        buf = f"{tmp_root}/bench_live_{n_events}"
        shutil.rmtree(buf, ignore_errors=True)
        sink = ListSink()
        runner = LiveQueryRunner(spark, parse_janusql(text), buf, sink=sink)
        quads = melt_sensor_fixture(spark, n_events)  # ts 100..n*100, within first window
        runner.on_batch(quads)  # fills the window, nothing closes
        closer = melt_sensor_fixture(spark, 1).selectExpr(
            "ts + 20000 as ts", "subject", "predicate", "object", "graph"
        )
        fired_before = len(sink.batches)
        t0 = time.perf_counter()
        runner.on_batch(closer)  # advances event time; windows close + emit
        dt = time.perf_counter() - t0
        n_fired = len(sink.batches) - fired_before  # one sink batch per window
        out[f"live_injection_{n_events}ev"] = round(dt / max(n_fired, 1), 3)
    return out


def main() -> None:
    import tempfile

    from janus_spark.session import get_spark
    from janus_spark.queries import QUERIES

    spark = get_spark("janus_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/session warm-up on a trivial job so the first query isn't charged
    # for executor spin-up; also warm file-listing/schema metadata for the
    # bench inputs (not part of query execution)
    spark.range(1000).count()
    from janus_spark.sources.melt import read_events

    read_events(spark, SF_DIR).count()
    for t in ("orders", "customer"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()

    # repetitions: run 1 pays one-time plan compilation + codegen; the
    # min over the remaining runs is the steady-state number (criterion
    # style) and the median bounds run-to-run noise — this box shows
    # ±40% on storage microbenches under background load (NOTES_r3), so
    # both are reported to make round-over-round deltas interpretable.
    reps = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    def timed(fn) -> tuple[list[float], int]:
        runs, n = [], 0
        for _ in range(reps):
            t0 = time.perf_counter()
            n = fn(spark, SF_DIR).count()
            runs.append(time.perf_counter() - t0)
        # Noise lane (r11, VERDICT r10 item 2a): sub-second gates are the
        # ones box load flips — 8 of r10's 33 ratchet entries "regressed"
        # on load alone and un-regressed on the quiet rerun.  Two extra
        # reps for any gate whose min is already sub-second sharpen the
        # min estimator at ~2 s total added bench time; the estimator
        # itself (min of count-timed reps) and every key name are
        # unchanged.
        while min(runs) < 1.0 and len(runs) < reps + 2:
            t0 = time.perf_counter()
            n = fn(spark, SF_DIR).count()
            runs.append(time.perf_counter() - t0)
        return runs, n

    # noop-sink timing (guide §1.4): count() lets Catalyst prune computed
    # columns and even whole join subtrees (measured 4.4 s count vs 73 s
    # noop on q_clustering_coeff before the r10 broadcast fix — the
    # left-joined triangle subtree was dropped entirely), so the
    # count-based numbers UNDER-measure gates whose final columns carry
    # the real work.  The count-based keys above stay untouched for
    # round-over-round ratchet comparability (OPTIMIZATION_r10.md
    # "Measurement fix"); these run AFTER the count reps (plan already
    # compiled), min over 2 runs, reported as *_noop dicts.
    def timed_noop(fn) -> list[float]:
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        return runs

    def med(runs: list[float]) -> float:
        s = sorted(runs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    noop: dict[str, float] = {}
    for name in BENCH_QUERIES:
        runs, n = timed(QUERIES[name])
        timings[name] = round(min(runs), 3)
        medians[name] = round(med(runs), 3)
        noop[name] = round(min(timed_noop(QUERIES[name])), 3)
        print(
            f"# {name}: min {timings[name]:.3f}s median {medians[name]:.3f}s"
            f" noop {noop[name]:.3f}s ({n} rows)",
            file=sys.stderr,
        )

    storage_timings, extra = bench_storage(spark, tempfile.gettempdir())
    timings.update(storage_timings)
    timings.update(bench_live(spark, tempfile.gettempdir()))
    for k, v in {**storage_timings, **extra}.items():
        print(f"# {k}: {v}", file=sys.stderr)

    # datapipe shapes, reported separately (NOT in the headline total, so
    # round-over-round totals stay comparable): near-dup sweep, PQ ANN,
    # prefix-filtered Jaccard, novelty sweep
    datapipe: dict[str, float] = {}
    datapipe_median: dict[str, float] = {}
    datapipe_noop: dict[str, float] = {}
    for name in (
        "q_dedup_minhash",
        "q_ann_pq",
        "q_jaccard_prefix",
        "q_novelty",
        "q_bm25_topk",
        "q_hybrid_rrf",
        # round-5 materialize-once fixes — benched so future rounds
        # ratchet the win (tfidf was 12 corpus scans, clustering re-ran
        # its edge-building self-join per wedge/degree reference)
        "q_tfidf_pairs",
        "q_clustering_coeff",
        "q_embedding_near_dup",
        "q_line_dedup",
        "q_link_prediction",
        # round-6: maintained near-dup store (3 batches + store I/O per rep)
        "q_dedup_incremental_minhash",
        # round-6: record linkage (blocked pair scoring + CC + survivorship)
        "q_entity_resolution",
        "q_entity_sorted_neighborhood",
        # round-7: DSIR importance scoring (two hashed-unigram model
        # passes + broadcast-weighted scoring)
        "q_dsir_scores",
        # round-8: fastText-style quality filter (NB log-odds training +
        # corpus-relative exact-integer split), duplicate-substring
        # spans (gram-hash groupBy + islands), Gopher heuristic rules
        # (two per-doc n-gram modes)
        "q_quality_filter",
        "q_dup_spans",
        "q_gopher_rules",
        # round-9: duplicate-substring CUTTING (winner election + anti
        # join + per-doc rebuild on top of the span detector), the
        # mixture-honoring deterministic sample (count + apportionment +
        # per-domain rank), and the composed 5-stage curation pipeline
        "q_dup_cut",
        "q_mixture_sample",
        "q_curation_full",
        # round-10: the prefiltered mixture scale paths, benched at
        # ratio=1 (rescue deliberately starved — worst case for the
        # prefilter, so the recorded number is an upper bound)
        "q_mixture_sample_prefiltered",
        "q_mixture_tokens_prefiltered",
    ):
        runs, n = timed(QUERIES[name])
        datapipe[name] = round(min(runs), 3)
        datapipe_median[name] = round(med(runs), 3)
        datapipe_noop[name] = round(min(timed_noop(QUERIES[name])), 3)
        print(
            f"# datapipe {name}: min {datapipe[name]:.3f}s median"
            f" {datapipe_median[name]:.3f}s noop {datapipe_noop[name]:.3f}s"
            f" ({n} rows)",
            file=sys.stderr,
        )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_query_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
        "throughput": extra,
        "datapipe": datapipe,
        "datapipe_median": datapipe_median,
        # guide §1.4 noop-sink timings (min of 2 warm runs) alongside the
        # historical count-based keys — see OPTIMIZATION_r10.md
        # "Measurement fix": count() can prune computed columns/subtrees
        "queries_noop": noop,
        "datapipe_noop": datapipe_noop,
        "bench_reps": reps,
        # box-load context: the r9 adjudication had to forensically
        # resolve storage-shape flags against uptime — record it instead
        "loadavg_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
        # noise floor on this box (NOTES_r3): single runs vary ±40% on
        # storage microbenches under load; compare BASELINE/round deltas
        # against the min, use min-vs-median spread as the error bar
        "noise_note": "min=steady-state, median bounds noise; deltas < min/median spread are noise",
    }
    print(json.dumps(out))
    # The driver keeps only the LAST bytes of stdout; BENCH_r08/r09 lost
    # their heads to that window (VERDICT r9 "What's wrong" #3).  Persist
    # the full record to a repo file so the ratchet never depends on the
    # tail capture: BENCH_LOCAL_r{N} where N = newest driver BENCH + 1
    # (the driver writes BENCH_r{N-1} before round N runs bench).
    import glob as _glob

    rounds = [
        int(m.group(1))
        for p in _glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    n = (max(rounds) + 1) if rounds else 0
    local = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_LOCAL_r{n:02d}.json"
    )
    try:
        with open(local, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"# full record: {local}", file=sys.stderr)
    except OSError as exc:  # read-only checkout: stdout still has the line
        print(f"# could not write {local}: {exc}", file=sys.stderr)


# Gates the sf1 stress lane runs: the operators whose 100 TB claims the
# sf0.1 bench cannot exercise (sub-second gates are scheduler-bound, so
# the driver's 8-vs-32-core scaling block reads ≈ 1 everywhere — VERDICT
# r10 item 2b).  At 10x density these run 10–60 s and produce a real
# core-count signal.
STRESS_QUERIES = [
    "q_curation_full",
    "q_jaccard_prefix",
    "q_clustering_coeff",
    "q_entity_resolution",
]


def stress_main() -> None:
    """`python bench.py --stress [sf_dir]`: the committed sf1 stress
    methodology (formerly the ad-hoc `.stress/sf1` runs).  Builds the
    10x corpus from the driver's sf0.1 parquet on first use
    (scripts/make_stress_sf.py — deterministic shifted copies), then
    times the STRESS_QUERIES subset with count + noop sinks, min of 2
    reps each, and prints ONE JSON line
    {"metric": "stress_sf1_query_total", ...}.  Separate invocation and
    metric name — the driver's default `python bench.py` record is
    untouched.  Core-scaling evidence: run once with
    SPARK_GRAFT_CPUS=32 and once with 8 and compare."""
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    args = [a for a in sys.argv[1:] if a != "--stress"]
    sf_dir = args[0] if args else os.path.join(repo, ".stress", "sf1")
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        print(f"# building stress corpus at {sf_dir}", file=sys.stderr)
        subprocess.run(
            [sys.executable, os.path.join(repo, "scripts", "make_stress_sf.py"), sf_dir],
            check=True,
        )

    from janus_spark.queries import QUERIES
    from janus_spark.session import get_spark

    spark = get_spark("janus_bench_stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    counts: dict[str, float] = {}
    noops: dict[str, float] = {}
    for name in STRESS_QUERIES:
        spark.sparkContext.setJobDescription(f"stress: {name}")
        c = n = None
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            c = dt if c is None else min(c, dt)
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            n = dt if n is None else min(n, dt)
        counts[name] = round(c, 3)
        noops[name] = round(n, 3)
        print(f"# stress {name}: count {c:.3f}s noop {n:.3f}s", file=sys.stderr)
    out = {
        "metric": "stress_sf1_query_total",
        "value": round(sum(counts.values()), 3),
        "unit": "sec",
        "queries": counts,
        "queries_noop": noops,
        "sf": 1.0,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "loadavg_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    if "--stress" in sys.argv[1:]:
        stress_main()
    else:
        main()
