"""Physical-plan shape guards — the properties that matter at 100 TB.

These assert the plans we designed for, so a future refactor that
silently reintroduces a nested-loop join or breaks column pruning fails
loudly here.
"""

import os

from pyspark.sql import functions as F

from janus_spark.compiler import compile_sparql, parse_sparql
from janus_spark.sources.melt import melt_sensor_fixture, melt_table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_constant_predicate_scan_prunes_columns(spark, sf_dir):
    quads = melt_table(spark.read.parquet(f"{sf_dir}/orders.parquet"), "orders")
    df = compile_sparql(
        parse_sparql("SELECT ?o ?p WHERE { ?o <urn:orders:o_totalprice> ?p . }"), quads
    )
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1, "union branches must fold to one scan"
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_totalprice" in read
    assert "o_orderdate" not in read, "unused columns must be pruned from the scan"


def test_bgp_join_broadcasts(spark, sf_dir):
    quads = melt_table(spark.read.parquet(f"{sf_dir}/orders.parquet"), "orders")
    df = compile_sparql(
        parse_sparql(
            """SELECT ?o ?s ?p WHERE {
                 ?o <urn:orders:o_orderstatus> ?s .
                 ?o <urn:orders:o_totalprice> ?p . }"""
        ),
        quads,
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sliding_window_has_no_nested_loop_join(spark):
    from janus_spark.engine import JanusEngine

    quads = melt_sensor_fixture(spark, 1000)
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(
        """PREFIX ex: <http://example.org/>
        REGISTER RStream <out> AS
        SELECT (COUNT(?s) AS ?n)
        FROM NAMED WINDOW ex:h ON LOG ex:s [OFFSET 50000 RANGE 10000 STEP 5000]
        WHERE { WINDOW ex:h { ?s ex:temperature ?t . } }"""
    )
    df = eng.start_historical(qid, now=100000)["http://example.org/h"]
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, "window assignment must be arithmetic, not a range join"
    assert "ExistingRDD" not in plan, "window bounds must be arithmetic, not a table built from Python rows"


def test_aggregate_is_partial_then_final(spark, sf_dir):
    quads = melt_table(spark.read.parquet(f"{sf_dir}/orders.parquet"), "orders")
    df = compile_sparql(
        parse_sparql(
            "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?o <urn:orders:o_orderstatus> ?s . } GROUP BY ?s"
        ),
        quads,
    )
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2, "expect map-side partial + final aggregation"


def test_quadstore_scan_prunes_partitions(spark, tmp_path):
    from janus_spark.sources.quadstore import QuadStore

    store = QuadStore(spark, os.path.join(str(tmp_path), "qs"), bucket_ms=1000)
    store.write(melt_sensor_fixture(spark, 1000))  # ts 100..100000 → ~100 buckets
    df = store.query(5000, 6000)
    plan = plan_of(df)
    assert "ts_bucket" in plan  # partition filter present
    # only 2 buckets qualify; the scan should not list ~100 partitions
    scan_line = [l for l in plan.splitlines() if "Scan parquet" in l or "FileScan" in l]
    assert df.count() == 11  # inclusive bounds


def test_static_quads_join_stays_broadcastable(spark):
    quads = melt_sensor_fixture(spark, 1000)
    static = spark.createDataFrame(
        [(0, "http://example.org/sensor1", "https://janus.rs/baseline#mean", "22.5", "")],
        ["ts", "subject", "predicate", "object", "graph"],
    )
    df = compile_sparql(
        parse_sparql(
            """SELECT ?s ?t ?m WHERE {
                 ?s <http://example.org/temperature> ?t .
                 ?s <https://janus.rs/baseline#mean> ?m . }"""
        ),
        quads,
        static_quads=static,
    )
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_star_join_eliminated_with_property_table(spark, sf_dir):
    """Property-table rewrite: a star of constant-predicate patterns on
    one subject var compiles to ONE scan, zero joins (the self-join
    shuffle this kills is the 100-TB bottleneck for melted analytics)."""
    from janus_spark.sources.melt import property_registry, property_table

    tbl = spark.read.parquet(f"{sf_dir}/orders.parquet")
    quads = melt_table(tbl, "orders")
    ptr = property_registry(property_table(tbl, "orders"))
    df = compile_sparql(
        parse_sparql(
            """SELECT ?o ?s ?p WHERE {
                 ?o <urn:orders:o_orderstatus> ?s .
                 ?o <urn:orders:o_totalprice> ?p . }"""
        ),
        quads,
        property_tables=ptr,
    )
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_orderstatus" in read and "o_totalprice" in read
    assert "o_orderdate" not in read, "star scan must still column-prune"


def test_star_rewrite_matches_self_join_semantics(spark):
    """Rewrite parity on the tricky shapes: NULL values drop the row
    (melt emits no quad), constant objects filter, repeated object vars
    force equality, and BIND breaks the rewrite run."""
    from janus_spark.sources.melt import property_registry, property_table

    tbl = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 20.0), (3, "c", None), (4, "a", 10.0)],
        "k long, name string, val double",
    )
    quads = melt_table(tbl, "t", key_col="k")
    ptr = property_registry(property_table(tbl, "t", key_col="k"))
    queries = [
        "SELECT ?s ?n ?v WHERE { ?s <urn:t:name> ?n . ?s <urn:t:val> ?v . }",
        'SELECT ?s ?v WHERE { ?s <urn:t:name> "a" . ?s <urn:t:val> ?v . }',
        # repeated object var: name == val lexical (never true here)
        "SELECT ?s WHERE { ?s <urn:t:name> ?x . ?s <urn:t:val> ?x . }",
        # BIND between patterns: run breaks, both halves still correct
        """SELECT ?s ?n ?b ?v WHERE {
             ?s <urn:t:name> ?n . BIND(UCASE(?n) AS ?b)
             ?s <urn:t:val> ?v . }""",
    ]
    for q in queries:
        base = compile_sparql(parse_sparql(q), quads)
        fast = compile_sparql(parse_sparql(q), quads, property_tables=ptr)
        assert sorted(map(tuple, base.collect())) == sorted(map(tuple, fast.collect())), q


def test_star_rewrite_in_fixed_historical_window(spark, sf_dir):
    """Fixed historical windows re-slice the property tables by ts, so
    the star scan sees exactly the window's quads — same rows as the
    self-join path, one scan, no join."""
    from janus_spark.engine import JanusEngine
    from janus_spark.queries import _events_ptr, _events_quads

    text = """
    REGISTER RStream <out> AS
    SELECT ?e ?t ?v
    FROM NAMED WINDOW <urn:w:h> ON LOG <urn:stream:events> [START 0 END 1767225600000]
    WHERE { WINDOW <urn:w:h> {
      ?e <urn:col:event_type> ?t . ?e <urn:col:value> ?v . } }
    """
    quads = _events_quads(spark, sf_dir)
    base = JanusEngine(spark, quads)
    fast = JanusEngine(spark, quads, property_tables=_events_ptr(spark, sf_dir))
    bq = base.start_historical(base.register_query(text, query_id="q"))["urn:w:h"]
    fq = fast.start_historical(fast.register_query(text, query_id="q"))["urn:w:h"]
    plan = plan_of(fq)
    assert plan.count("Scan parquet") == 1 and "Join" not in plan
    rows_b = sorted(map(tuple, bq.collect()))
    rows_f = sorted(map(tuple, fq.collect()))
    assert rows_b == rows_f and rows_b
    # a window that excludes everything stays empty through the rewrite
    text2 = text.replace("[START 0 END 1767225600000]", "[START 0 END 5]")
    assert fast.start_historical(fast.register_query(text2))["urn:w:h"].count() == 0


def test_star_rewrite_in_sliding_window(spark, sf_dir):
    """Sliding windows window-tag the property tables, so a star compiles
    to one tagged scan threaded through the per-window aggregation —
    same results as the self-join path across every hop."""
    from janus_spark.engine import JanusEngine
    from janus_spark.queries import _events_ptr, _events_quads, _events_ts_bounds

    lo, hi = _events_ts_bounds(spark, sf_dir)
    rng, step = max((hi - lo) // 4, 1), max((hi - lo) // 8, 1)
    text = f"""
    REGISTER RStream <out> AS
    SELECT ?t (COUNT(?e) AS ?n) (AVG(?v) AS ?avg_v)
    FROM NAMED WINDOW <urn:w:s> ON LOG <urn:stream:events>
      [OFFSET {hi - lo} RANGE {rng} STEP {step}]
    WHERE {{ WINDOW <urn:w:s> {{
      ?e <urn:col:event_type> ?t . ?e <urn:col:value> ?v . }} }}
    GROUP BY ?t
    """
    quads = _events_quads(spark, sf_dir)
    base = JanusEngine(spark, quads)
    fast = JanusEngine(spark, quads, property_tables=_events_ptr(spark, sf_dir))
    bq = base.start_historical(base.register_query(text, query_id="q"), now=hi)["urn:w:s"]
    fq = fast.start_historical(fast.register_query(text, query_id="q"), now=hi)["urn:w:s"]
    plan = plan_of(fq)
    assert plan.count("Scan parquet") == 1, "star + window tag must stay one scan"
    assert "SortMergeJoin" not in plan
    rows_b = sorted(map(tuple, bq.collect()))
    rows_f = sorted(map(tuple, fq.collect()))
    assert rows_b == rows_f and rows_b


def test_subject_bucketed_join_has_no_shuffle(spark, tmp_path):
    """A subject-bucketed quad table joins to itself on subject with NO
    Exchange on either side — the shuffle that dominates BGP evaluation
    at scale simply disappears when the storage layout carries the
    partitioning."""
    from janus_spark.sources.quadstore import write_subject_bucketed

    quads = melt_sensor_fixture(spark, 5000)
    write_subject_bucketed(spark, quads, "bq_quads", str(tmp_path / "bq"), buckets=8)
    try:
        t = spark.table("bq_quads")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = (
                t.select(F.col("subject"), F.col("object").alias("a"))
                .join(t.select(F.col("subject"), F.col("object").alias("b")), "subject")
            )
            plan = plan_of(joined)
            assert "Exchange" not in plan, f"bucketed self-join must not shuffle:\n{plan}"
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bq_quads")


def test_contamination_joins_broadcast(spark, sf_dir):
    """Both decontamination forms must broadcast the benchmark side — a
    shuffled corpus-vs-benchmark join would be the bottleneck at 100 TB."""
    from janus_spark.datapipe.dedup import contamination_flags, ngram_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    for df in (contamination_flags(docs, bench), ngram_contamination(docs, bench, n=5)):
        assert "BroadcastHashJoin" in plan_of(df)


def test_sampling_and_chunking_are_map_only(spark, sf_dir):
    """hash/stratified sampling and chunk explode must not shuffle: at
    scale they run at scan speed."""
    from janus_spark.datapipe.sampling import hash_sample, stratified_sample
    from janus_spark.datapipe.text import chunk_documents, repetition_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (
        hash_sample(docs, 0.25),
        stratified_sample(docs, {"en": 0.1}, default_rate=0.5),
        chunk_documents(docs),
        repetition_features(docs),
    ):
        assert "Exchange" not in plan_of(df), "expected a map-only plan"


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Spark's runtime bloom-filter join pruning (on by default in
    session.py via AQE defaults) must inject a might_contain probe on the
    fact side of a selective shuffle join once the size thresholds are
    met — at 100 TB this is what turns a selective dim⋈fact shuffle join
    into a pre-filtered scan.  Thresholds are lowered here because the
    sf-test fact table is far below the 10 GiB production default."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        joined = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        # and it must not change results
        n_with = joined.count()
        for k, v in prev.items():
            spark.conf.set(k, v)
        assert joined.count() == n_with
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_attribution_plan_has_no_self_join(spark):
    """attribution must be ONE window pass over the event frame — a
    touch×conversion join would re-scan/broadcast the big table."""
    from janus_spark.operators.analytics import attribution

    df = spark.createDataFrame(
        [(1, 1, "click", 0.0, 100, "c")],
        "event_id long, user_id long, event_type string, value double, "
        "ts_ms long, campaign string",
    )
    plan = plan_of(attribution(df, "purchase", "click"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Window") == 1, "exactly one window pass over events"


def test_cross_corr_self_joins_only_the_aggregate(spark):
    """cross_corr's pair join must consume the per-(key,bucket) AGGREGATE
    on both sides — the raw table is aggregated before any join."""
    from janus_spark.operators.timeseries import cross_corr

    df = spark.createDataFrame(
        [("a", 1000, 1.0), ("b", 1000, 2.0)], ["event_type", "ts_ms", "value"]
    )
    plan = plan_of(cross_corr(df))
    assert "CartesianProduct" not in plan
    # join inputs are aggregates: the HashAggregate count must cover the
    # pre-join partial/final pairs on both branches plus the moment agg
    join_pos = plan.find("SortMergeJoin") if "SortMergeJoin" in plan else plan.find("Join")
    assert join_pos != -1
    assert plan.count("HashAggregate") >= 4


def test_temporal_join_uses_union_window_not_range_join(spark):
    """asof_join lowers to union+window — no inequality (nested-loop)
    join anywhere in the temporal-join plan."""
    from janus_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100, 1.0)], ["user_id", "ts_ms", "value"])
    right = spark.createDataFrame([(1, 50, "s")], ["user_id", "ts_ms", "state"])
    out = asof_join(left, right, ts_col="ts_ms", by=("user_id",), value_cols=("state",))
    plan = plan_of(out)
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_bgp_reorder_uses_predicate_stats(spark):
    """ANALYZE stats refine the greedy seed: among equally-constant
    patterns the rarest predicate goes first."""
    from janus_spark.compiler.ast import Iri, Var
    from janus_spark.compiler.compile import SparqlCompiler, TriplePattern

    quads = spark.createDataFrame(
        [(0, "s", "p", "o", "g")], ["ts", "subject", "predicate", "object", "graph"]
    )
    common = TriplePattern(Var("x"), Iri("urn:p:common"), Var("a"))
    rare = TriplePattern(Var("x"), Iri("urn:p:rare"), Var("b"))
    # no stats: written order wins the tie
    c0 = SparqlCompiler(quads)
    assert c0._order_patterns([common, rare])[0] is common
    # with stats: the rare predicate seeds the chain
    c1 = SparqlCompiler(quads, predicate_stats={"urn:p:common": 1_000_000, "urn:p:rare": 10})
    assert c1._order_patterns([common, rare])[0] is rare
    # a constant predicate ABSENT from stats matched 0 quads at ANALYZE
    # time — the most selective seed, so it beats even the rare one
    unknown = TriplePattern(Var("x"), Iri("urn:p:unknown"), Var("c"))
    assert c1._order_patterns([unknown, rare])[0] is unknown
    # a Var predicate matches every predicate (largest scan): with stats
    # present it never outranks ANY constant predicate, even the common
    # one, despite the equal constant count
    varp = TriplePattern(Var("x"), Var("p"), Var("d"))
    assert c1._order_patterns([varp, common])[0] is common
    assert c1._order_patterns([varp, rare])[0] is rare


def test_quadstore_analyze_roundtrip(spark, tmp_path):
    from janus_spark.sources.melt import melt_sensor_fixture
    from janus_spark.sources.quadstore import QuadStore

    store = QuadStore(spark, str(tmp_path / "st"), bucket_ms=10**12)
    store.write(melt_sensor_fixture(spark, 300), mode="overwrite")
    stats = store.analyze()
    assert stats and all(n > 0 for n in stats.values())
    assert store.predicate_stats() == stats
    # the _stats dir must not leak into normal reads
    assert set(store.read().columns) >= {"ts", "subject", "predicate", "object"}
    assert store.read().count() == sum(stats.values())


def test_dedup_self_joins_tokenize_once(spark, sf_dir):
    """Round-5 perf contract: the LSH/jaccard self-joins read a
    materialized (checkpointed) signature frame on BOTH sides — the
    tokenize/shingle/hash subtree must not appear in the join plan at
    all, or Catalyst is re-evaluating it per side again."""
    from janus_spark.datapipe.dedup import (
        jaccard_prefix_join,
        minhash_lsh_pairs,
        simhash_pairs,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(300)
    )
    for build in (
        lambda: minhash_lsh_pairs(docs, id_col="doc_id", text_col="text"),
        lambda: simhash_pairs(docs, id_col="doc_id", text_col="text"),
        lambda: jaccard_prefix_join(docs, id_col="doc_id", text_col="text"),
    ):
        plan = plan_of(build())
        # tokenization hashes live only below the checkpoint boundary
        assert "xxhash64" not in plan and "md5" not in plan, plan[:800]
        assert "ExistingRDD" in plan, "expected a materialized signature scan"
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_grid_radius_join_is_equi_join(spark, sf_dir):
    """The spatial radius join must plan as an equi-join on cell keys —
    never a nested-loop/cartesian theta join (the thing it exists to
    avoid at 100 TB)."""
    from janus_spark.operators.spatial import grid_radius_join

    pts = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id").alias("id"),
            (F.abs(F.xxhash64("text")) % 1000).alias("x"),
            (F.abs(F.xxhash64("doc_id")) % 1000).alias("y"),
        )
    )
    plan = plan_of(grid_radius_join(pts, pts.limit(50), radius=100))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_link_prediction_wedge_join_is_equi_join(spark, sf_dir):
    """The wedge join and the adjacency anti-join must both be hash/merge
    equi-joins — never nested-loop/cartesian (the blowup link prediction
    is banded to avoid), and the edge list must be a materialized scan."""
    from janus_spark.operators.graph import link_prediction

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(2000)
    edges = li.select(F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst"))
    plan = plan_of(link_prediction(edges, max_middle_deg=60, min_common=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan, "expected the checkpointed canonical edge list"


def test_line_dedup_no_window_and_single_explode(spark, sf_dir):
    """line_dedup's reassembly is an in-group array_sort, not a window,
    and the exploded line frame is materialized once (no generator node
    may survive into the final plan — both consumers read the
    checkpoint)."""
    from janus_spark.datapipe.dedup import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plan = plan_of(line_dedup(docs))
    assert "Window" not in plan
    assert "Generate" not in plan, "explode must live below the checkpoint"
    assert "ExistingRDD" in plan
