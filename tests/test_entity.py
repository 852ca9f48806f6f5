"""Entity resolution (datapipe/entity.py): blocking, scoring, component
labels, survivorship, block cap, null-key semantics."""

from pyspark.sql import functions as F

from janus_spark.datapipe.entity import block_candidates, resolve_entities, score_pairs


def _recs(spark, rows):
    return spark.createDataFrame(
        rows, "id long, toks array<string>, blk string, val double"
    )


def test_resolve_merges_and_elects_canonical(spark):
    # 1-2 near-identical (J=1), 3 different, 4 unblocked singleton
    df = _recs(
        spark,
        [
            (1, ["acme", "corp"], "a", 10.0),
            (2, ["acme", "corp"], "a", 30.0),
            (3, ["zenith", "ltd"], "a", 5.0),
            (4, ["acme", "corp"], "b", 99.0),
        ],
    )
    out = resolve_entities(
        df, "id", "toks", [["blk"]], threshold=0.9, numeric_col="val"
    ).orderBy("id")
    rows = {r["id"]: (r["entity_id"], r["canonical_id"]) for r in out.collect()}
    assert rows[1] == (1, 2)  # entity label = min id, canonical = max val
    assert rows[2] == (1, 2)
    assert rows[3] == (3, 3)  # matched nothing
    assert rows[4] == (4, 4)  # different block


def test_multi_pass_blocking_dedupes_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, ["x", "y"], "a", "p", 1.0),
            (2, ["x", "y"], "a", "p", 1.0),
        ],
        "id long, toks array<string>, b1 string, b2 string, val double",
    )
    cands = block_candidates(df, "id", [["b1"], ["b2"]], ["toks", "val"])
    assert cands.count() == 1  # found by both passes, appears once


def test_null_blocking_key_sits_out(spark):
    df = _recs(
        spark,
        [(1, ["x"], None, 1.0), (2, ["x"], None, 1.0), (3, ["x"], "a", 1.0)],
    )
    cands = block_candidates(df, "id", [["blk"]], ["toks", "val"])
    assert cands.count() == 0  # null keys never form the giant null block


def test_max_block_size_caps_pathological_block(spark):
    rows = [(i, ["t"], "big", 1.0) for i in range(1, 7)] + [
        (10, ["t"], "ok", 1.0),
        (11, ["t"], "ok", 1.0),
    ]
    df = _recs(spark, rows)
    capped = block_candidates(df, "id", [["blk"]], ["toks"], max_block_size=5)
    pairs = {(r["a"], r["b"]) for r in capped.collect()}
    assert pairs == {(10, 11)}  # the 6-record block is dropped whole


def test_empty_token_sets_score_null_and_drop(spark):
    df = _recs(spark, [(1, [], "a", 1.0), (2, [], "a", 1.0)])
    cands = block_candidates(df, "id", [["blk"]], ["toks", "val"])
    scored = score_pairs(cands, "toks", numeric_col="val", w_numeric=0.5)
    assert scored.count() == 0  # no token evidence => no match, even w/ numeric


def test_numeric_proximity_separates_matches(spark):
    # identical tokens; only the numeric term decides at threshold 0.9
    df = _recs(
        spark,
        [
            (1, ["a", "b"], "k", 100.0),
            (2, ["a", "b"], "k", 104.0),  # prox 0.96 -> 0.5+0.48=0.98
            (3, ["a", "b"], "k2", 100.0),
            (4, ["a", "b"], "k2", 190.0),  # prox 0.10 -> 0.5+0.05=0.55
        ],
    )
    out = resolve_entities(
        df, "id", "toks", [["blk"]], threshold=0.9,
        numeric_col="val", numeric_scale=100.0, w_tokens=0.5, w_numeric=0.5,
    )
    ents = {r["id"]: r["entity_id"] for r in out.collect()}
    assert ents[1] == ents[2] == 1
    assert ents[3] == 3 and ents[4] == 4


def test_no_cartesian_product_in_plan(spark):
    df = _recs(spark, [(1, ["x"], "a", 1.0), (2, ["x"], "a", 2.0)])
    out = resolve_entities(df, "id", "toks", [["blk"]], threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_transitive_merge_chain(spark):
    # a~b and b~c above threshold but a~c below: one entity via CC
    df = _recs(
        spark,
        [
            (1, ["a", "b", "c"], "k", 1.0),
            (2, ["b", "c", "d"], "k", 1.0),  # J(1,2)=0.5
            (3, ["c", "d", "e"], "k", 1.0),  # J(2,3)=0.5, J(1,3)=0.2
        ],
    )
    out = resolve_entities(df, "id", "toks", [["blk"]], threshold=0.5)
    ents = {r["id"]: r["entity_id"] for r in out.collect()}
    assert ents == {1: 1, 2: 1, 3: 1}


def test_sorted_neighborhood_matches_bruteforce(spark):
    # differential: distributed rank+band join == brute-force rank window
    import itertools

    from janus_spark.datapipe.entity import sorted_neighborhood_candidates

    rows = [(i, ["t%d" % (i % 3)], "k%02d" % ((i * 7) % 13), float(i)) for i in range(1, 41)]
    df = _recs(spark, rows)
    w = 5
    got = {
        (r["a"], r["b"])
        for r in sorted_neighborhood_candidates(df, "id", "blk", w, ["toks"]).collect()
    }
    order = [i for i, _, _, _ in sorted(rows, key=lambda r: (r[2], r[0]))]
    want = {
        tuple(sorted((order[i], order[j])))
        for i, j in itertools.combinations(range(len(order)), 2)
        if abs(i - j) <= w - 1
    }
    assert got == want


def test_sorted_neighborhood_null_key_sits_out(spark):
    from janus_spark.datapipe.entity import sorted_neighborhood_candidates

    df = _recs(spark, [(1, ["x"], None, 1.0), (2, ["x"], None, 1.0), (3, ["x"], "a", 1.0)])
    assert sorted_neighborhood_candidates(df, "id", "blk", 4, ["toks"]).count() == 0


def test_sorted_neighborhood_window_too_small(spark):
    import pytest

    from janus_spark.datapipe.entity import sorted_neighborhood_candidates

    df = _recs(spark, [(1, ["x"], "a", 1.0)])
    with pytest.raises(ValueError):
        sorted_neighborhood_candidates(df, "id", "blk", 1, ["toks"])


def test_global_rank_no_single_partition_window(spark):
    # the rank plan must not contain a window over one global partition
    from janus_spark.datapipe.entity import _global_rank

    df = _recs(spark, [(i, ["x"], "k%d" % (i % 5), 1.0) for i in range(1, 30)])
    ranked = _global_rank(df, "id", "blk")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    got = [r["id"] for r in ranked.orderBy("__rank").collect()]
    want = [i for i, _, _, _ in sorted(
        [(i, None, "k%d" % (i % 5), None) for i in range(1, 30)],
        key=lambda r: (r[2], r[0]))]
    assert got == want


def _inc(spark, batches, store, **kw):
    from janus_spark.datapipe.entity import incremental_entity_resolution

    out = None
    for b in batches:
        out = incremental_entity_resolution(
            _recs(spark, b), store, "id", "toks", [["blk"]], 0.5,
            numeric_col="val", **kw,
        )
    return {r["id"]: (r["entity_id"], r["canonical_id"]) for r in out.collect()}


def test_incremental_equals_single_shot_any_split(spark, tmp_path):
    import random

    from janus_spark.datapipe.entity import resolve_entities

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = [
        (i, sorted(rng.sample(vocab, 3)), "k%d" % (i % 3), float(rng.randint(0, 50)))
        for i in range(1, 61)
    ]
    want = {
        r["id"]: (r["entity_id"], r["canonical_id"])
        for r in resolve_entities(
            _recs(spark, rows), "id", "toks", [["blk"]], 0.5, numeric_col="val"
        ).collect()
    }
    # monotone split, uneven split with an empty middle, and a SHUFFLED
    # (non-monotone) split — all must equal the single-shot assignment
    shuffled = rows[:]
    rng.shuffle(shuffled)
    splits = [
        [rows[:20], rows[20:40], rows[40:]],
        [rows[:50], [], rows[50:]],
        [shuffled[:17], shuffled[17:44], shuffled[44:]],
    ]
    for i, split in enumerate(splits):
        got = _inc(spark, split, str(tmp_path / f"store_{i}"))
        assert got == want, f"split {i} diverged"


def test_incremental_bridge_merges_and_relabels(spark, tmp_path):
    # batch1: {1,2} match; batch2: {10,11} match; batch3: 5 bridges both
    b1 = [(1, ["x", "y"], "k", 9.0), (2, ["x", "y"], "k", 1.0)]
    b2 = [(10, ["p", "q"], "k", 8.0), (11, ["p", "q"], "k", 1.0)]
    bridge = [(5, ["x", "y", "p", "q"], "k", 99.0)]  # J=0.5 with both sides
    store = str(tmp_path / "store_b")
    out1 = _inc(spark, [b1, b2], store)
    assert out1[1][0] == 1 and out1[10][0] == 10  # two separate entities
    out2 = _inc(spark, [bridge], store)
    ents = {i: e for i, (e, _) in out2.items()}
    assert ents == {1: 1, 2: 1, 5: 1, 10: 1, 11: 1}  # merged + old relabeled
    canon = {i: c for i, (_, c) in out2.items()}
    assert set(canon.values()) == {5}  # survivorship re-elected (max val)


def test_tfidf_rare_token_outweighs_common(spark):
    from janus_spark.datapipe.entity import (
        block_candidates,
        score_pairs_tfidf,
        tfidf_token_weights,
        with_token_totals,
    )

    # 'common' appears in all 4 records (idf 0); 'rare*' in one pair each
    rows = [
        (1, ["common", "rare1"], "k", 1.0),
        (2, ["common", "rare1"], "k", 1.0),
        (3, ["common", "rare2", "noise"], "k", 1.0),
        (4, ["common", "rare3", "other"], "k", 1.0),
    ]
    df = _recs(spark, rows)
    w = tfidf_token_weights(df, "toks")
    wm = {r["t"]: r["w"] for r in w.collect()}
    assert wm["common"] == 0 and wm["rare1"] > 0
    df2 = with_token_totals(df, w, "id", "toks")
    cands = block_candidates(df2, "id", [["blk"]], ["toks", "tot_w"])
    scored = {(r["a"], r["b"]): r["score"] for r in score_pairs_tfidf(cands, w, "toks").collect()}
    assert scored[(1, 2)] == 1.0      # only-rare agreement: full score
    assert scored[(3, 4)] == 0.0      # only-common agreement: zero
    # plain Jaccard would have given (3,4) a misleading 1/5 > 0


def test_tfidf_all_common_union_drops(spark):
    from janus_spark.datapipe.entity import (
        block_candidates,
        score_pairs_tfidf,
        tfidf_token_weights,
        with_token_totals,
    )

    rows = [(1, ["x"], "k", 1.0), (2, ["x"], "k", 1.0)]
    df = _recs(spark, rows)
    w = tfidf_token_weights(df, "toks")
    df2 = with_token_totals(df, w, "id", "toks")
    cands = block_candidates(df2, "id", [["blk"]], ["toks", "tot_w"])
    assert score_pairs_tfidf(cands, w, "toks").count() == 0  # zero-weight union


def test_evaluate_resolution_known_counts(spark):
    from janus_spark.datapipe.entity import evaluate_resolution

    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)],
        "id long, entity_id long",
    )  # pred pairs: (1,2),(1,3),(2,3),(10,11)
    truth = spark.createDataFrame([(1, 2), (10, 11), (20, 21)], "a long, b long")
    r = evaluate_resolution(assign, truth, "id").collect()[0]
    assert (r["tp"], r["fp"], r["fn"]) == (2, 2, 1)
    assert r["precision"] == 0.5 and abs(r["recall"] - 2 / 3) < 1e-15
    assert abs(r["f1"] - 4 / 7) < 1e-15


def test_incremental_string_ids_roundtrip(spark, tmp_path):
    """String record ids (the record-linkage norm) must survive the
    persisted edge store — a hardcoded BIGINT cast would null them out
    silently (ADVICE r6)."""
    from janus_spark.datapipe.entity import incremental_entity_resolution

    def rec(rid, toks):
        return (rid, toks, "k", 1.0)

    schema = "id string, toks array<string>, blk string, val double"
    store = str(tmp_path / "store_str")
    b1 = spark.createDataFrame([rec("ra", ["x", "y"]), rec("rb", ["x", "y"])], schema)
    b2 = spark.createDataFrame([rec("rc", ["x", "y"]), rec("zz", ["q"])], schema)
    incremental_entity_resolution(b1, store, "id", "toks", [["blk"]], 0.5)
    out = incremental_entity_resolution(b2, store, "id", "toks", [["blk"]], 0.5)
    got = {r["id"]: (r["entity_id"], r["canonical_id"]) for r in out.collect()}
    # ra/rb matched in batch 1; rc joins via the persisted edges in batch 2
    assert got == {
        "ra": ("ra", "ra"),
        "rb": ("ra", "ra"),
        "rc": ("ra", "ra"),
        "zz": ("zz", "zz"),
    }
    # and the stored edge endpoints are real ids, not nulls
    edges = spark.read.option("mergeSchema", "true").parquet(store)
    bad = edges.where(
        (F.col("kind") == "edge") & (F.col("a").isNull() | F.col("b").isNull())
    ).count()
    assert bad == 0


def test_store_read_error_is_not_swallowed(spark, tmp_path):
    """A corrupt store must RAISE, not silently reset history (ADVICE r6:
    any-exception fallback published wrong assignments).  Only
    path-missing means 'fresh store'."""
    import pytest

    from janus_spark.datapipe.dedup import read_store

    missing = str(tmp_path / "nope")
    assert read_store(spark, missing) is None

    empty = tmp_path / "empty"  # pre-created dir, no data files: fresh store
    empty.mkdir()
    assert read_store(spark, str(empty)) is None

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        # schema inference hits the garbage footer and must propagate
        df = read_store(spark, str(corrupt), merge_schema=True)
        assert df is not None
        df.collect()


def test_missing_store_is_not_read(spark, tmp_path, monkeypatch):
    """A missing store path is answered by a filesystem check, not by a
    failed read: a failed read is also reported to the session's query
    listeners, which log it as an ERROR once an Observation has run."""
    from pyspark.sql import DataFrameReader

    from janus_spark.datapipe.dedup import read_store

    def no_read(self, *paths, **kw):
        raise AssertionError(f"read attempted: {paths}")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    assert read_store(spark, str(tmp_path / "nope")) is None
    assert read_store(spark, str(tmp_path / "nope"), schema="fp_md5 string") is None


def test_sink_step_retry_is_idempotent(spark, tmp_path):
    """A re-delivered micro-batch (same batch_id) must not re-append its
    rows: the committed-batch marker written in the same append as the
    batch's records makes the retry a recompute+republish only."""
    from janus_spark.datapipe.entity import _sink_step

    store = str(tmp_path / "store_retry")
    out_path = str(tmp_path / "out_retry")
    batch = _recs(
        spark,
        [(1, ["x", "y"], "k", 2.0), (2, ["x", "y"], "k", 9.0)],
    )
    kw = dict(numeric_col="val")
    _sink_step(batch, 0, store, out_path, "id", "toks", [["blk"]], 0.5, **kw)
    n_store = spark.read.parquet(store).count()
    first = sorted(spark.read.parquet(out_path).collect())
    # retry the SAME batch id — store must not grow, publish unchanged
    _sink_step(batch, 0, store, out_path, "id", "toks", [["blk"]], 0.5, **kw)
    assert spark.read.parquet(store).count() == n_store
    assert sorted(spark.read.parquet(out_path).collect()) == first
    # a genuinely new batch still appends
    batch2 = _recs(spark, [(3, ["x", "y"], "k", 1.0)])
    _sink_step(batch2, 1, store, out_path, "id", "toks", [["blk"]], 0.5, **kw)
    assert spark.read.parquet(store).count() > n_store
    got = {r["id"]: r["entity_id"] for r in spark.read.parquet(out_path).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_sink_step_legacy_store_warns(spark, tmp_path):
    """ADVICE r7: a store written before the batch-marker scheme has no
    batch_id column — replay detection is impossible there, and the sink
    must say so loudly (RuntimeWarning) rather than silently taking the
    non-idempotent path."""
    import warnings

    from janus_spark.datapipe.entity import _sink_step, incremental_entity_resolution

    store = str(tmp_path / "store_legacy")
    out_path = str(tmp_path / "out_legacy")
    seed = _recs(spark, [(1, ["x", "y"], "k", 2.0)])
    # legacy store: write through the incremental API with no marker,
    # then strip the batch_id column as a pre-marker-era store would be
    incremental_entity_resolution(
        seed, store, "id", "toks", [["blk"]], 0.5, numeric_col="val"
    ).count()
    legacy = spark.read.parquet(store).drop("batch_id")
    legacy_dir = str(tmp_path / "store_legacy2")
    legacy.write.parquet(legacy_dir)

    batch = _recs(spark, [(2, ["x", "y"], "k", 9.0)])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _sink_step(
            batch, 7, legacy_dir, out_path, "id", "toks", [["blk"]], 0.5,
            numeric_col="val",
        )
    msgs = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert any("predates the batch-marker scheme" in str(w.message) for w in msgs)
    # the batch still lands and carries a marker, so the NEXT delivery of
    # the same id is detected as a replay (no warning, no growth)
    n_store = spark.read.parquet(legacy_dir).count()
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        _sink_step(
            batch, 7, legacy_dir, out_path, "id", "toks", [["blk"]], 0.5,
            numeric_col="val",
        )
    assert not any(
        issubclass(w.category, RuntimeWarning)
        and "predates" in str(w.message)
        for w in caught2
    )
    assert spark.read.parquet(legacy_dir).count() == n_store


def test_score_pairs_tokens_distinct_identical(spark):
    """The tokens_distinct fast path (r10 optimization: distinct once per
    RECORD, skip the per-PAIR array_distinct) must score identically to
    the default path on inputs WITH duplicate tokens — including a pair
    whose Jaccard only comes out right because duplicates collapse, an
    empty-set pair (null score, dropped), and a null-array side."""
    rows = [
        (1, 2, ["a", "a", "b"], ["b", "b", "a", "c"]),   # dup-heavy
        (3, 4, ["x"], ["x", "x"]),                        # J must be 1.0
        (5, 6, [], []),                                   # both empty -> drop
        (7, 8, None, ["a"]),                              # null side
    ]
    cands = spark.createDataFrame(
        rows, "a long, b long, toks_a array<string>, toks_b array<string>"
    )
    base = {
        (r["a"], r["b"]): r["score"]
        for r in score_pairs(cands, "toks").collect()
    }
    pre = cands.withColumn("toks_a", F.array_distinct("toks_a")).withColumn(
        "toks_b", F.array_distinct("toks_b")
    )
    fast = {
        (r["a"], r["b"]): r["score"]
        for r in score_pairs(pre, "toks", tokens_distinct=True).collect()
    }
    assert base == fast
    assert (3, 4) in base and base[(3, 4)] == 1.0
    assert (5, 6) not in base  # both-empty pair dropped on BOTH paths
