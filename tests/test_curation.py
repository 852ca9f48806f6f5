"""The composed curation pipeline (gopher → quality → minhash-dedup →
DSIR top-k → pack): stage-interaction invariants and the shuffle-budget
plan pin.  Exact values are pinned cross-engine by the q_curation_full
oracle; these tests pin the composition properties the oracle can't
see."""

import re

import pytest
from pyspark.sql import functions as F

from janus_spark.datapipe.curation import curation_pipeline

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pipeline_out(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = curation_pipeline(docs, k_top=100, budget_tokens=512, n_shards=4)
    return docs, out.localCheckpoint(eager=True)


def test_pipeline_output_is_survivor_subset(spark, pipeline_out):
    """Every packed doc passed EVERY stage: gopher pred, the corpus-
    relative quality predicate evaluated over the gopher survivors, and
    near-dup removal (never the higher id of a qualifying pair)."""
    from janus_spark.datapipe.dedup import minhash_lsh_pairs
    from janus_spark.datapipe.quality import (
        gopher_quality,
        nb_quality_weights,
        quality_filter_relative,
    )

    docs, out = pipeline_out
    ids = {r["id"] for r in out.select("id").collect()}
    assert len(ids) == 100  # k_top met at this SF

    gq = gopher_quality(docs, min_tok=20, top2_max=(1, 10), min_stopwords=1)
    gopher_keep = {r["doc_id"] for r in gq.where("pred").select("doc_id").collect()}
    assert ids <= gopher_keep

    s1 = docs.join(
        gq.where("pred").select("doc_id"), "doc_id", "semi"
    ).localCheckpoint(eager=True)
    w = nb_quality_weights(
        s1.where("lang = 'en'"), s1.where("lang <> 'en'")
    )
    q_keep = {
        r["doc_id"]
        for r in quality_filter_relative(s1, w).select("doc_id").collect()
    }
    assert ids <= q_keep

    s2 = s1.join(
        spark.createDataFrame([(i,) for i in q_keep], "doc_id long"),
        "doc_id",
        "semi",
    ).localCheckpoint(eager=True)
    dup_b = {
        r["b"]
        for r in minhash_lsh_pairs(
            s2, jaccard_threshold=0.5, hash_fn="md5"
        ).select("b").collect()
    }
    assert not (ids & dup_b)


def test_pipeline_packing_is_contiguous(pipeline_out):
    """Within each shard the selected docs tile the token stream:
    offsets sorted by start are gap-free and end-exclusive."""
    _, out = pipeline_out
    by_shard = {}
    for r in out.collect():
        by_shard.setdefault(r["shard"], []).append(
            (r["start_offset"], r["end_offset"], r["n_tokens"])
        )
    for shard, rows in by_shard.items():
        rows.sort()
        pos = 0
        for start, end, n in rows:
            assert start == pos and end == start + n
            pos = end


def test_curation_pipeline_shuffle_budget(spark, pipeline_out):
    """The final plan segment (everything after the dedup-stage cut:
    DSIR weight training [2 token-bucket groupBys + 2 scalar totals],
    scoring groupBy + doc join-back, the top-k sort, the selection semi
    join, and the pack shard window) must stay within its stage budget
    of 8 shuffle exchanges — a regression (lost broadcast, re-scored
    subtree) shows up as exchange #9."""
    docs, _ = pipeline_out
    out = curation_pipeline(docs, k_top=100, budget_tokens=512, n_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffles = len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert shuffles <= 8, f"final segment shuffles grew: {shuffles}\n{plan}"
    # weight tables and scalar totals must ride broadcasts, not shuffles
    assert "BroadcastExchange" in plan


def test_funnel_matches_pipeline_stages(spark, pipeline_out):
    """The funnel's counts must equal what the pipeline's own output
    implies: monotone non-increasing, selected == packed row count, and
    raw == the input corpus."""
    from janus_spark.datapipe.curation import curation_funnel

    docs, out = pipeline_out
    rows = curation_funnel(docs, k_top=100).collect()
    # collected order IS stage_no order — the docstring promises it
    # (ADVICE r9: a bare union's order is partition-dependent)
    assert [r["stage_no"] for r in rows] == [0, 1, 2, 3, 4]
    funnel = {r["stage"]: r["n_docs"] for r in rows}
    assert funnel["raw"] == docs.count()
    assert funnel["selected"] == out.count() == 100
    order = ["raw", "gopher", "quality", "dedup", "selected"]
    vals = [funnel[s] for s in order]
    assert vals == sorted(vals, reverse=True)


# ------------------------------------------------- incremental curation
@pytest.fixture(scope="module")
def inc_setup(spark, tmp_path_factory):
    """Bootstrap on doc_id < 250, one increment for the rest — shared by
    the equivalence, batch-parity and replay tests."""
    from janus_spark.datapipe.curation import (
        curation_bootstrap,
        curation_increment,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").localCheckpoint(
        eager=True
    )
    boot = docs.where("doc_id < 250")
    arr = docs.where("doc_id >= 250")
    store = str(tmp_path_factory.mktemp("cur_inc") / "store")
    surv0, model = curation_bootstrap(boot, store)
    surv0 = surv0.localCheckpoint(eager=True)
    surv1 = curation_increment(arr, store, model).localCheckpoint(eager=True)
    return docs, boot, arr, store, model, surv0, surv1


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_bootstrap_plus_increment_equals_frozen_batch(spark, inc_setup):
    """The incrementality theorem: bootstrap survivors ∪ increment
    survivors == one-shot frozen-batch application over the full corpus
    (id-monotone split, frozen model, store keeps dropped signatures).
    The q_curation_increment gate pins the same identity cross-engine
    against the batch SQL oracle."""
    from janus_spark.datapipe.curation import curation_frozen_batch

    docs, _, _, _, model, surv0, surv1 = inc_setup
    i0, i1 = _ids(surv0), _ids(surv1)
    assert i0 and i1, "split must exercise both paths"
    assert not (i0 & i1)
    assert i0 | i1 == _ids(curation_frozen_batch(docs, model))


def test_bootstrap_equals_batch_stages(spark, inc_setup):
    """Bootstrap == the batch pipeline's dedup-stage survivors on the
    founding corpus: the frozen totals are the corpus's own, so the
    frozen comparison IS quality_filter_relative's cross-multiplied
    decision."""
    from janus_spark.datapipe.curation import _curation_stages

    _, boot, _, _, _, surv0, _ = inc_setup
    s3 = _curation_stages(
        boot, 100, 0.5, 4096, "text", "doc_id", "lang", None
    )[2]
    assert _ids(surv0) == _ids(s3)


def test_increment_replay_detection(spark, inc_setup):
    """Retrying an already-applied batch must return nothing and leave
    the store untouched (the incremental_entity_resolution discipline:
    a crashed-after-append run can always be retried)."""
    from janus_spark.datapipe.curation import curation_increment

    _, _, arr, store, model, _, _ = inc_setup
    n_store = spark.read.parquet(store).count()
    replay = curation_increment(arr, store, model)
    assert replay.count() == 0
    assert spark.read.parquet(store).count() == n_store


def test_curation_sink_step_retry_idempotent(spark, tmp_path):
    """The at-least-once contract of the streaming sink: retrying a
    committed batch id recomputes byte-identical survivors against the
    unchanged store prefix, overwrites its own partition, and does not
    grow the store; a later batch still sees the full history."""
    from janus_spark.datapipe.curation import (
        _curation_sink_step,
        train_curation_model,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").localCheckpoint(
        eager=True
    )
    model = train_curation_model(docs.where("doc_id < 250"))
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    b0 = docs.where("doc_id < 250")
    b1 = docs.where("doc_id >= 250")

    _curation_sink_step(b0, 0, store, model, out)
    n_store = spark.read.parquet(store).count()
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    # retry the SAME batch id — store must not grow, publish unchanged
    _curation_sink_step(b0, 0, store, model, out)
    assert spark.read.parquet(store).count() == n_store
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    ) == first
    # a genuinely new batch appends and dedups against batch 0's history
    _curation_sink_step(b1, 1, store, model, out)
    assert spark.read.parquet(store).count() > n_store
    got = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert set(first) < set(got)


def test_curation_sink_equals_increments(spark, tmp_path, inc_setup):
    """Two sink steps over the id-split corpus == bootstrap + increment
    (the streaming sink is curation_increment per batch, so the
    incrementality theorem carries over); survivors re-read from the
    partitioned publish."""
    from janus_spark.datapipe.curation import _curation_sink_step

    docs, boot, arr, _, model, surv0, surv1 = inc_setup
    store = str(tmp_path / "store2")
    out = str(tmp_path / "out2")
    _curation_sink_step(boot, 0, store, model, out)
    _curation_sink_step(arr, 1, store, model, out)
    got = {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert got == _ids(surv0) | _ids(surv1)


def test_incremental_minhash_legacy_store_warns(spark, tmp_path):
    """A batch-marked call against a store written without markers must
    say loudly that replay detection is impossible (RuntimeWarning),
    not silently take the non-idempotent path."""
    import warnings

    from janus_spark.datapipe.dedup import incremental_minhash_dedup

    store = str(tmp_path / "legacy_store")
    d1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    incremental_minhash_dedup(d1, store, hash_fn="md5").count()  # unmarked
    d2 = spark.createDataFrame(
        [(2, "zeta eta theta iota kappa")], "doc_id long, text string"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        incremental_minhash_dedup(d2, store, hash_fn="md5", batch_id=7).count()
    msgs = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert any("batch-marker" in str(w.message) for w in msgs)


def test_select_model_increment_equals_frozen_batch(spark, tmp_path):
    """The frozen-DSIR selection stage preserves the incrementality
    theorem: selection is per-document and applied AFTER the store
    append, so bootstrap ∪ increment == frozen batch still holds, and
    the selected set is a subset of the no-selection survivors."""
    from janus_spark.datapipe.curation import (
        _curation_sink_step,
        curation_bootstrap,
        curation_frozen_batch,
        curation_increment,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").localCheckpoint(
        eager=True
    )
    boot = docs.where("doc_id < 250")
    arr = docs.where("doc_id >= 250")
    store = str(tmp_path / "store_sel")
    surv0, model = curation_bootstrap(boot, store, select=True)
    assert "dsir_weights" in model
    surv1 = curation_increment(arr, store, model)
    got = _ids(surv0) | _ids(surv1)
    assert got == _ids(curation_frozen_batch(docs, model))
    # selection only ever removes: the plain (no-select) run is a superset
    store2 = str(tmp_path / "store_plain")
    p_surv0, p_model = curation_bootstrap(boot, store2)
    unselected = _ids(p_surv0) | _ids(curation_increment(arr, store2, p_model))
    assert got < unselected
    # the streaming sink applies the same selection
    store3 = str(tmp_path / "store_sink")
    out3 = str(tmp_path / "out_sink")
    _curation_sink_step(boot, 0, store3, model, out3)
    _curation_sink_step(arr, 1, store3, model, out3)
    sink_ids = {
        r["doc_id"]
        for r in spark.read.parquet(out3).select("doc_id").collect()
    }
    assert sink_ids == got


def test_garbage_store_raises_instead_of_reading_as_fresh(spark, tmp_path, inc_setup):
    """An unreadable store is not "no store yet": read as fresh, it would
    let copies of already-seen documents through.  Every incremental
    store reader must surface the read error."""
    from janus_spark.datapipe.curation import curation_increment
    from janus_spark.datapipe.dedup import incremental_dedup, incremental_minhash_dedup

    _, _, arr, _, model, _, _ = inc_setup
    garbage = tmp_path / "garbage_store"
    garbage.mkdir()
    (garbage / "part-00000.parquet").write_bytes(b"this is not parquet")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="(?i)footer|parquet"):
        curation_increment(arr, str(garbage), model)
    with pytest.raises(Exception, match="(?i)footer|parquet"):
        incremental_minhash_dedup(docs, str(garbage), hash_fn="md5")
    with pytest.raises(Exception, match="(?i)footer|parquet"):
        incremental_dedup(docs, str(garbage))


def _bucket(word: str, n_buckets: int) -> int:
    """Python spelling of ``shared_hash64(token) % n_buckets``."""
    import hashlib

    return int(hashlib.md5(word.encode()).hexdigest()[:15], 16) % n_buckets


def test_frozen_quality_keep_matches_quality_scores(spark):
    """The narrow frozen decision (one weight lookup per token) equals the
    ``quality_scores`` explode → weights join → groupBy form, row for row:
    on tokenless documents, on tokens whose bucket has no weight (they
    count toward neither the score nor n_tok), and across totals and
    margins that put documents on both sides of the threshold."""
    from janus_spark.datapipe.curation import _frozen_quality_keep
    from janus_spark.datapipe.quality import quality_scores, weights_from_literal

    nb = 64
    weighted = ["alpha", "beta", "gamma", "delta", "eps"]
    unweighted = [w for w in ("zeta", "eta", "theta", "iota", "kappa")
                  if _bucket(w, nb) not in {_bucket(x, nb) for x in weighted}]
    assert len(unweighted) >= 3
    items = {}
    for i, w in enumerate(weighted):
        items[_bucket(w, nb)] = (-1) ** i * (i + 1) * 123_457
    texts = [
        "", "   ", None,                           # tokenless
        " ".join(unweighted),                      # tokens, none weighted
        "alpha beta", "beta beta gamma", "delta eps eps",
        "Alpha  GAMMA\tdelta " + unweighted[0],
        "eps " + " ".join(unweighted) + " alpha",
        "gamma " * 7, "beta " * 3 + "alpha",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    weights = weights_from_literal(spark, list(items.items()))
    for ts, tn, tau in [(0, 1, 0), (-250_000, 40, 0), (900_000, 7, -30_000),
                        (3, 3, 123_456)]:
        model = {"weights": weights, "n_buckets": nb, "text_col": "text",
                 "id_col": "doc_id", "ts": ts, "tn": tn, "tau_micro": tau}

        def dec(c):
            return c.cast("decimal(38,0)")

        old = {
            r["doc_id"]: r["keep"]
            for r in quality_scores(docs, weights, n_buckets=nb).select(
                "doc_id",
                (dec(F.col("score_int")) * dec(F.lit(tn))
                 > dec(F.lit(ts)) * dec(F.col("n_tok"))
                 + dec(F.lit(tau)) * dec(F.col("n_tok")) * dec(F.lit(tn))
                 ).alias("keep"),
            ).collect()
        }
        new = {
            r["doc_id"]: bool(r["keep"])  # NULL text: a filter drops it too
            for r in docs.select(
                "doc_id", _frozen_quality_keep(model).alias("keep")
            ).collect()
        }
        assert new == old, (ts, tn, tau)
        assert set(old.values()) == {True, False} or tau == 123_456


class _Weights:
    """A weights frame's ``collect`` without Spark: (b, w) rows."""

    def __init__(self, items):
        self.items = items

    def collect(self):
        return [{"b": b, "w": w} for b, w in self.items]


# _frozen_quality_keep's SQL text as the curation increment has always
# planned it: any change to it changes the plan of every increment
_FROZEN_KEEP_SQL_16 = (
    "aggregate(transform(filter(split(trim(lower(`text`)), '\\\\s+'), t "
    "-> t != ''), t -> try_cast(CAST(substring(X'2020202020352020202020"
    '20202020202020202d313230302020202020202020202020202020202020202020'
    '202020302020202020202020202020202020202020202020202020202020202020'
    "20202020202020202020202020393837363534', "
    'CAST(CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % 16 '
    "AS INT) * 6 + 1, 6) AS STRING) AS BIGINT)), named_struct('s', 0L, "
    "'n', 0L), (acc, w) -> named_struct('s', acc.s + coalesce(w, 0L), "
    "'n', acc.n + CASE WHEN w IS NULL THEN 0L ELSE 1L END), acc -> "
    'CAST(acc.s AS DECIMAL(38,0)) * CAST(17 AS DECIMAL(38,0)) > '
    'CAST(-4321 AS DECIMAL(38,0)) * CAST(acc.n AS DECIMAL(38,0)) + '
    'CAST(250 AS DECIMAL(38,0)) * CAST(acc.n AS DECIMAL(38,0)) * '
    'CAST(17 AS DECIMAL(38,0)))'
)
# sha256 of the same builder's text for a 4096-bucket model
_FROZEN_KEEP_SQL_4096_LEN = 66124
_FROZEN_KEEP_SQL_4096_SHA256 = "2992e3f20d65f2ae18110777e9048ac7d0f01591619c3e1e77d9d0df7581814b"


def test_frozen_quality_keep_sql_is_unchanged(monkeypatch):
    """The frozen decision's SQL text is byte-identical to the text the
    curation increment has planned so far, for a small model and for a
    curation_daily-shaped one (4096 buckets, text column "text")."""
    import hashlib

    from janus_spark.datapipe import exprcache
    from janus_spark.datapipe.curation import _frozen_quality_keep

    monkeypatch.setattr(exprcache, "cached_expr", lambda sql: sql)

    def model(items, n, ts, tn, tau):
        return {"weights": _Weights(items), "n_buckets": n, "ts": ts, "tn": tn,
                "tau_micro": tau, "text_col": "text"}

    small = model([(0, 5), (3, -1200), (7, 0), (15, 987654)], 16, -4321, 17, 250)
    assert _frozen_quality_keep(small) == _FROZEN_KEEP_SQL_16
    big_items = [(b, (b * 7919) % 2_000_001 - 1_000_000) for b in range(0, 4096, 3)]
    big = _frozen_quality_keep(model(big_items, 4096, -123_456_789, 98_765, 0))
    assert len(big) == _FROZEN_KEEP_SQL_4096_LEN
    assert hashlib.sha256(big.encode()).hexdigest() == _FROZEN_KEEP_SQL_4096_SHA256


def test_increment_job_budget_and_contracts(spark, tmp_path, inc_setup):
    """One increment against a non-empty store: at most 12 Spark jobs,
    the arrivals scanned exactly once, a returned frame that still
    collects after the store is deleted, and a replay that returns
    nothing and leaves the store's row count unchanged.  The store keeps
    its format: one row per (id, band), the shingle set on band 0 only."""
    import shutil

    from janus_spark.datapipe.curation import curation_increment

    docs, boot, arr, _, model, _, surv1 = inc_setup
    store = str(tmp_path / "store")
    curation_increment(boot, store, model)  # found the store
    rows = [tuple(r) for r in arr.collect()]
    scanned = spark.sparkContext.accumulator(0)

    def counted(row):
        scanned.add(1)
        return row

    arrivals = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4).map(counted), arr.schema
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    out = curation_increment(arrivals, store, model)
    assert dag.numTotalJobs() - before <= 12
    assert scanned.value == len(rows)

    st = spark.read.parquet(store)
    assert st.schema.simpleString() == (
        "struct<id:bigint,band:int,bh:string,sh:array<string>>"
    )
    per_id = st.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("band").alias("nb"),
        F.count("sh").alias("n_sh"),
        F.min(F.when(F.col("sh").isNotNull(), F.col("band"))).alias("sh_band"),
    )
    bad = per_id.where(
        f"n != {model['bands']} OR nb != {model['bands']} OR n_sh != 1 OR sh_band != 0"
    )
    assert bad.count() == 0
    n_store = st.count()

    replay = curation_increment(arrivals, store, model)
    assert replay.count() == 0
    assert spark.read.parquet(store).count() == n_store

    shutil.rmtree(store)
    assert _ids(out) == _ids(surv1)


@pytest.mark.parametrize("broadcast_limit", [None, "-1"])
def test_increment_partial_replay(spark, tmp_path, inc_setup, broadcast_limit):
    """A batch that overlaps an applied one: the overlap is neither
    returned nor appended again, the rest is curated as usual, so the
    survivors still equal the single-increment ones.  With broadcasts
    disabled the dedup plan shuffles instead and the append takes its
    exact replay path; the result must not change."""
    from janus_spark.datapipe.curation import curation_increment

    _, boot, arr, _, model, _, surv1 = inc_setup
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if broadcast_limit is not None:
        spark.conf.set(key, broadcast_limit)
    try:
        store = str(tmp_path / "store")
        curation_increment(boot, store, model)
        first = _ids(curation_increment(arr.where("doc_id < 300"), store, model))
        second = _ids(curation_increment(arr.where("doc_id >= 280"), store, model))
    finally:
        spark.conf.set(key, old)
    assert not (first & second)
    assert first | second == _ids(surv1)
    st = spark.read.parquet(store)
    assert st.count() == st.select("id", "band").distinct().count()
