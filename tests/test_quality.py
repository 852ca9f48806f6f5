"""Quality classification (datapipe/quality.py): NB log-odds training,
exact-integer decision discipline, threshold split, literal weights."""

import math

from pyspark.sql import functions as F

from janus_spark.datapipe.quality import (
    nb_quality_weights,
    quality_filter,
    quality_scores,
    weights_from_literal,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_classifier_separates_pos_from_neg(spark):
    # positives speak 'aa bb', negatives 'zz yy'; unlabeled docs of each
    # flavor must land on the right side of the τ=0 decision
    rows = [(i, "aa bb aa bb", "en") for i in range(10)]
    rows += [(100 + i, "zz yy zz yy", "xx") for i in range(10)]
    rows += [(200, "aa bb", "??"), (201, "zz yy", "??")]
    docs = _docs(spark, rows)
    w = nb_quality_weights(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") == "xx"),
        n_buckets=64,
    )
    out = {r["doc_id"]: r for r in quality_scores(docs, w, n_buckets=64).collect()}
    assert out[200]["pred"] and not out[201]["pred"]
    assert out[200]["score_int"] > 0 > out[201]["score_int"]
    # float score is the mean per-token log-odds of the integer evidence
    r = out[200]
    assert math.isclose(
        r["score"], r["score_int"] / (1e6 * r["n_tok"]), rel_tol=1e-12
    )


def test_score_matches_hand_computation(spark):
    """One positive doc 'aa', one negative 'bb', B buckets: w(aa) =
    round((ln(2/(1+B)) − ln(1/(1+B)))·1e6) = round(ln 2 · 1e6); a scored
    doc 'aa aa' must carry exactly 2·w."""
    B = 16
    docs = _docs(spark, [(1, "aa", "en"), (2, "bb", "xx"), (3, "aa aa", "??")])
    w = nb_quality_weights(
        docs.where("lang = 'en'"), docs.where("lang = 'xx'"), n_buckets=B
    )
    expect_w = round((math.log(2 / (1 + B)) - math.log(1 / (1 + B))) * 1e6)
    [row] = quality_scores(docs.where("doc_id = 3"), w, n_buckets=B).collect()
    assert row["score_int"] == 2 * expect_w and row["n_tok"] == 2


def test_tokenless_doc_never_kept(spark):
    """No tokens = no evidence: pred must be false even when a positive
    bias would clear τ on its own."""
    docs = _docs(spark, [(1, "aa", "en"), (2, "zz", "xx"), (3, "   ", "??")])
    w = nb_quality_weights(
        docs.where("lang = 'en'"), docs.where("lang = 'xx'"), n_buckets=16
    )
    out = {
        r["doc_id"]: r
        for r in quality_scores(docs, w, n_buckets=16, bias_micro=10**9).collect()
    }
    assert out[3]["n_tok"] == 0 and out[3]["score_int"] == 0
    assert not out[3]["pred"] and out[3]["score"] is None


def test_integer_threshold_is_strict_and_exact(spark):
    """The decision is score_int + bias·n_tok > τ·n_tok in BIGINTs: a doc
    sitting exactly ON the boundary is rejected (strict >), with no float
    epsilon anywhere."""
    w = weights_from_literal(spark, [(h, 100_000) for h in range(64)])
    docs = _docs(spark, [(1, "aa bb cc", "??")])
    # every token weighs exactly 100000 = τ·scale/10 per token with τ_micro=100000
    [on_boundary] = quality_scores(docs, w, n_buckets=64, tau_micro=100_000).collect()
    assert on_boundary["score_int"] == 3 * 100_000 and not on_boundary["pred"]
    [above] = quality_scores(docs, w, n_buckets=64, tau_micro=99_999).collect()
    assert above["pred"]
    [with_bias] = quality_scores(
        docs, w, n_buckets=64, tau_micro=100_000, bias_micro=1
    ).collect()
    assert with_bias["pred"]


def test_quality_filter_returns_full_rows(spark):
    rows = [(i, "aa bb", "en") for i in range(5)]
    rows += [(100 + i, "zz yy", "xx") for i in range(5)]
    docs = _docs(spark, rows)
    w = nb_quality_weights(
        docs.where("lang = 'en'"), docs.where("lang = 'xx'"), n_buckets=64
    )
    kept = quality_filter(docs, w, n_buckets=64).collect()
    assert sorted(r["doc_id"] for r in kept) == [0, 1, 2, 3, 4]
    assert set(kept[0].asDict()) == {"doc_id", "text", "lang"}  # full payload


def test_weight_table_broadcasts(spark):
    """The model join must be a broadcast: the weight table is ≤
    n_buckets rows by construction and must never shuffle the corpus."""
    docs = _docs(spark, [(i, "aa bb cc dd", "en") for i in range(10)])
    w = nb_quality_weights(docs, docs, n_buckets=64)
    plan = quality_scores(docs, w, n_buckets=64)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_relative_filter_splits_about_the_mean(spark):
    """quality_filter_relative keeps exactly the docs whose mean
    per-token log-odds beats the corpus mean — scale-invariant, exact
    integer cross-multiplication, tokenless docs never kept."""
    from janus_spark.datapipe.quality import quality_filter_relative

    rows = [(i, "aa bb", "en") for i in range(6)]
    rows += [(100 + i, "zz yy", "xx") for i in range(4)]
    rows += [(999, "   ", "??")]  # tokenless
    docs = _docs(spark, rows)
    w = nb_quality_weights(
        docs.where("lang = 'en'"), docs.where("lang = 'xx'"), n_buckets=64
    )
    kept = {r["doc_id"] for r in quality_filter_relative(docs, w, n_buckets=64).collect()}
    # en docs score above the (mixed) corpus mean, xx below, 999 excluded
    assert kept == set(range(6))
    # hand check: every kept doc's cross-multiplied margin is positive
    s = quality_scores(docs, w, n_buckets=64).collect()
    ts = sum(r["score_int"] for r in s)
    tn = sum(r["n_tok"] for r in s)
    for r in s:
        expect = r["score_int"] * tn > ts * r["n_tok"]
        assert (r["doc_id"] in kept) == expect


def test_relative_filter_tau_offset(spark):
    """tau_micro shifts the relative bar: a huge positive offset keeps
    nothing; a huge negative offset keeps every doc WITH tokens."""
    from janus_spark.datapipe.quality import quality_filter_relative

    rows = [(i, "aa bb", "en") for i in range(3)] + [(9, "zz", "xx"), (10, " ", "??")]
    docs = _docs(spark, rows)
    w = nb_quality_weights(
        docs.where("lang = 'en'"), docs.where("lang = 'xx'"), n_buckets=64
    )
    none = quality_filter_relative(docs, w, n_buckets=64, tau_micro=10**9).collect()
    assert none == []
    allt = quality_filter_relative(docs, w, n_buckets=64, tau_micro=-(10**9)).collect()
    assert sorted(r["doc_id"] for r in allt) == [0, 1, 2, 9]  # 10 is tokenless


def test_literal_map_form_matches_join_form(spark):
    """quality_score_columns (the stateless streaming form: packed
    literal lookup + one array aggregate) must equal quality_scores (the batch
    explode/broadcast-join form) bit-for-bit — INCLUDING the edge where
    a scored doc contains tokens whose bucket is absent from the weight
    table (both forms drop them from score_int AND n_tok)."""
    from janus_spark.datapipe.quality import quality_stream_scores

    train = _docs(
        spark,
        [(1, "aa bb cc aa", "en"), (2, "zz yy xx zz", "xx"), (3, "aa zz", "en")],
    )
    w = nb_quality_weights(
        train.where("lang = 'en'"), train.where("lang = 'xx'"), n_buckets=64
    )
    witems = [(r["b"], r["w"]) for r in w.collect()]
    # score docs with known tokens, novel tokens, and no tokens at all
    score_me = _docs(
        spark,
        [
            (10, "aa bb zz", "??"),
            (11, "qq novel tokens only", "??"),
            (12, "aa novel aa", "??"),
            (13, "", "??"),
        ],
    )
    join_form = {
        r["doc_id"]: (r["score_int"], r["n_tok"], r["pred"])
        for r in quality_scores(score_me, w, n_buckets=64).collect()
    }
    map_form = {
        r["doc_id"]: (r["score_int"], r["n_tok"], r["pred"])
        for r in quality_stream_scores(score_me, witems, n_buckets=64).collect()
    }
    assert join_form == map_form
    assert map_form[11][1] == 0  # all-novel doc: zero counted tokens
    assert map_form[12][1] == 2  # novel token dropped from n_tok


def test_live_quality_equals_batch_classifier(spark):
    """The q_live_quality gate is a REAL Structured Streaming run in 3
    micro-batches; stateless scoring is batch-split invariant, so it
    must equal the batch classifier exactly."""
    from janus_spark.queries import q_live_quality, q_quality_classifier

    sf = "/root/testdata/sf0.001"
    live = {r["doc_id"]: (r["score_int"], r["n_tok"], r["pred"])
            for r in q_live_quality(spark, sf).collect()}
    batch = {r["doc_id"]: (r["score_int"], r["n_tok"], r["pred"])
             for r in q_quality_classifier(spark, sf).collect()}
    assert live == batch and len(live) == 500


def test_gopher_rules_hand_computed(spark):
    """Hand-check every Gopher signal on a crafted doc: counts, modal
    2-gram, within-doc duplicate 5-grams, stopword hits, and each rule's
    integer boundary."""
    from janus_spark.datapipe.quality import gopher_quality

    # doc 1: 'aa bb' repeated 5x -> n_tok 10, top2 ('aa bb') = 5,
    # 5-grams: 6 instances, the two distinct grams alternate 3x each
    # -> all 6 are duplicates; no stopwords
    # doc 2: healthy text with 'the' and 'with'
    docs = spark.createDataFrame(
        [
            (1, "aa bb aa bb aa bb aa bb aa bb"),
            # 11 tokens: top-2-gram coverage 2/11 < 0.2 (10 tokens would
            # sit exactly ON the (1,5) cap and be rejected — see the
            # boundary test below)
            (2, "the quick brown fox jumps with vigor over two lazy dogs"),
            (3, "xy"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality(
        docs, min_tok=5, top2_max=(1, 5), dup5_max=(3, 10), min_stopwords=2
    ).collect()}
    r1 = out[1]
    assert (r1["n_tok"], r1["top2_count"], r1["dup5_instances"], r1["n5"],
            r1["stop_hits"]) == (10, 5, 6, 6, 0)
    assert not r1["pred"]  # repetitive and stopword-free
    r2 = out[2]
    assert r2["n_tok"] == 11 and r2["top2_count"] == 1 and r2["stop_hits"] == 2
    assert r2["dup5_instances"] == 0 and r2["n5"] == 7
    assert r2["pred"]
    r3 = out[3]
    assert r3["n_tok"] == 1 and r3["n5"] == 0 and not r3["pred"]  # too short


def test_gopher_rules_integer_boundaries(spark):
    """The rational caps are strict cross-multiplied comparisons: a doc
    sitting exactly ON the top-2-gram cap is rejected."""
    from janus_spark.datapipe.quality import gopher_quality

    # 'aa bb' once in 10 tokens of otherwise unique text + 'the of':
    # top2_count=1, n_tok=10 -> coverage 2/10; cap (1,5)=0.2 exactly on
    # the boundary -> 2*1*5 < 10*1 is FALSE -> rejected
    docs = spark.createDataFrame(
        [(1, "aa bb c1 d1 e1 f1 g1 h1 the of")],
        "doc_id long, text string",
    )
    [on_cap] = gopher_quality(
        docs, min_tok=5, top2_max=(1, 5), min_stopwords=2, min_mean_word_len=1
    ).collect()
    assert on_cap["top2_count"] == 1 and on_cap["n_tok"] == 10
    assert not on_cap["pred"]
    [above_cap] = gopher_quality(
        docs, min_tok=5, top2_max=(21, 100), min_stopwords=2, min_mean_word_len=1
    ).collect()
    assert above_cap["pred"]  # cap 0.21 clears the 0.2 coverage


def test_stream_form_score_respects_scale(spark):
    """A non-default training scale must flow through to the float
    score in the stateless per-row form (ADVICE r8: it was hardcoded 1e6),
    keeping it equal to the join form at the same scale."""
    from janus_spark.datapipe.quality import quality_stream_scores

    train = _docs(
        spark,
        [(1, "aa bb cc aa", "en"), (2, "zz yy xx zz", "xx")],
    )
    w = nb_quality_weights(
        train.where("lang = 'en'"), train.where("lang = 'xx'"),
        n_buckets=64, scale=1000,
    )
    witems = [(r["b"], r["w"]) for r in w.collect()]
    score_me = _docs(spark, [(10, "aa bb zz", "??")])
    [join_row] = quality_scores(score_me, w, n_buckets=64, scale=1000).collect()
    [map_row] = quality_stream_scores(
        score_me, witems, n_buckets=64, scale=1000
    ).collect()
    assert map_row["score_int"] == join_row["score_int"]
    expected = join_row["score_int"] / (1000.0 * join_row["n_tok"])
    assert map_row["pred"] == join_row["pred"]
    # the join form carries 'score' too — both must use the passed scale
    assert abs(join_row["score"] - expected) < 1e-12
    from janus_spark.datapipe.quality import quality_score_columns
    cols = quality_score_columns("text", witems, n_buckets=64, scale=1000)
    [s] = score_me.select(cols["score"]).collect()
    assert abs(s["score"] - expected) < 1e-12


def test_weight_lookup_rejects_bad_bucket_ids():
    """A model is at most one weight per bucket, each in [0, n_buckets):
    the packed lookup would otherwise keep a repeated id's last weight
    silently, and put a negative id's weight in a cell counted from the
    end."""
    import pytest

    from janus_spark.datapipe.quality import weight_lookup_sql

    assert "X'" in weight_lookup_sql([(0, 1), (3, -2)], 4, "b")
    for items, msg in [
        ([(1, 5), (1, 6)], "duplicate bucket id 1"),
        ([(-1, 5)], "outside"),
        ([(4, 5)], "outside"),
        ([(0, 1), (1, 1), (2, 1), (3, 1), (0, 2)], "more weight entries"),
    ]:
        with pytest.raises(ValueError, match=msg):
            weight_lookup_sql(items, 4, "b")


def test_await_stream_raises_on_timeout():
    """_await_stream must stop the query and raise on an
    awaitTermination timeout instead of letting the caller read a
    partial sink (ADVICE r8)."""
    import pytest

    from janus_spark.queries import _await_stream

    class FakeQuery:
        def __init__(self, done):
            self.done = done
            self.stopped = False

        def awaitTermination(self, timeout):
            return self.done

        def stop(self):
            self.stopped = True

    ok = FakeQuery(True)
    _await_stream(ok, 1)
    assert not ok.stopped
    hung = FakeQuery(False)
    with pytest.raises(RuntimeError, match="did not terminate"):
        _await_stream(hung, 1)
    assert hung.stopped
