"""Salted join / skew-safe aggregate: identical results to the plain
operators, only the partitioning differs."""

from pyspark.sql import functions as F

from janus_spark.operators.skew import salted_join, skew_safe_count_distinct


def _frames(spark):
    # k=1 is the hot key
    left = spark.createDataFrame(
        [(i, 1 if i < 90 else 2, float(i)) for i in range(100)],
        "id long, k long, v double",
    )
    right = spark.createDataFrame([(1, "hot"), (3, "cold")], "k long, name string")
    return left, right


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_equals_plain(spark):
    left, right = _frames(spark)
    plain = left.join(right, ["k"], "inner").select("k", "id", "v", "name")
    salted = salted_join(left, right, ["k"], salt=8).select("k", "id", "v", "name")
    assert _rows(salted) == _rows(plain)


def test_salted_left_equals_plain(spark):
    left, right = _frames(spark)
    plain = left.join(right, ["k"], "left").select("k", "id", "v", "name")
    salted = salted_join(left, right, ["k"], salt=8, how="left").select("k", "id", "v", "name")
    assert _rows(salted) == _rows(plain)
    # unmatched left keys (k=2) survive exactly once with nulls
    assert sum(1 for r in _rows(salted) if r[3] is None) == 10


def test_salt_column_not_leaked(spark):
    left, right = _frames(spark)
    assert "__salt" not in salted_join(left, right, ["k"], salt=4).columns


def test_skew_safe_count_distinct_equals_builtin(spark):
    df = spark.createDataFrame(
        [(i % 3, f"v{i % 7}") for i in range(200)], "k long, val string"
    )
    ours = {
        (r["k"], r["n_distinct"])
        for r in skew_safe_count_distinct(df, ["k"], "val").collect()
    }
    builtin = {
        (r["k"], r["n"])
        for r in df.groupBy("k").agg(F.countDistinct("val").alias("n")).collect()
    }
    assert ours == builtin


def _skewed_corpus(spark, n_docs=200, hot_frac=0.3):
    """30% of docs share one hot 3-gram; every doc also has unique filler.
    The hot gram alone would generate C(0.3*n, 2) candidate pairs in an
    unpruned postings join."""
    hot = "alpha beta gamma"
    rows = []
    for i in range(n_docs):
        filler = " ".join(f"tok{i}x{j}" for j in range(8))
        text = f"{hot} {filler}" if i % int(1 / hot_frac) == 0 else filler
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_filter_bounds_skewed_candidates(spark):
    """VERDICT r1 item 5: the PPJoin prefix filter must keep the
    candidate count bounded on a hot-shingle corpus — measured, not
    claimed — while producing the identical join output."""
    from janus_spark.datapipe.dedup import (
        jaccard_prefix_candidates,
        jaccard_similarity_join,
        word_shingles,
    )

    docs = _skewed_corpus(spark)
    n_hot = docs.where(F.col("text").startswith("alpha beta gamma")).count()
    assert n_hot >= 60  # every 3rd doc of 200

    # unpruned candidate pairs: every pair sharing >= 1 shingle
    sh = docs.select("doc_id", word_shingles("text", 3).alias("sh"))
    posts = sh.select(F.col("doc_id").alias("id"), F.explode("sh").alias("gram"))
    unpruned = (
        posts.alias("l").join(posts.alias("r"), "gram")
        .where(F.col("l.id") < F.col("r.id"))
        .select("l.id", "r.id").distinct().count()
    )
    assert unpruned >= n_hot * (n_hot - 1) // 2  # the hot-gram blowup is real

    pruned = jaccard_prefix_candidates(docs, shingle_k=3, threshold=0.5).count()
    # docs are mostly unique filler: no pair can reach J >= 0.5, and the
    # prefix (rarest-first) ordering keeps the hot gram out of every
    # prefix, so candidates collapse instead of exploding
    assert pruned <= unpruned / 10, (pruned, unpruned)

    # and the filtered plan is still EXACT
    got = sorted(
        map(tuple, jaccard_similarity_join(docs, threshold=0.5).select("a", "b").collect())
    )
    want = sorted(
        map(
            tuple,
            jaccard_similarity_join(docs, threshold=0.5, prefix_filter=False)
            .select("a", "b")
            .collect(),
        )
    )
    assert got == want


def test_skew_stats_flags_hot_key(spark):
    from janus_spark.operators.skew import skew_stats

    # 9 keys with 10 rows each + one key with 910 rows: mean = 100
    rows = [(k, i) for k in range(9) for i in range(10)] + [(99, i) for i in range(910)]
    df = spark.createDataFrame(rows, "k long, x long")
    out = skew_stats(df, ["k"], top=3).collect()
    hot = out[0]
    assert hot["k"] == 99 and hot["n"] == 910
    assert abs(hot["share"] - 0.91) < 1e-6
    assert abs(hot["skew_factor"] - 9.1) < 1e-6
    assert hot["suggested_salt"] == 10   # ceil(9.1): levels the key to ~mean
    assert len(out) == 3 and out[1]["n"] == 10


def test_auto_join_salts_planted_skew_and_not_uniform(spark):
    """Plan guard for the diagnose→mitigate loop: the planted-skew
    fixture must dispatch to the salted join (salt exchange visible in
    the physical plan), the uniform fixture must stay a plain join —
    and both must equal the unsalted result."""
    from janus_spark.operators.skew import auto_join

    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1000)], ["k", "name"])
    # uniform: 20 keys x 50 rows (top skew factor 1.0)
    uni = spark.createDataFrame([(i % 20, i) for i in range(1000)], ["k", "v"])
    # planted skew: key 0 carries ~90% of rows across ~100 distinct keys
    # (top skew factor ~90)
    hot = spark.createDataFrame(
        [(0 if i % 10 else i, i) for i in range(1000)], ["k", "v"]
    )
    d1, d2 = {}, {}
    out_uni = auto_join(uni, dim, ["k"], decision=d1)
    out_hot = auto_join(hot, dim, ["k"], decision=d2)
    assert d1["strategy"] == "plain" and d1["salt"] == 0
    assert d2["strategy"] == "salted" and d2["salt"] >= 2
    assert "__salt" not in out_hot.columns  # not leaked
    plan_hot = out_hot._jdf.queryExecution().executedPlan().toString()
    plan_uni = out_uni._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan_hot and "__salt" not in plan_uni
    # identical results either way
    want_hot = sorted(map(tuple, hot.join(dim, ["k"]).collect()))
    assert sorted(map(tuple, out_hot.collect())) == want_hot
    want_uni = sorted(map(tuple, uni.join(dim, ["k"]).collect()))
    assert sorted(map(tuple, out_uni.collect())) == want_uni


def test_auto_join_precomputed_stats_skips_diagnosis(spark):
    from janus_spark.operators.skew import auto_join, skew_stats

    dim = spark.createDataFrame([(k, f"d{k}") for k in range(5)], ["k", "name"])
    hot = spark.createDataFrame([(0, i) for i in range(100)], ["k", "v"])
    stats = skew_stats(hot, ["k"], top=1).localCheckpoint()
    d = {}
    out = auto_join(hot, dim, ["k"], stats=stats, decision=d)
    assert d["strategy"] == "plain"  # single key: skew factor == 1.0
    assert out.count() == 100
