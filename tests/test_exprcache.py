"""The cached-SQL construction paths (datapipe/exprcache.py) must be
EXPRESSION-identical to the Column-API forms they replaced: same schema,
same rows, bit-identical floats.  These tests pin that equivalence on
real fixture data so a drifted SQL spelling cannot silently change an
operator's results."""

import struct

from pyspark.sql import functions as F

from janus_spark.datapipe.exprcache import (
    cached_expr,
    float_array_sql,
    nested_float_array_sql,
)


def _frames_equal(a, b) -> bool:
    assert a.schema == b.schema
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)


def test_cached_expr_returns_same_object(spark):
    assert cached_expr("1 + 1") is cached_expr("1 + 1")
    assert cached_expr("1 + 1") is not cached_expr("1 + 2")


def test_float_array_sql_bit_identical(spark):
    import random

    rng = random.Random(11)
    vals = [rng.gauss(0.0, 1.0) for _ in range(40)] + [
        1e-300, 6.103515625e-05, -0.0, 123456789.123456789, 1e300, 0.1, 2.0,
    ]
    a = spark.range(1).select(F.expr(float_array_sql(vals)).alias("x")).first().x
    b = spark.range(1).select(
        F.array(*[F.lit(float(v)) for v in vals]).alias("x")
    ).first().x
    assert all(
        struct.pack("d", u) == struct.pack("d", v) for u, v in zip(a, b)
    )
    n = spark.range(1).select(
        F.expr(nested_float_array_sql([vals[:3], vals[3:6]])).alias("x")
    ).first().x
    assert [list(r) for r in n] == [vals[:3], vals[3:6]]


def test_word_shingles_sql_matches_column(spark, sf_dir):
    from janus_spark.datapipe.dedup import word_shingles

    docs = _docs(spark, sf_dir)
    for k in (2, 3, 8):
        a = docs.select(word_shingles("text", k).alias("x"))
        b = docs.select(word_shingles(F.col("text"), k).alias("x"))
        assert _frames_equal(a, b), f"k={k}"


def test_minhash_signature_sql_matches_column(spark, sf_dir):
    from janus_spark.datapipe.dedup import minhash_signature, word_shingles

    sh = _docs(spark, sf_dir).select(word_shingles("text", 3).alias("sh"))
    for hf in ("xxhash64", "md5"):
        a = sh.select(minhash_signature("sh", 16, hf).alias("x"))
        b = sh.select(minhash_signature(F.col("sh"), 16, hf).alias("x"))
        assert _frames_equal(a, b), hf


def test_clean_tokens_sql_matches_column(spark, sf_dir):
    from janus_spark.datapipe.text import clean_tokens

    docs = _docs(spark, sf_dir)
    a = docs.select(clean_tokens("text").alias("x"))
    b = docs.select(clean_tokens(F.col("text")).alias("x"))
    assert _frames_equal(a, b)
    edge = spark.createDataFrame([("",), ("  ",), ("one two  three",)], "text string")
    assert _frames_equal(
        edge.select(clean_tokens("text").alias("x")),
        edge.select(clean_tokens(F.col("text")).alias("x")),
    )


def test_lsh_signature_sql_matches_column(spark, sf_dir):
    from janus_spark.datapipe.similarity import hyperplanes, lsh_signature

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    dim = len(embs.select("embedding").first()[0])
    planes = hyperplanes(dim, 8, 42)
    a = embs.select(lsh_signature("embedding", planes).alias("x"))
    b = embs.select(lsh_signature(F.col("embedding"), planes).alias("x"))
    assert _frames_equal(a, b)


def test_shifted_grams_sql_matches_column(spark, sf_dir):
    from janus_spark.datapipe.dedup import _shifted_grams, _shifted_grams_sql
    from janus_spark.datapipe.text import clean_tokens

    toks = _docs(spark, sf_dir).select(clean_tokens("text").alias("toks"))
    for k in (2, 8):
        a = toks.select(cached_expr(_shifted_grams_sql("toks", k)).alias("x"))
        b = toks.select(_shifted_grams(F.col("toks"), k).alias("x"))
        assert _frames_equal(a, b), f"k={k}"


def test_cached_expr_is_thread_safe(monkeypatch):
    """Concurrent lookups while other threads evict: a lookup must never
    find a key that is gone by the time it is moved to the LRU end.
    ``F.expr`` is stubbed, so no Spark session is needed and the threads
    spend their time in the cache itself."""
    import random
    import sys
    import threading

    from janus_spark.datapipe import exprcache

    monkeypatch.setattr(exprcache.F, "expr", lambda sql: object())
    monkeypatch.setattr(exprcache, "_CACHE", type(exprcache._CACHE)())
    # a working set just above the cap: most lookups hit, and the key a
    # lookup hits is often the next one another thread evicts
    monkeypatch.setattr(exprcache, "_CACHE_MAX", 8)
    errors = []

    def hammer(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(20000):
                exprcache.cached_expr(f"k{rng.randrange(10)}")
        except Exception as exc:  # noqa: BLE001 — the failure under test
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(s,)) for s in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    assert len(exprcache._CACHE) <= exprcache._CACHE_MAX
