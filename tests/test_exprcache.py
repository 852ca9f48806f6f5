"""The datapipe's cached SQL-text expressions (datapipe/exprcache.py),
checked against independent references on real fixture data: plain
Python shingles, tokens and grams (Spark's ``trim`` strips spaces only,
``split`` uses Java's ``\\s``), ``hashlib`` MinHash, and an
explode → ``xxhash64`` → groupBy-min MinHash.  A drifted SQL spelling
cannot silently change an operator's results."""

import hashlib
import re
import struct

import pytest
from pyspark.sql import functions as F

from janus_spark.datapipe.exprcache import (
    cached_expr,
    float_array_sql,
    nested_float_array_sql,
    qident,
)

# Java's \s (Spark's split regex); Python's \s also matches Unicode spaces
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")

# whitespace edges the fixture text lacks: tabs (kept by trim), leading
# and trailing spaces, blank and one-token text
_EDGE_TEXTS = ["\tA b\tc ", "  x  ", "", "one", "a  b c a b c"]


def _py_tokens(text: str) -> list[str]:
    """split(trim(lower(text)), '\\s+'): trim strips spaces only, and a
    leading or trailing separator leaves an empty token."""
    return _JAVA_WS.split(text.lower().strip(" "))


def _py_shingles(text: str, k: int) -> list[str]:
    t = _py_tokens(text)
    if len(t) < k:
        return [" ".join(t)]
    return list(dict.fromkeys(" ".join(t[i : i + k]) for i in range(len(t) - k + 1)))


def _texts(spark, sf_dir):
    """(doc_id, text) of 200 fixture docs plus the edge texts."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(200)
        .select("doc_id", "text")
    )
    edge = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(_EDGE_TEXTS)], docs.schema
    )
    return docs.unionByName(edge)


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


def test_qident_rejects_column(spark):
    assert qident("a`b") == "`a``b`"
    with pytest.raises(TypeError, match="column name"):
        qident(F.col("text"))


def test_word_shingles_match_python(spark, sf_dir):
    from janus_spark.datapipe.dedup import word_shingles

    docs = _texts(spark, sf_dir)
    for k in (2, 3, 8):
        rows = docs.select("text", word_shingles("text", k).alias("x")).collect()
        assert len(rows) == 200 + len(_EDGE_TEXTS)
        for r in rows:
            assert r["x"] == _py_shingles(r["text"], k), (k, r["text"])


def test_minhash_md5_matches_hashlib(spark, sf_dir):
    from janus_spark.datapipe.dedup import minhash_signature, word_shingles

    sh = _texts(spark, sf_dir).select(word_shingles("text", 3).alias("sh"))
    rows = sh.select("sh", minhash_signature("sh", 16, "md5").alias("x")).collect()
    for r in rows:
        expected = [
            min(
                int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:15], 16)
                for s in r["sh"]
            )
            for i in range(16)
        ]
        assert r["x"] == expected


def test_minhash_xxhash64_matches_explode_groupby(spark, sf_dir):
    from janus_spark.datapipe.dedup import minhash_signature, word_shingles

    # one cut: the signature and the reference read the same 200 docs
    sh = _texts(spark, sf_dir).select(
        "doc_id", word_shingles("text", 3).alias("sh")
    ).localCheckpoint()
    sig = {
        r["doc_id"]: r["x"]
        for r in sh.select("doc_id", minhash_signature("sh", 16).alias("x")).collect()
    }
    ref = (
        sh.select("doc_id", F.explode("sh").alias("s"))
        .groupBy("doc_id")
        .agg(*[F.min(F.xxhash64("s", F.lit(i))).alias(f"m{i}") for i in range(16)])
        .collect()
    )
    assert len(ref) == len(sig) == 200 + len(_EDGE_TEXTS)
    for r in ref:
        assert sig[r["doc_id"]] == [r[f"m{i}"] for i in range(16)]


def test_clean_tokens_edges(spark, sf_dir):
    from janus_spark.datapipe.text import clean_tokens

    edge = spark.createDataFrame([("",), ("  ",), ("one two  three",)], "text string")
    assert [r["x"] for r in edge.select(clean_tokens("text").alias("x")).collect()] == [
        [], [], ["one", "two", "three"]
    ]
    for r in _texts(spark, sf_dir).select("text", clean_tokens("text").alias("x")).collect():
        assert r["x"] == [t for t in _py_tokens(r["text"]) if t], r["text"]


def test_shifted_grams_match_python(spark, sf_dir):
    from janus_spark.datapipe.dedup import _shifted_grams_sql
    from janus_spark.datapipe.text import clean_tokens

    toks = _texts(spark, sf_dir).select(clean_tokens("text").alias("toks"))
    for k in (2, 8):
        rows = toks.select(
            "toks", cached_expr(_shifted_grams_sql("toks", k)).alias("x")
        ).collect()
        for r in rows:
            t = r["toks"]
            expected = [
                " ".join(t[i : i + k]) if i + k <= len(t) else None
                for i in range(len(t))
            ]
            assert r["x"] == expected, (k, t)


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
