"""Property-based tests (hypothesis) for the similarity-search suite.

One Spark job per example: hypothesis generates small random embedding
corpora driver-side; Spark evaluates both the exact and the IVF path on
the same data.  The invariant is structural, not numeric: with
``nprobe = n_cells`` every inverted list is probed, so IVF must return
exactly the brute-force top-k regardless of what k-means did.
"""

import math

import pytest
from hypothesis import given, settings, strategies as st

from janus_spark.datapipe.similarity import cosine_topk, ivf_topk

vec_st = st.lists(
    st.floats(
        min_value=-10,
        max_value=10,
        allow_nan=False,
        allow_infinity=False,
        width=32,
    ),
    min_size=4,
    max_size=4,
)


@pytest.fixture(scope="module")
def sess():
    from janus_spark.session import get_spark

    return get_spark("prop_similarity")


@settings(max_examples=10, deadline=None)
@given(vecs=st.lists(vec_st, min_size=5, max_size=20, unique_by=tuple))
def test_ivf_probe_all_matches_bruteforce(sess, vecs):
    df = sess.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    queries = df.where("vec_id < 2")
    k = 3
    exact = cosine_topk(df, queries, k=k).collect()
    ivf = ivf_topk(df, queries, k=k, n_cells=4, nprobe=4, iters=1).collect()

    def ranking(rows):
        return sorted((r["query_id"], r["rank"], r["vec_id"]) for r in rows)

    assert ranking(ivf) == ranking(exact)
    sims_e = {(r["query_id"], r["vec_id"]): r["sim"] for r in exact}
    for r in ivf:
        e = sims_e[(r["query_id"], r["vec_id"])]
        if e is None or r["sim"] is None:  # zero-norm vectors: null cosine
            assert e is None and r["sim"] is None
        else:
            assert math.isclose(r["sim"], e, rel_tol=0, abs_tol=1e-9)


def test_arrow_signature_kernel_bit_identical_to_expression_fold(spark):
    # the numpy kernel must reproduce the SQL-expression left fold
    # EXACTLY (np.add.accumulate is a strict sequential sum) — this is
    # what keeps the SQL oracle valid for the arrow default
    from janus_spark.datapipe.dedup import shared_hash64  # noqa: F401 (house import pattern)
    from janus_spark.datapipe.similarity import embedding_near_dup_pairs

    from pyspark.sql import functions as F

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    dup = embs.where("vec_id < 10").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    df = embs.unionByName(dup)  # the gate's corpus: planted exact dups
    a = sorted(
        tuple(r)
        for r in embedding_near_dup_pairs(df, sim_threshold=0.99, use_arrow=True).collect()
    )
    b = sorted(
        tuple(r)
        for r in embedding_near_dup_pairs(df, sim_threshold=0.99, use_arrow=False).collect()
    )
    assert a == b and len(a) > 0


def test_arrow_signature_kernel_edge_parity(spark):
    # string ids, NULL vector, ragged vector, NaN component: the kernel
    # must mirror the expression fold (null fold -> bh 0; Spark NaN >= 0 is
    # TRUE) and keep the id column's own type
    from janus_spark.datapipe.similarity import (
        _banded_signatures_arrow,
        hyperplanes,
        lsh_signature,
    )
    from pyspark.sql import functions as F

    dim, bands, bits = 4, 2, 3
    planes = hyperplanes(dim, bands * bits, seed=7)
    df = spark.createDataFrame(
        [
            ("doc-a", [0.5, -1.0, 2.0, 0.25]),
            ("doc-null", None),
            ("doc-short", [1.0, 2.0]),
            ("doc-nan", [float("nan"), 1.0, -1.0, 0.5]),
        ],
        "vec_id string, embedding array<double>",
    )
    arrow = {
        (r["id"], r["band"]): r["bh"]
        for r in _banded_signatures_arrow(df, "vec_id", "embedding", planes, bands, bits).collect()
    }
    sig_cols = []
    for b in range(bands):
        ps = planes[b * bits : (b + 1) * bits]
        sig_cols.append(
            F.struct(F.lit(b).alias("band"), lsh_signature("embedding", ps).alias("bh"))
        )
    expr = {
        (r["id"], r["band"]): r["bh"]
        for r in df.select(
            F.col("vec_id").alias("id"), F.explode(F.array(*sig_cols)).alias("bb")
        ).select("id", "bb.band", "bb.bh").collect()
    }
    assert arrow == expr
    assert arrow[("doc-null", 0)] == 0 and arrow[("doc-short", 1)] == 0


def test_arrow_signature_kernel_compensating_ragged_rows(spark):
    # ADVICE r5: with NO nulls in the batch, ragged lengths that
    # compensate within a batch (dim-1 next to dim+1, total == n*dim)
    # used to pass the total-flattened-length check and take the
    # zero-copy reshape, silently misaligning every subsequent row.
    # The per-row length guard must route the batch to the slow path:
    # ragged rows fold to bh 0 (JVM-null parity), conforming rows keep
    # the exact Column-fold signature.
    from janus_spark.datapipe.similarity import (
        _banded_signatures_arrow,
        hyperplanes,
        lsh_signature,
    )
    from pyspark.sql import functions as F

    dim, bands, bits = 4, 2, 3
    planes = hyperplanes(dim, bands * bits, seed=11)
    rows = [
        ("r-short", [1.0, -2.0, 0.5]),            # dim-1
        ("r-long", [0.5, 1.0, -1.0, 2.0, 3.0]),   # dim+1 — compensates
        ("r-ok", [0.25, -0.5, 1.5, -2.0]),
        ("r-ok2", [2.0, 0.0, -1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>").coalesce(1)
    arrow = {
        (r["id"], r["band"]): r["bh"]
        for r in _banded_signatures_arrow(df, "vec_id", "embedding", planes, bands, bits).collect()
    }
    sig_cols = []
    for b in range(bands):
        ps = planes[b * bits : (b + 1) * bits]
        sig_cols.append(
            F.struct(F.lit(b).alias("band"), lsh_signature("embedding", ps).alias("bh"))
        )
    expr = {
        (r["id"], r["band"]): r["bh"]
        for r in df.select(
            F.col("vec_id").alias("id"), F.explode(F.array(*sig_cols)).alias("bb")
        ).select("id", "bb.band", "bb.bh").collect()
    }
    assert arrow == expr
    assert arrow[("r-short", 0)] == 0 and arrow[("r-long", 0)] == 0
    assert any(arrow[(i, b)] != 0 for i in ("r-ok", "r-ok2") for b in range(bands))
