"""Sparse and hybrid document retrieval: BM25 scoring over an inverted
index, and reciprocal-rank fusion of heterogeneous rankers.

The lexical complement of the dense-embedding ANN path
(`datapipe/similarity.py`): BM25 is the standard first-stage retriever
for RAG / training-data curation ("find the docs most relevant to these
probe queries"), and RRF is the standard way to combine its ranking with
an embedding ranker without score calibration.

Scale notes (100 TB corpus):
* The query set is broadcast (it is human-sized); the corpus side is ONE
  tokenize+count aggregation — the inverted index — and the score join is
  a broadcast hash join on the term, so the corpus is never shuffled by
  document.  Document frequencies come from the same postings aggregate.
* Per-(query, doc) score summation touches only docs sharing ≥1 query
  term — the postings join bounds candidates exactly like the TF-IDF
  pair join (`similarity.py::tfidf_topk_pairs`).
* RRF joins two rank frames that are top-k-sized (k × |queries| rows):
  driver-free, broadcast-sized by construction.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from janus_spark.datapipe.text import clean_tokens


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    round_score: int | None = 6,
) -> DataFrame:
    """Top-k documents per query under BM25 (Robertson/Spärck Jones).

    score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)); duplicate query
    terms count once (standard bag-of-words query, set semantics).

    dl/avgdl is computed as dl·N/total_len — all-integer numerator, so
    the only floats are one division and one ln per (term, doc), a fixed
    expression tree both engines evaluate identically; `round_score`
    rounds ONCE after the per-doc sum so the k-cut is engine-reproducible
    (ties break on doc id ascending).

    Returns (query_id, doc_id, rank, score).
    """
    from janus_spark.datapipe.text import exploded_run_lengths

    # ONE materialized tokenize pass (lazily checkpointed — the
    # "materialize the inverted index" move, persisted at 100 TB; see
    # IncrementalBM25Index for the maintained-state form): dl is the
    # array size and tf the run lengths of the SORTED token array, both
    # narrow projections of the cut — the r8 explode → groupBy(id, t)
    # corpus-token shuffle is gone (sorted-run-length ≡ per-doc counts
    # bit-for-bit; optimization guide §2.4)
    staged = docs.select(
        F.col(id_col).alias("id"),
        F.array_sort(clean_tokens(text_col)).alias("__st"),
    ).localCheckpoint(eager=False)
    dl = staged.select("id", F.size("__st").alias("dl"))
    tf = exploded_run_lengths(staged, "__st", keep=["id"]).select(
        "id", F.col("v").alias("t"), F.col("cnt").alias("tf")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    ).collect()[0]
    n_docs, total_len = int(stats["n_docs"]), int(stats["total_len"])
    dft = tf.groupBy("t").agg(F.count(F.lit(1)).alias("dft"))
    return _bm25_score_from_index(
        tf, dl, dft, n_docs, total_len, queries,
        k=k, k1=k1, b=b, id_col=id_col,
        query_id_col=query_id_col, query_text_col=query_text_col,
        round_score=round_score,
    )


def _bm25_score_from_index(
    tf: DataFrame,
    dl: DataFrame,
    dft: DataFrame,
    n_docs: int,
    total_len: int,
    queries: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
    query_id_col: str,
    query_text_col: str,
    round_score: int | None,
) -> DataFrame:
    """Score probe queries against a prebuilt inverted index — the ONE
    scoring expression shared by the rebuild-per-run ``bm25_topk`` and
    the maintained ``IncrementalBM25Index``, so "incremental ≡ full
    rebuild" holds structurally, not by luck.

    ``tf`` = (id, t, tf) postings, ``dl`` = (id, dl) doc lengths,
    ``dft`` = (t, dft) document frequencies, ``n_docs``/``total_len``
    the corpus scalars.
    """
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(clean_tokens(query_text_col)).alias("t"),
        )
        .distinct()
    )
    tfd = F.col("tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("dft") + F.lit(0.5)) / (F.col("dft") + F.lit(0.5))
    )
    denom = tfd + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * (F.col("dl") * F.lit(n_docs)).cast("double") / F.lit(float(total_len))
    )
    contrib = idf * tfd * F.lit(k1 + 1.0) / denom
    scored = (
        tf.join(F.broadcast(qterms), "t")
        .join(F.broadcast(dft.join(F.broadcast(qterms.select("t").distinct()), "t")), "t")
        .join(dl, "id")
        .groupBy("query_id", "id")
        .agg(F.sum(contrib).alias("score"))
    )
    if round_score is not None:
        scored = scored.withColumn("score", F.round("score", round_score))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias(id_col), "rank", "score")
    )


def rrf_fuse(
    ranks_a: DataFrame,
    ranks_b: DataFrame,
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    round_score: int | None = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of two rank
    frames with columns (query_id, id_col, rank):
    score = 1/(c+rank_a) + 1/(c+rank_b), a missing ranker contributing 0.

    The two terms are pivoted into fixed columns before the addition, so
    the sum has a deterministic operand order (no unordered aggregate) —
    the score is engine-exact given integer ranks.  Ties break on doc id.

    Returns (query_id, doc_id, rank, score).
    """
    a = ranks_a.select("query_id", F.col(id_col).alias("id"), F.col("rank").alias("ra"))
    bdf = ranks_b.select("query_id", F.col(id_col).alias("id"), F.col("rank").alias("rb"))
    term = lambda col: F.when(  # noqa: E731
        F.col(col).isNotNull(), F.lit(1.0) / (F.lit(float(c)) + F.col(col).cast("double"))
    ).otherwise(F.lit(0.0))
    score = term("ra") + term("rb")
    if round_score is not None:
        score = F.round(score, round_score)
    fused = a.join(bdf, ["query_id", "id"], "full_outer").select(
        "query_id", "id", score.alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias(id_col), "rank", "score")
    )


class IncrementalBM25Index:
    """Maintained inverted index for BM25 — the persistent-state form of
    :func:`bm25_topk`: instead of re-tokenizing the corpus per run
    (recompute-the-world at 100 TB), ``update()`` folds each new
    document batch into versioned postings / doc-length / document-
    frequency / corpus-stats state, and ``query()`` scores probe
    queries against the maintained state without touching document
    text.  ``update(batch1); update(batch2); query(q)`` is exactly
    ``bm25_topk(batch1 ∪ batch2, q)`` — both paths share the one
    scoring expression (:func:`_bm25_score_from_index`).

    Reference parity: the reference re-materializes history per refresh
    (src/execution/historical_executor.rs); this is the Spark-first
    maintained alternative, same staged-rename commit discipline as
    `operators/incremental.py::IncrementalAgg`.

    Versioned layout (crash-safe: dot-prefixed staging dir, one atomic
    directory rename to commit; readers never see a torn version)::

        <path>/v=<N>/postings/  (t, id, tf)
        <path>/v=<N>/doclen/    (id, dl)
        <path>/v=<N>/df/        (t, dft)
        <path>/v=<N>/stats/     (n_docs, total_len)   one row

    Corpus contract: append-only with unique doc ids across batches
    (the standard crawl-snapshot shape).  ``skip_existing=True`` makes
    ``update`` idempotent — the batch is anti-joined against the
    maintained doc-id set first (one equi-join against doclen, the
    smallest leg), so re-applying a batch after a crash-and-retry
    cannot double-count.

    Scale notes: postings merge is a UNION (new docs only — no shuffle
    of old postings beyond the df re-aggregate, which is map-side
    combined on the term); df and stats merges touch O(|vocab|) and
    O(1) rows.  Query-time reads prune to the probe terms before any
    broadcast.
    """

    def __init__(self, spark: SparkSession, path: str,
                 id_col: str = "doc_id", text_col: str = "text"):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col

    # -- version bookkeeping (same scheme as IncrementalAgg) ---------------
    def current_version(self) -> int:
        if not os.path.isdir(self.path):
            return 0
        vs = [
            int(m.group(1))
            for d in os.listdir(self.path)
            if (m := re.fullmatch(r"v=(\d+)", d))
        ]
        return max(vs, default=0)

    def _vdir(self, v: int) -> str:
        return f"{self.path}/v={v}"

    def vacuum_versions(self, keep: int = 1) -> int:
        cur = self.current_version()
        removed = 0
        for d in os.listdir(self.path) if os.path.isdir(self.path) else []:
            if (m := re.fullmatch(r"v=(\d+)", d)) and int(m.group(1)) <= cur - keep:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
                removed += 1
            elif d.startswith(".staging-v="):
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        return removed

    # -- maintenance -------------------------------------------------------
    def update(self, batch: DataFrame, skip_existing: bool = False) -> int:
        """Fold one document batch into the index; returns new version."""
        cur, nxt = self.current_version(), self.current_version() + 1
        stage = f"{self.path}/.staging-v={nxt}"
        shutil.rmtree(stage, ignore_errors=True)
        docs = batch.select(
            F.col(self.id_col).alias("id"),
            clean_tokens(self.text_col).alias("__toks"),
        )
        if cur and skip_existing:
            seen = self.spark.read.parquet(f"{self._vdir(cur)}/doclen").select("id")
            docs = docs.join(seen, "id", "left_anti")
        # one tokenize pass feeds dl, tf, df, stats
        docs = docs.localCheckpoint(eager=False)
        dl_b = docs.select("id", F.size("__toks").alias("dl"))
        tf_b = (
            docs.select("id", F.explode("__toks").alias("t"))
            .groupBy("id", "t")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        df_b = tf_b.groupBy("t").agg(F.count(F.lit(1)).alias("dft"))
        st_b = dl_b.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_len"),
        )
        if cur:
            old = self._vdir(cur)
            tf_b = self.spark.read.parquet(f"{old}/postings").unionByName(tf_b)
            dl_b = self.spark.read.parquet(f"{old}/doclen").unionByName(dl_b)
            df_b = (
                self.spark.read.parquet(f"{old}/df")
                .unionByName(df_b)
                .groupBy("t")
                .agg(F.sum("dft").cast("long").alias("dft"))
            )
            st_b = (
                self.spark.read.parquet(f"{old}/stats")
                .unionByName(st_b)
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("total_len").cast("long").alias("total_len"),
                )
            )
        tf_b.write.mode("overwrite").parquet(f"{stage}/postings")
        dl_b.write.mode("overwrite").parquet(f"{stage}/doclen")
        df_b.write.mode("overwrite").parquet(f"{stage}/df")
        st_b.coalesce(1).write.mode("overwrite").parquet(f"{stage}/stats")
        final = self._vdir(nxt)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(stage, final)
        return nxt

    # -- query -------------------------------------------------------------
    def query(
        self,
        queries: DataFrame,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        query_id_col: str = "query_id",
        query_text_col: str = "qtext",
        round_score: int | None = 6,
        version: int | None = None,
    ) -> DataFrame:
        """Top-k docs per probe query against the maintained index —
        same contract as :func:`bm25_topk` (query terms deduplicated,
        round-once score, ties on doc id)."""
        v = version or self.current_version()
        if v == 0:
            raise ValueError("IncrementalBM25Index: no committed version to query")
        vd = self._vdir(v)
        st = self.spark.read.parquet(f"{vd}/stats").collect()[0]
        return _bm25_score_from_index(
            self.spark.read.parquet(f"{vd}/postings"),
            self.spark.read.parquet(f"{vd}/doclen"),
            self.spark.read.parquet(f"{vd}/df"),
            int(st["n_docs"]),
            int(st["total_len"]),
            queries,
            k=k, k1=k1, b=b, id_col=self.id_col,
            query_id_col=query_id_col, query_text_col=query_text_col,
            round_score=round_score,
        )
