"""End-to-end training-data curation: the composed pipeline a real user
runs over a raw document corpus —

    Gopher rules → corpus-relative quality filter → MinHash near-dup
    removal → DSIR top-k selection → token packing

— declared as ONE DataFrame composition so Catalyst sees the whole
program (filters push into every stage's scan; nothing materializes to
disk between stages).

Stage boundaries that feed MULTIPLE consumers (a survivor frame used to
train the next stage's weights AND be scored by them AND flow onward)
are cut with ``localCheckpoint`` — the same discipline as
``quality_filter_relative``'s internal cut: without it Catalyst
re-evaluates the entire upstream pipeline once per consumer (measured
3-4 scans per stage).  On a cluster these become ``persist(DISK_ONLY)``
or staged parquet (see docs/SCALE.md).

Every stage is the SAME operator its standalone gate verifies
(`gopher_quality`, `quality_filter_relative`, `minhash_lsh_pairs`,
`dsir_topk`, `pack_token_stream`) — the pipeline adds composition, not
re-implementation, and its oracle is composed from the same SQL
fragments the standalone oracles use (janus_spark/queries.py), so the
two can never drift.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "curation_pipeline",
    "curation_funnel",
    "curation_bootstrap",
    "curation_increment",
    "curation_frozen_batch",
    "curation_select",
    "curation_stream",
]


def curation_pipeline(
    docs: DataFrame,
    k_top: int = 100,
    budget_tokens: int = 512,
    n_shards: int = 4,
    jaccard_threshold: float = 0.5,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    gopher_kwargs: dict | None = None,
) -> DataFrame:
    """Run the full curation pipeline; returns the packing layout of the
    final selected documents (one row per selected doc:
    ``(id, shard, n_tokens, start_offset, end_offset, seq_id,
    straddles)``).

    Semantics per stage (each operates on the previous stage's
    survivors — corpus-relative stages therefore self-calibrate on the
    progressively cleaner corpus):

    1. **Gopher rules** (Rae et al. 2021 A1): integer-rational heuristic
       keep/reject.
    2. **Quality filter**: NB log-odds weights trained on the survivors'
       ``lang == 'en'`` / ``lang != 'en'`` split; keep docs whose mean
       per-token log-odds beats the survivor-corpus mean (all-integer
       decision in decimal(38,0)).
    3. **Near-dup removal**: banded MinHash pairs (a < b, exact-Jaccard
       verified); any doc appearing as the HIGHER id of a qualifying
       pair is dropped — the deterministic pairwise keep-lowest rule
       (the CC-based ``dedup_clusters`` is the transitive alternative;
       pairwise is single-plan and oracle-exact).
    4. **DSIR top-k** toward the survivors' English slice, ties by id.
    5. **Packing**: deterministic hash shuffle into ``n_shards`` token
       streams, ``budget_tokens``-sized training sequences.

    Scale shape (100 TB): the corpus flows through exactly the
    standalone operators' plans — no stage adds a shuffle beyond what
    its gate already pays (pinned by
    ``test_curation_pipeline_shuffle_budget``); the only new work is
    one semi/anti join per stage boundary, each on the id key of an
    already-shrinking survivor set.
    """
    s4 = _curation_stages(
        docs,
        k_top,
        jaccard_threshold,
        n_buckets,
        text_col,
        id_col,
        lang_col,
        gopher_kwargs,
    )[-1]

    from janus_spark.datapipe.text import pack_token_stream

    # 5 — pack
    return pack_token_stream(s4, budget_tokens, n_shards, text_col, id_col)


def _curation_stages(
    docs: DataFrame,
    k_top: int,
    jaccard_threshold: float,
    n_buckets: int,
    text_col: str,
    id_col: str,
    lang_col: str,
    gopher_kwargs: dict | None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The survivor frames after each filtering stage: (gopher, quality,
    dedup, selected) — shared by :func:`curation_pipeline` and
    :func:`curation_funnel` so the two can never disagree on stage
    semantics."""
    from janus_spark.datapipe.exprcache import cached_expr
    from janus_spark.datapipe.dedup import minhash_lsh_pairs
    from janus_spark.datapipe.quality import (
        gopher_quality,
        quality_filter_relative_split,
    )
    from janus_spark.datapipe.selection import (
        _bucket_array_sql,
        dsir_flagged_scores,
    )
    from janus_spark.datapipe.text import exploded_run_lengths

    gk = dict(min_tok=20, top2_max=(1, 10), min_stopwords=1)
    gk.update(gopher_kwargs or {})

    # 1 — Gopher rules
    # gopher_quality is a narrow per-doc projection (r10 optimization):
    # filter on pred directly instead of a semi join back onto docs
    # (ids are unique by the doc-key contract, so the two are identical).
    # The SAME materialization also carries each survivor's sorted
    # token-bucket array (r11 fuse): stages 2 and 4 both consume the
    # per-doc (b, cnt) bucket pairs, and deriving them here means the
    # corpus text is tokenized+hashed for buckets ONCE — stage 2 used to
    # re-tokenize all of s1 and stage 4 all of s3 (one full corpus pass
    # each), traded for one array column of checkpoint width.
    s1 = (
        gopher_quality(docs, text_col, id_col, keep_cols=docs.columns, **gk)
        .where("pred")
        .select(
            *docs.columns,
            cached_expr(_bucket_array_sql(text_col, n_buckets)).alias("__bs"),
        )
        .localCheckpoint(eager=True)
    )
    s1_docs = s1.select(*docs.columns)
    flag = F.col(lang_col) == "en"
    # the rows _doc_bucket_pairs(s1, extra={"__f": flag}) would emit —
    # identical staged expression, read from the checkpointed arrays
    bpairs = (
        exploded_run_lengths(
            s1.select(F.col(id_col), flag.alias("__f"), "__bs"),
            "__bs",
            keep=[id_col, "__f"],
        )
        .select(
            F.col(id_col), "__f", F.col("v").alias("b"), F.col("cnt").alias("cnt")
        )
        .localCheckpoint(eager=True)
    )

    # 2 — corpus-relative quality filter (weights trained on s1 itself;
    # fused: the ONE bucket-pairs frame above trains AND scores)
    keep2 = quality_filter_relative_split(
        s1_docs, flag, text_col, id_col, n_buckets, pairs=bpairs
    ).select(id_col)
    s2 = s1_docs.join(keep2, id_col, "semi").localCheckpoint(eager=True)

    # 3 — near-dup removal, pairwise keep-lowest-id
    pairs = minhash_lsh_pairs(
        s2,
        text_col,
        id_col,
        jaccard_threshold=jaccard_threshold,
        hash_fn="md5",
    )
    s3 = s2.join(
        pairs.select(F.col("b").alias(id_col)).distinct(), id_col, "anti"
    ).localCheckpoint(eager=True)

    # 4 — DSIR top-k toward the survivors' English slice (fused: one
    # pass trains the importance weights AND scores every survivor; the
    # top-k tail is verbatim dsir_topk's — same score float, same
    # id-ascending tie-break).  The bucket pairs are per-document rows,
    # so s1's frame semi-joined to s3's ids IS _doc_bucket_pairs(s3)
    # row for row — no third tokenize pass.
    _, dscores = dsir_flagged_scores(
        s3,
        flag,
        "target",
        text_col,
        id_col,
        n_buckets,
        pairs=bpairs.join(s3.select(id_col), id_col, "semi"),
    )
    keep4 = (
        dscores.where(F.col("score").isNotNull())
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k_top)
        .select(id_col)
    )
    s4 = s3.join(keep4, id_col, "semi")
    # the returned stage-1 frame keeps the caller-visible docs schema;
    # __bs is an internal carrier column of the checkpoint only
    return s1_docs, s2, s3, s4


def curation_funnel(
    docs: DataFrame,
    k_top: int = 100,
    jaccard_threshold: float = 0.5,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    gopher_kwargs: dict | None = None,
) -> DataFrame:
    """The curation funnel — per-stage survivor counts, the first thing
    an operator looks at when a curation run misbehaves (one stage
    suddenly eating the corpus is THE classic pipeline failure).

    Returns one row per stage, ordered by ``stage_no``:
    ``(stage_no, stage, n_docs)`` for raw → gopher → quality → dedup →
    selected, all exact integers.  Built on the SAME stage frames as
    :func:`curation_pipeline` (shared ``_curation_stages``), so the
    report can never drift from what the pipeline actually does; the
    stage frames are already localCheckpoint-cut, so the five counts
    add five cheap aggregates, not five pipeline re-runs."""
    s1, s2, s3, s4 = _curation_stages(
        docs,
        k_top,
        jaccard_threshold,
        n_buckets,
        text_col,
        id_col,
        lang_col,
        gopher_kwargs,
    )
    parts = [
        (0, "raw", docs),
        (1, "gopher", s1),
        (2, "quality", s2),
        (3, "dedup", s3),
        (4, "selected", s4),
    ]
    out = None
    for no, name, frame in parts:
        row = frame.agg(
            F.lit(no).cast("long").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        out = row if out is None else out.unionByName(row)
    # a bare union's row order is plan/partition-dependent; the promised
    # stage_no ordering costs one sort of 5 rows
    return out.orderBy("stage_no")


# ------------------------------------------------- incremental curation
def _default_gopher_kwargs(gopher_kwargs: dict | None) -> dict:
    gk = dict(min_tok=20, top2_max=(1, 10), min_stopwords=1)
    gk.update(gopher_kwargs or {})
    return gk


def train_curation_model(
    docs: DataFrame,
    n_buckets: int = 4096,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    gopher_kwargs: dict | None = None,
    tau_micro: int = 0,
    hash_fn: str = "md5",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    select: bool = False,
) -> dict:
    """FREEZE a curation model from a founding corpus: NB quality
    weights trained on the corpus's own gopher survivors, plus the
    exact-integer corpus totals ``(ts, tn)`` that realize the
    corpus-relative quality threshold as an absolute per-document
    decision (``score_int·tn > ts·n_tok`` — the same cross-multiplied
    comparison ``quality_filter_relative`` evaluates in-plan, with the
    totals materialized so later batches reuse them unchanged).

    The returned dict is the unit a production pipeline persists
    between daily runs: the weights frame is model-sized (≤ n_buckets
    rows, checkpointed; write it to parquet across sessions) and the
    totals are two BIGINTs — the one deliberate driver-side collect.

    ``select=True`` additionally freezes a DSIR SELECTION model: hashed-
    unigram importance weights of the founding quality survivors'
    English slice vs those survivors (Xie et al. 2023), plus the
    founding totals that realize "above the founding corpus's mean
    importance" as an absolute per-document decision — the stateless
    stand-in for the batch pipeline's global top-k, which a daily
    increment cannot evaluate (see :func:`curation_select`)."""
    from janus_spark.datapipe.quality import gopher_quality
    from janus_spark.datapipe.selection import dsir_flagged_scores

    gk = _default_gopher_kwargs(gopher_kwargs)
    # gopher_quality is a narrow per-doc projection (r10 optimization):
    # filter on pred directly instead of a semi join back onto docs
    # (ids are unique by the doc-key contract, so the two are identical)
    s1 = (
        gopher_quality(docs, text_col, id_col, keep_cols=docs.columns, **gk)
        .where("pred")
        .select(*docs.columns)
        .localCheckpoint(eager=True)
    )
    # fused: one tokenize+hash pass trains the NB weights AND scores s1
    # for the frozen totals (r10 optimization; bit-identical to
    # nb_quality_weights + quality_scores by construction)
    w, scores = dsir_flagged_scores(
        s1, F.col(lang_col) == "en", "split", text_col, id_col, n_buckets
    )
    w = w.localCheckpoint(eager=True)
    [tot] = (
        scores
        .agg(F.sum("score_int").alias("ts"), F.sum("n_tok").alias("tn"))
        .collect()
    )
    model = {
        "weights": w,
        "ts": int(tot["ts"] or 0),
        "tn": int(tot["tn"] or 0),
        "n_buckets": n_buckets,
        "jaccard_threshold": jaccard_threshold,
        "text_col": text_col,
        "id_col": id_col,
        "lang_col": lang_col,
        "gopher_kwargs": gk,
        "tau_micro": tau_micro,
        "hash_fn": hash_fn,
        "num_perm": num_perm,
        "bands": bands,
        "shingle_k": shingle_k,
    }
    if select:
        # founding quality survivors: three consumers (target slice, raw
        # model, scoring pass) — cut once; the fused pass then trains
        # the importance weights AND computes the founding totals
        s2 = _frozen_stage2(docs, model).localCheckpoint(eager=True)
        dw, dscores = dsir_flagged_scores(
            s2, F.col(lang_col) == "en", "target", text_col, id_col,
            n_buckets,
        )
        dw = dw.localCheckpoint(eager=True)
        [dtot] = (
            dscores
            .agg(F.sum("score_int").alias("ts"), F.sum("n_tok").alias("tn"))
            .collect()
        )
        model["dsir_weights"] = dw
        model["dsir_ts"] = int(dtot["ts"] or 0)
        model["dsir_tn"] = int(dtot["tn"] or 0)
    return model


def _frozen_stage2(docs: DataFrame, model: dict) -> DataFrame:
    """Gopher rules + FROZEN quality filter — the stateless per-document
    prefix shared by :func:`curation_increment` and
    :func:`curation_frozen_batch` (one definition, so the incremental
    path and the batch reference cannot drift).  One narrow projection:
    both decisions are per-row expressions (see
    :func:`_frozen_quality_keep`), so the result is a filter of ``docs``
    with no shuffle and no materialization of its own."""
    from janus_spark.datapipe.quality import gopher_quality

    return (
        gopher_quality(
            docs, model["text_col"], model["id_col"], keep_cols=docs.columns,
            **model["gopher_kwargs"],
        )
        .where(F.col("pred") & _frozen_quality_keep(model))
        .select(*docs.columns)
    )


# model weights frame -> its collected (b, w) items: collected once per
# model, not once per batch
_WEIGHT_ITEMS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _frozen_quality_keep(model: dict) -> Column:
    """The frozen quality decision of one document as a per-row
    expression: ``score_int·tn > ts·n_tok + τ·n_tok·tn`` in
    decimal(38,0), where ``score_int`` sums the weights of the document's
    token buckets and ``n_tok`` counts the tokens whose bucket HAS a
    weight — exactly ``quality_scores``' explode → weights join → groupBy,
    evaluated as one lookup per token in the model
    (``token_weight_sum_sql``, at most ``n_buckets`` entries).  Tokenless
    documents compare 0 > 0 and are rejected, as before.  Pinned row for
    row against the ``quality_scores`` form by
    ``test_frozen_quality_keep_matches_quality_scores``."""
    from janus_spark.datapipe.exprcache import cached_expr, qident
    from janus_spark.datapipe.quality import token_weight_sum_sql

    weights = model["weights"]
    items = _WEIGHT_ITEMS.get(weights)
    if items is None:
        items = [(r["b"], r["w"]) for r in weights.collect()]
        _WEIGHT_ITEMS[weights] = items

    def dec(x) -> str:
        return f"CAST({x} AS DECIMAL(38,0))"

    tn, ts, tau = (int(model[k]) for k in ("tn", "ts", "tau_micro"))
    decide = (
        f"{dec('acc.s')} * {dec(tn)} > {dec(ts)} * {dec('acc.n')} "
        f"+ {dec(tau)} * {dec('acc.n')} * {dec(tn)}"
    )
    return cached_expr(
        token_weight_sum_sql(
            qident(model["text_col"]), items, int(model["n_buckets"]), decide
        )
    )


def curation_select(df: DataFrame, model: dict) -> DataFrame:
    """Frozen DSIR selection: keep rows whose mean per-token importance
    clears the FOUNDING corpus mean — ``score_int·tn_d > ts_d·n_tok``
    cross-multiplied in decimal(38,0), the same exact-integer discipline
    as the frozen quality threshold (no float in the decision; tokenless
    documents fail the strict ``>``).  Per-document and stateless, so it
    COMMUTES with near-dup removal (selection never feeds the store or
    the pair graph) — applying it after each increment equals applying
    it once after a batch run, which is what keeps the
    q_curation_increment_select oracle a plain batch SQL."""
    from janus_spark.datapipe.selection import dsir_scores

    id_col = model["id_col"]
    scores = dsir_scores(
        df,
        model["dsir_weights"],
        model["text_col"],
        id_col,
        model["n_buckets"],
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    keep = scores.where(
        dec(F.col("score_int")) * dec(F.lit(int(model["dsir_tn"])))
        > dec(F.lit(int(model["dsir_ts"]))) * dec(F.col("n_tok"))
    ).select(id_col)
    return df.join(keep, id_col, "semi")


def curation_increment(
    new_docs: DataFrame, store_path: str, model: dict
) -> DataFrame:
    """One DAY of a production curation pipeline: filter the arriving
    batch with the FROZEN model (gopher rules + pinned quality
    threshold — no retraining, so yesterday's corpus is never
    re-scored), near-dup it against every document ever seen via the
    persistent MinHash store, and append the arrivals' signatures.
    Returns the surviving rows of ``new_docs``.

    Replay-safe: arrivals whose id already has signatures in the store
    were processed by an earlier (possibly crashed-after-append) run —
    they are neither returned nor appended again, so a retried batch
    returns nothing new and the store does not grow (the
    ``incremental_entity_resolution`` discipline).  Gopher/quality
    REJECTS are not in the store and are re-evaluated on replay —
    deterministic, they reject again.

    Incrementality theorem (pinned by the q_curation_increment gate,
    whose DuckDB oracle is the one-shot BATCH SQL over the full
    corpus): when batch id ranges are non-decreasing,

        curation_frozen_batch(C0 ∪ C1, M)
        == curation_bootstrap(C0)[0] ∪ curation_increment(C1, M)

    because every pre-dedup stage is per-document under a frozen model,
    and the store keeps signatures of DROPPED documents too, so the
    keep-lowest-id pair rule sees the same graph either way (see
    ``incremental_minhash_dedup`` — near-dup similarity is not
    transitive).

    Plan shape: two plans and the commit, whatever the batch size.
    (1) ONE narrow pass over the arrivals, materialized once: gopher
    rules, the frozen quality decision (a weight lookup per token — no
    shuffle), shingles, MinHash signature and band keys
    (``_sign_documents``).  (2) ONE candidate/verify plan against the
    store, read once with its known schema: band-key matches against
    the batch and the store, exact Jaccard verify, replayed ids, all
    anti-joined off the batch and materialized
    (``_dedup_against_store``).  (3) The batch's signatures committed
    as the store's next version (``janus_spark/store.py``: a staging
    directory and one rename; the store's versions are listed, not
    read, to decide what history is).  Only the increment is ever scored or signed; history
    enters as band rows and, for candidates only, its shingle sets —
    never corpus text.  On the bench shape (about 160 documents, 4
    cores) that is 8 Spark jobs; see docs/SCALE.md."""
    from janus_spark.datapipe.dedup import (
        _dedup_against_store,
        _sign_documents,
        minhash_store_schema,
    )
    from janus_spark.store import read_store

    id_col = model["id_col"]
    hist = read_store(
        new_docs.sparkSession,
        store_path,
        schema=minhash_store_schema(new_docs, id_col, model["hash_fn"]),
    )
    signed, stats = _sign_documents(
        _frozen_stage2(new_docs, model),
        model["text_col"],
        model["num_perm"],
        model["bands"],
        model["shingle_k"],
        model["hash_fn"],
    )
    survivors = _dedup_against_store(
        signed, stats, new_docs.columns, hist, store_path, id_col,
        model["bands"], model["jaccard_threshold"], drop_seen=True,
    )
    if "dsir_weights" in model:
        # AFTER the dedup: the store has already received the full s2
        # signatures, so selection can't change the pair graph — the
        # commutation that keeps increments ≡ batch
        survivors = curation_select(survivors, model)
    return survivors


def curation_bootstrap(
    docs: DataFrame, store_path: str, **train_kwargs
) -> tuple[DataFrame, dict]:
    """Found an incremental curation corpus: train the frozen model on
    ``docs`` (see :func:`train_curation_model`), then run ``docs``
    through :func:`curation_increment` itself against the fresh store —
    the bootstrap IS the first increment, so there is no separate batch
    code path to drift.  Returns ``(survivors, model)``.

    Because the frozen totals are the founding corpus's own, the
    bootstrap survivors equal the batch pipeline's dedup-stage output
    on the same corpus (``_curation_stages(docs)[2]`` — the
    corpus-relative filter and the frozen comparison are the same
    cross-multiplied integers; pinned by
    ``test_bootstrap_equals_batch_stages``)."""
    model = train_curation_model(docs, **train_kwargs)
    return curation_increment(docs, store_path, model), model


def curation_frozen_batch(docs: DataFrame, model: dict) -> DataFrame:
    """One-shot BATCH application of a frozen curation model — the
    reference semantics the incremental path must reproduce: gopher +
    frozen quality filter, then single-shot pairwise keep-lowest-id
    near-dup removal (``minhash_lsh_pairs`` b-side).  Shares
    :func:`_frozen_stage2` with the increment, so the two can only
    differ in the dedup plumbing the equivalence theorem covers."""
    from janus_spark.datapipe.dedup import minhash_lsh_pairs

    id_col = model["id_col"]
    s2 = _frozen_stage2(docs, model).localCheckpoint(eager=True)
    pairs = minhash_lsh_pairs(
        s2,
        model["text_col"],
        id_col,
        num_perm=model["num_perm"],
        bands=model["bands"],
        shingle_k=model["shingle_k"],
        jaccard_threshold=model["jaccard_threshold"],
        hash_fn=model["hash_fn"],
    )
    out = s2.join(
        pairs.select(F.col("b").alias(id_col)).distinct(), id_col, "anti"
    )
    if "dsir_weights" in model:
        out = curation_select(out, model)
    return out


def _curation_sink_step(
    batch_df: DataFrame, batch_id: int, store_path: str, model: dict,
    out_path: str,
) -> None:
    """One idempotent foreachBatch step of :func:`curation_stream`:
    frozen per-doc filtering, near-dup against the store versions whose
    batch id is smaller (``incremental_minhash_dedup(batch_id=...)`` —
    the commit is skipped when this batch id is already committed), then
    an OVERWRITE publish to ``out_path/batch_id=N``.  Survivors are
    recomputable on retry (the store prefix a batch first saw never
    changes), so a crash anywhere in the step replays to byte-identical
    output: the ``incremental_entity_resolution`` at-least-once
    discipline."""
    from janus_spark.datapipe.dedup import incremental_minhash_dedup

    s2 = _frozen_stage2(batch_df, model)
    surv = incremental_minhash_dedup(
        s2,
        store_path,
        model["text_col"],
        model["id_col"],
        model["num_perm"],
        model["bands"],
        model["shingle_k"],
        model["jaccard_threshold"],
        model["hash_fn"],
        batch_id=int(batch_id),
    )
    if "dsir_weights" in model:
        surv = curation_select(surv, model)  # per-doc: retry-stable too
    surv.write.mode("overwrite").parquet(
        f"{out_path}/batch_id={int(batch_id)}"
    )


def curation_stream(
    stream_docs: DataFrame,
    store_path: str,
    model: dict,
    out_path: str,
    checkpoint_dir: str,
):
    """CONTINUOUS curation: every arriving micro-batch of documents runs
    the frozen-model filter prefix and the persistent-store near-dup,
    survivors land in ``out_path`` partitioned by batch — the streaming
    form of :func:`curation_increment`, for a file-drop directory or any
    Structured Streaming source.  Returns the started StreamingQuery
    (``availableNow`` trigger: drain what exists, then stop — the daily
    cron shape; swap the trigger for true continuous ingestion).

    foreachBatch is the right seam — each step needs a store read and
    commit, which no built-in sink expresses — and the batch id each
    commit carries makes the at-least-once contract exact: a retried
    batch recomputes identical survivors against the unchanged store
    prefix and overwrites its own output partition (see
    :func:`_curation_sink_step`).

    Equivalence (the q_live_curation gate's cross-engine proof): with
    id-monotone arrivals the union of all published batches equals
    :func:`curation_frozen_batch` over the concatenated corpus — the
    incrementality theorem applied per micro-batch."""

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        _curation_sink_step(batch_df, batch_id, store_path, model, out_path)

    return (
        stream_docs.writeStream.foreachBatch(_step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
