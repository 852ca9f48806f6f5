"""Entity resolution (record linkage): blocking → pairwise scoring →
match graph → connected components → survivorship.

The classic master-data / catalog problem: the same real-world entity
appears as several dirty records (re-crawls, vendor feeds, OCR'd
catalogs) and the pipeline must (1) find the matching records without an
all-pairs scan, (2) group them into entities, and (3) elect one golden
record per entity.  This is the *record* counterpart of the corpus-level
near-dup dedup in :mod:`janus_spark.datapipe.dedup` — same CC machinery,
but candidate generation is key-blocked rather than LSH-banded, and the
match score mixes set similarity with field-level (numeric) proximity.

Scale design (the part that matters at 100 TB):

- **Blocking bounds the join.**  Candidates come ONLY from equi-joins on
  caller-chosen blocking keys — one shuffle per pass, partitioned by the
  block key, never a cross join.  Multi-pass blocking (union of several
  key choices) is the standard recall fix for a single noisy key; passes
  are deduped on the (a, b) pair.
- **Oversized-block cap.**  Real data has pathological blocks (empty
  name, "unknown", a default phone number).  ``max_block_size`` drops
  blocks above the cap *before* the self-join — the O(block²) term is
  the only superlinear term in the whole pipeline, so capping it is what
  keeps the worst key from dominating the job.  Dropped blocks are a
  recall trade-off the caller opts into, exactly like production ER
  systems (Fellegi-Sunter style linkage always caps block size).
- **Pairs carry payloads, not the corpus.**  The self-join projects only
  (id, tokens, numeric) — comparison payloads, a few dozen bytes — and
  the match edges that reach the CC step are bare id pairs.
- **CC is the existing O(log diameter) pointer-jumping propagation**
  (:func:`janus_spark.datapipe.dedup.dedup_clusters`); survivorship is
  ONE window over cluster members only (singletons never shuffle).

Reference: the reference engine has no record-linkage operator; this is
part of the training-data-pipeline surface (dedup family) this repo adds
beyond reference parity.  Algorithm is public knowledge: standard
blocking + Jaccard/field-similarity scoring (Fellegi & Sunter 1969;
Christen, "Data Matching", 2012).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from janus_spark.datapipe.dedup import dedup_clusters
from janus_spark.operators.graph import global_rank
from janus_spark.store import commit, history, read_store

__all__ = [
    "block_candidates",
    "sorted_neighborhood_candidates",
    "score_pairs",
    "resolve_entities",
    "incremental_entity_resolution",
    "entity_resolution_sink",
    "tfidf_token_weights",
    "with_token_totals",
    "score_pairs_tfidf",
    "evaluate_resolution",
]


def sorted_neighborhood_candidates(
    recs: DataFrame,
    id_col: str,
    key_col: str,
    window: int,
    payload_cols: Sequence[str],
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): sort all
    records by a composite key, slide a window of ``window`` records, and
    emit every pair that co-occurs in some window position — i.e. pairs
    whose global ranks differ by at most ``window - 1``.  The classic
    complement to key blocking: a typo in the blocking key moves a record
    a few positions in sort order instead of into a different (unjoinable)
    block, and candidate volume is exactly linear (≤ n·(window−1) pairs)
    rather than Σ block².

    Scale shape: the global rank is distributed
    (:func:`janus_spark.operators.graph.global_rank`);
    the window pairs come from ONE equi-join on ``rank // window`` bucket
    ids (each left row joins its own and the next bucket — a two-bucket
    band join), filtered to the exact rank distance.  No sliding state,
    no cross join.

    Records with a null sort key sit the pass out (same semantics as a
    null blocking key in :func:`block_candidates`).  Returns the same
    shape as :func:`block_candidates`: ``a``, ``b`` (a < b by id),
    ``<payload>_a``, ``<payload>_b``.
    """
    if window < 2:
        raise ValueError("window must be >= 2 records")
    keyed = recs.select(id_col, key_col, *payload_cols).where(F.col(key_col).isNotNull())
    ranked, _ = global_rank(keyed, [key_col, id_col])
    ranked = ranked.select(
        "__rank", F.col(id_col).alias("__id"), *payload_cols
    )
    w = window
    left = ranked.select(
        (F.col("__rank") / w).cast("long").alias("__bkt"),
        F.col("__rank").alias("__rl"),
        F.col("__id").alias("__idl"),
        *[F.col(c).alias(f"{c}_l") for c in payload_cols],
    )
    right = ranked.select(
        F.explode(
            F.array((F.col("__rank") / w).cast("long"), (F.col("__rank") / w).cast("long") - 1)
        ).alias("__bkt"),
        F.col("__rank").alias("__rr"),
        F.col("__id").alias("__idr"),
        *[F.col(c).alias(f"{c}_r") for c in payload_cols],
    )
    pairs = left.join(right, "__bkt").where(
        (F.col("__rr") > F.col("__rl")) & (F.col("__rr") - F.col("__rl") <= w - 1)
    )
    a_first = F.col("__idl") < F.col("__idr")
    return pairs.select(
        F.when(a_first, F.col("__idl")).otherwise(F.col("__idr")).alias("a"),
        F.when(a_first, F.col("__idr")).otherwise(F.col("__idl")).alias("b"),
        *[
            F.when(a_first, F.col(f"{c}_l")).otherwise(F.col(f"{c}_r")).alias(f"{c}_a")
            for c in payload_cols
        ],
        *[
            F.when(a_first, F.col(f"{c}_r")).otherwise(F.col(f"{c}_l")).alias(f"{c}_b")
            for c in payload_cols
        ],
    )


def block_candidates(
    recs: DataFrame,
    id_col: str,
    blocking: Sequence[Sequence[str]],
    payload_cols: Sequence[str],
    max_block_size: int | None = None,
) -> DataFrame:
    """Candidate (a, b) pairs from one or more blocking passes.

    ``recs`` must contain ``id_col``, every blocking column, and
    ``payload_cols`` (the columns the scorer needs — carried through the
    block shuffle so scoring is map-side, no re-join with the corpus).
    Returns columns ``a``, ``b`` (a < b) plus ``<payload>_a`` /
    ``<payload>_b``; pairs found by several passes appear once.
    """
    out: DataFrame | None = None
    for pass_cols in blocking:
        side = recs.select(id_col, *pass_cols, *payload_cols)
        if max_block_size is not None:
            sizes = side.groupBy(*pass_cols).agg(F.count("*").alias("__bs"))
            side = side.join(
                sizes.where(F.col("__bs") <= max_block_size).drop("__bs"),
                list(pass_cols),
            )
        # Pin the self-join's width to the core budget: the block frame is
        # bytes-tiny but the join OUTPUT is pair-quadratic per block and
        # each pair pays an array-intersect score downstream, so AQE's
        # bytes-based coalescing would pack the whole CPU-dense stage
        # onto 1-4 tasks (the documented ngram_jaccard_pairs class;
        # measured 4 tasks × 15 s → 32 tasks here).  An explicit keyed
        # repartition is NOT AQE-coalescible, and both self-join sides
        # reuse the one exchange.
        side = side.repartition(
            recs.sparkSession.sparkContext.defaultParallelism, *pass_cols
        )
        left = side.alias("l")
        right = side.alias("r")
        # Plain equality, NOT null-safe: a record with a null blocking key
        # sits this pass out.  Null-safe equality would gather every
        # null-keyed record into one giant block — the exact pathological
        # block the cap exists to kill — so nulls are excluded by
        # construction rather than by cap luck.
        cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in pass_cols]
        cond.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        pairs = left.join(right, cond).select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            *[F.col(f"l.{c}").alias(f"{c}_a") for c in payload_cols],
            *[F.col(f"r.{c}").alias(f"{c}_b") for c in payload_cols],
        )
        out = pairs if out is None else out.unionByName(pairs)
    if out is None:
        raise ValueError("at least one blocking pass is required")
    if len(blocking) > 1:
        out = out.dropDuplicates(["a", "b"])
    return out


def score_pairs(
    cands: DataFrame,
    token_col: str,
    numeric_col: str | None = None,
    numeric_scale: float = 1.0,
    w_tokens: float = 1.0,
    w_numeric: float = 0.0,
    tokens_distinct: bool = False,
) -> DataFrame:
    """Match score per candidate pair: ``w_tokens`` × token-set Jaccard
    (+ ``w_numeric`` × linear numeric proximity, 1 at equal values and 0
    at ``numeric_scale`` apart).  All native Column arithmetic — the
    score is computed map-side inside the blocking join's output stage.

    Pairs where both token sets are empty score null on the Jaccard term
    and are dropped (no evidence is not a match).

    ``tokens_distinct=True``: the caller guarantees the token arrays are
    already duplicate-free, so the per-PAIR ``array_distinct`` (a hash-
    set build over each array for every candidate pair a record appears
    in) is skipped.  Jaccard is a set measure — distincting once per
    RECORD upstream and skipping it here is identical by construction
    (``array_distinct`` is idempotent; pinned by
    ``test_score_pairs_tokens_distinct_identical``).
    """
    ta = (
        F.col(f"{token_col}_a")
        if tokens_distinct
        else F.array_distinct(F.col(f"{token_col}_a"))
    )
    tb = (
        F.col(f"{token_col}_b")
        if tokens_distinct
        else F.array_distinct(F.col(f"{token_col}_b"))
    )
    inter = F.size(F.array_intersect(ta, tb)).cast("double")
    union = (F.size(ta) + F.size(tb)).cast("double") - inter
    jacc = F.when(union > 0, inter / union)
    score = F.lit(w_tokens) * jacc
    if numeric_col is not None and w_numeric:
        prox = F.lit(1.0) - F.least(
            F.lit(1.0),
            F.abs(
                F.col(f"{numeric_col}_a").cast("double")
                - F.col(f"{numeric_col}_b").cast("double")
            )
            / F.lit(float(numeric_scale)),
        )
        score = score + F.lit(w_numeric) * prox
    return cands.withColumn("score", score).where(F.col("score").isNotNull())


def resolve_entities(
    df: DataFrame,
    id_col: str,
    token_col: str,
    blocking: Sequence[Sequence[str]],
    threshold: float,
    numeric_col: str | None = None,
    numeric_scale: float = 1.0,
    w_tokens: float = 1.0,
    w_numeric: float = 0.0,
    max_block_size: int | None = None,
    canonical_order: Sequence[Column] | None = None,
) -> DataFrame:
    """End-to-end entity resolution.

    Every input record gets an ``entity_id`` (the minimum record id of
    its match-graph component; its own id when it matched nothing) and
    the component's elected ``canonical_id`` (survivorship: first record
    under ``canonical_order``, default ``numeric_col`` descending then id
    ascending — "keep the most complete capture").

    Returns ``(id_col, entity_id, canonical_id)``, one row per input
    record.
    """
    payload = [token_col] + ([numeric_col] if numeric_col else [])
    # The record projection is referenced by every blocking pass twice
    # (both self-join sides) plus the survivorship join — Catalyst reuses
    # exchanges only for byte-identical subplans, so without a cut here
    # the corpus is rescanned per reference (the audit_scan_counts class:
    # 4-6 part scans on the gate fixture, corpus × passes at 100 TB).
    # The projection is narrow (id, keys, tokens, one numeric), so one
    # eager materialization is the cheap side of that trade.
    keep = list(
        dict.fromkeys(
            [id_col, *payload, *(c for pass_cols in blocking for c in pass_cols)]
        )
    )
    # Distinct the token sets ONCE PER RECORD inside this one
    # materialization: score_pairs ran array_distinct per candidate PAIR
    # — a hash-set build over both arrays for every pair a record blocks
    # into (records in a b-block appear in O(|block|) pairs), the
    # dominant CPU of the scoring stages (profiled 109 s + 48 s executor
    # CPU on the sf0.1 gate).  Jaccard is a set measure, so
    # distinct-per-record + tokens_distinct=True below is identical by
    # construction.
    df = (
        df.select(*keep)
        .withColumn(token_col, F.array_distinct(F.col(token_col)))
        .localCheckpoint(eager=True)
    )
    # Score each blocking pass MAP-SIDE (inside its self-join's output
    # stage) and apply the match threshold BEFORE the cross-pass pair
    # dedup, so the dedup exchange carries only qualifying bare (a, b)
    # ids — never the token-array payloads (guide §2.3: shuffle keys and
    # metadata, not payloads; measured 140 MB → <1 MB on the gate
    # fixture).  Identical edge set: a pair's score is a deterministic
    # function of its payloads, so score-then-dedup ≡ dedup-then-score,
    # and thresholding commutes with the union/dedup.
    edges = None
    for pass_cols in blocking:
        c = block_candidates(df, id_col, [pass_cols], payload, max_block_size)
        s = score_pairs(
            c, token_col, numeric_col, numeric_scale, w_tokens, w_numeric,
            tokens_distinct=True,
        )
        e = s.where(F.col("score") >= threshold).select("a", "b")
        edges = e if edges is None else edges.unionByName(e)
    if len(blocking) > 1:
        edges = edges.dropDuplicates(["a", "b"])
    clusters = dedup_clusters(edges)  # (id, keep_id) for matched ids only

    return _assign_entities(
        df.select(F.col(id_col).alias("id"), *payload),
        clusters,
        id_col,
        numeric_col,
        canonical_order,
    )


def _assign_entities(
    base: DataFrame,
    clusters: DataFrame,
    id_col: str,
    numeric_col: str | None,
    canonical_order: Sequence[Column] | None,
) -> DataFrame:
    """Entity labels + survivorship for every record in ``base`` given
    the resolved match components ``clusters`` (id, keep_id).

    Survivorship runs over MATCHED records only — singletons (the vast
    majority of a real corpus) never enter the window shuffle; the two
    per-entity frames that join back onto the corpus are matched-subset
    sized, i.e. broadcastable in the common case (AQE picks that up).
    """
    if canonical_order is None:
        canonical_order = (
            [F.col(numeric_col).desc(), F.col("id").asc()]
            if numeric_col
            else [F.col("id").asc()]
        )
    members = clusters.join(base, "id")
    w = Window.partitionBy("keep_id").orderBy(*canonical_order)
    canon = (
        members.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col("keep_id").alias("entity_id"), F.col("id").alias("__canon"))
    )
    return (
        base.select("id")
        .join(clusters, "id", "left")
        .withColumn("entity_id", F.coalesce(F.col("keep_id"), F.col("id")))
        .join(canon, "entity_id", "left")
        .select(
            F.col("id").alias(id_col),
            "entity_id",
            F.coalesce(F.col("__canon"), F.col("id")).alias("canonical_id"),
        )
    )


def incremental_entity_resolution(
    new_recs: DataFrame,
    store_path: str,
    id_col: str,
    token_col: str,
    blocking: Sequence[Sequence[str]],
    threshold: float,
    numeric_col: str | None = None,
    numeric_scale: float = 1.0,
    w_tokens: float = 1.0,
    w_numeric: float = 0.0,
    canonical_order: Sequence[Column] | None = None,
    batch_marker: int | None = None,
) -> DataFrame:
    """Continuous entity resolution against a PERSISTENT record+edge
    store — the linkage member of the incremental family
    (``incremental_dedup`` = exact, ``incremental_minhash_dedup`` =
    near-dup, this = entities).  Each arriving batch is blocked and
    scored against itself AND every record ever seen; the resulting
    match edges are appended; entity labels are recomputed by CC over
    the ACCUMULATED EDGE SET only.  The expensive, corpus-sized work —
    blocking joins and pair scoring — is never repeated for old-old
    pairs; what re-runs per batch is label propagation over the matched
    subset (edges ≈ matched records ≪ corpus).

    Batch-split invariance (pinned by tests): a pair is discovered in
    the batch where its LATER record arrives (the earlier one is in the
    store by then), and pairs are canonically oriented with
    least/greatest — so the accumulated edge set equals the single-shot
    :func:`resolve_entities` edge set for ANY split of the corpus into
    batches, in ANY order, and the returned assignment is identical to
    the single-shot run.  A new record can bridge two previously
    separate entities; the recomputed labels RELABEL the old records —
    that's entity merge, inherent to linkage, and why the return value
    is the full current assignment, not just the batch's.

    Store layout: an append store of ``janus_spark/store.py``, one
    version per batch holding one row kind per record (``kind='rec'``:
    id + blocking keys + payload) and per edge (``kind='edge'``: a, b —
    typed as the id column itself); a batch's records and edges become
    visible together in one directory rename (no two-file torn state).
    ``batch_marker`` is the micro-batch id the version carries: the
    history is then the versions whose id is smaller, and an id already
    committed is a replay, which recomputes the assignment it first
    published and commits nothing.  That is what makes the streaming
    sink's retries idempotent (see :func:`entity_resolution_sink`).

    ``max_block_size`` is deliberately NOT offered here: a cap evaluated
    per batch against a growing block admits early pairs a single-shot
    run would have dropped, silently breaking split invariance.  Cap
    pathological keys upstream (filter before ingest) instead.

    Returns ``(id_col, entity_id, canonical_id)`` for EVERY record seen
    so far (the current master-data state).
    """
    spark = new_recs.sparkSession
    payload = [token_col] + ([numeric_col] if numeric_col else [])
    keep = list(
        dict.fromkeys(
            [id_col, *payload, *(c for pass_cols in blocking for c in pass_cols)]
        )
    )
    # Distinct token sets once per record (the resolve_entities
    # discipline — scoring below passes tokens_distinct=True).  The store
    # holds these rows, so its records are already distinct too.
    new = (
        new_recs.select(*keep)
        .withColumn(token_col, F.array_distinct(F.col(token_col)))
        .localCheckpoint(eager=True)
    )
    id_type = new.schema[id_col].dataType
    only, replay = history(store_path, batch_marker)
    hist = read_store(spark, store_path, only=only)
    if hist is not None:
        old_recs = hist.where(F.col("kind") == "rec").select(*keep)
        old_edges = hist.where(F.col("kind") == "edge").select("a", "b")
    else:
        old_recs = old_edges = None
    allr = (old_recs.unionByName(new) if old_recs is not None else new).localCheckpoint(
        eager=True
    )

    cands: DataFrame | None = None
    for pass_cols in blocking:
        left = allr.alias("l")
        right = new.alias("r")
        cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in pass_cols]
        cond.append(F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
        a_first = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
        pairs = left.join(right, cond).select(
            F.when(a_first, F.col(f"l.{id_col}")).otherwise(F.col(f"r.{id_col}")).alias("a"),
            F.when(a_first, F.col(f"r.{id_col}")).otherwise(F.col(f"l.{id_col}")).alias("b"),
            *[
                F.when(a_first, F.col(f"l.{c}")).otherwise(F.col(f"r.{c}")).alias(f"{c}_a")
                for c in payload
            ],
            *[
                F.when(a_first, F.col(f"r.{c}")).otherwise(F.col(f"l.{c}")).alias(f"{c}_b")
                for c in payload
            ],
        )
        cands = pairs if cands is None else cands.unionByName(pairs)
    # dedupe BOTH multi-pass hits and new-new pairs seen from each side
    cands = cands.dropDuplicates(["a", "b"])
    scored = score_pairs(
        cands, token_col, numeric_col, numeric_scale, w_tokens, w_numeric,
        tokens_distinct=True,
    )
    new_edges = scored.where(F.col("score") >= threshold).select("a", "b")
    edges = (
        old_edges.unionByName(new_edges) if old_edges is not None else new_edges
    )
    clusters = dedup_clusters(edges)
    out = _assign_entities(
        allr.select(F.col(id_col).alias("id"), *payload),
        clusters,
        id_col,
        numeric_col,
        canonical_order,
    ).localCheckpoint(eager=True)  # compute fully BEFORE the commit below

    if replay:
        return out
    # one commit publishes this batch's records and edges together.  Edge
    # columns carry the id column's OWN type — a hardcoded BIGINT cast
    # would turn string record ids (the record-linkage norm) into silent
    # nulls.
    rec_rows = new.select(
        F.lit("rec").alias("kind"),
        *keep,
        F.lit(None).cast(id_type).alias("a"),
        F.lit(None).cast(id_type).alias("b"),
    )
    edge_rows = new_edges.select(
        F.lit("edge").alias("kind"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in new.schema.fields],
        F.col("a").cast(id_type).alias("a"),
        F.col("b").cast(id_type).alias("b"),
    )
    commit(store_path, rec_rows.unionByName(edge_rows).write.parquet, batch_marker)
    return out


def tfidf_token_weights(
    recs: DataFrame, token_col: str, scale: int = 1_000_000
) -> DataFrame:
    """Integer-scaled IDF weight per distinct token: ``round(ln(N / df) ×
    scale)`` as BIGINT.  Integer weights make every downstream sum exact
    and order-free — the float only re-enters at the final per-pair
    ratio — which is what lets a weighted match score cross an engine
    boundary bit-for-bit (same discipline as the link-prediction gate's
    fixed-point sums).  ``N`` is one scalar count (a bounded collect)."""
    n = recs.count()
    tok = recs.select(F.explode(F.array_distinct(F.col(token_col))).alias("t"))
    return (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "t",
            F.round(F.log(F.lit(float(n)) / F.col("df").cast("double")) * scale)
            .cast("long")
            .alias("w"),
        )
    )


def with_token_totals(
    recs: DataFrame, weights: DataFrame, id_col: str, token_col: str
) -> DataFrame:
    """Attach each record's total token weight (``tot_w``) so pair
    scoring can compute the weighted union without re-aggregating the
    corpus per pair: union_w = tot_a + tot_b − inter_w."""
    tot = (
        recs.select(F.col(id_col), F.explode(F.array_distinct(F.col(token_col))).alias("t"))
        .join(weights, "t")
        .groupBy(id_col)
        .agg(F.sum("w").alias("tot_w"))
    )
    return recs.join(tot, id_col, "left").withColumn(
        "tot_w", F.coalesce(F.col("tot_w"), F.lit(0).cast("long"))
    )


def score_pairs_tfidf(
    cands: DataFrame, weights: DataFrame, token_col: str
) -> DataFrame:
    """Weighted token match score per candidate pair: Σ idf(shared) /
    Σ idf(union) — rare-token agreement counts more than stop-word
    agreement (the Fellegi-Sunter agreement-weight idea applied to a
    Jaccard shape).  ``cands`` must carry ``<token_col>_a/_b`` and
    ``tot_w_a/_b`` (see :func:`with_token_totals`).

    Plan shape: one explode of the SHARED tokens per pair (bounded by
    pair count × tokens/record, linear), one equi-join with the weight
    table, one re-group on the pair key.  Weight sums are exact BIGINTs;
    the ratio is the only float.  Pairs whose weighted union is zero are
    dropped (no evidence)."""
    inter = cands.select(
        "a", "b",
        F.explode(F.array_intersect(f"{token_col}_a", f"{token_col}_b")).alias("t"),
    )
    iw = inter.join(weights, "t").groupBy("a", "b").agg(F.sum("w").alias("__iw"))
    union_w = F.col("tot_w_a") + F.col("tot_w_b") - F.col("__iw")
    return (
        cands.join(iw, ["a", "b"], "left")
        .withColumn("__iw", F.coalesce(F.col("__iw"), F.lit(0).cast("long")))
        .withColumn(
            "score",
            F.when(
                union_w > 0, F.col("__iw").cast("double") / union_w.cast("double")
            ),
        )
        .where(F.col("score").isNotNull())
        .drop("__iw")
    )


def _sink_step(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    out_path: str,
    id_col: str,
    token_col: str,
    blocking: Sequence[Sequence[str]],
    threshold: float,
    **resolve_kw,
) -> None:
    """One micro-batch of :func:`entity_resolution_sink`, exposed so the
    retry path is unit-testable: the batch is resolved with ``batch_id``
    as its marker, so a re-delivered batch commits nothing and
    re-publishes the assignment its first delivery published."""
    out = incremental_entity_resolution(
        batch_df,
        store_path,
        id_col,
        token_col,
        blocking,
        threshold,
        batch_marker=batch_id,
        **resolve_kw,
    )
    out.write.mode("overwrite").parquet(out_path)


def entity_resolution_sink(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str,
    token_col: str,
    blocking: Sequence[Sequence[str]],
    threshold: float,
    **resolve_kw,
):
    """Continuous entity resolution as a Structured Streaming sink:
    every micro-batch runs :func:`incremental_entity_resolution` against
    the persistent store and publishes the CURRENT full assignment to
    ``out_path`` (atomic per-batch overwrite — readers always see one
    consistent master-data state).  Because the incremental form is
    batch-split invariant, the published state after the stream drains
    is byte-identical to a single-shot :func:`resolve_entities` over
    everything that arrived — micro-batch boundaries never leak into
    the result.

    Retry idempotency: each batch's store version carries its batch id
    (committed in the SAME rename as its records and edges).  If
    Structured Streaming re-delivers a micro-batch after a failure
    between the store commit and the publish, the id is already
    committed, so the retry commits nothing — it only recomputes and
    re-publishes the assignment.  Without this, a replayed batch would
    append its rows twice and duplicate every subsequent published
    assignment.  Returns the started StreamingQuery."""

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        _sink_step(
            batch_df, batch_id, store_path, out_path,
            id_col, token_col, blocking, threshold, **resolve_kw,
        )

    return (
        stream.writeStream.foreachBatch(_step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def evaluate_resolution(
    assign: DataFrame,
    truth_pairs: DataFrame,
    id_col: str,
    entity_col: str = "entity_id",
) -> DataFrame:
    """Pairwise evaluation of an entity assignment against labeled truth:
    predicted pairs are all same-entity record pairs (a < b), truth is a
    (a, b) pair frame, and the returned single row carries tp / fp / fn
    plus pairwise precision, recall and F1 — the standard record-linkage
    metrics (Christen 2012, ch. 7).  All counts are exact integers; the
    three ratios are single final divisions, so the row is bit-identical
    in any engine.

    Scale: predicted pairs come from ONE self-equi-join on the entity id
    — cost Σ |entity|², the pairwise metric's inherent size (cap entity
    sizes upstream if a degenerate blob forms); truth joins on the
    canonical (a, b) key."""
    x = assign.select(F.col(id_col).alias("__i"), F.col(entity_col).alias("__e"))
    pred = (
        x.alias("l")
        .join(x.alias("r"), "__e")
        .where(F.col(f"l.__i") < F.col(f"r.__i"))
        .select(F.col(f"l.__i").alias("a"), F.col(f"r.__i").alias("b"))
        .localCheckpoint(eager=True)  # feeds the tp join and the pred count
    )
    t = truth_pairs.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    n_pred = pred.count()
    n_truth = t.count()
    tp = pred.join(t, ["a", "b"], "semi").count()
    fp, fn = n_pred - tp, n_truth - tp
    spark = assign.sparkSession
    prec = tp / n_pred if n_pred else 0.0
    rec = tp / n_truth if n_truth else 0.0
    f1 = (2 * tp) / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 0.0
    return spark.createDataFrame(
        [(tp, fp, fn, prec, rec, f1)],
        "tp long, fp long, fn long, precision double, recall double, f1 double",
    )
