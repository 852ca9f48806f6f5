"""Document quality classification: a linear scorer over hashed-unigram
features — the public fastText-style quality-filter recipe (Joulin et
al. 2016 "Bag of Tricks for Efficient Text Classification"; the CCNet /
GPT-3 appendix-A quality filter applies exactly this shape: a linear
model over bag-of-words features of "reference-quality" vs "raw web"
text, then a threshold split).

The model is a per-bucket weight table (the natural-Bayes log-odds
trained by :func:`nb_quality_weights`, or any externally trained weight
vector supplied as a ``(b, w)`` DataFrame / literal list) plus an
optional bias.  Scoring is map-only: hash tokens into buckets
(`shared_hash64 % n_buckets`, the md5-derived cross-engine family shared
with DSIR/MinHash), broadcast-join the weight table, one groupBy on the
document id.

Exactness discipline (the DSIR ``score_int`` lesson, r7): weights are
integer-scaled BIGINTs, per-document scores are BIGINT sums, and the
keep/reject decision is the INTEGER comparison
``score_int + bias_micro·n_tok > tau_micro·n_tok`` — floats never enter
the decision, so the split is bit-identical across engines and
partitionings.  The float ``score`` column (mean per-token log-odds) is
derived last, for human consumption and ordering only.

Scale shape (100 TB):
- Training reads each labeled corpus once: one groupBy shuffle per side
  on the bucket key; the model is ≤ n_buckets rows regardless of corpus
  size (hashing trick — no vocabulary state).
- Scoring is explode → broadcast join (model ≤ n_buckets rows) → one
  groupBy on doc_id.  No shuffle touches the weight table.
- The filter is a map-side integer predicate over the scored frame; the
  join back to full rows is on the id column (co-partitioned with the
  scoring groupBy output when the planner reuses the exchange).

Reference: the reference engine has no document-classification operator;
this is training-data-pipeline surface beyond reference parity (sibling
of datapipe/selection.py, which built the hashed-feature machinery).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from janus_spark.datapipe.selection import _bucketed_tokens, dsir_weights

__all__ = [
    "nb_quality_weights",
    "weights_from_literal",
    "quality_scores",
    "quality_filter",
    "quality_filter_relative",
    "quality_filter_relative_split",
    "quality_score_columns",
    "quality_stream_scores",
    "token_weight_sum_sql",
    "weight_lookup_sql",
    "gopher_quality",
    "GOPHER_STOPWORDS",
]


def nb_quality_weights(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
) -> DataFrame:
    """Naive-Bayes log-odds weights for quality classification:
    ``w(b) = round((ln p(b|pos) − ln p(b|neg)) × scale)`` with add-one
    smoothing over ``n_buckets`` hashed-unigram buckets.

    The arithmetic is identical to :func:`dsir_weights` — the difference
    is semantic: DSIR contrasts a target slice against the WHOLE raw
    corpus (importance ratio for resampling), while this contrasts
    disjoint positive/negative label sets (discriminative log-odds, the
    NB limit of a logistic model over the same features).  Delegates to
    the shared implementation so the smoothing/rounding discipline can
    never drift between the two."""
    return dsir_weights(pos, neg, text_col, id_col, n_buckets, scale)


def weights_from_literal(
    spark, weights: Sequence[tuple[int, int]]
) -> DataFrame:
    """Lift an externally trained weight vector (e.g. logistic-regression
    coefficients, integer-scaled offline) into the broadcastable
    ``(b, w)`` table :func:`quality_scores` consumes.  The table is tiny
    by construction (≤ n_buckets rows) — a literal createDataFrame is the
    right shape; it broadcasts, never shuffles."""
    return spark.createDataFrame(
        [(int(b), int(w)) for b, w in weights], "b long, w long"
    )


def quality_scores(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
    bias_micro: int = 0,
    tau_micro: int = 0,
) -> DataFrame:
    """Score every document and decide keep/reject.

    Returns one row per input document: ``(id, score_int, n_tok, pred,
    score)`` where ``score_int = Σ w(bucket(token))`` (exact BIGINT,
    order-free), ``pred = score_int + bias_micro·n_tok >
    tau_micro·n_tok`` (exact integer comparison — the classifier
    decision; equivalent to mean-per-token log-odds + bias > τ), and
    ``score`` is the float mean per-token log-odds (the one float,
    derived last, NULL for tokenless documents).  Tokenless documents
    have no evidence: ``pred`` is false regardless of bias — a quality
    filter that kept empty documents because the bias said so would be
    wrong at any τ."""
    bt = _bucketed_tokens(df, text_col, id_col, n_buckets)
    per_doc = (
        bt.join(F.broadcast(weights), "b")
        .groupBy(id_col)
        .agg(
            F.sum("w").alias("score_int"),
            F.count(F.lit(1)).alias("n_tok"),
        )
    )
    score_int = F.coalesce(F.col("score_int"), F.lit(0)).cast("long")
    n_tok = F.coalesce(F.col("n_tok"), F.lit(0)).cast("long")
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            score_int.alias("score_int"),
            n_tok.alias("n_tok"),
            (
                (n_tok > 0)
                & (
                    score_int + F.lit(int(bias_micro)) * n_tok
                    > F.lit(int(tau_micro)) * n_tok
                )
            ).alias("pred"),
            F.when(
                n_tok > 0,
                score_int.cast("double")
                / (F.lit(float(scale)) * n_tok.cast("double")),
            ).alias("score"),
        )
    )


def quality_filter(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
    bias_micro: int = 0,
    tau_micro: int = 0,
) -> DataFrame:
    """Threshold split: the full input rows whose documents the
    classifier keeps (``pred`` true under the exact integer decision).
    The id-only scored frame joins back to the full rows so payload
    columns (text, metadata, embeddings) never ride through the scoring
    shuffle."""
    kept = quality_scores(
        df, weights, text_col, id_col, n_buckets, scale, bias_micro, tau_micro
    ).where(F.col("pred"))
    return df.join(kept.select(id_col), id_col, "semi")


def quality_filter_relative(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
    tau_micro: int = 0,
) -> DataFrame:
    """Corpus-relative threshold split: keep documents whose mean
    per-token log-odds clears the CORPUS mean by ``tau_micro/scale``.
    An absolute τ is scale-fragile — the add-one smoothing offsets every
    score downward by an amount that shrinks as the corpora grow
    (measured: mean −0.12 at sf0.001 → −0.01 at sf0.1 on the same
    generator), so a constant that splits one corpus keeps all or none
    of another.  The relative form is scale-invariant by construction.

    Exactness: the decision
    ``score_int/(scale·n) > Σscore/(scale·Σn) + τ/scale`` is
    cross-multiplied into the all-integer comparison
    ``score_int·Σn > Σscore·n + τ·n·Σn`` — evaluated in decimal(38,0)
    (Spark) / HUGEINT (DuckDB oracles) so the products are exact at any
    corpus size (magnitudes reach ~1e24 at the 100 TB point, past
    BIGINT).  No float ever enters the decision; tokenless documents
    fail the strict ``>`` automatically (0 > 0 is false).

    Scale shape: the scored frame aggregates to ONE (Σscore, Σn) row,
    broadcast back over the scores — a map-side predicate; one extra
    reduce versus the absolute filter, nothing corpus-sized moves.
    Returns ``(id, score_int, n_tok)`` for the kept documents; join back
    to full rows by id if the payload is needed (see
    :func:`quality_filter`)."""
    scores = quality_scores(
        df, weights, text_col, id_col, n_buckets, scale
    ).localCheckpoint(eager=True)  # scored once: feeds the total AND the split
    return _relative_cut(scores, id_col, tau_micro)


def _relative_cut(scores: DataFrame, id_col: str, tau_micro: int) -> DataFrame:
    """The corpus-relative threshold tail of
    :func:`quality_filter_relative` over an already-materialized scores
    frame: one (Σscore, Σn) aggregate broadcast back over the frame,
    then the exact decimal(38,0) cross-multiplied comparison."""
    tot = scores.agg(
        F.sum("score_int").alias("__ts"), F.sum("n_tok").alias("__tn")
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    return (
        scores.crossJoin(F.broadcast(tot))
        .where(
            dec(F.col("score_int")) * dec(F.col("__tn"))
            > dec(F.col("__ts")) * dec(F.col("n_tok"))
            + F.lit(int(tau_micro)).cast("decimal(38,0)")
            * dec(F.col("n_tok"))
            * dec(F.col("__tn"))
        )
        .select(id_col, "score_int", "n_tok")
    )


def quality_filter_relative_split(
    df: DataFrame,
    flag,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
    tau_micro: int = 0,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """:func:`quality_filter_relative` for the self-trained case —
    weights from ``df``'s own ``flag`` / NOT-``flag`` split — fused into
    ONE corpus tokenize+hash pass via
    :func:`~janus_spark.datapipe.selection.dsir_flagged_scores`
    (mode="split").  Output is bit-identical to
    ``quality_filter_relative(df, nb_quality_weights(df.where(flag),
    df.where(~flag)))``: same exact-integer counts, verbatim float
    weight expression, same decimal(38,0) decision (optimization guide
    §2.4/§4: one pass, nothing corpus-token-scale shuffles).

    ``pairs``: prebuilt materialized ``(id_col, __f, b, cnt)`` frame for
    exactly ``df``'s documents — see
    :func:`~janus_spark.datapipe.selection.dsir_flagged_scores`."""
    from janus_spark.datapipe.selection import dsir_flagged_scores

    _, scores = dsir_flagged_scores(
        df, flag, "split", text_col, id_col, n_buckets, scale, pairs=pairs
    )
    # scores stays LAZY (unlike quality_filter_relative's internal cut):
    # it derives from the fused pass's already-checkpointed pairs frame,
    # so the total and the split share that cut and ReuseExchange
    # dedupes the per-doc aggregate — no corpus re-scan, one less job
    return _relative_cut(
        scores.select(id_col, "score_int", "n_tok"), id_col, tau_micro
    )


def quality_score_columns(
    text_col: str,
    weight_items: Sequence[tuple[int, int]],
    n_buckets: int = 4096,
    bias_micro: int = 0,
    tau_micro: int = 0,
    scale: int = 1_000_000,
):
    """Stateless per-ROW scorer of the column ``text_col``: the weight
    model rides the plan as a literal (:func:`token_weight_sum_sql`), one
    ``aggregate`` over the token array — no explode, no join, no
    groupBy, no state.  This is the streaming form of
    :func:`quality_scores`: a Structured Streaming pipeline can't run a
    bare per-doc groupBy in append mode, and it shouldn't — scoring is
    algebraically per-row, so the model (≤ n_buckets entries) rides the
    plan and the operator stays map-only at any scale (zero shuffles,
    zero streaming state; works identically on batch frames).

    Semantics match :func:`quality_scores` EXACTLY, including the edge
    the two forms could silently disagree on: a token whose bucket is
    absent from the weight table contributes to NEITHER ``score_int``
    NOR ``n_tok``.  Returns a dict of Columns
    ``{score_int, n_tok, pred, score}`` to splat into a ``select``.
    """
    from janus_spark.datapipe.exprcache import cached_expr, qident

    agg = cached_expr(token_weight_sum_sql(qident(text_col), weight_items, n_buckets))
    score_int = agg["s"]
    n_tok = agg["n"]
    pred = (n_tok > 0) & (
        score_int + F.lit(int(bias_micro)) * n_tok > F.lit(int(tau_micro)) * n_tok
    )
    score = F.when(
        n_tok > 0,
        score_int.cast("double") / (F.lit(float(scale)) * n_tok.cast("double")),
    )
    return {
        "score_int": score_int.alias("score_int"),
        "n_tok": n_tok.alias("n_tok"),
        "pred": pred.alias("pred"),
        "score": score.alias("score"),
    }


def weight_lookup_sql(
    weight_items: Sequence[tuple[int, int]], n_buckets: int, bucket: str
) -> str:
    """SQL text of the weight a ``(b, w)`` model gives the bucket
    expression ``bucket`` (in ``[0, n_buckets)``), NULL where the model
    has no weight for it.  The model rides the plan as ONE fixed-width
    binary literal (space-padded decimal cells), and a lookup is a byte
    slice and a cast: O(1) per token — a STRING literal would not do, its
    substring walks the characters up to the offset — and analysis and
    optimization see a single leaf.  An ``array(…)`` of 4096 literals
    costs about 125 ms of analysis per use, and even folded to one array
    literal about 90 ms of optimization.

    Bucket ids must be distinct and in ``[0, n_buckets)``: a repeated id
    would silently keep its last weight, a negative one would fill a cell
    counted from the end."""
    n_buckets = int(n_buckets)
    if len(weight_items) > n_buckets:
        raise ValueError("more weight entries than buckets")
    cells = [""] * n_buckets
    for b, w in weight_items:
        b = int(b)
        if not 0 <= b < n_buckets:
            raise ValueError(f"bucket id {b} outside [0, {n_buckets})")
        if cells[b]:
            raise ValueError(f"duplicate bucket id {b}")
        cells[b] = str(int(w))
    width = max(1, *(len(c) for c in cells))
    packed = "".join(c.rjust(width) for c in cells).encode("ascii").hex()
    return (
        f"try_cast(CAST(substring(X'{packed}', CAST({bucket} AS INT) * {width} "
        f"+ 1, {width}) AS STRING) AS BIGINT)"
    )


def token_weight_sum_sql(
    text: str,
    weight_items: Sequence[tuple[int, int]],
    n_buckets: int,
    finish: str | None = None,
) -> str:
    """SQL text of a document's quality sums under a ``(b, w)`` model:
    ``aggregate`` over the document's clean tokens of
    ``struct(s, n)`` — ``s`` the BIGINT sum of the token buckets'
    weights (``shared_hash64 % n_buckets``, looked up by
    :func:`weight_lookup_sql`), ``n`` the number of tokens whose bucket
    HAS a weight.  A token whose bucket is absent from the model adds to
    neither, exactly as :func:`quality_scores`' weights join drops it.
    ``finish`` is an optional final lambda body over ``acc`` (the
    struct); without one the struct itself is the value."""
    from janus_spark.datapipe.dedup import shared_hash64_spark_sql
    from janus_spark.datapipe.text import clean_tokens_sql

    bucket = f"{shared_hash64_spark_sql('t')} % {int(n_buckets)}"
    lookup = (
        f"transform({clean_tokens_sql(text)}, "
        f"t -> {weight_lookup_sql(weight_items, n_buckets, bucket)})"
    )
    step = (
        "named_struct('s', acc.s + coalesce(w, 0L), "
        "'n', acc.n + CASE WHEN w IS NULL THEN 0L ELSE 1L END)"
    )
    fin = "" if finish is None else f", acc -> {finish}"
    return (
        f"aggregate({lookup}, named_struct('s', 0L, 'n', 0L), "
        f"(acc, w) -> {step}{fin})"
    )


def quality_stream_scores(
    stream: DataFrame,
    weight_items: Sequence[tuple[int, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    bias_micro: int = 0,
    tau_micro: int = 0,
    scale: int = 1_000_000,
) -> DataFrame:
    """Continuous quality classification: apply
    :func:`quality_score_columns` to a (streaming or batch) frame —
    append-mode safe (stateless map-only select), emits
    ``(id, score_int, n_tok, pred)`` per document as it arrives.  Train
    weights offline with :func:`nb_quality_weights` and pass
    ``[(b, w), ...]`` (a bounded model-sized collect — ≤ n_buckets
    rows)."""
    cols = quality_score_columns(
        text_col, weight_items, n_buckets, bias_micro, tau_micro, scale
    )
    return stream.select(
        F.col(id_col), cols["score_int"], cols["n_tok"], cols["pred"]
    )


# Rae et al. 2021 (Gopher), Table A1: the published stopword presence
# list for the heuristic quality rules.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _grams_sql(toks: str, k: int) -> str:
    """SQL text for the k-gram array over a token-array expression —
    the zip-against-shifts form (see :func:`word_shingles` for why the
    index-lambda form is O(n) re-evaluations per row), WITHOUT the
    distinct (gopher's repetition stats need the multiset)."""
    n = f"size({toks})"
    acc = toks
    for j in range(1, k):
        shifted = f"slice({toks}, {j + 1}, greatest({n} - {j}, 1))"
        acc = f"zip_with({acc}, {shifted}, (a, b) -> concat(a, ' ', b))"
    return f"filter({acc}, x -> x IS NOT NULL)"


def _gram_run_stats_sql(grams: str) -> str:
    """SQL text for the multiset statistics of a string-array expression,
    computed IN-ARRAY (no explode, no shuffle): ``struct(maxrun, dup,
    n)`` where ``maxrun`` is the modal element's multiplicity, ``dup``
    the sum of multiplicities of elements occurring ≥ 2 times, and ``n``
    the array length.  One ``array_sort`` + one linear run-length scan
    per row — equal runs of the sorted array are exactly the per-element
    occurrence counts, so this reproduces the explode → groupBy counts
    bit-for-bit while staying a narrow expression (O(n log n) per doc,
    bounded by doc length, never a corpus-scale shuffle).

    SQL text rather than Column API: the tree is ~100 nodes and was
    rebuilt through Py4J on every call (see exprcache)."""
    zero = (
        "named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), "
        "'maxrun', CAST(0 AS BIGINT), 'dup', CAST(0 AS BIGINT), "
        "'n', CAST(0 AS BIGINT))"
    )
    run = (
        "CASE WHEN acc.prev IS NULL OR acc.prev != x THEN CAST(1 AS BIGINT) "
        "ELSE acc.run + CAST(1 AS BIGINT) END"
    )
    step = (
        f"named_struct('prev', x, 'run', {run}, "
        f"'maxrun', greatest(acc.maxrun, {run}), "
        f"'dup', acc.dup + CASE WHEN {run} = 2 THEN CAST(2 AS BIGINT) "
        f"WHEN {run} > 2 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, "
        f"'n', acc.n + CAST(1 AS BIGINT))"
    )
    fin = "named_struct('maxrun', acc.maxrun, 'dup', acc.dup, 'n', acc.n)"
    return (
        f"aggregate(array_sort({grams}), {zero}, (acc, x) -> {step}, "
        f"acc -> {fin})"
    )


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tok: int = 50,
    max_tok: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    top2_max: tuple[int, int] = (1, 5),
    dup5_max: tuple[int, int] = (3, 10),
    min_stopwords: int = 2,
    stopwords: Sequence[str] = GOPHER_STOPWORDS,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Heuristic quality rules — the published Gopher recipe (Rae et al.
    2021 "Scaling Language Models", appendix A1), the rule-based
    complement of the trained classifier: document length bounds, mean
    word length bounds, top-2-gram repetition cap, within-doc
    duplicate-5-gram cap, and stopword presence.

    Exactness discipline: every emitted column is an exact integer and
    every rule is an integer comparison — the fraction caps are rationals
    ``(num, den)`` applied cross-multiplied (``2·top2·den < n_tok·num``),
    so the keep/reject split is bit-identical across engines.  Mean word
    length bounds become ``min·n ≤ chars ≤ max·n``.

    Returns per document: ``(id, n_tok, word_chars, top2_count,
    dup5_instances, n5, stop_hits, pred)`` where ``top2_count`` is the
    occurrence count of the doc's modal 2-gram, ``dup5_instances`` the
    number of 5-gram instances whose gram repeats within the doc, and
    ``stop_hits`` the number of DISTINCT list stopwords present.

    Plan shape (100 TB): the whole operator is map-only Column algebra —
    ZERO shuffles.  The two n-gram repetition modes are per-DOCUMENT
    multiset statistics, so they never needed a corpus-wide shuffle: each
    doc's gram array is sorted in place and scanned once for run lengths
    (``_gram_run_stats_sql``), replacing the r8 explode → groupBy(id, gram)
    → groupBy(id) → join-back plan (4 exchanges of corpus-token-scale
    rows plus an eager tokenization checkpoint) with a narrow projection
    (optimization guide §2.4: remove shuffles outright).  Identical
    output by construction: a sorted multiset's run lengths ARE its
    per-gram occurrence counts.

    ``keep_cols``: additional ``df`` columns carried through unchanged —
    lets a caller filter the corpus on ``pred`` directly
    (``gopher_quality(docs, keep_cols=docs.columns).where("pred")``)
    instead of paying a semi join back onto ``df``, since the operator
    is now a narrow projection of its input rows."""
    from janus_spark.datapipe.exprcache import cached_expr, sql_str
    from janus_spark.datapipe.text import clean_tokens

    # Three narrow projections, each reusing the previous one's columns:
    # CollapseProject keeps a produced column that the consumer references
    # more than once (or that is non-cheap) as a real projection boundary,
    # so the token array is built ONCE per row and each run-stats
    # aggregate is evaluated ONCE (measured: inlining the token expression
    # re-evaluated it per consumer, ~1.6× slower end-to-end).
    #
    # The statistics columns are built as cached SQL text (exprcache):
    # the run-length trees cost ~1 s of Py4J-bound driver time per
    # construction in Column-API form, paid on every call — the gate
    # oracles pin the SQL spelling equal to the former Column form.
    extra = [c for c in keep_cols if c != id_col]
    base = df.select(
        F.col(id_col), *extra, clean_tokens(text_col).alias("__toks")
    )
    t2n, t2d = (int(x) for x in top2_max)
    d5n, d5d = (int(x) for x in dup5_max)
    sw = ", ".join(sql_str(s) for s in stopwords)
    mid = base.select(
        F.col(id_col),
        *extra,
        cached_expr("CAST(size(__toks) AS BIGINT)").alias("n_tok"),
        cached_expr(
            "aggregate(__toks, CAST(0 AS BIGINT), (a, t) -> a + length(t))"
        ).alias("word_chars"),
        cached_expr(_gram_run_stats_sql(_grams_sql("__toks", 2))).alias("__s2"),
        cached_expr(_gram_run_stats_sql(_grams_sql("__toks", 5))).alias("__s5"),
        cached_expr(
            "CAST(size(array_intersect(array_distinct(__toks), "
            f"array({sw}))) AS BIGINT)"
        ).alias("stop_hits"),
    )
    out = mid.select(
        F.col(id_col),
        *extra,
        "n_tok",
        "word_chars",
        cached_expr("__s2.maxrun").alias("top2_count"),
        cached_expr("__s5.dup").alias("dup5_instances"),
        cached_expr("__s5.n").alias("n5"),
        "stop_hits",
    )
    # the rules as one cached SQL predicate: built from Column ops it was
    # ~50 Py4J-bound calls per construction
    pred = (
        f"n_tok >= {int(min_tok)} AND n_tok <= {int(max_tok)}"
        f" AND word_chars >= {int(min_mean_word_len)} * n_tok"
        f" AND word_chars <= {int(max_mean_word_len)} * n_tok"
        f" AND 2 * top2_count * {t2d} < n_tok * {t2n}"
        f" AND (n5 = 0 OR dup5_instances * {d5d} < n5 * {d5n})"
        f" AND stop_hits >= {int(min_stopwords)}"
    )
    return out.select("*", cached_expr(pred).alias("pred"))
