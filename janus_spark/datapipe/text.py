"""Text analysis operators for large-scale training-data pipelines:
tokenization, token counting, quality scoring, language ID, document
fingerprinting.  All native Spark expressions — no Python UDFs — so the
pipeline scales linearly with the scan (map-only, no shuffle).

The shared per-document transforms (:func:`normalize`,
:func:`clean_tokens`) have one spelling, SQL text (``normalize_sql``,
``clean_tokens_sql``), and their builders take a column NAME and return
the cached parse (see exprcache); the SQL forms also compose into larger
expressions (n-gram decontamination, the frozen quality decision).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from janus_spark.datapipe.exprcache import cached_expr, qident, sql_str

PUNCT_CLASS = r"""[.,;:!?'"()\[\]{}<>/\\|@#$%^&*_+=~`-]"""

# tiny deterministic stopword markers per language (language-ID heuristic;
# the marker lists are the classifier, shared verbatim with the SQL oracle)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "y"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count; 0 for blank text."""
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(F.size(tokens(col)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: length, token count, punctuation
    ratio, stopword ratio, mean token length, and a composite score."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    punct = n_chars - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    toks = tokens(F.lower(c))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    mean_tok_len = F.when(n_tokens > 0, (F.length(F.regexp_replace(c, r"\s+", "")) / n_tokens))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    score = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(punct_ratio < 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0.05, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        punct_ratio.alias("q_punct_ratio"),
        stop_ratio.alias("q_stopword_ratio"),
        mean_tok_len.alias("q_mean_token_len"),
        score.alias("q_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language ID: score = number of marker-token hits per
    language over the token set; highest score wins (ties break by fixed
    language order), below min_hits → 'und'."""
    toks = tokens(F.lower(F.col(text_col)))

    def marker_hits(markers: list[str]) -> Column:
        # NB: the filter lambda must take exactly ONE param — F.filter
        # treats a second param as the element index
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    scores = {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best = F.lit("und")
    best_score = F.lit(0)
    # fixed priority: earlier langs win ties (iterate reversed so the
    # first language in LANG_MARKERS is applied last and wins equality)
    for lang in reversed(langs):
        s = scores[lang]
        cond = s > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    out = df.select("*", *[scores[lg].alias(f"lid_{lg}") for lg in langs])
    return out.withColumn("lang_pred", best)


def clean_tokens_sql(text: str) -> str:
    """SQL text of :func:`clean_tokens` over a text expression."""
    return f"filter(split(trim(lower({text})), '\\\\s+'), t -> t != '')"


def normalize_sql(text: str) -> str:
    """SQL text of :func:`normalize` over a text expression."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({text}), "
        f"{sql_str(PUNCT_CLASS)}, ''), {sql_str(chr(92) + 's+')}, ' '))"
    )


def normalize(text_col: str) -> Column:
    """Canonical text form of the column ``text_col``: lowercase,
    punctuation stripped, whitespace collapsed.  The basis for
    fingerprints and exact dedup."""
    return cached_expr(normalize_sql(qident(text_col)))


def clean_tokens(text_col: str) -> Column:
    """Whitespace tokens of the column ``text_col`` with empties dropped
    (blank text → empty list, not [''])."""
    return cached_expr(clean_tokens_sql(qident(text_col)))


def exploded_run_lengths(
    df: DataFrame, arr_col: str, keep: Sequence[str] = ("id",)
) -> DataFrame:
    """One row per run of equal values in the SORTED array column
    ``arr_col``: ``(*keep, v, cnt)`` — equal runs of a sorted array are
    exactly the per-element multiset counts, so ``explode →
    groupBy(id, v) → count`` collapses to a narrow per-row scan (no
    corpus-scale shuffle; the ``_gram_run_stats`` discipline).  Rows
    with an empty array emit no output rows, same as an explode of no
    tokens.

    TWO staged projections, not one Column expression: the run-end
    position scan (a filter over ``sequence(1, n)``) is referenced
    three times downstream (values, counts, shifted starts), and
    higher-order functions are interpreted per reference — no codegen
    subexpression elimination — so inlining it costs 3 linear scans per
    row.  Staging ``__ends`` as its own projection column makes the
    downstream references O(1) attribute reads, and CollapseProject
    will not re-inline a non-cheap expression used more than once.

    Both stage expressions are cached SQL text (exprcache): the Column
    form cost ~0.4 s of Py4J-bound driver time per construction."""
    arr = qident(arr_col)
    # 1-based positions where a run of equal values ends; sequence(1, 0)
    # would generate a DESCENDING [1, 0]: guard empties
    ends = (
        f"CASE WHEN size({arr}) = 0 THEN CAST(array() AS ARRAY<INT>) "
        f"ELSE filter(sequence(1, size({arr})), "
        f"i -> i = size({arr}) OR element_at({arr}, i) != element_at({arr}, i + 1)) END"
    )
    staged = df.select(*keep, arr_col, cached_expr(ends).alias("__ends"))
    starts = (
        "concat(array(0), slice(__ends, 1, greatest(size(__ends) - 1, 0)))"
    )
    pairs = (
        f"zip_with(transform(__ends, i -> element_at({arr}, i)), "
        f"zip_with(__ends, {starts}, (end, s) -> CAST(end - s AS BIGINT)), "
        "(v, c) -> named_struct('v', v, 'cnt', c))"
    )
    return staged.select(*keep, F.explode(cached_expr(pairs)).alias("__p")).select(
        *keep, F.col("__p.v").alias("v"), F.col("__p.cnt").alias("cnt")
    )


def doc_logprob(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Unigram language-model score per document: mean log p(token) under
    the corpus's own unigram distribution — the cheap LM-quality signal
    (very negative = rare-token soup; near zero = stopword boilerplate).

    Plan shape: explode → vocab count (one shuffle, map-side combined)
    → token⋈vocab equi-join on the word → per-doc mean (second shuffle
    on doc id).  The corpus total is a 1-row aggregate broadcast into
    the join, not a driver collect of the vocabulary."""
    words = df.select(F.col(id_col), F.explode(clean_tokens(text_col)).alias("word"))
    vocab = words.groupBy("word").agg(F.count("*").alias("wn"))
    total = vocab.agg(F.sum("wn").alias("tn"))
    scored = words.join(vocab, "word").crossJoin(F.broadcast(total))
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.avg(F.log(F.col("wn") / F.col("tn"))).alias("avg_logprob"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
) -> DataFrame:
    """Interpolated bigram language-model score per document — the
    context-sensitive upgrade of ``doc_logprob`` (CCNet-style perplexity
    filtering): for each adjacent token pair score
    ``p = λ·c(prev,cur)/c(prev) + (1−λ)·c(cur)/T`` under the corpus's own
    counts and report the per-doc mean log p (docs with < 2 tokens drop
    out).  Word-salad scores low even when every word is common; the
    unigram model cannot see that.

    Plan shape: bigrams are built map-side by zipping the token list
    against its shift (no positional self-join), then one corpus bigram
    count + one unigram count (both map-side combined), equi-joined back
    onto the occurrences, per-doc rollup.  The corpus total is a 1-row
    broadcast, not a collect."""
    toks = clean_tokens(text_col)
    n = F.size(toks)
    bgs = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(n, F.lit(1))),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        ),
        lambda s: s["cur"].isNotNull(),
    )
    # both exploded frames are multiply referenced (occ: bigram counts +
    # the scoring join; uni: totals + prev + cur lookups) — materialize
    # once so the tokenize/zip subtree isn't re-evaluated per reference
    occ = (
        df.select(F.col(id_col), F.explode(bgs).alias("bg"))
        .select(id_col, F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
        .localCheckpoint(eager=True)
    )
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("uc"))
        .localCheckpoint(eager=True)
    )
    tot = uni.agg(F.sum("uc").alias("tn"))
    bg = occ.groupBy("prev", "cur").agg(F.count("*").alias("bc"))
    scored = (
        occ.join(bg, ["prev", "cur"])
        .join(uni.select(F.col("w").alias("prev"), F.col("uc").alias("pc")), "prev")
        .join(uni.select(F.col("w").alias("cur"), F.col("uc").alias("cc")), "cur")
        .crossJoin(F.broadcast(tot))
    )
    p = F.lit(lam) * F.col("bc") / F.col("pc") + F.lit(1.0 - lam) * F.col("cc") / F.col("tn")
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg(F.log(p)), 6).alias("avg_logprob"),
    )


def repetition_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition signals — the classic boilerplate /
    generated-text filter: unique-token ratio and unique-bigram ratio
    (degenerate repetitive text → ratios near 0).  Map-only, all native
    array expressions.

    Bigrams are built by zipping the token list against itself shifted by
    one; zip pads the tail with NULL and ``concat`` propagates it, so one
    IS NOT NULL filter yields exactly n-1 bigrams.
    """
    toks = clean_tokens(text_col)
    n = F.size(toks)
    bigrams = F.filter(
        F.zip_with(toks, F.slice(toks, 2, F.greatest(n, F.lit(1))), lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )
    nb = F.size(bigrams)
    return df.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(1.0)).alias("uniq_token_ratio"),
        F.when(nb > 0, F.size(F.array_distinct(bigrams)) / nb).otherwise(F.lit(1.0)).alias("uniq_bigram_ratio"),
    )


def token_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document Shannon entropy (nats) of the token distribution —
    the distribution-sensitive repetition signal (uniq_token_ratio treats
    'a a a a b' and 'a b a b a' alike; entropy doesn't).  Low entropy at
    high token count = degenerate/boilerplate text.

    Using H = ln N − (Σ c·ln c)/N over per-doc token counts c, both
    aggregations are map-side combinable: explode → (doc, token) count →
    per-doc rollup, the same two-shuffle shape as doc_logprob."""
    words = df.select(F.col(id_col), F.explode(clean_tokens(text_col)).alias("word"))
    counts = words.groupBy(id_col, "word").agg(F.count("*").alias("c"))
    n = F.sum("c")
    return counts.groupBy(id_col).agg(
        n.cast("long").alias("n_tokens"),
        F.round(F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 6).alias("entropy"),
    )


def novelty_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document NOVELTY: the fraction of a doc's distinct k-shingles
    that no lower-id document contains — the marginal-contribution signal
    for incremental corpus growth (a crawl batch full of near-copies of
    already-ingested content scores ≈ 0 even when no single pair crosses
    a dedup threshold; ids double as ingest order).

    Plan: shingle explode → min-owner per shingle (ONE shuffle on the
    shingle, map-side combined) → owner counts per doc (a second, gram-
    DISTINCT-scale aggregate) → one doc-scale join onto per-doc shingle
    counts.  The former join-back of the owner table onto the full
    posting list (corpus-token-scale shuffle + a corpus-token groupBy)
    is gone: every shingle has exactly ONE owning doc, so the per-doc
    novelty numerator is just ``count(*) GROUP BY first_id`` over the
    owner table, and the denominator is ``size(sh)`` map-side (shingle
    arrays are distinct by construction, so the old ``count(*)`` over
    postings equals it row-for-row).  No pairwise comparison anywhere:
    cost is O(postings), not O(docs²), which is what makes a
    corpus-wide novelty sweep feasible where the Jaccard self-join is
    reserved for candidates.

    Float identity with the former avg() form: avg summed exact 0.0/1.0
    doubles — i.e. the owned count, integer-exact in double — and
    divided by the posting count, so ``owned/size`` over the same
    operands is the same IEEE division bit-for-bit.
    """
    from janus_spark.datapipe.dedup import word_shingles

    # deferred localCheckpoint: the shingle evaluation (interpreted
    # higher-order exprs) is the dominant cost and feeds BOTH the owner
    # aggregate and the per-doc size — materialize it once, not twice
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, shingle_k).alias("sh")
    ).localCheckpoint(eager=False)
    posts = sh.select("id", F.explode("sh").alias("gram"))
    owner = posts.groupBy("gram").agg(F.min("id").alias("first_id"))
    owned = owner.groupBy("first_id").agg(F.count("*").alias("__owned"))
    # size(sh) > 0 keeps exactly the docs the old explode kept (null or
    # empty shingle arrays produced no posting rows)
    per_doc = sh.select("id", F.size("sh").alias("__n")).where(F.col("__n") > 0)
    return (
        per_doc.join(owned, per_doc["id"] == owned["first_id"], "left")
        .select(
            F.col("id").alias(id_col),
            F.col("__n").cast("long").alias("n_shingles"),
            F.round(
                F.coalesce(F.col("__owned"), F.lit(0)).cast("double")
                / F.col("__n").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def corpus_report(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus profile — the telemetry every ingest batch gets
    before curation decisions: document and token volume, length stats,
    language spread, and the dominant language with its share (a source
    whose top-language share collapses usually changed its crawler, not
    its audience).

    Two map-side-combined aggregations (per (source, lang), then per
    source) + an argmax struct for the dominant language — no window
    sort, no collect; output is one row per source."""
    per_doc = df.select(
        F.col(group_col).alias("src"),
        F.col(lang_col).alias("lg"),
        F.size(clean_tokens(text_col)).alias("ntok"),
        F.length(F.col(text_col)).alias("nchr"),
    )
    by_lang = per_doc.groupBy("src", "lg").agg(
        F.count("*").alias("docs"),
        F.sum("ntok").alias("toks"),
        F.sum("nchr").alias("chrs"),
    )
    # argmax by (docs, lang): deterministic dominant language per source
    return (
        by_lang.groupBy("src")
        .agg(
            F.sum("docs").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.round(F.sum("chrs") / F.sum("docs"), 6).alias("avg_chars"),
            F.count("*").cast("long").alias("n_langs"),
            F.max(F.struct(F.col("docs"), F.col("lg")))["lg"].alias("top_lang"),
            F.round(F.max(F.struct(F.col("docs"), F.col("lg")))["docs"] / F.sum("docs"), 6).alias(
                "top_lang_share"
            ),
        )
        .withColumnRenamed("src", group_col)
    )


def word_freq(df: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Corpus-level top-k word frequency (vocabulary head).  Explode →
    partial-aggregated count (map-side combine) → global top-k; ties break
    on the word so the result is deterministic.  The explode inflates rows
    ~n_tokens× but never materializes: it feeds straight into a hash
    aggregate."""
    words = df.select(F.explode(clean_tokens(text_col)).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping fixed-token training chunks.
    Start positions step by ``chunk_tokens - overlap`` and stop at
    ``len - overlap``, which guarantees (a) every token lands in at least
    one chunk and (b) no trailing chunk is fully contained in its
    predecessor.  Returns (id, chunk_id 0-based, chunk_text, n_tokens).

    Scale: map-only — posexplode feeds downstream operators directly; a
    doc expands to ceil(len/step) rows, never materialized on the driver.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    # tokens materialized as a column first: a lambda over an embedded
    # expression would re-tokenize the doc once per chunk
    base = df.select(F.col(id_col).alias("id"), clean_tokens(text_col).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(step))
    chunks = F.transform(starts, lambda s: F.array_join(F.slice(toks, s, chunk_tokens), " "))
    return (
        base.select("id", F.posexplode(chunks).alias("chunk_id", "chunk_text"))
        .where(F.col("chunk_text") != "")
        .select(
            "id", "chunk_id", "chunk_text",
            token_count(F.col("chunk_text")).cast("long").alias("n_tokens"),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprint: md5 over the normalized text (md5 is available
    identically in Spark and DuckDB, making the op oracle-checkable), plus
    a 64-bit xxhash64 convenience fingerprint."""
    norm = normalize(text_col)
    return df.select(
        id_col,
        F.md5(norm).alias("fp_md5"),
        F.xxhash64(norm).alias("fp_xx64"),
    )


def pack_token_stream(
    df: DataFrame,
    budget_tokens: int = 2048,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-shard packing offsets: place every document into a
    deterministic concatenated token stream and report where it lands.

    Documents are sharded by a hash of their id (shards are independent
    training files), ordered within each shard by the same hash (a
    stable, seed-free shuffle), and laid out back-to-back; ``seq_id`` is
    the fixed-size training sequence the document STARTS in and
    ``straddles`` flags documents crossing a sequence boundary (packed
    training chops those at token granularity).  True first-fit bin
    packing is inherently sequential (each bin's fill depends on every
    earlier decision); the concatenate-then-chop layout is the form
    production packing uses and the only one that distributes.

    Returns (id, shard, n_tokens, start_offset, end_offset, seq_id,
    straddles).

    Scale: one shuffle keyed on shard for the window pass; shards are
    independent so parallelism = n_shards × window throughput — size
    n_shards to the cluster, not to 8."""
    from pyspark.sql.window import Window as W

    h = F.md5(F.col(id_col).cast("string"))
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(clean_tokens(text_col)).alias("n_tokens"),
        h.alias("hk"),
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_shards).alias("shard"),
    )
    w = W.partitionBy("shard").orderBy("hk")
    start = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
    )
    out = base.withColumn("start_offset", start).withColumn(
        "end_offset", F.col("start_offset") + F.col("n_tokens")
    )
    return out.select(
        "id",
        "shard",
        "n_tokens",
        "start_offset",
        "end_offset",
        F.floor(F.col("start_offset") / budget_tokens).alias("seq_id"),
        (
            (F.col("end_offset") > (F.floor(F.col("start_offset") / budget_tokens) + 1) * budget_tokens)
            & (F.col("n_tokens") > 0)
        ).alias("straddles"),
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame | None = None,
    vocab_size: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document vocabulary coverage / OOV rate against a token vocab.

    ``vocab``: a single-column ``word`` DataFrame (e.g. a tokenizer's
    wordlist).  ``vocab=None`` induces it from the corpus itself — the
    top-``vocab_size`` tokens by frequency (ties → word asc,
    deterministic), i.e. the head a wordpiece trainer would start from.
    High OOV rate flags encoding junk, rare-language or garbled docs
    that will fragment into bytes at tokenization time.

    Plan: the vocab is tiny → broadcast; per-doc aggregation is one
    shuffle on doc id with map-side combine.  Returns
    ``(id_col, n_tokens, n_oov, oov_rate)`` for docs with ≥1 token.
    """
    if vocab is None:
        vocab = word_freq(df, text_col=text_col, k=vocab_size).select("word")
    words = df.select(F.col(id_col).alias("id"), F.explode(clean_tokens(text_col)).alias("word"))
    flagged = words.join(
        F.broadcast(vocab.withColumn("__in_v", F.lit(1))), "word", "left"
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 9).alias("oov_rate"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 200,
    min_rank: int = 5,
) -> DataFrame:
    """Zipf power-law fit of the corpus token distribution: OLS slope of
    ``ln f ~ ln rank`` over ranks [min_rank, top_k] (the head deviates
    from the power law, hence min_rank).  A healthy natural corpus fits
    slope ≈ −1; crawl junk / template spam shows up as a flat or broken
    slope — the single-number distributional health check next to
    token_entropy's per-document one.

    One explode+count aggregation, one top-k window, one tiny
    regression aggregate (regr_slope/regr_intercept/regr_r2 are
    order-free enough at ~200 rows to round at 6 dp).
    Returns one row: (n_ranks, slope, intercept, r2).
    """
    from pyspark.sql.window import Window as W

    counts = (
        df.select(F.explode(clean_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = counts.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("n"), F.asc("word")))
    ).where((F.col("rank") >= min_rank) & (F.col("rank") <= top_k))
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


def char_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    k: int | None = None,
) -> DataFrame:
    """Adjacent character-pair frequencies within words across the
    corpus — the counting step of BPE tokenizer training (the first
    merge candidate table).  One explode of (word, offset) positions,
    one grouped count; no UDFs (substring over a position sequence), so
    the scan is a single map+aggregate at any corpus size.

    Returns (pair, n) — the top ``k`` by (n desc, pair) when given.
    """
    words = df.select(F.explode(clean_tokens(text_col)).alias("w")).where(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"), "w"
    ).select(F.expr("substring(w, i, 2)").alias("pair"))
    out = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    if k is not None:
        from pyspark.sql.window import Window as W

        out = (
            out.withColumn(
                "__r", F.row_number().over(W.orderBy(F.desc("n"), F.asc("pair")))
            )
            .where(F.col("__r") <= k)
            .drop("__r")
        )
    return out


def bpe_learn_merges(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    sep: str = "\x00",
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges over the corpus: repeatedly count
    adjacent SYMBOL pairs (symbols start as characters, separated by
    ``sep``) and merge the most frequent pair everywhere (ties: lexical
    order, deterministic).  Each merge is ONE distributed
    count+regexp_replace pass over the working column — k merges = k
    passes, which is exactly how distributed BPE trainers work; the
    corpus is never collected.

    Returns the learned merge list [(left, right), ...].
    """
    import re as _re

    sep_re = _re.escape(sep)
    work = df.select(F.explode(clean_tokens(text_col)).alias("w")).select(
        # (?<=.) splits after every char — including the last, so drop
        # the trailing empty element before joining
        F.concat_ws(sep, F.array_remove(F.split(F.col("w"), r"(?<=.)"), "")).alias("s")
    )
    work = work.localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        sym = F.split(F.col("s"), sep_re)
        pair_col = F.transform(
            F.sequence(F.lit(1), F.size(sym) - 1),
            lambda i: F.concat(
                F.element_at(sym, i), F.lit(sep), F.element_at(sym, i + 1)
            ),
        )
        counts = (
            work.where(F.size(sym) >= 2)
            .select(F.explode(pair_col).alias("p"))
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("p"))
            .limit(1)
            .collect()
        )
        if not counts:
            break
        left, right = counts[0]["p"].split(sep)
        merges.append((left, right))
        pat = _re.escape(left + sep + right)
        # Java replacement-string escaping: backslash and dollar are special
        repl = (left + right).replace("\\", "\\\\").replace("$", "\\$")
        work = work.withColumn(
            "s", F.regexp_replace(F.col("s"), pat, repl)
        ).localCheckpoint()
    return merges
