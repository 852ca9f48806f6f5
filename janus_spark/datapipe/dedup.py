"""Deduplication operators for 100 TB-scale corpora.

Five strategies, all shuffle-conscious:

- exact:     hash-groupBy on normalized text (one shuffle on a 32-byte key)
- minhash:   word-shingle MinHash + banded LSH (candidate generation joins
             only within identical band buckets — no O(n²) pair scan)
- simhash:   32-bit SimHash + banded hamming candidates
- ngram:     exact n-gram Jaccard verification on candidate pairs
- embedding: cosine near-duplicate pairs over an embedding column via the
             similarity module's LSH buckets

Everything is built from native Column expressions (higher-order array
functions + xxhash64) — no Python UDFs, deterministic across runs.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from janus_spark.datapipe.text import normalize, tokens
from janus_spark.store import commit, history, read_store

# a minhash store commit writes one parquet file per this many signature rows
STORE_APPEND_ROWS = 250_000


# ---------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per identical normalized text.  Returns
    (keep_id, dup_count).  Scale: one shuffle keyed on md5, map-side
    partial aggregation."""
    key = F.md5(normalize(text_col))
    return (
        df.select(F.col(id_col).alias("id"), key.alias("key"))
        .groupBy("key")
        .agg(F.min("id").alias("keep_id"), F.count("id").alias("dup_count"))
    )


def contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose normalized
    text exactly matches any benchmark document (the pre-training hygiene
    step — eval data must not leak into the training set).

    Returns (id, fp_md5) for contaminated rows only.  Scale: the benchmark
    side is tiny relative to the corpus → distinct its fingerprints and
    broadcast, so the corpus scan is map-only with no shuffle."""
    fp = F.md5(normalize(text_col))
    bench_fp = benchmark.select(F.md5(normalize(bench_text_col)).alias("fp_md5")).distinct()
    return (
        df.select(F.col(id_col).alias("id"), fp.alias("fp_md5"))
        .join(F.broadcast(bench_fp), "fp_md5", "semi")
        .select("id", "fp_md5")
    )


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """N-gram-overlap decontamination — the industry-standard form (exact
    match only catches verbatim copies; benchmark questions usually appear
    *embedded* in crawled pages).  Flags corpus docs sharing any
    normalized word n-gram with the benchmark; returns (id, n_hits) where
    n_hits counts the doc's distinct grams that appear in the benchmark.

    Scale: the benchmark gram set is small → broadcast; the corpus side is
    explode → broadcast-semi-join → re-aggregate by doc id (one shuffle on
    id, count pre-combined map-side).  NB ``F.sequence(1, stop)`` would
    DESCEND for stop<1, so short docs are guarded to an empty gram list.
    """
    from janus_spark.datapipe.exprcache import cached_expr, qident
    from janus_spark.datapipe.text import clean_tokens_sql, normalize_sql

    def grams(name: str) -> Column:
        # tokenize the NORMALIZED text: benchmark phrases embedded in pages
        # differ in case/punctuation ("France?") — grams must not.
        # zip-against-shifts, NOT slice-per-index: an expression inside a
        # higher-order lambda re-evaluates per element (the slice form
        # re-tokenized the doc O(n_tokens) times per row); the token array
        # is let-bound (single-element transform) so its n+1 top-level
        # references cost ONE tokenize.  Cached SQL text: the n=8 Column
        # tree cost ~0.6 s of Py4J-bound driver time per construction.
        body = f"{_shifted_grams_sql('t', n)}"
        body = (
            f"CASE WHEN size(t) >= {n} "
            f"THEN array_distinct(filter({body}, x -> x IS NOT NULL)) "
            "ELSE CAST(array() AS ARRAY<STRING>) END"
        )
        toks = clean_tokens_sql(normalize_sql(qident(name)))
        return cached_expr(f"element_at(transform(array({toks}), t -> {body}), 1)")

    bench_grams = (
        benchmark.select(F.explode(grams(bench_text_col)).alias("gram")).distinct()
    )
    doc_grams = df.select(
        F.col(id_col).alias("id"), F.explode(grams(text_col)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram", "semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )


# ------------------------------------------------------------ shared hash
def shared_hash64(col: Column, seed: int | None = None) -> Column:
    """60-bit hash from the top 15 hex chars of md5 — the cross-engine
    hash family: DuckDB reproduces it exactly as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``, which is what makes the
    MinHash/SimHash gates oracle-EXACT.  ``seed`` prepends ``"{seed}:"``
    for independent family members.  xxhash64 stays the default for
    production paths (one JVM op vs a full md5); the algorithms are
    hash-agnostic, so the gates exercising this family verify the same
    banding/bucketing plans."""
    c = col if seed is None else F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shared_hash64_sql(expr: str, seed: int | None = None) -> str:
    """The DuckDB spelling of ``shared_hash64`` (oracle generation)."""
    e = expr if seed is None else f"'{seed}:' || {expr}"
    return f"('0x' || substr(md5({e}), 1, 15))::BIGINT"


def shared_hash64_spark_sql(expr: str, seed: int | None = None) -> str:
    """The Spark SQL spelling of ``shared_hash64`` — for the cached
    SQL-text construction paths (exprcache); mirrors the Column form
    token for token."""
    e = expr if seed is None else f"concat('{seed}:', {expr})"
    return f"CAST(conv(substring(md5({e}), 1, 15), 16, 10) AS BIGINT)"


# --------------------------------------------------------------- shingles
def word_shingles_sql(text: str, k: int = 3) -> str:
    """SQL text for :func:`word_shingles` over a text expression."""
    toks = f"split(trim(lower({text})), '\\\\s+')"
    acc = "t"
    for j in range(1, k):
        shifted = f"slice(t, {j + 1}, greatest(size(t) - {j}, 1))"
        acc = f"zip_with({acc}, {shifted}, (a, b) -> concat(a, ' ', b))"
    body = (
        f"CASE WHEN size(t) < {k} THEN array(concat_ws(' ', t)) "
        f"ELSE array_distinct(filter({acc}, x -> x IS NOT NULL)) END"
    )
    return f"element_at(transform(array({toks}), t -> {body}), 1)"


def word_shingles(text_col: str, k: int = 3) -> Column:
    """Distinct k-word shingles of the column ``text_col`` (arrays stay
    JVM-side).

    Built by zipping the token array against its k−1 shifts instead of
    slicing per index: an expression subtree referenced INSIDE a
    higher-order lambda is re-evaluated per element (the index-lambda
    form re-tokenized the text O(n) times per row — measured 4.5×
    slower).  The token array is let-bound (a single-element
    ``transform`` evaluates it ONCE per row and hands it to the body as
    a lambda variable — higher-order lambdas get no subexpression
    elimination), so its k+2 references (size, zip base, shifts,
    short-doc branch) cost ONE tokenize, not k+2.  The zip pads the tail
    with NULL and ``concat`` propagates it, so one IS NOT NULL filter
    leaves exactly n−k+1 shingles."""
    from janus_spark.datapipe.exprcache import cached_expr, qident

    return cached_expr(word_shingles_sql(qident(text_col), k))


# ---------------------------------------------------------------- minhash
def minhash_signature_sql(shingles: str, num_perm: int = 16, hash_fn: str = "xxhash64") -> str:
    """SQL text for :func:`minhash_signature` over a shingle-array
    expression: per permutation i, ``shared_hash64_spark_sql`` seeded
    with i for the md5 family, two-arg ``xxhash64(s, i)`` otherwise."""

    def perm_min(i: int) -> str:
        if hash_fn == "md5":
            h = shared_hash64_spark_sql("s", i)
        else:
            h = f"xxhash64(s, {i})"
        return f"array_min(transform({shingles}, s -> {h}))"

    return "array(" + ", ".join(perm_min(i) for i in range(num_perm)) + ")"


def minhash_signature(
    shingles: str, num_perm: int = 16, hash_fn: str = "xxhash64"
) -> Column:
    """MinHash signature of the shingle-array column ``shingles``: per
    permutation i, min over shingles of hash(shingle, i).  ``hash_fn``:
    "xxhash64" (default, fastest) or "md5" (the cross-engine family
    ``shared_hash64`` — used by the oracle-exact gate)."""
    from janus_spark.datapipe.exprcache import cached_expr, qident

    return cached_expr(minhash_signature_sql(qident(shingles), num_perm, hash_fn))


def _minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
    hash_fn: str,
) -> DataFrame:
    """(id, sh, band, bh) rows: shingle set + exploded LSH band keys.

    Spreads the input over the full core budget first — signature
    construction is CPU-dense and must not inherit a handful-of-row-
    groups file layout."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles(text_col, shingle_k).alias("sh"),
    )
    return _banded_from_shingles(sh, num_perm, bands, hash_fn)


def _band_keys_sql(sig: str, num_perm: int, bands: int, hash_fn: str) -> str:
    """SQL text of the per-band LSH keys of a signature expression:
    ``array(key_0, …, key_{bands-1})`` where key_b joins the band's
    ``num_perm // bands`` minima with commas — the raw string for the md5
    family (so the DuckDB oracle reproduces the buckets), its xxhash64
    otherwise.  The signature is let-bound, so it is evaluated once."""
    rows = num_perm // bands

    def band_key(b: int) -> str:
        parts = ", ".join(f"CAST(g[{b * rows + r}] AS STRING)" for r in range(rows))
        concat = f"concat_ws(',', {parts})"
        return concat if hash_fn == "md5" else f"xxhash64({concat})"

    keys = ", ".join(band_key(b) for b in range(bands))
    return f"element_at(transform(array({sig}), g -> array({keys})), 1)"


def _band_keys(sh: str, num_perm: int, bands: int, hash_fn: str) -> Column:
    """The per-band LSH key array of the shingle-array column ``sh``."""
    from janus_spark.datapipe.exprcache import cached_expr, qident

    sig = minhash_signature_sql(qident(sh), num_perm, hash_fn)
    return cached_expr(_band_keys_sql(sig, num_perm, bands, hash_fn))


def _banded_from_shingles(
    sh: DataFrame, num_perm: int, bands: int, hash_fn: str
) -> DataFrame:
    """(id, sh, band, bh) from a pre-built (id, sh) shingle frame — split
    out so callers can collapse exact duplicates BEFORE paying for
    signature construction (the CPU-dense stage)."""
    keys = _band_keys("sh", num_perm, bands, hash_fn)
    return sh.select("id", "sh", F.posexplode(keys).alias("band", "bh"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (a < b) with exact shingle-Jaccard >= threshold.

    Pipeline: shingle → signature → band buckets → self-join within
    buckets (the ONLY join, and it is equi-join on (band, band_hash) so it
    shuffles once and never scans cross-bucket pairs) → exact verify via
    array_intersect/array_union.

    ``hash_fn="md5"`` switches to the cross-engine ``shared_hash64``
    family and uses the raw signature concat as the band key (so the
    DuckDB oracle reproduces buckets exactly); the default re-hashes the
    band to a compact 8-byte shuffle key.

    ``collapse_exact=True`` (default) groups docs with identical shingle
    sets first and runs signature + band join over one representative per
    group (``_collapse_shingle_groups``).  Provably the same output:
    identical sets share every band key (always collide, J = 1), and a
    member pair collides in a band iff its representatives do — so even
    the LSH's false-negative behavior is preserved pair-for-pair.  On a
    duplicate-heavy corpus this removes the (copies)² term from every
    band bucket AND skips signature construction for the copies.

    The banded frame is materialized (localCheckpoint) before the
    self-join: shingle+signature construction dominates the whole
    pipeline and Catalyst would re-evaluate it per join side (measured
    ~2× end-to-end; cluster equivalent: DISK_ONLY persist or a staged
    parquet write of the signature table — which production dedup keeps
    around anyway for incremental runs).
    """
    membership = reps = None
    if collapse_exact:
        sh = (
            df.repartition(df.sparkSession.sparkContext.defaultParallelism)
            .select(
                F.col(id_col).alias("id"), word_shingles(text_col, shingle_k).alias("sh")
            )
            .localCheckpoint(eager=True)
        )
        membership, reps = _collapse_shingle_groups(sh)
        rep_sh = sh.join(reps.select("id"), "id")
        banded = _banded_from_shingles(rep_sh, num_perm, bands, hash_fn).localCheckpoint(
            eager=True
        )
    else:
        banded = _minhash_banded(
            df, text_col, id_col, num_perm, bands, shingle_k, hash_fn
        ).localCheckpoint(eager=True)
    # candidates shuffle ids only: the shingle-set array (the wide column)
    # would otherwise ride every band replica through the join + dedup —
    # it joins back once per side from the per-id frame after the (a, b)
    # set is final
    shingle_sets = banded.select("id", "sh").dropDuplicates(["id"])
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), on=["band", "bh"], how="inner")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
        .join(shingle_sets.select(F.col("id").alias("a"), F.col("sh").alias("sha")), "a")
        .join(shingle_sets.select(F.col("id").alias("b"), F.col("sh").alias("shb")), "b")
    )
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size(F.array_union(F.col("sha"), F.col("shb")))
    out = (
        cand.withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("a", "b", "jaccard")
    )
    if collapse_exact:
        out = _expand_group_pairs(out, membership, reps, ["jaccard"]).unionByName(
            _within_group_pairs(membership, [F.lit(1.0).alias("jaccard")])
        )
    return out


# ---------------------------------------------------------------- simhash
def simhash32(text_col: Column, hash_fn: str = "xxhash64") -> Column:
    """32-bit SimHash over word tokens (sign-vote per bit).  ``hash_fn``:
    "xxhash64" (default) or "md5" (cross-engine ``shared_hash64`` — the
    oracle-exact gate's family; votes read bits 0..31 of the 60-bit
    value)."""
    return _simhash32_from_tokens(F.array_distinct(tokens(F.lower(text_col))), hash_fn)


def _simhash32_from_tokens(toks: Column, hash_fn: str = "xxhash64") -> Column:
    """SimHash from a pre-built distinct-token array — split out so
    callers can collapse exact duplicates (identical token sets) before
    paying for the 32-bit vote aggregate."""
    if hash_fn == "md5":
        hashes = F.transform(toks, lambda t: shared_hash64(t))
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # ONE aggregate with a 32-slot accumulator, not 32 aggregates: the
    # ``hashes`` expression is a collection argument, so per-bit
    # aggregates re-tokenized + re-hashed the doc 32× per row (measured
    # 4.6×/10× slower for xxhash64/md5).  NB merge lambdas must take
    # exactly TWO params (acc, elem) — a third binds the element index.
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])
    zero = F.array_repeat(F.lit(0).cast("long"), 32)
    votes = F.aggregate(
        hashes,
        zero,
        lambda acc, hv: F.zip_with(
            acc, masks, lambda a, m: a + F.when(hv.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    return F.aggregate(
        F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    collapse_exact: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs with hamming(simhash) <= max_hamming.
    Banding: 4 bytes of the 32-bit hash; pairs agreeing on >= 1 band are
    candidates (guaranteed to include all pairs with hamming <= 3).

    ``collapse_exact=True`` groups docs with identical DISTINCT-TOKEN
    sets (simhash is a function of that set), computes the signature and
    band join over one representative per group, and expands pairs back
    through membership (within-group hamming = 0; empty token sets get a
    real signature and pair like any other, so they are included).  Same
    output as the uncollapsed join, pair-for-pair.

    The banded frame is materialized before the self-join (tokenize-once;
    see ``minhash_lsh_pairs``)."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    membership = reps = None
    if collapse_exact:
        tk = df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(tokens(F.lower(F.col(text_col)))).alias("sh"),
        ).localCheckpoint(eager=True)
        membership, reps = _collapse_shingle_groups(tk)
        base = (
            tk.join(reps.select("id"), "id")
            .select("id", _simhash32_from_tokens(F.col("sh"), hash_fn).alias("sh"))
        )
    else:
        base = df.select(
            F.col(id_col).alias("id"), simhash32(F.col(text_col), hash_fn).alias("sh")
        )
    banded = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.shiftrightunsigned(F.col("sh"), 8 * b).bitwiseAND(F.lit(255)).alias("bh"))
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.bh").localCheckpoint(eager=True)
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), on=["band", "bh"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"), F.col("l.sh").alias("sa"), F.col("r.sh").alias("sb"))
        .dropDuplicates(["a", "b"])
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    out = cand.withColumn("hamming", ham).where(ham <= max_hamming).select("a", "b", "hamming")
    if collapse_exact:
        out = _expand_group_pairs(out, membership, reps, ["hamming"]).unionByName(
            _within_group_pairs(
                membership,
                [F.lit(0).cast("int").alias("hamming")],
                include_empty=True,
            )
        )
    return out


# ------------------------------------------------------------ ngram exact
def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for given (a, b) candidate pairs — the
    verification stage decoupled so any candidate generator plugs in.

    The candidate frame is spread across the full core budget first:
    verification is CPU-dense (hash-set intersections over ~|A|+|B|
    strings per pair) while the (a, b) frame is only a few bytes per
    row, so AQE's bytes-based coalescing would otherwise pack the whole
    stage onto 1-2 tasks (measured 4.3 s → 1.4 s at sf0.1 from this
    alone).  The extra round-robin shuffle moves KBs.

    ``shingles`` (columns ``id``, ``sh``), if given, is a pre-built —
    ideally materialized — shingle frame; tokenization is the dominant
    cost of the whole join, and the two join sides below would each
    recompute it otherwise (Spark does not reuse exchanges across
    differently-projected subtrees)."""
    candidate_pairs = candidate_pairs.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    if shingles is not None:
        sh = shingles
    else:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        sh = df.select(
            F.col(id_col).alias("id"), word_shingles(text_col, shingle_k).alias("sh")
        )
    j = (
        candidate_pairs.join(sh.withColumnRenamed("id", "a").withColumnRenamed("sh", "sha"), on="a")
        .join(sh.withColumnRenamed("id", "b").withColumnRenamed("sh", "shb"), on="b")
    )
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size(F.array_union(F.col("sha"), F.col("shb")))
    return j.select("a", "b", (F.when(union > 0, inter / union).otherwise(F.lit(0.0))).alias("jaccard"))


def jaccard_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = True,
    materialize_shingles: bool = True,
    collapse_exact: bool = True,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard similarity self-join (a < b,
    J ≥ threshold) via an inverted shingle index — no LSH, no quadratic
    candidate blowup.

    ``prefix_filter=True`` (the default, and the only plan that survives
    a skewed corpus at 100 TB) routes through ``jaccard_prefix_join``:
    the AllPairs/PPJoin prefix lemma indexes only each doc's rarest
    ``⌊(1−t)·|A|⌋+1`` shingles as join keys, draining hot grams out of
    the candidate join while provably preserving the output
    (``q_jaccard_pairs`` and ``q_jaccard_prefix`` share one oracle;
    the skew guard in test_skew.py pins the candidate-count bound).

    ``prefix_filter=False`` is the unpruned postings-count formulation:
    |A∩B| = number of shared postings per (a, b), counted by the index
    self-join; |A∪B| = |A| + |B| − |A∩B|.  Complete for any
    threshold > 0: a pair sharing no shingle has J = 0 and can never
    qualify.  Simpler plan (no per-doc ranking pass), right when the
    gram-frequency distribution is known flat.

    ``materialize_shingles=True`` tokenizes the corpus once and reuses
    the frame across every subtree that needs it (tokenization is the
    dominant cost; Spark does not reuse exchanges across
    differently-projected sides, so without it the self-join re-shingles
    the corpus per side).  At cluster scale the same move is a
    DISK_ONLY persist or a staged parquet write of the shingle frame.
    """
    if prefix_filter:
        return jaccard_prefix_join(
            df, text_col, id_col, shingle_k, threshold, materialize_shingles, collapse_exact
        )
    sh = df.select(F.col(id_col).alias("id"), word_shingles(text_col, shingle_k).alias("sh"))
    if materialize_shingles or collapse_exact:
        sh = sh.repartition(df.sparkSession.sparkContext.defaultParallelism).localCheckpoint(
            eager=True
        )
    membership = reps = None
    if collapse_exact:
        membership, reps = _collapse_shingle_groups(sh)
        sh = sh.join(reps.select("id"), "id").localCheckpoint(eager=True)
    posts = sh.select("id", F.size("sh").alias("n"), F.explode("sh").alias("gram"))
    left = posts.select("gram", F.col("id").alias("a"), F.col("n").alias("na"))
    right = posts.select("gram", F.col("id").alias("b"), F.col("n").alias("nb"))
    pairs = (
        left.join(right, "gram")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    out = pairs.where(jac >= F.lit(threshold)).select("a", "b", jac.alias("jaccard"))
    if collapse_exact:
        out = _expand_group_pairs(out, membership, reps, ["jaccard"]).unionByName(
            _within_group_pairs(membership, [F.lit(1.0).alias("jaccard")])
        )
    return out.select("a", "b", F.round("jaccard", 9).alias("jaccard"))


def jaccard_prefix_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate (a, b) pairs under the AllPairs/PPJoin prefix lemma —
    exposed separately so tests can pin the candidate-count bound on
    skewed corpora (the quantity that explodes without the filter).

    ``shingles`` (columns ``id``, ``sh``): pre-built shingle frame to
    reuse; see ``jaccard_prefix_join`` for why materializing it once
    matters."""
    from pyspark.sql import Window as W

    if shingles is not None:
        sh = shingles
    else:
        # shingle construction is CPU-bound; don't let it inherit the file
        # layout's partition count (a handful of row groups would serialize
        # the tokenize+zip work onto a few cores)
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        sh = df.select(
            F.col(id_col).alias("id"), word_shingles(text_col, shingle_k).alias("sh")
        )
    posts = sh.select("id", F.size("sh").alias("n"), F.explode("sh").alias("gram"))
    dfreq = posts.groupBy("gram").agg(F.count("*").alias("gdf"))
    ranked = posts.join(dfreq, "gram").withColumn(
        "rk",
        F.row_number().over(W.partitionBy("id").orderBy(F.asc("gdf"), F.asc("gram"))),
    )
    plen = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    # Materialize the prefix postings ONCE before the self-join: both join
    # sides reference `prefix`, and Catalyst re-derives the whole subtree
    # (explode → gram-frequency aggregate → frequency join → per-doc
    # window) per side — two copies of three shuffles for one logical
    # pass.  The prefix is the small end of the pipeline (~(1−t) of the
    # representative postings, ids + grams only), so the cut is cheap;
    # at cluster scale the same frame is a DISK_ONLY persist alongside
    # the staged shingle table.
    prefix = (
        ranked.where(F.col("rk") <= plen)
        .select("gram", "id", "n", "rk")
        .localCheckpoint(eager=True)
    )
    # AllPairs length filter: J ≥ t ⇒ |A∩B| ≥ t·|A∪B| ⇒ min(n) ≥ t·max(n),
    # so any candidate with nb outside [t·na, na/t] provably cannot reach
    # the threshold — applied inside the candidate join it cuts the
    # verify workload by orders of magnitude on same-vocabulary corpora.
    #
    # PPJoin POSITIONAL filter (Xiao et al. 2011), PAIR-LEVEL form (r11;
    # tightens the r10 per-occurrence form): for a candidate pair, let
    # cp = number of shared PREFIX grams and (ral, rbl) the ranks of the
    # LAST one in the docs' common (gdf asc, gram asc) order.  The
    # arrays are duplicate-free (word_shingles array_distincts) and both
    # are sorted by the same global order, so every shared gram at-or-
    # before the last prefix-shared one is itself prefix-shared (= cp of
    # them), and shared grams after it number ≤ min(na−ral, nb−rbl) —
    # hence O ≤ cp + min(na−ral, nb−rbl).  J ≥ t ⇔ O·(1+t) ≥ t·(na+nb),
    # so a pair whose bound fails cannot qualify.  The r10 filter kept a
    # pair if ANY occurrence passed (min(na−ra, nb−rb)+1)·(1+t) ≥
    # t·(na+nb), i.e. the FIRST-occurrence bound; since ranks co-advance
    # by ≥ 1 per shared gram, first-bound ≥ pair-bound always — the
    # pair-level form prunes strictly more at the same shuffle count
    # (the groupBy replaces the old distinct on the same (a, b) key).
    # No qualifying pair is lost (same float-boundary class as the
    # length filter above: exact for binary-representable thresholds;
    # pinned by the brute-force equality tests and the J-exactly-t
    # boundary test).  Candidate volume on the sf0.1 gate fixture:
    # 309,409 unfiltered → 124,804 (r10 occurrence form) → re-measured
    # in plans/r11.
    return (
        prefix.select(
            "gram", F.col("id").alias("a"), F.col("n").alias("na"), F.col("rk").alias("ra")
        )
        .join(
            prefix.select(
                "gram", F.col("id").alias("b"), F.col("n").alias("nb"), F.col("rk").alias("rb")
            ),
            "gram",
        )
        .where(
            (F.col("a") < F.col("b"))
            & (F.col("nb") * F.lit(threshold) <= F.col("na"))
            & (F.col("na") * F.lit(threshold) <= F.col("nb"))
        )
        .groupBy("a", "b", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("cp"),
            F.max("ra").alias("ral"),
            F.max("rb").alias("rbl"),
        )
        .where(
            (
                F.col("cp")
                + F.least(F.col("na") - F.col("ral"), F.col("nb") - F.col("rbl"))
            ).cast("double")
            * F.lit(1.0 + threshold)
            >= F.lit(threshold) * (F.col("na") + F.col("nb")).cast("double")
        )
        .select("a", "b")
    )


def _collapse_shingle_groups(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Group documents by IDENTICAL shingle set.

    Set-based similarity (Jaccard, containment) of a document against
    anything depends only on its shingle SET, so exact duplicates (after
    tokenization) are interchangeable: compute similarity once per
    distinct set and expand pairs back through group membership.  On
    duplicate-heavy corpora — real web crawls are ~50% exact dups, and
    the sf10 stress corpus is 4,992 distinct texts replicated into
    groups of up to 200 — this turns a candidate join whose volume grows
    with (group size)² per posting into one over distinct sets only.

    Input ``sh``: (id, sh) shingle frame (ideally already materialized).
    Returns ``(membership, reps)``:
    - membership (id, gk, nsh): group key = md5 over the sorted shingle
      array ('\\x01'-joined — tokens are whitespace-split so the
      separator cannot occur), nsh = shingle count (0 for short docs).
    - reps (gk, id, nsh): one representative (min id) per group.

    Membership is localCheckpoint-materialized: it feeds the reps
    aggregate, both expansion joins, and the within-group self-join.  At
    cluster scale the same frame is a DISK_ONLY persist or the staged
    fingerprint table an incremental dedup keeps anyway.
    """
    membership = (
        sh.select(
            "id",
            F.md5(F.array_join(F.array_sort("sh"), "\x01")).alias("gk"),
            F.size("sh").alias("nsh"),
        )
        .localCheckpoint(eager=True)
    )
    reps = membership.groupBy("gk").agg(F.min("id").alias("id"), F.min("nsh").alias("nsh"))
    return membership, reps


def _expand_group_pairs(
    rep_pairs: DataFrame,
    membership: DataFrame,
    reps: DataFrame,
    value_cols: list[str],
    swap_map: dict[str, str] | None = None,
) -> DataFrame:
    """Expand representative-level pairs (a, b, *value_cols) to all
    member pairs via two joins on the group key.  ``swap_map`` renames
    value columns when the expanded ids invert the (a < b) orientation —
    needed for directional measures (containment); symmetric measures
    pass None."""
    ga = reps.select(F.col("id").alias("a"), F.col("gk").alias("gka"))
    gb = reps.select(F.col("id").alias("b"), F.col("gk").alias("gkb"))
    rp = rep_pairs.join(ga, "a").join(gb, "b").select("gka", "gkb", *value_cols)
    expanded = rp.join(
        membership.select(F.col("gk").alias("gka"), F.col("id").alias("ia")), "gka"
    ).join(membership.select(F.col("gk").alias("gkb"), F.col("id").alias("ib")), "gkb")
    a = F.least("ia", "ib").alias("a")
    b = F.greatest("ia", "ib").alias("b")
    if not swap_map:
        return expanded.select(a, b, *value_cols)
    keep = expanded.where(F.col("ia") < F.col("ib")).select(a, b, *value_cols)
    swapped = expanded.where(F.col("ia") > F.col("ib")).select(
        a, b, *[F.col(swap_map[c]).alias(c) for c in value_cols]
    )
    return keep.unionByName(swapped)


def _within_group_pairs(
    membership: DataFrame, values: list, include_empty: bool = False
) -> DataFrame:
    """All (a < b) pairs inside each group, with the constant similarity
    values identical sets imply (J = 1, containment = 1, hamming = 0).

    ``include_empty``: postings-join formulations never pair empty
    shingle sets (no posting, excluded by default), but signature
    formulations (simhash) assign empty sets a real signature that
    band-joins normally — those callers pass True.  NULL sets (null
    text) never pair anywhere: their NULL group key fails the equality
    self-join below, matching the source formulations."""
    m = membership if include_empty else membership.where(F.col("nsh") > 0)
    return (
        m.alias("l")
        .join(m.alias("r"), "gk")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"), *values)
    )


def jaccard_prefix_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    materialize_shingles: bool = True,
    collapse_exact: bool = True,
) -> DataFrame:
    """Prefix-filtered EXACT Jaccard self-join (the AllPairs/PPJoin
    lemma): with shingles globally ordered by (document frequency asc,
    shingle), any pair with J ≥ t must share one of each side's first
    ``|A| − ⌈t·|A|⌉ + 1`` shingles — so only those prefix postings enter
    the candidate join, and the surviving pairs are verified with the
    full shingle arrays.  Provably the same output as the unpruned
    postings join while indexing roughly a ``(1−t)`` fraction of the
    postings; rare-first ordering drains the hot grams out of the join
    keys, which is what bounds the candidate blowup at corpus scale.

    ``materialize_shingles=True`` tokenizes the corpus ONCE
    (localCheckpoint) and reuses the frame across candidate generation
    (where ``posts`` feeds both the gram-frequency agg and the ranking
    join) and both verification join sides — without it Catalyst
    re-evaluates the shingle expression up to ~6× because exchanges are
    not reused across differently-projected subtrees (measured 2×
    end-to-end on the sf0.1 gate).  At cluster scale the equivalent
    move is persisting the shingle frame (DISK_ONLY) or staging it to
    parquet; localCheckpoint is the single-node form of the same plan.

    ``collapse_exact=True`` (default) first groups documents with
    IDENTICAL shingle sets (``_collapse_shingle_groups``), runs the
    prefix join over one representative per group, and expands pairs
    back through membership.  Provably the same output: J(x, ·) depends
    only on x's shingle set, within-group pairs have J = 1 exactly, and
    empty sets never pair in either formulation.  The prefix lemma alone
    does NOT bound duplicate blowup — every copy of a duplicated doc
    carries the same prefix postings, so candidate volume grows with
    (copies)² per prefix gram; on the sf10 stress corpus (500k docs,
    4,992 distinct, groups up to 200) the uncollapsed join shuffled
    billions of candidate occurrences (45+ GB spill, >45 min) while the
    collapsed form works over 4,992 sets.
    """
    sh = None
    if materialize_shingles or collapse_exact:
        sh = (
            df.repartition(df.sparkSession.sparkContext.defaultParallelism)
            .select(
                F.col(id_col).alias("id"), word_shingles(text_col, shingle_k).alias("sh")
            )
            .localCheckpoint(eager=True)
        )
    if collapse_exact:
        membership, reps = _collapse_shingle_groups(sh)
        rep_sh = sh.join(reps.select("id"), "id").localCheckpoint(eager=True)
        cand = jaccard_prefix_candidates(df, text_col, id_col, shingle_k, threshold, shingles=rep_sh)
        verified = ngram_jaccard_pairs(df, cand, text_col, id_col, shingle_k, shingles=rep_sh)
        rep_pairs = verified.where(F.col("jaccard") >= F.lit(threshold))
        out = _expand_group_pairs(rep_pairs, membership, reps, ["jaccard"]).unionByName(
            _within_group_pairs(membership, [F.lit(1.0).alias("jaccard")])
        )
        return out.select("a", "b", F.round("jaccard", 9).alias("jaccard"))
    cand = jaccard_prefix_candidates(df, text_col, id_col, shingle_k, threshold, shingles=sh)
    verified = ngram_jaccard_pairs(df, cand, text_col, id_col, shingle_k, shingles=sh)
    return verified.where(F.col("jaccard") >= F.lit(threshold)).select(
        "a", "b", F.round("jaccard", 9).alias("jaccard")
    )


def containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
    collapse_exact: bool = True,
) -> DataFrame:
    """EXACT all-pairs n-gram CONTAINMENT self-join: emit (a, b, a < b)
    where ``max(|A∩B|/|A|, |A∩B|/|B|)`` ≥ threshold — the asymmetric
    near-dup signal Jaccard misses.  A short document quoted wholesale
    inside a long one has tiny Jaccard (union is dominated by the long
    doc) but containment ≈ 1 from the short side; corpus dedup that
    drops such subset-duplicates needs this operator, not
    ``jaccard_similarity_join``.

    Same inverted-postings shape as the unpruned Jaccard join (one
    equi-join on the shingle, |A∩B| counted as shared postings): a pair
    sharing no shingle has containment 0, so the index join is complete
    for any threshold > 0.  Note the PPJoin prefix lemma does NOT
    transfer unchanged (it bounds the symmetric measure; the asymmetric
    bound would need ``|A| − ⌈t·|A|⌉ + 1`` prefixes on *each* side
    independently), so at corpus scale the skew guards are the
    ``max_df``-style hot-gram drain of ``tfidf_topk_pairs`` plus AQE
    skew-join splitting — shingle document frequency is Zipf-bounded
    for word k-shingles with k ≥ 3.

    The shingle frame is materialized once before the self-join (same
    tokenize-once rationale as ``jaccard_prefix_join``).
    """
    sh = (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"), word_shingles(text_col, shingle_k).alias("sh"))
        .localCheckpoint(eager=True)
    )
    membership = reps = None
    if collapse_exact:
        membership, reps = _collapse_shingle_groups(sh)
        sh = sh.join(reps.select("id"), "id").localCheckpoint(eager=True)
    posts = sh.select("id", F.size("sh").alias("n"), F.explode("sh").alias("gram"))
    left = posts.select("gram", F.col("id").alias("a"), F.col("n").alias("na"))
    right = posts.select("gram", F.col("id").alias("b"), F.col("n").alias("nb"))
    pairs = (
        left.join(right, "gram")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    c_ab = F.col("inter") / F.col("na")
    c_ba = F.col("inter") / F.col("nb")
    out = pairs.where(F.greatest(c_ab, c_ba) >= F.lit(threshold)).select(
        "a",
        "b",
        c_ab.alias("containment_a_in_b"),
        c_ba.alias("containment_b_in_a"),
    )
    if collapse_exact:
        # directional: expanding (x, y) with y < x swaps which side is
        # "contained in" which — _expand_group_pairs renames accordingly
        out = _expand_group_pairs(
            out,
            membership,
            reps,
            ["containment_a_in_b", "containment_b_in_a"],
            swap_map={
                "containment_a_in_b": "containment_b_in_a",
                "containment_b_in_a": "containment_a_in_b",
            },
        ).unionByName(
            _within_group_pairs(
                membership,
                [
                    F.lit(1.0).alias("containment_a_in_b"),
                    F.lit(1.0).alias("containment_b_in_a"),
                ],
            )
        )
    return out.select(
        "a",
        "b",
        F.round("containment_a_in_b", 9).alias("containment_a_in_b"),
        F.round("containment_b_in_a", 9).alias("containment_b_in_a"),
    )


# ---------------------------------------------------------------- cluster
def _local_components(edge_rows) -> dict:
    """Union-find over an iterable of (a, b) pairs, unioning by MIN root
    so every component's representative is its minimum id — the same
    fixed point the distributed label propagation converges to.  Pure
    Python, O(E α(N)); used only below the bounded local-solve
    threshold (see :func:`dedup_clusters`)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for a, b in edge_rows:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # attach the larger root: roots stay minima
    return {x: find(x) for x in nodes}


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Resolve near-dup pairs (a, b) into clusters: every member maps to
    its cluster's minimum id (the keeper).

    Two-tier execution (the standard distributed-CC endgame, Kiveris et
    al. 2014 "Connected Components in MapReduce and Beyond" §6: iterate
    distributively while the graph is big, finish in memory once it
    fits):

    - **Local solve** when the pair count is at or below
      ``JANUS_LOCAL_CC_EDGES`` (default 2,000,000): collect the bare
      (a, b) id pairs — a size-GATED collect, bounded by the constant
      threshold and checked before collecting — and run union-find on
      the driver.  Match graphs are matched-subset sized (≪ corpus), so
      this is the common case even at large SF, and it removes the
      O(log diameter) × fixed-job-cost round tax that dominates small
      runs (chain-shaped components need ~14 propagation rounds).
    - **Distributed label propagation** above the threshold: each round
      joins current labels across edges, keeps the min, pointer-jumps
      once (path compression), and truncates lineage (localCheckpoint);
      converges in O(log diameter) rounds.  Set
      ``JANUS_LOCAL_CC_EDGES=0`` to force this path (tests do, to keep
      it pinned).

    Both paths produce the identical fixed point: keep_id = component
    minimum.  Returns (id, keep_id) for every id that appears in a pair;
    rows with id == keep_id are the keepers.

    Null endpoints are dropped up front: a null id identifies nothing and
    can't anchor a cluster.  (Before this filter the two tiers diverged
    on the same input — the local union-find raised TypeError on
    ``None < int`` while the distributed join silently dropped
    null-keyed rows — so the filter sits ABOVE the tier split.)

    Raises ``RuntimeError`` if the distributed loop exhausts
    ``max_iterations`` with label changes still occurring: returning
    unconverged labels silently would split clusters nondeterministically.
    """
    # Null endpoints out before the tier split so both tiers see the
    # same edge multiset.
    pairs = pairs.where(F.col("a").isNotNull() & F.col("b").isNotNull())
    # pairs is referenced by BOTH union directions: materialize it once or
    # the caller's (possibly expensive — banded minhash verification)
    # pair pipeline is evaluated per branch.  The eager checkpoint below
    # hides that double evaluation from plan-level scan audits, so it must
    # be cut here, above the fan-out.  eager=True: a lazy checkpoint only
    # caches partitions as tasks compute them, so the two branches of the
    # very next (first-action) stage can still race and compute the
    # pipeline twice on a multi-executor cluster.
    pairs = pairs.localCheckpoint(eager=True)

    threshold = int(os.environ.get("JANUS_LOCAL_CC_EDGES", "2000000"))
    if threshold > 0 and pairs.count() <= threshold:
        from pyspark.sql.types import StructField, StructType

        id_type = pairs.schema["a"].dataType
        comp = _local_components(
            (r["a"], r["b"]) for r in pairs.select("a", "b").collect()
        )
        schema = StructType(
            [StructField("id", id_type), StructField("keep_id", id_type)]
        )
        spark = pairs.sparkSession
        return spark.createDataFrame(sorted(comp.items()), schema)
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .dropDuplicates(["x", "y"])
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select("x")
        .unionByName(edges.select(F.col("y").alias("x")))
        .distinct()
        .select(F.col("x").alias("id"), F.col("x").alias("keep_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "y2"), on=edges["y"] == F.col("y2"))
            .select(F.col("x").alias("id"), F.col("keep_id").alias("nk"))
            .groupBy("id")
            .agg(F.min("nk").alias("nk"))
        )
        # __chg rides through to the checkpointed frame so convergence is
        # a cheap filter-count over already-materialized partitions, not
        # an extra labels-vs-updated comparison JOIN per round (r7).
        # Sound stop: if no nk beat its node's label this round, every
        # node's label is <= all neighbors' labels, i.e. labels are
        # constant per component and the min node anchors them at the
        # component min — the fixed point; the jump can't change anything
        # either (it only composes existing labels).
        updated = labels.join(neighbor_min, on="id", how="left").select(
            "id",
            F.least(F.col("keep_id"), F.coalesce(F.col("nk"), F.col("keep_id"))).alias("keep_id"),
            (F.col("nk") < F.col("keep_id")).alias("__chg"),
        )
        # pointer jumping (path compression): follow my label's label —
        # turns O(diameter) convergence into O(log diameter)
        parents = updated.select(F.col("id").alias("pid"), F.col("keep_id").alias("pkeep"))
        updated = (
            updated.join(parents, on=updated["keep_id"] == parents["pid"], how="left")
            .select(
                "id",
                F.least(F.col("keep_id"), F.coalesce(F.col("pkeep"), F.col("keep_id"))).alias("keep_id"),
                "__chg",
            )
            .localCheckpoint(eager=True)
        )
        converged = updated.where(F.col("__chg")).isEmpty()
        labels = updated.drop("__chg")
        if converged:
            break
    else:
        # Labels were still moving in the final round: the fixed point is
        # unproven and the returned clustering could split components.
        # With pointer jumping convergence is O(log diameter), so hitting
        # this means a pathological graph or a too-small max_iterations —
        # fail loudly either way (VERDICT r7 "Next round" #3).
        raise RuntimeError(
            f"dedup_clusters: label propagation did not converge within "
            f"max_iterations={max_iterations}; labels were still changing "
            f"in the final round. Increase max_iterations."
        )
    return labels


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full dedup decision: every document tagged keep/drop.  Documents in
    no near-dup pair are keepers by definition; within a cluster only the
    minimum id survives (deterministic)."""
    clusters = dedup_clusters(pairs)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(clusters, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("keep_id"), F.col("id")).alias("keep_id"),
            (F.coalesce(F.col("keep_id"), F.col("id")) == F.col("id")).alias("keep"),
        )
    )


def duplicate_passages(
    df: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Passage-level (substring) dedup — the within-document complement of
    the whole-document strategies above.  Crawled corpora repeat
    boilerplate *passages* (headers, license blurbs, templated intros)
    inside otherwise-unique documents; whole-doc MinHash never sees them.
    The standard cure (Lee et al., "Deduplicating Training Data Makes
    Language Models Better") is exact substring matching over the corpus;
    a suffix array is inherently sequential, so the distributed form used
    here works on word k-gram shingles:

      1. every doc emits its k-token shingles with 1-based start positions;
      2. a shingle occurring in >= ``min_docs`` distinct docs is duplicated;
      3. per doc, duplicated shingle positions merge into maximal passages
         (spans merge while next_start - prev_start <= k, i.e. the token
         ranges overlap or touch).

    Returns (id, span_start, span_end, n_shingles) — one row per maximal
    duplicated passage, positions in token space.

    Scale: shingling is map-side (transform over a guarded sequence — an
    unguarded ``F.sequence(1, n-k+1)`` DESCENDS for docs shorter than k);
    duplicated-shingle detection is one shuffle on the 32-byte md5 gram
    key with map-side partial aggregation; the semi join back is an
    equi-join on the same key (AQE splits hot boilerplate grams); the
    island merge is one shuffle on doc id.  No postings×postings join
    anywhere, so a gram in 30%% of docs costs O(postings), not
    O(postings²)."""
    from pyspark.sql.window import Window as W

    from janus_spark.datapipe.text import clean_tokens

    toks = df.select(F.col(id_col).alias("id"), clean_tokens(text_col).alias("l"))
    n = F.size("l")
    starts = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = toks.select(
        "id",
        F.explode(
            F.transform(starts, lambda i: F.struct(i.alias("pos"), F.md5(F.concat_ws(" ", F.slice("l", i, k))).alias("gh")))
        ).alias("g"),
    ).select("id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gh")
    )
    hits = grams.join(dup, "gh", "semi").select("id", "pos")
    w = W.partitionBy("id").orderBy("pos")
    lagp = F.lag("pos").over(w)
    marked = hits.withColumn(
        "ns", F.when(lagp.isNull() | (F.col("pos") - lagp > k), 1).otherwise(0)
    )
    islands = marked.withColumn(
        "island", F.sum("ns").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count("*").alias("n_shingles"),
        )
        .drop("island")
    )


def minhash_lsh_join(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    collapse_exact: bool = True,
) -> DataFrame:
    """Cross-corpus near-duplicate join: pairs (corpus_id, ref_id) whose
    exact shingle-Jaccard >= threshold — the "dedup the new crawl against
    the existing training set" shape, distinct from self-dedup: the
    reference side's signatures are computed once (persist them in
    practice) and NO corpus×corpus or reference×reference candidates are
    ever generated, because the band equi-join only pairs across the two
    frames.  Same signature family as ``minhash_lsh_pairs`` — a doc
    banding identically in both calls is the guarantee.

    ``collapse_exact=True`` collapses each side to one representative per
    distinct shingle set before signatures, and expands the rep-level
    pairs through both memberships after verification.  No within-group
    term is needed: a corpus rep and a reference rep with identical sets
    band identically, so same-set cross-side pairs already appear at rep
    level.  Exactly the output of the uncollapsed join (collision is a
    function of the set on each side).

    Scale: one shuffle per side on (band, band_hash); hot buckets
    (boilerplate-heavy bands) are AQE-splittable; verification runs on
    the candidate set only, arrays stay JVM-side."""
    lmem = lreps = rmem = rreps = None
    if collapse_exact:
        par = corpus.sparkSession.sparkContext.defaultParallelism
        lsh_all = (
            corpus.repartition(par)
            .select(
                F.col(id_col).alias("id"), word_shingles(text_col, shingle_k).alias("sh")
            )
            .localCheckpoint(eager=True)
        )
        rsh_all = (
            reference.repartition(par)
            .select(
                F.col(id_col).alias("id"), word_shingles(text_col, shingle_k).alias("sh")
            )
            .localCheckpoint(eager=True)
        )
        lmem, lreps = _collapse_shingle_groups(lsh_all)
        rmem, rreps = _collapse_shingle_groups(rsh_all)
        lb = _banded_from_shingles(
            lsh_all.join(lreps.select("id"), "id"), num_perm, bands, hash_fn
        ).localCheckpoint(eager=True)
        rb = _banded_from_shingles(
            rsh_all.join(rreps.select("id"), "id"), num_perm, bands, hash_fn
        ).localCheckpoint(eager=True)
    else:
        lb = _minhash_banded(
            corpus, text_col, id_col, num_perm, bands, shingle_k, hash_fn
        ).localCheckpoint(eager=True)
        rb = _minhash_banded(
            reference, text_col, id_col, num_perm, bands, shingle_k, hash_fn
        ).localCheckpoint(eager=True)
    # ids only through the band join + dedup; the shingle arrays join
    # back once per side from the per-id frames (see minhash_lsh_pairs)
    lsh = lb.select("id", "sh").dropDuplicates(["id"])
    rsh = rb.select("id", "sh").dropDuplicates(["id"])
    cand = (
        lb.alias("l")
        .join(rb.alias("r"), on=["band", "bh"], how="inner")
        .select(F.col("l.id").alias("corpus_id"), F.col("r.id").alias("ref_id"))
        .dropDuplicates(["corpus_id", "ref_id"])
        .join(lsh.select(F.col("id").alias("corpus_id"), F.col("sh").alias("sha")), "corpus_id")
        .join(rsh.select(F.col("id").alias("ref_id"), F.col("sh").alias("shb")), "ref_id")
    )
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size(F.array_union(F.col("sha"), F.col("shb")))
    out = (
        cand.withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("corpus_id", "ref_id", "jaccard")
    )
    if collapse_exact:
        rp = (
            out.join(
                lreps.select(F.col("id").alias("corpus_id"), F.col("gk").alias("gka")),
                "corpus_id",
            )
            .join(rreps.select(F.col("id").alias("ref_id"), F.col("gk").alias("gkb")), "ref_id")
            .select("gka", "gkb", "jaccard")
        )
        out = (
            rp.join(lmem.select(F.col("gk").alias("gka"), F.col("id").alias("corpus_id")), "gka")
            .join(rmem.select(F.col("gk").alias("gkb"), F.col("id").alias("ref_id")), "gkb")
            .select("corpus_id", "ref_id", "jaccard")
        )
    return out


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup decision with QUALITY-AWARE canonical selection: within each
    near-dup cluster keep the highest-``score_col`` member (ties → min
    id) instead of blindly keeping the minimum id.  This is what corpus
    curation actually wants — when a page was crawled five times, keep
    the longest/cleanest capture, not the lexicographically first URL.

    ``score_col``: a Column evaluated against ``df``.  Returns
    ``(id_col, keep_id, keep)`` like :func:`dedup_keep_list`.

    Plan: cluster resolution is the same O(log diameter) label
    propagation; canonical pick is ONE window (partition by cluster,
    order by score desc / id asc) over cluster members only — documents
    in no pair never enter the shuffle.
    """
    from pyspark.sql.window import Window as W

    scored = df.select(F.col(id_col).alias("id"), score_col.alias("__score"))
    clusters = dedup_clusters(pairs)  # (id, keep_id=min-id cluster label)
    members = clusters.join(scored, "id")
    w = W.partitionBy("keep_id").orderBy(F.col("__score").desc(), F.col("id").asc())
    canon = (
        members.withColumn("__rn", F.row_number().over(w))
        .withColumn("__canon", F.first("id").over(w))
        .select("id", F.col("__canon").alias("best_id"))
    )
    return (
        scored.join(canon, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("best_id"), F.col("id")).alias("keep_id"),
            (F.coalesce(F.col("best_id"), F.col("id")) == F.col("id")).alias("keep"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus version diff: classify every doc id across two snapshots as
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` by normalized-
    text fingerprint — the refresh-crawl bookkeeping step that decides
    what re-enters the dedup/curation pipeline.

    One full-outer equi-join on id with md5 fingerprints computed
    map-side; no text ever crosses the shuffle (32-byte keys only).
    """
    fp = lambda df: df.select(  # noqa: E731
        F.col(id_col).alias("id"), F.md5(normalize(text_col)).alias("fp")
    )
    o = fp(old).withColumnRenamed("fp", "fp_old")
    n = fp(new).withColumnRenamed("fp", "fp_new")
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") == F.col("fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("id").alias(id_col), status.alias("status"))


def incremental_dedup(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingestion exact dedup against a PERSISTENT fingerprint
    store: the arriving batch is deduplicated within itself (min id per
    fingerprint), anti-joined against every fingerprint ever seen, and
    the survivors' fingerprints are appended to the store — so the next
    batch dedups against all history without rescanning any corpus.

    Returns the fresh (never-seen) rows of ``new_docs``.  The store is
    an append store of ``janus_spark/store.py`` with one version of
    (fp_md5, first_id) rows per batch — 48 bytes/doc, i.e. ~50 GB of
    store per 10^9 documents; the anti-join is one shuffle on the 32-byte
    key (or a broadcast while the store is small).  Restart-safe by
    construction: state lives in the store files, not in memory, and a
    batch's rows become visible in one rename.
    """
    from pyspark.sql.window import Window as W

    spark = new_docs.sparkSession
    fp = F.md5(normalize(text_col))
    batch = (
        new_docs.withColumn("__fp", fp)
        .withColumn(
            "__rn", F.row_number().over(W.partitionBy("__fp").orderBy(F.col(id_col)))
        )
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    seen = read_store(spark, store_path)
    if seen is not None:
        seen = seen.select("fp_md5")
        batch = batch.join(
            seen, batch["__fp"] == seen["fp_md5"], "left_anti"
        )
    batch = batch.localCheckpoint(eager=True)
    fps = batch.select(F.col("__fp").alias("fp_md5"), F.col(id_col).alias("first_id"))
    commit(store_path, fps.write.parquet)
    return batch.drop("__fp")


def incremental_minhash_dedup(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    batch_id: int | None = None,
) -> DataFrame:
    """Continuous-ingestion NEAR-dup dedup against a PERSISTENT MinHash
    signature store — the fuzzy counterpart of ``incremental_dedup``:
    each arriving batch is near-dup-checked within itself and against
    every document ever seen, without rescanning any corpus text.

    ``batch_id`` (optional) makes the call idempotent for at-least-once
    callers (foreachBatch): its history is the store's versions whose
    batch id is smaller (unmarked versions count as earliest), and a batch
    id already committed is a replay that is not appended again, so a
    RETRIED batch recomputes byte-identical survivors (the store prefix
    it first saw is unchanged) without growing the store.  Both follow
    from one listing of the store's versions (``janus_spark/store.py``),
    not from a Spark job.

    Drop rule (deterministic): a new document ``b`` is dropped iff some
    document ``a`` with ``a < b`` — already in the store or in this
    batch — shares an LSH band bucket with it AND exact shingle-set
    Jaccard(a, b) ≥ ``jaccard_threshold``.  This is exactly the b-side
    of ``minhash_lsh_pairs(...)`` over all documents seen so far, so
    when batch id ranges are non-decreasing (natural for ingestion),
    feeding the corpus through in ANY batch split yields the SAME
    survivor set as one single-shot run — pinned by
    ``test_incremental_minhash_equals_single_shot``.

    Unlike the exact store, the signatures of DROPPED documents are
    appended too: near-dup similarity is NOT transitive (B ~ A and
    C ~ B do not imply C ~ A), so a future document must be compared
    against dropped ones or the single-shot pair graph is lost
    (``test_incremental_minhash_dropped_docs_still_block``).

    Store layout: one parquet row per (id, band) — ``(id, band, bh,
    sh)`` with the shingle array carried ONLY on band 0, so one version
    commits bands and shingles together (no two-file torn state) while
    the wide column is stored once per document.  Size: ``bands`` short
    rows + one shingle array per doc; the store's shingle arrays are read
    only for candidate pairs (see :func:`_dedup_against_store` for the
    plan).  Restart-safe by construction: each batch's rows are one
    version of an append store (``janus_spark/store.py``), staged and
    published by one directory rename.

    Returns the surviving (never-near-duplicated) rows of ``new_docs``.
    """
    only, replay = history(store_path, batch_id)
    hist = read_store(
        new_docs.sparkSession,
        store_path,
        schema=minhash_store_schema(new_docs, id_col, hash_fn),
        only=only,
    )
    signed, stats = _sign_documents(
        new_docs, text_col, num_perm, bands, shingle_k, hash_fn
    )
    return _dedup_against_store(
        signed, stats, new_docs.columns, hist, store_path, id_col,
        bands, jaccard_threshold, batch_id, append=not replay,
    )


def minhash_store_schema(docs: DataFrame, id_col: str, hash_fn: str) -> str:
    """DDL of the minhash store's columns for documents shaped like
    ``docs`` — what :func:`_dedup_against_store` appends: one row
    per (id, band), ``bh`` the band key (the raw signature string for the
    md5 family), ``sh`` the shingle set on band 0 only."""
    id_type = docs.schema[id_col].dataType.simpleString()
    bh_type = "STRING" if hash_fn == "md5" else "BIGINT"
    return f"id {id_type}, band INT, bh {bh_type}, sh ARRAY<STRING>"


def _sign_documents(
    df: DataFrame,
    text_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
    hash_fn: str,
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with each row's shingle set (``__sh``) and LSH
    band keys (``__bh``) — one narrow pass, so ``df`` is scanned once
    however many consumers the result feeds.  Returns the checkpoint and
    ``{"n": rows, "sh_bytes": characters in all shingle sets}``, observed
    on the same job.  The pass keeps ``df``'s partitioning: a repartition
    here would add a shuffle to every call, and an input at scale already
    arrives in many file splits."""
    from janus_spark.datapipe.exprcache import cached_expr

    obs = Observation()
    signed = (
        df.select("*", word_shingles(text_col, shingle_k).alias("__sh"))
        .select("*", _band_keys("__sh", num_perm, bands, hash_fn).alias("__bh"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            cached_expr(
                "coalesce(sum(aggregate(__sh, 0L, (acc, x) -> acc + length(x))), 0L)"
            ).alias("sh_bytes"),
        )
        .localCheckpoint(eager=True)
    )
    return signed, obs.get


def _dedup_against_store(
    signed: DataFrame,
    stats: dict,
    cols: list[str],
    hist: DataFrame | None,
    store_path: str,
    id_col: str,
    bands: int,
    jaccard_threshold: float,
    batch_id: int | None = None,
    append: bool = True,
    drop_seen: bool = False,
) -> DataFrame:
    """The store half of :func:`incremental_minhash_dedup` over a
    :func:`_sign_documents` checkpoint: one candidate/verify plan against
    ``hist`` (the store as read, or None), whose survivors (``cols`` of
    ``signed``) are materialized BEFORE the batch's signatures are
    committed as the store's next version, marked with ``batch_id``
    (unless ``append`` is false).

    ``drop_seen`` is the replay filter of ``curation_increment``: batch
    documents whose id the store already holds are neither returned nor
    appended again.  They are anti-joined off inside the same plan, and
    a count of the rest observed on it keeps the append a plain write of
    the batch when nothing was replayed.  Under the doc-key contract a
    replayed id carries the document the store holds, so as a candidate
    for another batch document it matches as the store's copy does.

    Candidates are band-key matches ``a < b`` with ``b`` in the batch and
    ``a`` in the store or the batch.  The batch side — ``bands`` rows per
    document, each carrying the document's shingle set — is broadcast
    when it fits Spark's own broadcast threshold (the planner cannot see
    a checkpoint's size, so the observed ``stats`` decide), and so are
    the frames derived from it: store-side candidates, dropped ids, the
    batch's ids.  No hint broadcasts the store: it is scanned for band
    matches, and its band-0 rows (the shingle sets) are read only for
    the candidates.  An anti join needs no distinct right side, so duplicate
    candidate pairs cost a repeated verify, not a shuffle."""
    from janus_spark.datapipe.exprcache import cached_expr, qident

    n_docs = int(stats["n"])
    conf = signed.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    # each band row: its keys (~64 bytes) plus the document's shingle set
    small = 0 <= bands * (64 * n_docs + int(stats["sh_bytes"])) <= limit

    def bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    new = signed.selectExpr(
        f"{qident(id_col)} AS b", "posexplode(__bh) AS (band, bh)", "__sh AS shb"
    )
    new_bc = bc(new)
    pairs = (
        new.selectExpr("b AS a", "band", "bh", "shb AS sha")
        .join(new_bc, ["band", "bh"])
        .where("a < b")
        .select("a", "b", "sha", "shb")
    )
    if hist is not None:
        cand = (
            hist.selectExpr("id AS a", "band", "bh")
            .join(new_bc, ["band", "bh"])
            .where("a < b")
            .select("a", "b", "shb")
        )
        pairs = pairs.unionByName(
            hist.where("band = 0").selectExpr("id AS a", "sh AS sha").join(bc(cand), "a")
        )
    t = repr(float(jaccard_threshold))
    dropped = pairs.where(
        cached_expr(
            "CASE WHEN size(array_union(sha, shb)) > 0 THEN "
            "size(array_intersect(sha, shb)) / size(array_union(sha, shb)) "
            f"ELSE 0.0D END >= {t}D"
        )
    ).selectExpr(f"b AS {qident(id_col)}")
    fresh, counted = signed, None
    if drop_seen and hist is not None:
        seen = (
            hist.where("band = 0")
            .selectExpr(f"id AS {qident(id_col)}")
            .join(bc(signed.select(id_col)), id_col)
        )
        fresh = signed.join(bc(seen), id_col, "left_anti")
        if small:
            # counted on the final stage's streamed side, which adaptive
            # execution never rewrites away (an empty broadcast side only
            # removes its join); under shuffles the exact path is taken
            counted = Observation()
            fresh = fresh.observe(counted, F.count(F.lit(1)).alias("n"))
    survivors = (
        fresh.join(bc(dropped), id_col, "left_anti")
        .select(*cols)
        .localCheckpoint(eager=True)
    )
    if append:
        # right-sized append (guide §6): one file per STORE_APPEND_ROWS
        # signature rows — a small batch writes one file, a TB-scale one
        # hundreds; coalesce never raises the partition count
        batch = signed
        if fresh is not signed and (counted is None or counted.get["n"] != n_docs):
            batch = signed.join(
                hist.selectExpr(f"id AS {qident(id_col)}"), id_col, "left_anti"
            )
        sig = batch.selectExpr(
            f"{qident(id_col)} AS id", "posexplode(__bh) AS (band, bh)", "__sh"
        ).selectExpr("id", "band", "bh", "CASE WHEN band = 0 THEN __sh END AS sh")
        n_files = max(1, -(-(n_docs * bands) // STORE_APPEND_ROWS))
        commit(store_path, sig.coalesce(n_files).write.parquet, batch_id)
    return survivors


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_docs: int = 2,
    min_chars: int = 1,
) -> DataFrame:
    """Line-level dedup with text reassembly — the CCNet/RefinedWeb
    "line-wise correction": crawled corpora repeat boilerplate LINES
    (nav menus, cookie banners, footer blurbs) across otherwise-unique
    pages, and the cure is to drop every occurrence of a line that
    appears in >= ``min_docs`` distinct documents, then stitch each
    document back together from its surviving lines in order.  The
    complement of ``duplicate_passages`` (which REPORTS duplicated
    spans): this one returns the cleaned corpus.

    Lines shorter than ``min_chars`` (after trim) are exempt from
    removal — very short lines ("the end", "1.") duplicate by chance,
    not by boilerplate.

    Returns ``(id, n_lines, kept_lines, clean_text)`` — one row per
    input document (a fully-boilerplate doc survives with
    ``kept_lines=0`` and ``clean_text=''``, so downstream length
    filters see it rather than silently losing the row).

    Scale: the explode is map-side; duplicated-line detection is ONE
    shuffle on the 32-byte md5 line key with map-side partial
    aggregation (line text itself never crosses the wire for the
    count); the keep-decision is an equi-join on the same key; the
    reassembly is one shuffle on doc id with an in-group
    ``array_sort`` — no windows, no per-row Python.  The exploded
    frame is localCheckpoint-ed ONCE because it feeds both the dup-set
    aggregate and the keep-join (multi-reference re-evaluation
    otherwise re-runs the split per consumer)."""
    import re as _re

    lines = (
        df.select(
            F.col(id_col).alias("id"),
            # null text → empty doc, not a silently-dropped row (explode
            # of NULL would lose the document entirely)
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
            ).alias("pos", "line"),
        )
        .withColumn("lh", F.md5(F.col("line")))
        # eager: the dup-set aggregate and the keep-join are the frame's
        # two consumers — a lazy checkpoint lets their tasks race the
        # first materialization and re-run the explode per branch
        .localCheckpoint(eager=True)
    )
    dup = (
        lines.where(F.length(F.trim(F.col("line"))) >= min_chars)
        .groupBy("lh")
        .agg(F.count_distinct("id").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("lh", F.lit(True).alias("__dup"))
    )
    kept = lines.join(dup, "lh", "left").withColumn(
        "keep", F.col("__dup").isNull()
    )
    rows = F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("line"), F.col("keep"))))
    return (
        kept.groupBy("id")
        .agg(rows.alias("__rows"))
        .select(
            "id",
            F.size("__rows").cast("long").alias("n_lines"),
            F.size(F.filter("__rows", lambda r: r["keep"])).cast("long").alias("kept_lines"),
            F.concat_ws(
                sep,
                F.transform(F.filter("__rows", lambda r: r["keep"]), lambda r: r["line"]),
            ).alias("clean_text"),
        )
    )


# -------------------------------------------------------- duplicate spans
def _shifted_grams_sql(toks: str, k: int) -> str:
    """SQL text of the positional k-gram array: element i is the
    space-joined gram starting at token i (null past len-k — zip_with
    pads the tail).  Shifted-zip form, one pass, no per-index
    re-evaluation (see :func:`word_shingles`); SQL text for cached
    construction (the k=8 Column tree cost ~0.5 s per build)."""
    acc = toks
    for j in range(1, k):
        shifted = f"slice({toks}, {j + 1}, greatest(size({toks}) - {j}, 1))"
        acc = f"zip_with({acc}, {shifted}, (a, b) -> concat(a, ' ', b))"
    return acc


def _flagged_gram_starts(
    tokenized: DataFrame,
    k: int,
    min_count: int,
    verify: bool,
) -> DataFrame:
    """Shared core of :func:`duplicate_spans` / :func:`cut_duplicate_spans`:
    ``(id, pos, h)`` for every k-gram occurrence whose gram appears at
    least ``min_count`` times corpus-wide (by 60-bit hash; exact on the
    gram string when ``verify``).  Input is a pre-tokenized frame with
    columns ``(id, toks)``."""
    from janus_spark.datapipe.exprcache import cached_expr

    # posexplode BEFORE the null filter: zip_with padded the tail with
    # nulls and dropping them first would renumber the start offsets
    # (the hash stays the Column-API helper: it is a ~5-node expression,
    # and tests monkeypatch shared_hash64 to force collisions)
    gram_cols = [
        "id",
        "pos",
        shared_hash64(F.col("gram")).alias("h"),
    ]
    if verify:
        gram_cols.append("gram")
    grams = (
        tokenized.select(
            "id",
            F.posexplode(cached_expr(_shifted_grams_sql("toks", k))).alias(
                "pos", "gram"
            ),
        )
        .where(F.col("gram").isNotNull())
        .select(*gram_cols)
    )
    # grams feeds BOTH the duplicate-set groupBy and the flag join — cut
    # once so tokenization doesn't run twice
    grams = grams.localCheckpoint(eager=True)
    dup = grams.groupBy("h").count().where(F.col("count") >= min_count).select("h")
    if verify:
        # exact pass over hash-flagged CANDIDATES only: a gram string
        # must itself occur >= min_count times, so a 60-bit collision
        # partner can't drag unique text into the cut set
        cand = grams.join(dup, "h", "semi")
        dup_gram = (
            cand.groupBy("h", "gram")
            .count()
            .where(F.col("count") >= min_count)
            .select("h", "gram")
        )
        return cand.join(dup_gram, ["h", "gram"], "semi").select("id", "pos", "h")
    return grams.join(dup, "h", "semi").select("id", "pos", "h")


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    verify: bool = False,
) -> DataFrame:
    """Corpus-internal duplicate-substring detection at k-token
    granularity — the public exact-substring-dedup recipe of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better"):
    find every k-token gram that occurs at least ``min_count`` times in
    the whole corpus (any doc, including the same doc twice), then merge
    the flagged gram starts into maximal spans per document.

    Returns one row per merged span: ``(id, span_start, span_end,
    span_tokens)`` with 0-based inclusive token offsets — the ranges a
    substring-level dedup pass would cut (vs the doc-level MinHash path
    that drops whole documents).

    Plan shape (100 TB): gram construction is the shifted-zip Column
    form (see :func:`word_shingles` — no per-index re-evaluation), kept
    POSITIONAL via posexplode-then-filter (filtering first would
    renumber).  One map-side-combined groupBy on the 8-byte gram hash
    builds the duplicate set; one semi join flags occurrences; span
    merging is a per-document gaps-and-islands window (state bounded by
    doc length, never corpus size).  Two shuffles total, both on keys
    with corpus-wide cardinality (no skew hotspot: a gram repeated R
    times contributes R rows, and pathological R means the data IS the
    signal being hunted).

    Hashing uses the md5 ``shared_hash64`` family so DuckDB oracles
    reproduce the grouping exactly; a production run can swap xxhash64
    (same plan, one JVM op per gram).

    ``verify=False`` (default) trusts the 60-bit gram hash: two DISTINCT
    grams colliding would falsely flag unique text.  Expected false
    positives ≈ birthday bound G²/2^61 for G distinct grams — negligible
    at test SFs (G=1e6 → ~4e-7 collisions) but real at production scale
    (G=1e9 → ~0.4; G=1e11 → ~4e3 over-cut grams).  ``verify=True`` adds
    an exact gram-equality pass over the CANDIDATE rows only: grams that
    survive the hash gate are re-grouped on the full gram string, so a
    collision partner whose own string occurs < min_count times is
    dropped.  Cost: the gram string rides the cut frame and one extra
    groupBy over flagged rows (a tiny fraction of the corpus) — the
    Lee et al. recipe is then exact on substrings end-to-end.
    """
    from pyspark.sql.window import Window as W

    from janus_spark.datapipe.text import clean_tokens

    tokenized = df.select(
        F.col(id_col).alias("id"), clean_tokens(text_col).alias("toks")
    )
    flagged = _flagged_gram_starts(tokenized, k, min_count, verify).select(
        "id", "pos"
    )
    w = W.partitionBy("id").orderBy("pos")
    isl = flagged.select(
        "id",
        "pos",
        F.sum(
            F.when(
                F.coalesce(
                    F.col("pos") - F.lag("pos").over(w), F.lit(k + 1)
                ) > k,
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("island"),
    )
    return (
        isl.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def cut_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    verify: bool = False,
) -> DataFrame:
    """The APPLY side of :func:`duplicate_spans` — the second half of the
    Lee et al. 2022 exact-substring-dedup recipe: remove every duplicated
    k-gram occurrence from the corpus EXCEPT one canonical copy, emitting
    the cleaned text.

    Keep-first rule: for each duplicated gram, the occurrence with the
    globally smallest exact-integer pair ``(doc id, token position)`` is
    the canonical copy; every other occurrence's k-token range is cut.
    ``min(struct(id, pos))`` is an exact integer comparison, so the
    result is order- and partition-independent by construction (the same
    discipline as ``line_dedup``'s keeplist — no floats, no
    first-seen-by-scan-order).  A token is removed iff it is covered by
    at least one cut range; tokens covered by the canonical occurrence
    of one gram and a loser occurrence of another are removed (Lee et
    al. cut each duplicated substring independently — text equal to the
    canonical copy still survives in the canonical document).

    Returns one row per input document: ``(id, n_tok, kept_tok,
    clean_text)`` where ``clean_text`` re-joins the KEPT whitespace
    tokens (token-level surgery: the recipe operates on the token
    stream, so original inter-token whitespace is normalized to single
    spaces).  Documents with nothing cut pass through with
    ``kept_tok = n_tok``; fully-duplicated documents survive as empty
    strings rather than vanishing.

    Plan shape (100 TB): on top of the two shuffles of
    :func:`duplicate_spans`, winner election is ONE map-side-combined
    min-aggregate on the gram hash; losers come from one equi-join on
    the same key; covered positions explode k rows per LOSER occurrence
    only (bounded by duplicate volume, not corpus size) and are
    immediately aggregated into ONE sorted position array per document
    (bounded by doc length).  The cut itself is DOC-scale: one join of
    that array back to the corpus by doc id, then in-array Column
    surgery (``array_except`` of the position range — hash-set
    semantics, O(doc_len + cut_len) per doc).  The corpus is never
    exploded to token rows and nothing shuffles on ``(id, pos)`` — at
    100 TB that is the difference between shuffling ~1e14 token rows
    and ~1e11 doc rows (the r9 plan anti-joined every corpus token).
    No window over anything wider than a document, no driver-side
    state, no skew hotspot beyond the duplicate data itself.
    """
    from janus_spark.datapipe.text import clean_tokens

    base = df.select(
        F.col(id_col).alias("id"), clean_tokens(text_col).alias("toks")
    ).localCheckpoint(eager=True)  # tokenize once: feeds grams AND the cut
    flagged = _flagged_gram_starts(base, k, min_count, verify)
    win = flagged.groupBy("h").agg(F.min(F.struct("id", "pos")).alias("w"))
    losers = (
        flagged.join(win, "h")
        .where((F.col("id") != F.col("w.id")) | (F.col("pos") != F.col("w.pos")))
        .select("id", "pos")
    )
    # per-doc sorted array of covered positions: collect_set dedupes
    # overlapping loser ranges, the groupBy is loser-scale on the doc id
    cov = (
        losers.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("pos"),
        )
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("pos")).alias("cut_pos"))
    )
    n = F.size("toks")
    # sequence(0, -1) would DESCEND for an empty doc — gate on n > 0
    pos_seq = F.when(n > 0, F.sequence(F.lit(0), n - F.lit(1))).otherwise(
        F.expr("CAST(array() AS array<int>)")
    )
    kept_pos = F.when(
        F.col("cut_pos").isNotNull(), F.array_except(pos_seq, F.col("cut_pos"))
    ).otherwise(pos_seq)  # array_except preserves first-array order
    return (
        base.join(cov, "id", "left")
        .select(
            F.col("id").alias(id_col),
            n.cast("long").alias("n_tok"),
            F.size(kept_pos).cast("long").alias("kept_tok"),
            F.concat_ws(
                " ",
                F.transform(
                    kept_pos,
                    lambda p: F.element_at(F.col("toks"), p + F.lit(1)),
                ),
            ).alias("clean_text"),
        )
    )
