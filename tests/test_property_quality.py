"""Hypothesis nets for the r8 additions: duplicate_spans and the quality
classifier — differential checks against independent brute-force Python
references on arbitrary small corpora (tiny token alphabet to force
gram/bucket collisions)."""

import hashlib

from hypothesis import given, settings, strategies as st

from janus_spark.datapipe.dedup import duplicate_spans
from janus_spark.datapipe.quality import (
    quality_filter_relative,
    quality_scores,
    quality_stream_scores,
    weights_from_literal,
)


def _py_hash64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_tokens(text: str) -> list[str]:
    return text.strip().lower().split()


def _py_duplicate_spans(texts, k, min_count=2):
    """Reference: count every k-gram corpus-wide, flag starts whose gram
    repeats, merge flagged starts into islands (break when gap > k)."""
    from collections import Counter

    grams = {}
    counts = Counter()
    for doc_id, text in texts:
        toks = _py_tokens(text)
        gs = [
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        ]
        grams[doc_id] = gs
        counts.update(gs)
    spans = set()
    for doc_id, gs in grams.items():
        flagged = [i for i, g in enumerate(gs) if counts[g] >= min_count]
        if not flagged:
            continue
        start = prev = flagged[0]
        for p in flagged[1:]:
            if p - prev > k:
                spans.add((doc_id, start, prev + k - 1, prev + k - start))
                start = p
            prev = p
        spans.add((doc_id, start, prev + k - 1, prev + k - start))
    return spans


_tok = st.sampled_from(["aa", "bb", "cc", "dd"])
_doc = st.lists(_tok, min_size=0, max_size=14).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(_doc, min_size=1, max_size=6),
    k=st.integers(2, 4),
)
def test_duplicate_spans_matches_brute_force(spark, docs, k):
    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_spans(df, k=k).collect()
    }
    assert got == _py_duplicate_spans(rows, k)


def _py_scores(rows, witems, n_buckets, bias_micro=0, tau_micro=0):
    """Reference for BOTH scorer forms: per doc, sum weights of tokens
    whose bucket is in the table (tokens with unknown buckets count in
    neither score_int nor n_tok), integer decision."""
    w = dict(witems)
    out = {}
    for doc_id, text in rows:
        s = n = 0
        for t in _py_tokens(text):
            b = _py_hash64(t) % n_buckets
            if b in w:
                s += w[b]
                n += 1
        pred = n > 0 and s + bias_micro * n > tau_micro * n
        out[doc_id] = (s, n, pred)
    return out


_weight = st.integers(-3_000_000, 3_000_000)


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(_doc, min_size=1, max_size=6),
    weights=st.dictionaries(st.integers(0, 15), _weight, max_size=16),
    bias=st.integers(-200_000, 200_000),
    tau=st.integers(-200_000, 200_000),
)
def test_quality_scorer_forms_match_brute_force(spark, docs, weights, bias, tau):
    """Join form, per-row literal form, and the Python reference must agree
    on arbitrary corpora and weight tables (16 buckets -> guaranteed
    collisions and unknown-bucket tokens)."""
    rows = list(enumerate(docs))
    witems = sorted(weights.items())
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expect = _py_scores(rows, witems, 16, bias, tau)
    if witems:
        wdf = weights_from_literal(spark, witems)
        join_form = {
            r["doc_id"]: (r["score_int"], r["n_tok"], r["pred"])
            for r in quality_scores(
                df, wdf, n_buckets=16, bias_micro=bias, tau_micro=tau
            ).collect()
        }
        assert join_form == expect
    map_form = {
        r["doc_id"]: (r["score_int"], r["n_tok"], r["pred"])
        for r in quality_stream_scores(
            df, witems, n_buckets=16, bias_micro=bias, tau_micro=tau
        ).collect()
    }
    assert map_form == expect


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(_doc, min_size=1, max_size=6),
    weights=st.dictionaries(st.integers(0, 15), _weight, min_size=1, max_size=16),
    tau=st.integers(-200_000, 200_000),
)
def test_relative_filter_matches_brute_force(spark, docs, weights, tau):
    """quality_filter_relative keeps exactly the docs whose
    cross-multiplied integer margin clears the corpus mean + tau."""
    rows = list(enumerate(docs))
    witems = sorted(weights.items())
    scored = _py_scores(rows, witems, 16)
    ts = sum(s for s, _, _ in scored.values())
    tn = sum(n for _, n, _ in scored.values())
    expect = {
        doc_id
        for doc_id, (s, n, _) in scored.items()
        if s * tn > ts * n + tau * n * tn
    }
    wdf = weights_from_literal(spark, witems)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]
        for r in quality_filter_relative(
            df, wdf, n_buckets=16, tau_micro=tau
        ).collect()
    }
    assert got == expect


def _py_cut_spans(texts, k, min_count=2):
    """Reference for cut_duplicate_spans: every occurrence of a
    corpus-duplicated gram except the (doc_id, pos)-smallest is a loser;
    tokens covered by any loser range are removed."""
    from collections import defaultdict

    occ = defaultdict(list)
    toks_by_doc = {}
    for doc_id, text in texts:
        toks = _py_tokens(text)
        toks_by_doc[doc_id] = toks
        for i in range(len(toks) - k + 1):
            occ[" ".join(toks[i : i + k])].append((doc_id, i))
    covered = defaultdict(set)
    for places in occ.values():
        if len(places) >= min_count:
            for doc_id, pos in sorted(places)[1:]:
                covered[doc_id].update(range(pos, pos + k))
    out = {}
    for doc_id, toks in toks_by_doc.items():
        kept = [t for i, t in enumerate(toks) if i not in covered[doc_id]]
        out[doc_id] = (len(toks), len(kept), " ".join(kept))
    return out


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(_doc, min_size=1, max_size=6),
    k=st.integers(2, 4),
)
def test_cut_duplicate_spans_matches_brute_force(spark, docs, k):
    from janus_spark.datapipe.dedup import cut_duplicate_spans

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tok"], r["kept_tok"], r["clean_text"])
        for r in cut_duplicate_spans(df, k=k).collect()
    }
    assert got == _py_cut_spans(rows, k)


@settings(max_examples=6, deadline=None)
@given(docs=st.lists(_doc, min_size=1, max_size=6))
def test_cut_covers_every_loser_gram(spark, docs):
    """Invariant: after the cut, each originally-duplicated gram's ONLY
    surviving occurrence at its ORIGINAL position is the canonical one —
    every loser occurrence has at least one token removed (here all k)."""
    from janus_spark.datapipe.dedup import cut_duplicate_spans, duplicate_spans

    k = 3
    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cut = {
        r["doc_id"]: set(_py_tokens(r["clean_text"]))
        for r in cut_duplicate_spans(df, k=k).collect()
    }
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in duplicate_spans(df, k=k).collect()
    }
    # every doc with a flagged span either kept fewer tokens than it had
    # or holds the canonical copy (kept everything)
    ref = _py_cut_spans(rows, k)
    for doc_id, (n_tok, kept_tok, _) in ref.items():
        if doc_id in spans:
            assert kept_tok <= n_tok
        else:
            assert kept_tok == n_tok
        assert len(cut[doc_id]) <= kept_tok or kept_tok == 0
