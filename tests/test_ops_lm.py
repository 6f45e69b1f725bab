"""Bigram-LM perplexity quality scoring (``ops/lm.py`` — on the
50-entry driver contract as ``op_lm_perplexity``; the reference-LM
cross-scoring leg is pytest-pinned here)."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.ops import lm  # noqa: E402


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


# ------------------------------------------------- oracle bit-parity
def test_self_scored_matches_duckdb_oracle(spark, duck, sf_dir):
    from tests.test_ops_packing import _match
    df = lm.lm_perplexity(spark, sf_dir)
    _match(df, lm.lm_perplexity_oracle(), duck)
    assert df.count() > 0


# ------------------------------------------------- hand-computed model
def _py_lm(score: dict[int, str], train: dict[int, str], k=lm.LM_ADD_K):
    """Pure-Python twin of lm_perplexity_frame (micro-nat integers)."""
    c2: dict[tuple, int] = {}
    c1: dict[str, int] = {}
    vocab = set()
    for t in train.values():
        w = t.split()
        vocab.update(w)
        for a, b in zip(w, w[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    v = len(vocab)
    out = {}
    for d, t in score.items():
        w = t.split()
        if len(w) < 2:
            continue
        lps = [round(math.log((c2.get((a, b), 0) + k)
                              / (c1.get(a, 0) + k * v)) * 1e6)
               for a, b in zip(w, w[1:])]
        n = len(lps)
        xent = -sum(lps)
        out[d] = (n, xent, round(math.exp(xent / 1e6 / n), 4))
    return out


def test_matches_python_reference_self_scored(spark):
    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the hat",
        3: "colorless green ideas sleep furiously today",
        4: "the the the the",
        5: "single",                      # < 2 words -> dropped
    }
    docs = _docs(spark, sorted(texts.items()))
    want = _py_lm(texts, texts)
    got = {r.doc_id: (r.n_bigrams, r.xent_micro, r.ppl)
           for r in lm.lm_perplexity_frame(docs).collect()}
    assert got == want
    assert 5 not in got


def test_typicality_ordering(spark):
    """The filtering signal: a document made of corpus-common bigrams
    scores lower perplexity than one made of hapax sequences."""
    common = "the cat sat on the mat"
    texts = {i: common for i in range(1, 7)}
    texts[7] = "zxq wvu tsr qpo nml kji"
    docs = _docs(spark, sorted(texts.items()))
    ppl = {r.doc_id: r.ppl for r in lm.lm_perplexity_frame(docs).collect()}
    assert ppl[7] > ppl[1] * 2


def test_reference_lm_backoff_paths(spark):
    """Cross-scoring takes the unseen-bigram (c2=0) and unseen-context
    (c1=0 -> p = 1/V) backoff branches; pin against the Python twin."""
    train = {10: "alpha beta gamma delta alpha beta",
             20: "beta gamma epsilon zeta"}
    score = {1: "alpha beta gamma",        # seen bigrams
             2: "alpha gamma beta",        # seen contexts, unseen pairs
             3: "omega psi chi"}           # everything unseen
    want = _py_lm(score, train)
    got = {r.doc_id: (r.n_bigrams, r.xent_micro, r.ppl)
           for r in lm.lm_perplexity_frame(
               _docs(spark, sorted(score.items())),
               train=_docs(spark, sorted(train.items()))).collect()}
    assert got == want
    # both backoff docs score worse than the fully-seen one (note the
    # order BETWEEN them: the unseen-context floor 1/V can exceed a
    # seen-context unseen-pair's 1/(c1 + V) — Laplace smoothing gives a
    # rare-context novelty a higher probability than a common-context
    # novelty, so doc 3 is not necessarily the worst)
    assert got[2][2] > got[1][2]
    assert got[3][2] > got[1][2]


# ------------------------------------------------- plan shape
def test_counts_join_not_cartesian_and_one_corpus_scan(spark, sf_dir):
    """Scoring joins are hash joins on token keys (no cartesian), and
    the self-scored plan reads the corpus ONCE live: the count model is
    served from the cached grouped token stream (InMemoryTableScan) and
    V is an inlined literal — no second explode, no vocab crossJoin."""
    plan = (lm.lm_perplexity(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_empty_training_corpus_fails_fast(spark):
    """v = 0 must raise instead of silently NULLing every score
    (ln of k/0)."""
    import pytest
    empty = _docs(spark, [])
    with pytest.raises(ValueError, match="vocabulary size 0"):
        lm.lm_perplexity_frame(_docs(spark, [(1, "some words here")]),
                               train=empty)
    with pytest.raises(ValueError, match="vocabulary size 0"):
        lm.lm_perplexity_frame(empty)


# ------------------------------------------------- persisted model
def test_persisted_model_scores_bit_identically(spark, tmp_path):
    """fit -> score == in-memory train+score, bit-for-bit (exact
    integer counts survive the parquet round trip)."""
    train = _docs(spark, [(10, "alpha beta gamma delta alpha beta"),
                          (20, "beta gamma epsilon zeta")])
    score = _docs(spark, [(1, "alpha beta gamma"),
                          (2, "alpha gamma beta"),
                          (3, "omega psi chi")])
    model = str(tmp_path / "lm_model")
    lm.lm_fit(spark, train, model)
    got = sorted(map(tuple, lm.lm_score(spark, model, score).collect()))
    want = sorted(map(tuple,
                      lm.lm_perplexity_frame(score, train=train).collect()))
    assert got == want and got


def test_persisted_model_reusable_across_batches(spark, tmp_path):
    """One fit, many batches — union of per-batch scores equals one
    scoring pass over the concatenated batch."""
    train = _docs(spark, [(100, "the cat sat on the mat the cat ran")])
    b1 = _docs(spark, [(1, "the cat sat"), (2, "on the mat")])
    b2 = _docs(spark, [(3, "the cat ran far away")])
    model = str(tmp_path / "lm_model2")
    lm.lm_fit(spark, train, model)
    parts = (sorted(map(tuple, lm.lm_score(spark, model, b1).collect()))
             + sorted(map(tuple, lm.lm_score(spark, model, b2).collect())))
    whole = sorted(map(tuple, lm.lm_score(
        spark, model, b1.unionByName(b2)).collect()))
    assert sorted(parts) == whole


def test_context_totals_have_no_window_on_w1(spark, sf_dir):
    """r11 de-skew pin: the c1 context totals are a map-side-combined
    groupBy("w1") joined back — never sum().over(Window.partitionBy
    ("w1")), which would sort a Zipf-hot context's whole successor set
    in one unsplittable task."""
    frame = lm.lm_perplexity(spark, sf_dir)
    try:
        plan = frame._jdf.queryExecution().executedPlan().toString()
    finally:
        from maha_spark.ops.common import release_scoped_caches
        release_scoped_caches()
    wls = [ln for ln in plan.splitlines() if "Window" in ln]
    assert all("w1#" not in ln for ln in wls), wls
    assert "partial_sum" in plan
