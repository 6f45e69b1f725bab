"""Winnowing substring-overlap dedup (ops/winnow.py): the SIGMOD'03
guarantee/density properties on synthetic corpora, the boilerplate cap,
and exact DuckDB-oracle parity on the test corpus (the op is also in the
50-entry driver contract as ``op_winnow_pairs``)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.ops import winnow  # noqa: E402

K, W = winnow.WINNOW_K, winnow.WINNOW_W
GUARANTEE = W + K - 1  # any shared run this long must be detected


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING")


def _words(tag, n):
    return " ".join(f"{tag}{i:03d}" for i in range(n))


def test_guarantee_shared_run_is_detected(spark):
    """Two documents sharing a run of exactly ``w + k - 1`` words (all
    other words disjoint) must share at least one fingerprint — the
    paper's lossless-detection guarantee."""
    run = _words("shared", GUARANTEE)
    docs = _docs(spark, [f"{_words('aa', 30)} {run} {_words('ab', 30)}",
                         f"{_words('ba', 25)} {run} {_words('bb', 35)}"])
    rows = winnow.winnow_pairs_frame(docs, threshold=0.0).collect()
    assert len(rows) == 1 and rows[0].shared >= 1


def test_no_shared_kgram_no_pair(spark):
    """A shared run shorter than k words can never produce a shared
    k-gram hash, so no pair is reported at any threshold."""
    run = _words("shared", K - 1)
    docs = _docs(spark, [f"{_words('aa', 40)} {run} {_words('ab', 40)}",
                         f"{_words('ba', 40)} {run} {_words('bb', 40)}"])
    assert winnow.winnow_pairs_frame(docs, threshold=0.0).count() == 0


def test_exact_duplicate_scores_full_containment(spark):
    text = _words("dup", 60)
    docs = _docs(spark, [text, text])
    rows = winnow.winnow_pairs_frame(docs).collect()
    sz = (winnow.winnow_fingerprints(docs)
          .filter("doc_id = 0").count())
    assert len(rows) == 1
    assert rows[0].containment == 1.0
    assert rows[0].shared == sz


def test_contained_passage_scores_full_containment(spark):
    """Containment (not Jaccard) is the pair measure: a short document
    pasted verbatim inside a much longer one still scores 1.0."""
    short = _words("pasted", 25)
    long = f"{_words('pre', 80)} {short} {_words('post', 80)}"
    rows = winnow.winnow_pairs_frame(_docs(spark, [short, long])).collect()
    assert len(rows) == 1 and rows[0].containment == 1.0


def test_short_documents_are_dropped(spark):
    docs = _docs(spark, [_words("x", GUARANTEE - 1)] * 2)
    assert winnow.winnow_fingerprints(docs).count() == 0


def test_max_fp_docs_drops_boilerplate(spark):
    """With a boilerplate run shared by every document, the hot-
    fingerprint cap removes those fingerprints and with them the pairs
    whose only overlap was the boilerplate."""
    boiler = _words("boiler", 20)
    texts = [f"{boiler} {_words(f'u{i}', 40)}" for i in range(6)]
    uncapped = winnow.winnow_pairs_frame(_docs(spark, texts), threshold=0.0)
    capped = winnow.winnow_pairs_frame(_docs(spark, texts), threshold=0.0,
                                       max_fp_docs=3)
    assert uncapped.count() == 15  # all C(6,2) pairs share the boilerplate
    assert capped.count() == 0


def test_density_bound(spark):
    """Expected selected fraction is 2/(w+1); on a random-ish corpus the
    distinct-fingerprint count per doc stays within loose bounds of it."""
    docs = _docs(spark, [_words(f"d{i}", 200) for i in range(8)])
    rows = (winnow.winnow_fingerprints(docs)
            .groupBy("doc_id").count().collect())
    n_windows = 200 - K + 1 - W + 1
    expect = 2.0 / (W + 1) * n_windows
    for r in rows:
        assert 0.3 * expect <= r["count"] <= 2.5 * expect, r


def test_oracle_parity(spark, duck, sf_dir):
    from tests.test_ops_packing import _match
    _match(winnow.winnow_pairs(spark, sf_dir),
           winnow.winnow_pairs_oracle(), duck)


def test_matches_positional_oracle_parity(spark, duck, sf_dir):
    """winnow_matches (the MOSS highlight output: shared-fingerprint
    occurrences WITH positions) against its DuckDB twin — pins the
    argmin tie-break (first occurrence of the window minimum) across
    engines."""
    s = sorted(map(tuple,
                   winnow.winnow_matches(spark, sf_dir).collect()))
    d = sorted(map(tuple,
                   duck.execute(winnow.winnow_matches_oracle()).fetchall()))
    assert s == d and len(s) > 0


def test_matches_boilerplate_cap(spark):
    """A boilerplate run shared by every document: the positional
    self-join would emit ~(NP)^2 rows for it; the cap removes those
    fingerprints and with them every cross-pair."""
    boiler = _words("boiler", 20)
    texts = [f"{boiler} {_words(f'u{i}', 40)}" for i in range(6)]
    docs = _docs(spark, texts)
    assert winnow.winnow_matches_frame(docs).count() > 0
    assert winnow.winnow_matches_frame(docs, max_fp_docs=3).count() == 0


def test_contamination_oracle_parity(spark, duck, sf_dir):
    from tests.test_ops_packing import _match
    _match(winnow.winnow_contamination(spark, sf_dir),
           winnow.winnow_contamination_oracle(), duck)


def test_contamination_flags_planted_benchmark_passage(spark,
                                                       tmp_path_factory):
    """doc 10 is benchmark (id % 10 == 0); candidate 11 embeds a long
    passage from it and must flag; candidate 12 shares nothing and must
    not."""
    import os
    d = str(tmp_path_factory.mktemp("winnow_bench"))
    passage = _words("bench", 30)
    rows = [(10, f"{_words('b0', 10)} {passage}"),
            (11, f"{_words('c1', 8)} {passage} {_words('c1b', 8)}"),
            (12, _words("c2", 60))]
    spark.createDataFrame(rows, "doc_id INT, text STRING") \
         .write.parquet(os.path.join(d, "documents.parquet"))
    out = {r.doc_id: r for r in
           winnow.winnow_contamination(spark, d).collect()}
    assert out[11].contaminated and out[11].containment > 0.5
    assert not out[12].contaminated and out[12].hits == 0


def test_matches_locate_planted_passage(spark):
    """A passage pasted at a KNOWN offset: every reported match position
    for the pair must sit inside the pasted span on both sides."""
    run = _words("shared", GUARANTEE + 10)
    pre_a, pre_b = 30, 7
    docs = _docs(spark, [
        f"{_words('aa', pre_a)} {run} {_words('ab', 20)}",
        f"{_words('ba', pre_b)} {run} {_words('bb', 40)}",
    ])
    rows = winnow.winnow_matches_frame(docs).collect()
    assert rows, "planted passage produced no positional matches"
    span = GUARANTEE + 10
    for r in rows:
        assert pre_a + 1 <= r.a_pos <= pre_a + span, r
        assert pre_b + 1 <= r.b_pos <= pre_b + span, r
        # aligned: the same k-gram sits at the same offset inside the run
        assert r.a_pos - pre_a == r.b_pos - pre_b, r


def test_matches_entry_capped_by_default(spark, tmp_path_factory):
    """VERDICT r7 #4: the registry entry runs with a finite df cap — a
    boilerplate fingerprint in more than WINNOW_MATCH_MAX_FP_DOCS docs
    is dropped before the positional self-join (the (NP)^2 guard),
    while the frame default stays uncapped/exact."""
    import os
    d = str(tmp_path_factory.mktemp("winnow_cap"))
    boiler = _words("boiler", 20)
    n = winnow.WINNOW_MATCH_MAX_FP_DOCS + 5
    rows = [(i, f"{boiler} {_words(f'u{i}', 20)}") for i in range(n)]
    spark.createDataFrame(rows, "doc_id INT, text STRING").write.parquet(
        os.path.join(d, "documents.parquet"))
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    capped = winnow.winnow_matches(spark, d).count()
    uncapped = winnow.winnow_matches_frame(docs).count()
    explicit = winnow.winnow_matches_frame(
        docs, max_fp_docs=winnow.WINNOW_MATCH_MAX_FP_DOCS).count()
    # interior boiler fingerprints hit every doc -> >= C(n,2) pairs
    assert uncapped >= n * (n - 1) // 2
    # the entry runs with the default cap (boundary-window fingerprints
    # below the cap legitimately survive; the every-doc ones are gone)
    assert capped == explicit
    assert capped < uncapped // 10


def test_scoped_caches_released(spark, sf_dir):
    """VERDICT r7 #7: the cached signature streams are registered as
    scoped caches; release_scoped_caches() drops their storage blocks
    (the long-lived-session hygiene contract)."""
    from maha_spark.ops.common import current_scope, release_scoped_caches
    release_scoped_caches()
    sc = spark.sparkContext._jsc.sc()
    before = len(sc.getRDDStorageInfo())
    winnow.winnow_pairs(spark, sf_dir).count()
    winnow.winnow_matches(spark, sf_dir).count()
    assert current_scope().held() == 2
    assert len(sc.getRDDStorageInfo()) > before
    assert release_scoped_caches() == 2
    assert len(sc.getRDDStorageInfo()) <= before
