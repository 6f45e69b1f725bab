"""ExactSubstr duplicated-span detection + keep-first removal
(``ops/substring.py`` — on the 50-entry driver contract as
``op_exact_substring_spans``; the removal leg is pytest-pinned here)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.ops import substring  # noqa: E402
from maha_spark.ops.substring import EXSUB_L  # noqa: E402


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


# ------------------------------------------------- oracle bit-parity
def test_spans_match_duckdb_oracle(spark, duck, sf_dir):
    from tests.test_ops_packing import _match
    df = substring.exact_substring_spans(spark, sf_dir)
    _match(df, substring.exact_substring_spans_oracle(), duck)
    assert df.count() > 0


# ------------------------------------------------- planted semantics
def _planted(spark):
    """Three docs sharing one verbatim 12-word passage (>= L so it must
    be detected), plus a unique doc and a doc with an INTERNAL repeat."""
    passage = " ".join(f"shared{i}" for i in range(12))
    rep = " ".join(f"rep{i}" for i in range(EXSUB_L))
    return _docs(spark, [
        (1, f"alpha beta {passage} gamma delta"),
        (2, f"{passage} epsilon zeta eta theta iota kappa"),
        (3, f"one two three four {passage}"),
        (4, "entirely unique words nothing here repeats at all ever once"),
        (5, f"intro {rep} {rep} outro filler words pad pad2 pad3"),
    ])


def test_planted_passage_detected_with_exact_extent(spark):
    spans = {r.doc_id: (r.span_start, r.span_end, r.n_windows)
             for r in substring.exact_substring_spans_frame(
                 _planted(spark)).collect()
             if r.doc_id in (1, 2, 3)}
    # doc 1: passage occupies words 3..14 -> 12-word span, 5 windows
    assert spans[1] == (3, 14, 12 - EXSUB_L + 1)
    assert spans[2] == (1, 12, 12 - EXSUB_L + 1)
    assert spans[3] == (5, 16, 12 - EXSUB_L + 1)


def test_unique_doc_has_no_spans(spark):
    got = {r.doc_id
           for r in substring.exact_substring_spans_frame(
               _planted(spark)).collect()}
    assert 4 not in got


def test_within_document_repeat_counts_as_duplicate(spark):
    """Lee et al. count a substring appearing twice in ONE document; the
    two adjacent repeats merge into a single maximal span."""
    spans = [r for r in substring.exact_substring_spans_frame(
        _planted(spark)).collect() if r.doc_id == 5]
    assert len(spans) == 1
    s = spans[0]
    # rep block: words 2 .. 1 + 2*L, one merged island
    assert s.span_start == 2 and s.span_end == 1 + 2 * EXSUB_L


def test_short_documents_emit_nothing(spark):
    few = " ".join(f"w{i}" for i in range(EXSUB_L - 1))
    out = substring.exact_substring_spans_frame(
        _docs(spark, [(1, few), (2, few)])).collect()
    assert out == []   # below L words -> no window, even though equal


# ------------------------------------------------- keep-first removal
def _py_keep_first(texts: dict[int, str], L: int = EXSUB_L):
    """Pure-Python reference: hash every L-gram, rank occurrences by
    (doc_id, pos), merge rank>=2 windows per doc, cut covered words."""
    occ: dict[tuple, list] = {}
    words = {d: t.split() for d, t in texts.items()}
    for d in sorted(words):
        w = words[d]
        for p in range(len(w) - L + 1):
            occ.setdefault(tuple(w[p:p + L]), []).append((d, p + 1))
    doomed: dict[int, set] = {d: set() for d in words}
    for gram, hits in occ.items():
        if len(hits) < 2:
            continue
        for d, p in sorted(hits)[1:]:
            doomed[d].update(range(p, p + L))
    out = {}
    for d, w in words.items():
        kept = [x for i, x in enumerate(w, 1) if i not in doomed[d]]
        out[d] = (" ".join(kept), len(w), len(w) - len(kept))
    return out


def test_dedup_matches_python_reference(spark):
    rows = _planted(spark).collect()
    texts = {r.doc_id: r.text for r in rows}
    want = _py_keep_first(texts)
    got = {r.doc_id: (r.clean_text, r.n_words, r.removed_words)
           for r in substring.exact_substring_dedup(
               _planted(spark)).collect()}
    assert got == want


def test_dedup_keeps_exactly_first_occurrence(spark):
    got = {r.doc_id: r for r in substring.exact_substring_dedup(
        _planted(spark)).collect()}
    # doc 1 (lowest doc_id) keeps the passage; docs 2 and 3 lose it
    assert got[1].removed_words == 0
    assert got[2].removed_words == 12
    assert got[3].removed_words == 12
    assert "shared0" in got[1].clean_text
    assert "shared0" not in got[2].clean_text
    assert "shared0" not in got[3].clean_text
    # non-duplicated context survives the cut
    assert got[2].clean_text.startswith("epsilon zeta")
    assert got[3].clean_text == "one two three four"


def test_dedup_registry_entry_runs(spark, sf_dir):
    out = substring.exact_substring_dedup_op(spark, sf_dir)
    assert out.columns == ["doc_id", "clean_text", "n_words",
                           "removed_words"]
    rows = out.collect()
    assert rows and any(r.removed_words > 0 for r in rows)
    assert all(r.removed_words >= 0 for r in rows)


# ------------------------------------------------- linearity guard
def _window_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines()
            if ln.strip().lstrip("+-: *()0123456789").startswith("Window")]


def test_no_pair_join_rows_stay_linear(spark):
    """The op's 100 TB contract: N copies of one document produce N
    span rows (linear), never N^2 candidate pairs — and the occurrence
    count is a map-side-combined groupBy joined back, never a
    WindowExec partitioned by the (skew-prone) hash key."""
    n = 40
    text = " ".join(f"boil{i}" for i in range(EXSUB_L + 3))
    docs = _docs(spark, [(i, text) for i in range(n)])
    frame = substring.exact_substring_spans_frame(docs)
    assert frame.count() == n
    plan = frame._jdf.queryExecution().executedPlan().toString()
    # the only window operators are the per-document islands merge —
    # none may be partitioned by the hash column h
    wls = _window_lines(plan)
    assert wls and all("h#" not in ln for ln in wls)
    # the per-hash occurrence count must have map-side partial agg
    assert "partial_count" in plan


def test_dedup_plan_has_no_window_on_hash(spark):
    """Removal leg twin of the de-skew pin: keep-first is decided by a
    map-side-combinable min(struct(doc_id, pos)) groupBy, not a
    row_number window over the hash key."""
    frame = substring.exact_substring_dedup(_planted(spark))
    plan = frame._jdf.queryExecution().executedPlan().toString()
    wls = _window_lines(plan)
    assert all("h#" not in ln for ln in wls)
    assert "partial_count" in plan and "partial_min" in plan


def test_hot_hash_corpus_stays_correct(spark):
    """A single 8-gram duplicated across thousands of documents (the
    web-boilerplate skew case the groupBy de-skew exists for): every
    copy is detected, exactly the (doc_id, pos)-first copy survives
    removal."""
    n = 3000
    boiler = " ".join(f"hot{i}" for i in range(EXSUB_L))
    docs = _docs(spark, [(i, f"u{i}a u{i}b {boiler} u{i}c") for i in range(n)])
    spans = substring.exact_substring_spans_frame(docs)
    assert spans.count() == n
    first = spans.orderBy("doc_id").limit(1).collect()[0]
    assert (first.doc_id, first.span_start, first.span_end) == (0, 3, 10)
    removed = substring.exact_substring_dedup(docs)
    agg = removed.selectExpr(
        "sum(CASE WHEN removed_words = 0 THEN 1 ELSE 0 END) AS kept",
        f"sum(removed_words) AS cut").collect()[0]
    assert agg.kept == 1 and agg.cut == (n - 1) * EXSUB_L
    survivor = removed.filter("doc_id = 0").collect()[0]
    assert "hot0" in survivor.clean_text


def test_dedup_matches_duckdb_oracle(spark, duck, sf_dir):
    from tests.test_ops_packing import _match
    df = substring.exact_substring_dedup_op(spark, sf_dir)
    _match(df, substring.exact_substring_dedup_oracle(), duck)
    assert df.count() > 0


# ------------------------------------------------- doc_id sidecar
def test_append_probe_reads_sidecar_not_windows(spark, tmp_path):
    """The append-contract probe must be satisfiable from the
    O(documents) exsub_docs sidecar alone: with the windows table
    removed, a duplicate-id update still raises."""
    import shutil
    idx = str(tmp_path / "sc_idx")
    corpus = _planted(spark)
    substring.materialize_exsub_index(spark, corpus, idx)
    assert os.path.isdir(os.path.join(idx, substring.DOCS_TABLE))
    shutil.rmtree(os.path.join(idx, substring.WINDOWS_TABLE))
    import pytest
    with pytest.raises(ValueError, match="already indexed"):
        substring.update_exsub_index(spark, idx,
                                     corpus.filter("doc_id = 1"))


def test_sidecar_reconcile_repairs_partial_append(spark, tmp_path):
    """Crash-consistency: windows appended but the sidecar append lost
    (the one non-atomic gap) — reconcile restores
    sidecar == distinct(windows.doc_id) so a replayed batch is
    filtered instead of double-appended."""
    idx = str(tmp_path / "rc_idx")
    corpus = _planted(spark)
    substring.materialize_exsub_index(spark, corpus.filter("doc_id <= 3"),
                                      idx)
    # simulate the crash: append windows rows directly, skip the sidecar
    late = corpus.filter("doc_id = 5")
    (substring._window_hashes(late, EXSUB_L).write.mode("append")
     .parquet(os.path.join(idx, substring.WINDOWS_TABLE)))
    seen = {r.doc_id for r in substring._seen_docs(spark, idx).collect()}
    assert 5 not in seen          # sidecar is stale
    substring.reconcile_exsub_sidecar(spark, idx)
    seen = {r.doc_id for r in substring._seen_docs(spark, idx).collect()}
    assert 5 in seen
    import pytest
    with pytest.raises(ValueError, match="already indexed"):
        substring.update_exsub_index(spark, idx, late)


def test_erasure_updates_sidecar(spark, tmp_path):
    idx = str(tmp_path / "es_idx")
    corpus = _planted(spark)
    substring.materialize_exsub_index(spark, corpus, idx)
    substring.remove_docs_from_exsub_index(
        spark, idx, _docs(spark, [(2, "x")]).select("doc_id"))
    seen = {r.doc_id for r in substring._seen_docs(spark, idx).collect()}
    assert 2 not in seen and 1 in seen


def test_incremental_shuffle_fallback_matches_broadcast(spark, tmp_path):
    """Above the distinct-hash broadcast cap the probe degrades to a
    shuffle semi-join with identical results."""
    passage = " ".join(f"fb{i}" for i in range(12))
    corpus = _docs(spark, [(1, f"alpha beta {passage} gamma delta")])
    batch = _docs(spark, [(10, f"intro {passage} outro pad pad2 pad3"),
                          (11, "novel words that are nowhere else here")])
    idx = str(tmp_path / "fb_idx")
    substring.materialize_exsub_index(spark, corpus, idx)
    a = sorted(map(tuple,
                   substring.exsub_incremental(spark, idx, batch).collect()))
    b = sorted(map(tuple,
                   substring.exsub_incremental(
                       spark, idx, batch,
                       broadcast_hash_limit=0).collect()))
    assert a == b and a


# ------------------------------------------------- incremental index
def test_incremental_equals_oneshot_on_union(spark, tmp_path):
    """The ingest contract: spans for batch B against (index(A) + B)
    == the one-shot detector over A ∪ B restricted to B's doc_ids."""
    passage = " ".join(f"pp{i}" for i in range(12))
    corpus = _docs(spark, [
        (1, f"alpha beta {passage} gamma delta"),
        (2, "entirely unique words nothing here repeats at all once"),
    ])
    batch = _docs(spark, [
        (10, f"intro {passage} outro pad pad2 pad3 pad4 pad5"),
        (11, "another novel document with no shared runs anywhere at"),
        (12, f"one two three {passage}"),
    ])
    idx = str(tmp_path / "exsub_idx")
    substring.materialize_exsub_index(spark, corpus, idx)
    got = [(r.doc_id, r.span_start, r.span_end, r.n_windows)
           for r in substring.exsub_incremental(spark, idx, batch).collect()]
    union = corpus.unionByName(batch)
    want = [(r.doc_id, r.span_start, r.span_end, r.n_windows)
            for r in substring.exact_substring_spans_frame(union).collect()
            if r.doc_id >= 10]
    assert got == want and got


def test_incremental_batch_internal_duplicates_detected(spark, tmp_path):
    """A passage duplicated only WITHIN the batch (absent from the
    corpus index) must still be flagged."""
    rep = " ".join(f"bb{i}" for i in range(EXSUB_L))
    corpus = _docs(spark, [(1, "base corpus words with nothing shared "
                               "anywhere in this text")])
    batch = _docs(spark, [(10, f"x {rep} y pad pad2 pad3"),
                          (11, f"{rep} z pad4 pad5 pad6 pad7")])
    idx = str(tmp_path / "exsub_idx2")
    substring.materialize_exsub_index(spark, corpus, idx)
    got = {r.doc_id for r in
           substring.exsub_incremental(spark, idx, batch).collect()}
    assert got == {10, 11}


def test_index_append_equals_rebuild(spark, tmp_path):
    corpus = _planted(spark)
    a = corpus.filter("doc_id <= 3")
    b = corpus.filter("doc_id > 3")
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    substring.materialize_exsub_index(spark, a, inc)
    substring.update_exsub_index(spark, inc, b)
    substring.materialize_exsub_index(spark, corpus, full)
    import os
    read = lambda p: sorted(
        map(tuple, spark.read.parquet(
            os.path.join(p, substring.WINDOWS_TABLE)).collect()))
    assert read(inc) == read(full)


def test_index_append_contract_enforced(spark, tmp_path):
    corpus = _planted(spark)
    idx = str(tmp_path / "guard")
    substring.materialize_exsub_index(spark, corpus, idx)
    import pytest
    with pytest.raises(ValueError, match="already indexed"):
        substring.update_exsub_index(spark, idx, corpus.filter("doc_id = 1"))


# ------------------------------------------------- streaming ingest twin
def test_streaming_drain_equals_sequential_batches(spark, tmp_path, sf_dir):
    """The foreachBatch ExactSubstr drain (one file per micro-batch, in
    arrival order) emits exactly the spans repeated batch incremental
    calls produce, leaves an index identical to the sequentially-updated
    one, and replaying every batch from a fresh checkpoint is a no-op."""
    import glob as _glob
    import shutil as _shutil

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    corpus = docs.filter("doc_id % 5 != 0")
    b1 = docs.filter("doc_id % 5 = 0 AND doc_id % 2 = 0")
    b2 = docs.filter("doc_id % 5 = 0 AND doc_id % 2 = 1")

    def spans(df):
        return sorted((r.doc_id, r.span_start, r.span_end, r.n_windows)
                      for r in df.collect())

    # batch reference: two sequential incremental calls
    ref_idx = str(tmp_path / "ref_idx")
    substring.materialize_exsub_index(spark, corpus, ref_idx)
    want = spans(substring.exsub_incremental(spark, ref_idx, b1))
    substring.update_exsub_index(spark, ref_idx, b1)
    want += spans(substring.exsub_incremental(spark, ref_idx, b2))
    substring.update_exsub_index(spark, ref_idx, b2)

    # streaming twin: same base index, feed lands as two ordered files
    idx = str(tmp_path / "s_idx")
    substring.materialize_exsub_index(spark, corpus, idx)
    feed = str(tmp_path / "feed")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for i, b in enumerate((b1, b2)):
        b.select(*cols).coalesce(1).write.parquet(
            os.path.join(feed, f"f{i}"))
        for f in _glob.glob(os.path.join(feed, f"f{i}", "*.parquet")):
            _shutil.move(f, os.path.join(feed, f"{i:02d}.parquet"))
        _shutil.rmtree(os.path.join(feed, f"f{i}"))
    spans_dir = str(tmp_path / "spans")
    ckpt = str(tmp_path / "ckpt")
    substring.streaming_exsub_incremental(spark, feed, idx, spans_dir, ckpt)

    got_df = spark.read.parquet(spans_dir)
    got = sorted((r.doc_id, r.span_start, r.span_end, r.n_windows)
                 for r in got_df.collect())
    assert got == sorted(want) and got
    assert got_df.select("batch_id").distinct().count() == 2

    # final index == the sequentially-updated reference index
    read = lambda p: sorted(map(tuple, spark.read.parquet(
        os.path.join(p, substring.WINDOWS_TABLE)).collect()))
    assert read(idx) == read(ref_idx)

    # replay idempotence: drain again with a FRESH checkpoint
    substring.streaming_exsub_incremental(
        spark, feed, idx, spans_dir, str(tmp_path / "ckpt2"))
    got2 = sorted((r.doc_id, r.span_start, r.span_end, r.n_windows)
                  for r in spark.read.parquet(spans_dir).collect())
    assert got2 == got
    assert read(idx) == read(ref_idx)


# ------------------------------------------------- index maintenance
def test_index_compaction_bit_identical(spark, tmp_path):
    """Many tiny appended files collapse to the byte-derived target
    count with the row multiset (and thus probe results) unchanged;
    an already-compact index is physically untouched."""
    idx = str(tmp_path / "cidx")
    docs = _planted(spark)
    substring.materialize_exsub_index(spark, docs.filter("doc_id = 1"), idx)
    for i in (2, 3, 4, 5):
        substring.update_exsub_index(spark, idx,
                                     docs.filter(f"doc_id = {i}"))
    path = os.path.join(idx, substring.WINDOWS_TABLE)
    n_files = lambda: len([f for f in os.listdir(path)
                           if f.endswith(".parquet")])
    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert n_files() >= 5
    got = substring.compact_exsub_index(spark, idx, min_files=2)
    assert got == 1 and n_files() == 1
    assert sorted(map(tuple,
                      spark.read.parquet(path).collect())) == before_rows
    # untouched when already compact
    mtimes = {f: os.path.getmtime(os.path.join(path, f))
              for f in os.listdir(path)}
    assert substring.compact_exsub_index(spark, idx, min_files=2) == 0
    assert mtimes == {f: os.path.getmtime(os.path.join(path, f))
                      for f in os.listdir(path)}


def test_remove_docs_erases_influence_and_allows_reingest(spark, tmp_path):
    """After erasing doc 1, a batch duplicating only doc 1's passage is
    no longer flagged; the erased id can then re-ingest as fresh."""
    idx = str(tmp_path / "ridx")
    passage = " ".join(f"er{i}" for i in range(12))
    corpus = _docs(spark, [
        (1, f"alpha beta {passage} gamma delta"),
        (2, "totally different words all unique in this entire row here"),
    ])
    substring.materialize_exsub_index(spark, corpus, idx)
    batch = _docs(spark, [(10, f"intro {passage} outro pad pad2 pad3")])
    assert substring.exsub_incremental(spark, idx, batch).count() == 1
    substring.remove_docs_from_exsub_index(
        spark, idx, _docs(spark, [(1, "x")]).select("doc_id"))
    # influence gone: the same batch now has no duplicate source
    assert substring.exsub_incremental(spark, idx, batch).count() == 0
    path = os.path.join(idx, substring.WINDOWS_TABLE)
    assert spark.read.parquet(path).filter("doc_id = 1").count() == 0
    # re-ingest of the erased id passes the append-contract probe
    substring.update_exsub_index(spark, idx, corpus.filter("doc_id = 1"))
    assert substring.exsub_incremental(spark, idx, batch).count() == 1


# ------------------------------------------- batch-path crash safety
def _corpus(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")


def _text(tag: str) -> str:
    return " ".join(f"{tag}{i}" for i in range(substring.EXSUB_L + 2))


def _sidecar_ids(spark, idx) -> set:
    return {r.doc_id for r in
            spark.read.parquet(substring._docs_path(idx)).collect()}


def _windows_doc_counts(spark, idx) -> dict:
    rows = (spark.read.parquet(substring._windows_path(idx))
            .groupBy("doc_id").count().collect())
    return {r.doc_id: r["count"] for r in rows}


def test_exsub_crash_between_appends_self_heals(spark, tmp_path,
                                                monkeypatch):
    """Kill the call between the windows append and the sidecar append
    (monkeypatched second _window_hashes), then show the NEXT batch
    call heals: the pending marker triggers a reconcile, the retried
    batch is loudly rejected (no silent double-count), and a fresh
    batch proceeds with the invariant restored."""
    idx = str(tmp_path / "idx")
    substring.materialize_exsub_index(
        spark, _corpus(spark, [(i, _text(f"a{i}x")) for i in range(3)]), idx)
    batch2 = _corpus(spark, [(10, _text("b")), (11, _text("c"))])

    real = substring._window_hashes
    calls = {"n": 0}

    def torn(docs, length):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash after windows append")
        return real(docs, length)

    monkeypatch.setattr(substring, "_window_hashes", torn)
    with pytest.raises(RuntimeError):
        substring.update_exsub_index(spark, idx, batch2)
    monkeypatch.setattr(substring, "_window_hashes", real)

    # torn state: batch2's windows landed, the sidecar did not, and the
    # in-progress marker survives the crash
    assert os.path.exists(substring._pending_path(idx))
    assert 10 not in _sidecar_ids(spark, idx)
    base_counts = _windows_doc_counts(spark, idx)
    assert 10 in base_counts

    # the RETRY self-heals: the marker forces a reconcile, after which
    # the probe sees batch2 as already indexed and refuses — the
    # alternative (a pass) would double-count every batch2 window
    with pytest.raises(ValueError, match="already indexed"):
        substring.update_exsub_index(spark, idx, batch2)
    assert not os.path.exists(substring._pending_path(idx))
    assert _windows_doc_counts(spark, idx) == base_counts
    assert 10 in _sidecar_ids(spark, idx)

    # a NEW batch proceeds normally on the healed index
    substring.update_exsub_index(spark, idx, _corpus(spark,
                                                   [(20, _text("d"))]))
    assert not os.path.exists(substring._pending_path(idx))
    win_ids = set(_windows_doc_counts(spark, idx))
    assert _sidecar_ids(spark, idx) == win_ids and 20 in win_ids


def test_exsub_presidecar_layout_gets_full_sidecar(spark, tmp_path):
    """On a legacy (pre-sidecar) index layout, an update must reconcile
    the FULL sidecar from the windows table before its first sidecar
    append — appending only the batch's ids would create an incomplete
    sidecar whose probe passes previously indexed doc_ids (the ADVICE
    double-append bug)."""
    import shutil
    idx = str(tmp_path / "legacy")
    old = _corpus(spark, [(i, _text(f"e{i}y")) for i in range(4)])
    substring.materialize_exsub_index(spark, old, idx)
    shutil.rmtree(substring._docs_path(idx))  # simulate legacy layout

    substring.update_exsub_index(spark, idx, _corpus(spark,
                                                   [(30, _text("f"))]))
    assert _sidecar_ids(spark, idx) == {0, 1, 2, 3, 30}
    # the previously indexed ids are rejected again (they would have
    # slipped through an incomplete batch-only sidecar)
    with pytest.raises(ValueError, match="already indexed"):
        substring.update_exsub_index(spark, idx, old.limit(1))
