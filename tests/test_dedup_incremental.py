"""Incremental near-dup detection vs the batch kernel.

The production crawl-ingest loop dedups each arriving batch against a
persisted corpus index (bands + shingles) instead of re-LSHing the
corpus. These tests pin, on the sf0.001 documents fixture split into
corpus (doc_id % 5 != 0) and batch (doc_id % 5 == 0):

1. ``dedup_incremental`` returns EXACTLY the batch kernel's pairs over
   the full corpus restricted to "at least one side is new" — and that
   restriction is nonvacuous in both categories (new-vs-corpus and
   new-vs-new pairs both exist in the fixture: 11 and 3);
2. corpus-internal pairs are NOT re-reported;
3. after ``update_dedup_index`` the index equals a full rebuild over
   (corpus + batch), so the next batch sees an identical corpus.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.ops.dedup import dedup_minhash_lsh  # noqa: E402
from maha_spark.ops.incremental import (  # noqa: E402
    BANDS_TABLE, SHINGLES_TABLE, dedup_incremental, materialize_dedup_index,
    update_dedup_index,
)

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def split(spark):
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    return (docs.filter("doc_id % 5 != 0"), docs.filter("doc_id % 5 = 0"))


@pytest.fixture(scope="module")
def index_dir(spark, split, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dedup_idx"))
    materialize_dedup_index(spark, split[0], d)
    return d


def _pairs(df):
    return {(r["a_id"], r["b_id"], r["jaccard"]) for r in df.collect()}


def test_incremental_matches_batch_kernel_restriction(
        spark, split, index_dir):
    corpus, new = split
    new_ids = {r[0] for r in new.select("doc_id").collect()}
    full = _pairs(dedup_minhash_lsh(spark, SRC))
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    got = _pairs(dedup_incremental(spark, index_dir, new))
    assert got == expected
    # nonvacuous in BOTH categories
    cross = {p for p in got if (p[0] in new_ids) != (p[1] in new_ids)}
    both_new = {p for p in got if p[0] in new_ids and p[1] in new_ids}
    assert cross and both_new
    # corpus-internal pairs exist in the full answer and are NOT re-found
    assert full - expected
    assert not (got & (full - expected))


def test_warmed_batch_frames_reused_by_rebuilt_plans(spark, split,
                                                     tmp_path):
    """dedup_incremental_op warms the batch's shingle and band caches,
    then dedup_incremental rebuilds the same two plans: the rebuilt
    band frame — even over an independently built batch frame — reads
    the warmed InMemoryRelation, and the pairs equal the unwarmed
    path's row for row."""
    from maha_spark.ops.common import Scope, scoped_cache
    from maha_spark.ops.dedup import lsh_band_frame, lsh_shingle_frame

    corpus, batch = split
    idx = str(tmp_path / "idx")
    materialize_dedup_index(spark, corpus, idx)
    with Scope():
        plain = (dedup_incremental(spark, idx, batch)
                 .orderBy("a_id", "b_id").collect())
    with Scope():
        (scoped_cache(lsh_band_frame(scoped_cache(lsh_shingle_frame(batch))))
         .write.format("noop").mode("overwrite").save())
        again = (spark.read.parquet(os.path.join(SRC, "documents.parquet"))
                 .filter("doc_id % 5 = 0"))
        rebuilt = lsh_band_frame(lsh_shingle_frame(again))
        assert rebuilt._jdf.queryExecution().withCachedData() \
            .nodeName() == "InMemoryRelation"
        warmed = (dedup_incremental(spark, idx, batch)
                  .orderBy("a_id", "b_id").collect())
    assert warmed == plain and plain


def test_update_then_reindex_equivalence(spark, split, index_dir,
                                         tmp_path_factory):
    corpus, new = split
    update_dedup_index(spark, index_dir, new)
    fresh = str(tmp_path_factory.mktemp("dedup_idx_full"))
    materialize_dedup_index(spark, corpus.unionByName(new), fresh)
    for t in (BANDS_TABLE, SHINGLES_TABLE):
        a = spark.read.parquet(os.path.join(index_dir, t))
        b = spark.read.parquet(os.path.join(fresh, t))
        # multiset equality via exceptAll both ways (shingle arrays are
        # order-deterministic: transform over the same word sequence)
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
        assert a.count() == b.count() > 0


def test_reappending_an_indexed_id_raises(spark, split, index_dir):
    """The append contract is enforced, not honor-system: after the
    previous test folded the batch in, re-appending any of its ids must
    raise (stale + new band rows for one doc would emit contradictory
    pairs) and must leave the index untouched."""
    _corpus, new = split
    before = spark.read.parquet(
        os.path.join(index_dir, BANDS_TABLE)).count()
    with pytest.raises(ValueError, match="already indexed"):
        update_dedup_index(spark, index_dir, new.limit(3))
    after = spark.read.parquet(
        os.path.join(index_dir, BANDS_TABLE)).count()
    assert after == before

def test_scratch_index_dir_registered_for_cleanup_and_stale_pruned(spark):
    """ADVICE r7: the per-PID scratch index is atexit-registered for
    removal, and stale copies left by dead sibling PIDs are pruned on
    entry (a live PID's dir is never touched)."""
    import atexit
    import os
    import tempfile
    from unittest import mock

    from maha_spark.ops.incremental import dedup_incremental_op

    tmp = tempfile.gettempdir()
    # a stale dir from a PID that cannot exist (kernel pid_max < 2**22)
    stale = os.path.join(tmp, "maha-dedup-idx-deadbeef-4194999")
    os.makedirs(stale, exist_ok=True)
    registered = []
    with mock.patch.object(atexit, "register",
                           side_effect=lambda f, *a, **k:
                           registered.append(a)):
        dedup_incremental_op(spark, "/root/testdata/sf0.001").count()
    assert not os.path.isdir(stale)
    assert registered and str(os.getpid()) in registered[0][0]
    assert os.path.isdir(registered[0][0])  # deferred: still live now


def test_streaming_drain_equals_sequential_batches(spark, tmp_path):
    """The foreachBatch maintenance drain (one file per micro-batch, in
    arrival order) emits exactly the pairs repeated batch incremental
    calls produce, and leaves an index identical to a full rebuild —
    plus a replayed batch is a no-op (idempotence)."""
    from maha_spark.ops.incremental import streaming_dedup_incremental

    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    corpus = docs.filter("doc_id % 5 != 0")
    b1 = docs.filter("doc_id % 5 = 0 AND doc_id % 2 = 0")
    b2 = docs.filter("doc_id % 5 = 0 AND doc_id % 2 = 1")

    # --- batch reference: two sequential incremental calls
    ref_idx = str(tmp_path / "ref_idx")
    materialize_dedup_index(spark, corpus, ref_idx)
    want = _pairs(dedup_incremental(spark, ref_idx, b1))
    update_dedup_index(spark, ref_idx, b1)
    want |= _pairs(dedup_incremental(spark, ref_idx, b2))
    update_dedup_index(spark, ref_idx, b2)

    # --- streaming twin: same base index, feed lands as two files
    idx = str(tmp_path / "s_idx")
    materialize_dedup_index(spark, corpus, idx)
    feed = str(tmp_path / "feed")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    b1.select(*cols).coalesce(1).write.parquet(
        os.path.join(feed, "f1"))
    b2.select(*cols).coalesce(1).write.parquet(
        os.path.join(feed, "f2"))
    # flatten: the reader wants files directly under the feed dir,
    # named so f1 sorts (and thus arrives) before f2
    import glob as _glob
    import shutil as _shutil
    for i, sub in enumerate(("f1", "f2")):
        for f in _glob.glob(os.path.join(feed, sub, "*.parquet")):
            _shutil.move(f, os.path.join(feed, f"{i:02d}.parquet"))
        _shutil.rmtree(os.path.join(feed, sub))
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    streaming_dedup_incremental(spark, feed, idx, pairs_dir, ckpt)

    got_df = spark.read.parquet(pairs_dir)
    assert _pairs(got_df.select("a_id", "b_id", "jaccard")) == want
    # two micro-batches really ran (order pinned by the per-batch dirs)
    assert got_df.select("batch_id").distinct().count() == 2

    # final index == the sequentially-updated reference index
    for t in (BANDS_TABLE, SHINGLES_TABLE):
        a = sorted(map(tuple, spark.read.parquet(
            os.path.join(idx, t)).collect()))
        b = sorted(map(tuple, spark.read.parquet(
            os.path.join(ref_idx, t)).collect()))
        assert a == b, f"{t} diverged from the batch path"

    # --- replay idempotence: drain again with a FRESH checkpoint (the
    # worst-case replay: every batch re-delivered); pairs are
    # overwritten in place, the index gains nothing
    n_bands = spark.read.parquet(os.path.join(idx, BANDS_TABLE)).count()
    streaming_dedup_incremental(spark, feed, idx, pairs_dir,
                                str(tmp_path / "ckpt2"))
    assert _pairs(spark.read.parquet(pairs_dir)
                  .select("a_id", "b_id", "jaccard")) == want
    assert spark.read.parquet(
        os.path.join(idx, BANDS_TABLE)).count() == n_bands


def test_index_format_marker_versioning(spark, split, tmp_path_factory):
    """ADVICE r12 (medium): the r12 band-key change (md5 hex string ->
    packed bigint) silently nulls every new-vs-corpus candidate when a
    pre-change index is joined. The format marker makes that fail FAST:
    a missing marker (old index, or an interrupted rebuild — it is
    written last) and a wrong-version marker both raise with a rebuild
    instruction, from every consumer that reads the stored bands."""
    from maha_spark.ops.incremental import (
        FORMAT_MARKER, INDEX_FORMAT, check_index_format)

    corpus, new = split
    d = str(tmp_path_factory.mktemp("dedup_idx_fmt"))
    materialize_dedup_index(spark, corpus.limit(20), d)
    marker = os.path.join(d, FORMAT_MARKER)
    # a completed rebuild leaves the current-format marker
    assert open(marker).read() == INDEX_FORMAT
    check_index_format(d)  # no raise

    # old-format (v1 string-key) index: wrong marker content
    with open(marker, "w") as f:
        f.write("v1-md5hex")
    for call in (lambda: check_index_format(d),
                 lambda: dedup_incremental(spark, d, new.limit(3)),
                 lambda: update_dedup_index(spark, d, new.limit(3),
                                            assume_new=True)):
        with pytest.raises(ValueError, match="Rebuild"):
            call()

    # interrupted rebuild: bands present, marker absent
    os.remove(marker)
    with pytest.raises(ValueError, match="Rebuild"):
        check_index_format(d)
    # no index at all is NOT an error (consumers materialize on demand)
    check_index_format(str(tmp_path_factory.mktemp("dedup_idx_empty")))
    # a re-materialize writes the marker back and the index works again
    materialize_dedup_index(spark, corpus.limit(20), d)
    check_index_format(d)
