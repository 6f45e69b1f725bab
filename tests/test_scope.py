"""The storage lifecycle: a ``Scope`` owns and releases only what was
allocated while it was current, so concurrent requests, ops and stream
micro-batches never release each other's caches or checkpoints."""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel

from maha_spark.ops.common import (Scope, current_scope, in_scope,
                                   release_scoped_caches, scoped_cache)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _is_cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_scope_releases_only_its_own_caches(spark):
    """Thread B's scope release leaves thread A's open-scope cache in
    place (the process-global drain unpersisted every request's)."""
    a_cached = threading.Event()
    b_done = threading.Event()
    out = {}

    def thread_a() -> None:
        with Scope():
            df = scoped_cache(spark.range(2000).selectExpr("id * 2 AS x"))
            df.count()
            a_cached.set()
            b_done.wait(120)
            out["a_cached_after_b"] = _is_cached(df)
        out["a_cached_after_exit"] = _is_cached(df)

    def thread_b() -> None:
        a_cached.wait(120)
        with Scope():
            df = scoped_cache(spark.range(3000).selectExpr("id * 3 AS y"))
            df.count()
            out["b_cached_inside"] = _is_cached(df)
        out["b_cached_after_exit"] = _is_cached(df)
        b_done.set()

    ts = [threading.Thread(target=f) for f in (thread_a, thread_b)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(300)
    assert out == {"b_cached_inside": True, "b_cached_after_exit": False,
                   "a_cached_after_b": True, "a_cached_after_exit": False}


def test_scope_nesting_checkpoint_and_spawn(spark):
    """The innermost open scope is current; the root serves callers
    outside any scope; a checkpoint's RDD and a spawned thread belong
    to the scope that made them."""
    root = current_scope()
    base = _persisted(spark)
    with Scope() as outer:
        assert current_scope() is outer
        with Scope() as inner:
            assert current_scope() is inner
            ck = inner.checkpoint(spark.range(100).selectExpr("id + 1 AS z"))
            assert _persisted(spark) == base + 1
            seen = []
            t = inner.spawn(spark, lambda: seen.append(current_scope()))
        assert not t.is_alive() and seen == [inner]
        assert current_scope() is outer
        assert _persisted(spark) == base
        assert ck.columns == ["z"]
    assert current_scope() is root

    @in_scope
    def work() -> Scope:
        return current_scope()

    first, second = work(), work()
    assert root is not first is not second


def test_scopes_caching_one_plan_share_its_entry(spark):
    """Two scopes caching the same plan share one CacheManager entry:
    the inner scope neither re-caches nor releases it, so the outer
    scope's frame stays cached until the outer scope exits."""
    def plan():
        return spark.range(5000).selectExpr("id * 7 AS q")

    with Scope():
        a = scoped_cache(plan())
        a.count()
        with Scope() as b:
            assert scoped_cache(plan()).count() == 5000
            assert b.held() == 0
        assert _is_cached(a)
    assert not _is_cached(a)


def test_binding_cached_table_survives_a_scope(spark, sf_dir, tmp_path):
    """A table the binding caches (small tables stay hot for the
    session) is not a scope's to release: caching its plan in a scope
    leaves it cached after the scope exits."""
    from maha_spark.plans.binding import ParquetBinding

    shutil.copy(os.path.join(sf_dir, "nation.parquet"), str(tmp_path))
    table = ParquetBinding(spark, str(tmp_path)).table("nation")
    assert _is_cached(table)
    with Scope() as scope:
        scoped_cache(table).count()
        assert scope.held() == 0
    assert _is_cached(table)
    assert ParquetBinding(spark, str(tmp_path)).table("nation") is table


def test_scope_bookkeeping_under_thread_contention():
    """Threads caching into one scope while another releases it lose
    no frame: every cached frame is unpersisted exactly once."""
    import sys
    import time

    released = []

    class Frame:
        storageLevel = StorageLevel.NONE

        def cache(self):
            return self

        def unpersist(self, blocking):
            released.append(self)

    scope, n, counts = Scope(), 1000, []
    stop = threading.Event()

    def cacher() -> None:
        for _ in range(n):
            scope.cache(Frame())

    def releaser() -> None:
        while not stop.is_set():
            counts.append(scope.release())
            time.sleep(0)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        rel = threading.Thread(target=releaser)
        rel.start()
        ts = [threading.Thread(target=cacher) for _ in range(3)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(120)
        stop.set()
        rel.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not rel.is_alive() and not any(t.is_alive() for t in ts)
    counts.append(scope.release())
    assert sum(counts) == len(released) == 3 * n
    assert len(set(map(id, released))) == 3 * n


def test_scope_view_release_keeps_an_equal_cache(spark):
    """A scope's temp views go on release, and dropping one leaves a
    cache of an equal plan that another scope holds in place."""
    def plan():
        return spark.range(4000).selectExpr("id * 11 AS v")

    with Scope():
        held = scoped_cache(plan())
        held.count()
        with Scope() as inner:
            name = inner.view(plan())
            assert spark.sql(f"SELECT count(*) FROM {name}").first()[0] == 4000
        assert not spark.catalog.tableExists(name)
        assert _is_cached(held)
    assert not _is_cached(held)


def test_warm_thread_inherits_session_tags(spark):
    """A scope's warm thread runs with the caller's Spark session tags
    (and local properties), and spawning it warns nothing."""
    import warnings

    from maha_spark.ops.common import warm

    seen = {}

    class Frame:   # stands in for the DataFrame a warm thread writes
        sparkSession = spark

        @property
        def write(self):
            seen["tags"] = spark.getTags()
            seen["prop"] = spark.sparkContext.getLocalProperty("maha.test")
            raise RuntimeError("not a real frame")

    spark.addTag("maha-warm-tag")
    spark.sparkContext.setLocalProperty("maha.test", "inherited")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            with Scope():
                warm(Frame())
    finally:
        spark.removeTag("maha-warm-tag")
        spark.sparkContext.setLocalProperty("maha.test", None)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    assert "maha-warm-tag" in seen["tags"]
    assert seen["prop"] == "inherited"


def test_root_scope_caches_survive_a_request(spark, engine, sf_dir,
                                             monkeypatch):
    """An op called outside any scope caches in the root scope: a
    served request releases only its own planner caches, and the op's
    caches stay until ``release_scoped_caches()``."""
    from maha_spark.ops.winnow import winnow_pairs

    root = current_scope()
    release_scoped_caches()
    made = []                    # (owning scope, frame) per cache call
    cache = Scope.cache
    monkeypatch.setattr(Scope, "cache", lambda self, df: (
        made.append((self, df)) or cache(self, df)))

    winnow_pairs(spark, sf_dir).count()
    op = [df for s, df in made]
    assert op and all(s is root for s, _ in made)
    del made[:]
    assert engine.execute(json.dumps(_DIM_CROSS))["rows"]
    assert len(made) == 2 and all(s is not root for s, _ in made)
    assert not any(_is_cached(df) for _, df in made)
    assert all(map(_is_cached, op))
    assert release_scoped_caches() == len(op)
    assert not any(map(_is_cached, op))


_DIM_CROSS = {
    # dim-only DISTINCT across unrelated chains: the planner caches
    # each chain's distinct set in the request's scope
    "cube": "lineitem_stats",
    "selectFields": [{"field": "Nation Name"},
                     {"field": "Supplier Nation Name"}],
    "filterExpressions": [{"field": "Day", "operator": "between",
                           "from": "1995-01-01", "to": "2001-12-31"}],
    "distinct": True,
}


def _cube_requests() -> list[str]:
    day = {"field": "Day", "operator": "between",
           "from": "1995-01-01", "to": "1996-12-31"}
    return [json.dumps(r) for r in (
        _DIM_CROSS,
        {"cube": "lineitem_stats",
         "selectFields": [{"field": "Return Flag"}, {"field": "Revenue"}],
         "filterExpressions": [day],
         "curators": {"totalmetrics": {}, "rowcount": {}}},
        {"cube": "lineitem_stats",
         "selectFields": [{"field": "Nation Name"}, {"field": "Revenue"}],
         "filterExpressions": [day],
         "sortBy": [{"field": "Revenue", "order": "DESC"}],
         "rowsPerPage": 5},
    )]


def _canon(env: dict) -> str:
    rows = sorted(json.dumps(r, sort_keys=True, default=str)
                  for r in env["rows"])
    return json.dumps({"header": env.get("header"), "rows": rows,
                       "curators": env.get("curators")},
                      sort_keys=True, default=str)


def test_concurrent_requests_and_op_match_serial(spark, engine, sf_dir):
    """Four threads run cube requests (one allocating planner scoped
    caches) and an op in its own scope: every answer equals the serial
    run's, and the persisted-RDD count returns to its baseline."""
    from maha_spark.ops.winnow import winnow_pairs

    def op() -> str:
        with Scope():
            return json.dumps(sorted(
                map(tuple, winnow_pairs(spark, sf_dir).collect())))

    reqs = _cube_requests()
    jobs = [lambda r=r: _canon(engine.execute(r)) for r in reqs] + [op]
    serial = [j() for j in jobs]
    base = _persisted(spark)
    with ThreadPoolExecutor(max_workers=4) as pool:
        for _ in range(2):
            got = [f.result() for f in [pool.submit(j) for j in jobs]]
            assert got == serial
    assert _persisted(spark) == base


def _feed(spark, tmp_path, batches) -> str:
    feed = str(tmp_path / "feed")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for i, b in enumerate(batches):
        sub = os.path.join(feed, f"f{i}")
        b.select(*cols).coalesce(1).write.parquet(sub)
        for f in glob.glob(os.path.join(sub, "*.parquet")):
            shutil.move(f, os.path.join(feed, f"{i:02d}.parquet"))
        shutil.rmtree(sub)
    return feed


def _batch_dirs(path) -> int:
    return len(glob.glob(os.path.join(str(path), "batch_id=*")))


def test_index_fold_drains_leave_no_persisted_rdds(spark, sf_dir, tmp_path):
    """Each micro-batch's caches and checkpoints are released with its
    scope: a multi-batch drain of either index fold leaves the
    persisted-RDD count where it started."""
    from maha_spark.ops.incremental import (materialize_dedup_index,
                                            streaming_dedup_incremental)
    from maha_spark.ops.substring import (materialize_exsub_index,
                                          streaming_exsub_incremental)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    corpus = docs.filter("doc_id % 5 != 0")
    feed = _feed(spark, tmp_path, [
        docs.filter(f"doc_id % 5 = 0 AND doc_id % 3 = {k}")
        for k in range(3)])

    base = _persisted(spark)
    idx = str(tmp_path / "dedup_idx")
    materialize_dedup_index(spark, corpus, idx)
    streaming_dedup_incremental(spark, feed, idx, str(tmp_path / "pairs"),
                                str(tmp_path / "ckpt_dedup"))
    assert _batch_dirs(tmp_path / "pairs") == 3
    assert _persisted(spark) == base

    xidx = str(tmp_path / "exsub_idx")
    materialize_exsub_index(spark, corpus, xidx)
    streaming_exsub_incremental(spark, feed, xidx, str(tmp_path / "spans"),
                                str(tmp_path / "ckpt_exsub"))
    assert _batch_dirs(tmp_path / "spans") == 3
    assert _persisted(spark) == base
