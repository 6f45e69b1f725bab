"""Result-level cache (execution/result_cache.py): the Druid
broker/historical result cache re-expressed for the Spark engine —
hit == miss bit-identical, per-table mtime stamps invalidate on every
engine-maintained rewrite, bounded LRU, unversionable bindings bypass."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from maha_spark.engine import MahaSparkEngine  # noqa: E402
from maha_spark.examples.tpch import build_registry  # noqa: E402
from maha_spark.execution.result_cache import (  # noqa: E402
    ResultCache, canonical_request, model_physical_tables)
from maha_spark.plans.binding import ParquetBinding  # noqa: E402

SRC = "/root/testdata/sf0.001"

REQ = {
    "cube": "lineitem_stats",
    "selectFields": [{"field": "Nation Name"}, {"field": "Revenue"}],
    "filterExpressions": [{"field": "Day", "operator": "between",
                           "from": "1995-01-01", "to": "2002-12-31"}],
    "rowsPerPage": -1,
}


def _engine(spark, base_dir: str, cache: ResultCache) -> MahaSparkEngine:
    return MahaSparkEngine(spark, build_registry(),
                           ParquetBinding(spark, base_dir),
                           result_cache=cache)


@pytest.fixture()
def writable_dir(tmp_path):
    dst = tmp_path / "data"
    dst.mkdir()
    for t in ("lineitem", "orders", "customer", "supplier",
              "part", "nation", "region"):
        shutil.copy(os.path.join(SRC, f"{t}.parquet"),
                    dst / f"{t}.parquet")
    return str(dst)


def test_hit_is_bit_identical_and_counted(spark):
    cache = ResultCache()
    eng = _engine(spark, SRC, cache)
    first = eng.execute(json.dumps(REQ))
    second = eng.execute(json.dumps(REQ))
    assert second == first
    assert cache.hits == 1 and cache.misses == 1
    # key canonicalization: same request, different key order / whitespace
    shuffled = {k: REQ[k] for k in reversed(list(REQ))}
    third = eng.execute(json.dumps(shuffled))
    assert third == first
    assert cache.hits == 2


def test_hit_returns_isolated_copy(spark):
    cache = ResultCache()
    eng = _engine(spark, SRC, cache)
    first = eng.execute(json.dumps(REQ))
    first["rows"].clear()          # caller mutates its response
    again = eng.execute(json.dumps(REQ))
    assert again["rows"], "cached envelope was mutated through a hit"


def test_rewrite_invalidates_via_mtime_stamp(spark, writable_dir):
    """An engine-maintained rewrite bumps the table root mtime; the next
    request's key carries the new stamp, so it recomputes and serves the
    NEW data — the never-stale contract."""
    cache = ResultCache()
    eng = _engine(spark, writable_dir, cache)
    before = eng.execute(json.dumps(REQ))
    assert cache.misses == 1

    # restate lineitem: drop every row of one nation's orders by keeping
    # a filtered copy (values MUST change, not just the mtime)
    li = os.path.join(writable_dir, "lineitem.parquet")
    kept = spark.read.parquet(li).filter(F.col("l_orderkey") % 2 == 0)
    tmp = li + ".new"
    kept.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(li) if os.path.isdir(li) else os.remove(li)
    shutil.move(tmp, li)

    after = eng.execute(json.dumps(REQ))
    assert cache.misses == 2, "rewrite did not change the cache key"
    assert after["rows"] != before["rows"]
    # and the new result is itself served from cache on repeat
    assert eng.execute(json.dumps(REQ)) == after
    assert cache.hits == 1


def test_lru_bounds_entries_and_bytes(spark):
    cache = ResultCache(max_entries=2)
    eng = _engine(spark, SRC, cache)
    for seg in ("BUILDING", "AUTOMOBILE", "MACHINERY"):
        req = dict(REQ)
        req["filterExpressions"] = REQ["filterExpressions"] + [
            {"field": "Market Segment", "operator": "=", "value": seg}]
        eng.execute(json.dumps(req))
    st = cache.stats()
    assert st["entries"] == 2 and st["evictions"] == 1
    assert st["bytes"] > 0

    tiny = ResultCache(max_bytes=10)        # envelope larger than budget
    tiny.put(("k",), {"rows": [["x" * 100]]})
    assert tiny.stats()["entries"] == 0


def test_debug_requests_bypass(spark):
    cache = ResultCache()
    eng = _engine(spark, SRC, cache)
    req = dict(REQ)
    req["debug"] = True
    out = eng.execute(json.dumps(req))
    assert "debug" in out["header"]
    assert cache.stats()["entries"] == 0 and cache.misses == 0


def test_druid_context_flags(spark):
    """Per-request control with Druid's own context-flag names:
    useResultLevelCache gates reads, populateResultLevelCache gates
    writes (stringly bools honored like every other parameter)."""
    cache = ResultCache()
    eng = _engine(spark, SRC, cache)

    no_pop = dict(REQ)
    no_pop["additionalParameters"] = {"populateResultLevelCache": "false"}
    eng.execute(json.dumps(no_pop))
    assert cache.stats()["entries"] == 0      # computed, not stored

    eng.execute(json.dumps(REQ))              # stored normally
    assert cache.stats()["entries"] == 1

    no_use = dict(REQ)
    no_use["additionalParameters"] = {"useResultLevelCache": False}
    hits_before = cache.hits
    first = eng.execute(json.dumps(no_use))   # populates its own entry
    again = eng.execute(json.dumps(no_use))   # same key now cached...
    assert cache.hits == hits_before          # ...but the read is OFF
    assert again == first and first["rows"]

    off = dict(REQ)
    off["additionalParameters"] = {"useResultLevelCache": "false",
                                   "populateResultLevelCache": "false"}
    eng.execute(json.dumps(off))
    assert cache.bypasses == 1                # both off == full bypass


def test_unversionable_binding_bypasses(spark):
    """A binding without table paths cannot stamp versions — the engine
    must bypass, never cache."""
    from maha_spark.plans.binding import TableBinding
    cache = ResultCache()
    src = ParquetBinding(spark, SRC)
    plain = TableBinding(spark)
    for t in ("lineitem", "orders", "customer", "supplier",
              "part", "nation", "region"):
        plain.bind(t, lambda t=t: src.table(t))
    eng = MahaSparkEngine(spark, build_registry(), plain,
                          result_cache=cache)
    first = eng.execute(json.dumps(REQ))
    second = eng.execute(json.dumps(REQ))
    assert second == first
    assert cache.bypasses == 2 and cache.stats()["entries"] == 0


@pytest.mark.slow
def test_fuzz_cache_coherence_under_rewrites(spark, writable_dir):
    """Seeded battery: a randomized request stream with table rewrites
    interleaved — the cached engine must answer every request exactly
    like a cache-less engine over the same current data, and the cache
    must actually serve hits between rewrites (non-vacuity)."""
    import random
    rng = random.Random(907)
    cache = ResultCache()
    cached = _engine(spark, writable_dir, cache)
    plain = _engine(spark, writable_dir, None)

    dims = ["Nation Name", "Region Name", "Market Segment"]
    mets = ["Revenue", "Total Quantity", "Line Count"]
    segs = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD"]

    def _req():
        fields = (rng.sample(dims, rng.randint(1, 2))
                  + rng.sample(mets, rng.randint(1, 2)))
        filters = [{"field": "Day", "operator": "between",
                    "from": "1995-01-01", "to": "2002-12-31"}]
        if rng.random() < 0.5:
            filters.append({"field": "Market Segment", "operator": "in",
                            "values": rng.sample(segs, rng.randint(1, 2))})
        return json.dumps({"cube": "lineitem_stats",
                           "selectFields": [{"field": f} for f in fields],
                           "filterExpressions": filters,
                           "rowsPerPage": -1})

    li = os.path.join(writable_dir, "lineitem.parquet")
    for step in range(24):
        if step and step % 6 == 0:
            mod = rng.choice([3, 5, 7])
            kept = spark.read.parquet(li).filter(
                F.col("l_orderkey") % mod != 0)
            tmp = li + ".new"
            kept.coalesce(1).write.mode("overwrite").parquet(tmp)
            shutil.rmtree(li) if os.path.isdir(li) else os.remove(li)
            shutil.move(tmp, li)
        req = _req()
        assert cached.execute(req) == plain.execute(req), \
            f"cache served stale/divergent rows at step {step}"
        if rng.random() < 0.5:          # immediate repeat: a likely hit
            assert cached.execute(req) == plain.execute(req)
    st = cache.stats()
    assert st["hits"] > 0 and st["misses"] > 0 and st["bypasses"] == 0


def test_key_covers_schema_today_and_tables(spark):
    import datetime as dt
    cache = ResultCache()
    eng = _engine(spark, SRC, cache)
    model = eng.model(json.dumps(REQ))
    tables = model_physical_tables(model)
    # every fact candidate + the joined dim chain tables
    assert "lineitem" in tables
    assert {"customer", "nation"} <= set(tables)
    k1 = cache.key_for(model, eng.binding, REQ, "internal",
                       dt.date(2002, 1, 1), "maha")
    k2 = cache.key_for(model, eng.binding, REQ, "internal",
                       dt.date(2002, 1, 2), "maha")
    k3 = cache.key_for(model, eng.binding, REQ, "other",
                       dt.date(2002, 1, 1), "maha")
    assert len({k1, k2, k3}) == 3
    assert canonical_request(b'{"a": 1}') == canonical_request('{"a":1}')
    assert canonical_request(object()) is not None  # repr fallback


def test_unmaterialized_rollup_candidates_do_not_bypass(spark):
    """r12 soak regression pin: a registry whose fact-candidate set
    includes rollups the deployment never materialized (the NORMAL
    state — the contract registry on plain testdata) must still cache.
    The absent candidate is stamped with a -1.0 sentinel; materializing
    it later flips the stamp (table_path existence-probes per call) and
    rotates the key, so absence is safe cacheable state."""
    import datetime as dt

    from maha_spark.examples.contract import (QUERIES,
                                              build_contract_registry)
    from maha_spark.execution.result_cache import table_stamps
    cache = ResultCache()
    eng = MahaSparkEngine(spark, build_contract_registry(),
                          ParquetBinding(spark, SRC),
                          result_cache=cache)
    req = QUERIES["q1_pricing_summary"]["request"]
    model = eng.model(req)
    tables = model_physical_tables(model)
    assert any(t.startswith("lineitem_daily") for t in tables)
    stamps = dict(table_stamps(eng.binding, tables))
    assert stamps["lineitem"] > 0
    assert stamps["lineitem_daily"] == -1.0  # absent candidate sentinel
    first = eng.execute(req)
    second = eng.execute(req)
    assert second == first
    assert cache.hits == 1 and cache.misses == 1 and cache.bypasses == 0
    # key rotation on materialization is equivalent to the stamp moving:
    # a key built with the candidate PRESENT differs from the absent one
    k_absent = cache.key_for(model, eng.binding, req, "internal",
                             dt.date(2002, 1, 1), "maha")

    class _Probe:
        def table_path(self, name):
            if name == "lineitem_daily":
                return os.path.join(SRC, "lineitem.parquet")  # any path
            return eng.binding.table_path(name)

        def has_table(self, name):
            return True
    k_present = cache.key_for(model, _Probe(), req, "internal",
                              dt.date(2002, 1, 1), "maha")
    assert k_absent != k_present


def test_concurrent_get_put_keep_bytes_consistent():
    """Threads serving one engine share its cache: four threads hammering
    ``get``/``put`` on a 4-entry cache raise nothing, and the byte count
    equals the bytes of the live entries."""
    import threading

    cache = ResultCache(max_entries=4)
    errors = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)

    def hammer(seed: int) -> None:
        try:
            for i in range(20_000):
                k = ("k", (i * 7 + seed) % 8)
                if cache.get(k) is None:
                    cache.put(k, {"rows": [[i % 3]]})
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errors.append(e)

    try:
        threads = [threading.Thread(target=hammer, args=(s,))
                   for s in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert cache._bytes == sum(n for _env, n in cache._data.values())
    assert len(cache._data) <= 4
