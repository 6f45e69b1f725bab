"""Bucketing (revision A/B) and curator (drilldown / timeshift /
totalmetrics / rowcount) behavior."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.core.bucketing import (  # noqa: E402
    BucketSelector, CubeBucketConfig,
)

DAY_ALL = {"field": "day", "operator": "between",
           "from": "1995-01-01", "to": "2002-12-31"}


# --------------------------------------------------------------- bucketing
def test_bucket_split_deterministic_and_proportional():
    sel = BucketSelector({
        "tpch": CubeBucketConfig("tpch", internal={0: 90, 1: 10}),
    })
    picks = [sel.select("tpch", user_id=f"u{i}").revision
             for i in range(2000)]
    # same user -> same revision, always
    assert all(sel.select("tpch", user_id="u7").revision == picks[7]
               for _ in range(5))
    frac_rev1 = picks.count(1) / len(picks)
    assert 0.05 < frac_rev1 < 0.15  # ~10%


def test_bucket_defaults_and_dry_run():
    sel = BucketSelector({
        "tpch": CubeBucketConfig("tpch", internal={0: 100},
                                 dry_run={2: 100}),
    })
    s = sel.select("tpch", user_id="anyone")
    assert s.revision == 0 and s.dry_run_revision == 2
    # unknown cube -> no opinion (registry default)
    assert sel.select("other", user_id="x").revision is None


def test_bucket_pct_must_sum_100():
    with pytest.raises(ValueError):
        CubeBucketConfig("c", internal={0: 50, 1: 10})


# --------------------------------------------------------------- curators
@pytest.fixture(scope="module")
def contract_engine(spark):
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry
    return engine_for_dir(spark, build_contract_registry(),
                          "/root/testdata/sf0.001")


def test_totalmetrics_and_rowcount(contract_engine, duck):
    out = contract_engine.execute({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
        "rowsPerPage": 2,
        "curators": {"totalmetrics": {}, "rowcount": {}},
    })
    assert len(out["rows"]) == 2
    tm = out["curators"]["totalmetrics"]
    assert len(tm["rows"]) == 1
    rc = out["curators"]["rowcount"]
    n_flags = duck.execute(
        "SELECT COUNT(DISTINCT l_returnflag) FROM lineitem").fetchone()[0]
    assert rc["rows"][0][0] == n_flags
    total = duck.execute(
        "SELECT CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(8,2)) * "
        "(1 - CAST(l_discount AS DECIMAL(4,2))), 2) AS DECIMAL(8,2))) "
        "AS DOUBLE) FROM lineitem").fetchone()[0]
    assert tm["rows"][0][0] == pytest.approx(total, rel=1e-12)


def test_drilldown(contract_engine):
    out = contract_engine.execute({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
        "curators": {"drilldown": {"config": {"dimension": "line_status"}}},
    })
    dd = out["curators"]["drilldown"]
    fields = [f["fieldName"] for f in dd["header"]["fields"]]
    assert fields[0] == "line_status"
    assert "revenue" in fields
    # drilldown rows sorted by first metric desc
    revs = [r[fields.index("revenue")] for r in dd["rows"]]
    assert revs == sorted(revs, reverse=True)


def test_timeshift(contract_engine, duck):
    out = contract_engine.execute({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [{"field": "day", "operator": "between",
                               "from": "1997-01-01", "to": "1997-12-31"}],
        "curators": {"timeshift": {}},
    })
    ts = out["curators"]["timeshift"]
    fields = [f["fieldName"] for f in ts["header"]["fields"]]
    assert "revenue Prev" in fields and "revenue Pct Change" in fields
    # verify one row's Prev against DuckDB (previous 365-day window)
    flag = ts["rows"][0][fields.index("return_flag")]
    prev = duck.execute(f"""
        SELECT CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(8,2)) *
               (1 - CAST(l_discount AS DECIMAL(4,2))), 2)
               AS DECIMAL(8,2))) AS DOUBLE)
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE)
              BETWEEN DATE '1996-01-02' AND DATE '1996-12-31'
          AND l_returnflag = '{flag}'""").fetchone()[0]
    assert ts["rows"][0][fields.index("revenue Prev")] == \
        pytest.approx(prev, rel=1e-12)


def _dry_run_engine(spark, sf_dir):
    """Engine whose bucketing shadows every tpch request with a
    revision-2 dry run of the same shape."""
    import dataclasses

    from maha_spark.engine import MahaSparkEngine
    from maha_spark.examples.contract import build_contract_registry
    from maha_spark.plans.binding import ParquetBinding
    reg = build_contract_registry()
    base = reg.fact("tpch")
    reg.register_fact(dataclasses.replace(base, revision=2), default=False)
    sel = BucketSelector({
        "tpch": CubeBucketConfig("tpch", internal={0: 100},
                                 dry_run={2: 100}),
    })
    return MahaSparkEngine(spark, reg, ParquetBinding(spark, sf_dir),
                           bucket_selector=sel)


_FLAG_REVENUE = {"cube": "tpch",
                 "selectFields": [{"field": "return_flag"},
                                  {"field": "revenue"}],
                 "filterExpressions": [DAY_ALL]}


def test_dry_run_shadow_execution(spark, sf_dir):
    """A dry_run revision selected by bucketing is built AND executed
    out-of-band (result discarded, status recorded) — the serving result
    comes from the primary revision only."""
    eng = _dry_run_engine(spark, sf_dir)
    out = eng.execute(_FLAG_REVENUE, user_id="u1")
    assert len(out["rows"]) == 3  # served from revision 0
    log = eng.wait_for_dry_runs(timeout=120)
    assert len(log) == 1
    assert log[0]["revision"] == 2
    assert log[0]["status"] == "COMPLETED"
    assert log[0]["rows"] == 3


def test_dry_run_ledger_is_bounded(spark, sf_dir, monkeypatch):
    """The ledger keeps the newest DRY_RUN_LOG_MAX records and finished
    shadow threads are dropped, so neither grows for the engine's
    whole life."""
    from maha_spark import engine as engine_mod

    monkeypatch.setattr(engine_mod, "DRY_RUN_LOG_MAX", 2)
    eng = _dry_run_engine(spark, sf_dir)
    for _ in range(3):
        for t in list(eng._dry_run_threads):
            t.join(120)
        eng.execute(_FLAG_REVENUE, user_id="u1")
        assert len(eng._dry_run_threads) == 1
    log = eng.wait_for_dry_runs(timeout=120)
    assert len(log) == 2 == eng.status()["dryRunsLogged"]
    assert [r["status"] for r in log] == ["COMPLETED"] * 2


def test_curators_run_concurrently(contract_engine, monkeypatch):
    """Curators overlap in time (thread-pooled ParRequest parity)."""
    import time

    from maha_spark.curators import curators as cur_mod

    spans: dict[str, tuple[float, float]] = {}

    def slow(name):
        def fn(*a, **k):
            t0 = time.time()
            time.sleep(0.5)
            spans[name] = (t0, time.time())
            return {"rows": []}
        return fn

    monkeypatch.setattr(cur_mod, "total_metrics", slow("totalmetrics"))
    monkeypatch.setattr(cur_mod, "row_count", slow("rowcount"))
    out = contract_engine.execute({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
        "curators": {"totalmetrics": {}, "rowcount": {}},
    })
    assert set(out["curators"]) == {"totalmetrics", "rowcount"}
    (a0, a1), (b0, b1) = spans["totalmetrics"], spans["rowcount"]
    assert a0 < b1 and b0 < a1, f"curators did not overlap: {spans}"


def test_engine_bucketed_revision(spark):
    """Engine + BucketSelector picks the configured revision."""
    from maha_spark.engine import MahaSparkEngine
    from maha_spark.examples.contract import build_contract_registry
    from maha_spark.plans.binding import ParquetBinding
    reg = build_contract_registry()
    sel = BucketSelector({"tpch": CubeBucketConfig("tpch", internal={0: 100})})
    eng = MahaSparkEngine(spark, reg,
                          ParquetBinding(spark, "/root/testdata/sf0.001"),
                          bucket_selector=sel)
    m = eng.model({"cube": "tpch",
                   "selectFields": [{"field": "return_flag"},
                                    {"field": "revenue"}],
                   "filterExpressions": [DAY_ALL]}, user_id="u1")
    assert m.cube.revision == 0


def test_drilldown_config_options(contract_engine):
    """enforceFilters=false drops non-Day filters; explicit ordering
    overrides the metric-desc default (DrilldownConfig.scala:35-56)."""
    base = {
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [
            DAY_ALL,
            {"field": "return_flag", "operator": "=", "value": "R"}],
    }
    enforced = contract_engine.execute({
        **base,
        "curators": {"drilldown": {"config": {"dimension": "line_status"}}},
    })["curators"]["drilldown"]
    relaxed = contract_engine.execute({
        **base,
        "curators": {"drilldown": {"config": {
            "dimension": "line_status", "enforceFilters": False,
            "ordering": [{"field": "line_status", "order": "ASC"}]}}},
    })["curators"]["drilldown"]

    # the R-only filter caps enforced drilldown revenue below the relaxed one
    idx = [f["fieldName"] for f in relaxed["header"]["fields"]]
    rev = idx.index("revenue")
    assert sum(r[rev] for r in relaxed["rows"]) > \
        sum(r[rev] for r in enforced["rows"])
    # explicit ordering honored
    statuses = [r[idx.index("line_status")] for r in relaxed["rows"]]
    assert statuses == sorted(statuses)


def test_timeshift_sortby_config(contract_engine):
    """TimeShiftConfig.sortBy orders the combined frame, including the
    derived ' Pct Change' column (TimeShiftCurator.scala:29)."""
    out = contract_engine.execute({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "1998-01-01", "to": "1998-03-31"}],
        "curators": {"timeshift": {"config": {
            "sortBy": {"field": "revenue Pct Change", "order": "DESC"}}}},
    })
    ts = out["curators"]["timeshift"]
    idx = [f["fieldName"] for f in ts["header"]["fields"]]
    pct = [r[idx.index("revenue Pct Change")] for r in ts["rows"]
           if r[idx.index("revenue Pct Change")] is not None]
    assert pct == sorted(pct, reverse=True) and len(pct) >= 2
