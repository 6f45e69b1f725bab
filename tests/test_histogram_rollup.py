"""Mergeable fixed-bin histogram rollup columns (core/rollup.py
HistogramRollup / hist_quantile_sql) — the Druid approxHistogram shape:
quantile metrics (value_p95/value_p50 on the events cube) served from
raw rows, from the pre-aggregated hourly rollup, and from advised
rollups, all BIT-IDENTICAL (integer bin counts merge losslessly; the
extraction is a deterministic function of the merged array). The DuckDB
twin recomputes the same fixed-bin algorithm independently."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.core.rollup import (  # noqa: E402
    HIST_BINS, HIST_HI, HIST_LO, HistogramMergeRollup, HistogramRollup,
    hist_quantile_sql)
from maha_spark.engine import engine_for_dir  # noqa: E402
from maha_spark.examples.contract import (  # noqa: E402
    EV_DAY, build_contract_registry, ensure_udfs, materialize_events_rollup)

SRC = "/root/testdata/sf0.001"
W = (HIST_HI - HIST_LO) / HIST_BINS


def duck_quantile_sql(p: float, keys_select: str = "event_type",
                      keys: str = "event_type",
                      where: str = "value IS NOT NULL") -> str:
    """Independent DuckDB twin of the engine's histogram quantile:
    per-row fixed-bin assignment, per-group bin counts, window
    cumulative, then the SAME interpolation arithmetic
    (lo + w * (bin + (target - before) / in_bin)). ONE definition,
    parametrized by key select-exprs / bare key aliases / predicate —
    the fuzz battery reuses it so the two twins cannot drift."""
    return f"""
        WITH b AS (
            SELECT {keys_select},
                   least(greatest(CAST(floor((value - {HIST_LO!r}) / {W!r})
                                       AS INT), 0), {HIST_BINS - 1}) AS bin
            FROM events WHERE {where}
        ), h AS (
            SELECT {keys}, bin, count(*) AS c FROM b GROUP BY ALL
        ), e AS (
            SELECT {keys}, bin, c,
                   sum(c) OVER (PARTITION BY {keys} ORDER BY bin) AS cum,
                   sum(c) OVER (PARTITION BY {keys}) AS tot
            FROM h
        )
        SELECT {keys},
               {HIST_LO!r} + {W!r} * (bin +
                   CAST(CAST(ceil({p!r} * tot) AS BIGINT) - (cum - c)
                        AS DOUBLE) / CAST(c AS DOUBLE)) AS q
        FROM e
        WHERE cum >= CAST(ceil({p!r} * tot) AS BIGINT)
          AND (cum - c) < CAST(ceil({p!r} * tot) AS BIGINT)
    """


@pytest.fixture(scope="module")
def ev_engine(spark):
    ensure_udfs(spark)
    return engine_for_dir(spark, build_contract_registry(), SRC)


def _engine_quantiles(eng, fields=("value_p95", "value_p50")):
    req = {"cube": "events_cube",
           "selectFields": [{"field": "event_type"}]
           + [{"field": f} for f in fields],
           "filterExpressions": [EV_DAY]}
    return {r["event_type"]: tuple(r[f] for f in fields)
            for r in eng.dataframe(req).collect()}


def test_quantiles_bit_match_duckdb_twin(ev_engine, duck):
    got = _engine_quantiles(ev_engine)
    p95 = dict(duck.execute(duck_quantile_sql(0.95)).fetchall())
    p50 = dict(duck.execute(duck_quantile_sql(0.50)).fetchall())
    assert set(got) == set(p95) == set(p50) and got
    for et, (g95, g50) in got.items():
        assert g95 == p95[et], (et, g95, p95[et])
        assert g50 == p50[et], (et, g50, p50[et])


def test_served_from_hourly_rollup_bit_identical(spark, ev_engine,
                                                 tmp_path_factory):
    """The hourly rollup stores value_hist partials; a day-grain
    quantile request merges ~24 hourly histograms per group and must be
    BIT-identical to the raw-row computation — the property that makes
    this a pre-aggregation-safe percentile (unlike avg-of-avgs)."""
    d = str(tmp_path_factory.mktemp("hist_roll"))
    for t in os.listdir(SRC):
        os.symlink(os.path.join(SRC, t), os.path.join(d, t))
    materialize_events_rollup(spark, SRC, d)
    rolled = engine_for_dir(spark, build_contract_registry(), d)
    req = {"cube": "events_cube",
           "selectFields": [{"field": "day"}, {"field": "event_type"},
                            {"field": "value_p95"}],
           "filterExpressions": [EV_DAY]}
    assert rolled.model(req).fact_table.name == "events_hourly"
    assert ev_engine.model(req).fact_table.name == "events"
    a = sorted(map(tuple, ev_engine.dataframe(req).collect()))
    b = sorted(map(tuple, rolled.dataframe(req).collect()))
    assert a == b and len(a) > 0


def test_quantile_within_one_bin_of_exact(ev_engine, duck):
    """Histogram quantiles approximate within one bin width of the
    exact count-rank percentile (the fixed-bin accuracy contract)."""
    got = _engine_quantiles(ev_engine, fields=("value_p95",))
    exact = dict(duck.execute("""
        SELECT event_type, quantile_disc(value, 0.95) FROM events
        GROUP BY 1""").fetchall())
    for et, (g,) in got.items():
        assert abs(g - float(exact[et])) <= W, (et, g, exact[et])


def test_merge_rollup_equals_direct_build(spark):
    """Merging stored partials == agg over raw values, at a coarser
    grain — the losslessness that justifies advisor carry."""
    from pyspark.sql import functions as F
    rows = [(i % 3, float(i % 17) * 30.0 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "g INT, value DOUBLE")
    hr = HistogramRollup()
    direct = {r["g"]: r["h"] for r in
              df.groupBy("g").agg(F.expr(hr.agg("value")).alias("h"))
              .collect()}
    # partials at a finer grain (g, value-parity), merged up to g
    fine = df.withColumn("sub", (F.col("value") % 2 == 0).cast("int")) \
             .groupBy("g", "sub").agg(F.expr(hr.agg("value")).alias("h"))
    merged = {r["g"]: r["h"] for r in
              fine.groupBy("g")
              .agg(F.expr(HistogramMergeRollup().agg("h")).alias("h"))
              .collect()}
    assert direct == merged and len(direct) == 3


def test_empty_histogram_yields_null_quantile(spark):
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(1, None)], "g INT, value DOUBLE")
    hr = HistogramRollup()
    out = (df.groupBy("g").agg(F.expr(hr.agg("value")).alias("h"))
           .selectExpr(hist_quantile_sql("h", 0.95) + " AS q").collect())
    assert out[0]["q"] is None


def test_clamping_to_edge_bins(spark):
    """Values outside [lo, hi) land in the edge bins (Druid
    lowerLimit/upperLimit semantics), never dropped."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, -5.0), (1, 9999.0), (1, 250.0)], "g INT, value DOUBLE")
    h = (df.groupBy("g")
         .agg(F.expr(HistogramRollup().agg("value")).alias("h"))
         .collect()[0]["h"])
    assert h[0] == 1 and h[-1] == 1 and sum(h) == 3


def test_extreme_outlier_clamps_to_top_bin(spark):
    """Clamp happens on the LONG floor result BEFORE the int cast: a
    value whose raw bin index is exactly 2^32 would overflow-wrap the
    int cast to bin 0 under the old cast-then-clamp order (ANSI off);
    it must land in the top edge bin."""
    from pyspark.sql import functions as F
    w = (HIST_HI - HIST_LO) / HIST_BINS
    wrap_to_zero = HIST_LO + w * float(1 << 32)   # raw bin = 2^32 -> int 0
    df = spark.createDataFrame(
        [(1, wrap_to_zero), (1, -1e18), (1, 250.0)], "g INT, value DOUBLE")
    h = (df.groupBy("g")
         .agg(F.expr(HistogramRollup().agg("value")).alias("h"))
         .collect()[0]["h"])
    assert h[-1] == 1 and h[0] == 1 and sum(h) == 3


def test_advisor_carry_rule():
    from maha_spark.registry.materializer import _carried_rollup
    from maha_spark.core.types import DecType
    c = _carried_rollup(HistogramRollup(bins=32), DecType())
    assert isinstance(c, HistogramMergeRollup) and c.bins == 32
    c2 = _carried_rollup(HistogramMergeRollup(bins=32), DecType())
    assert isinstance(c2, HistogramMergeRollup) and c2.bins == 32


def test_advised_rollup_carries_histogram_and_serves_p95(
        spark, tmp_path_factory):
    """Advisor loop x histogram partials, end to end: a day x event_type
    grain advised from an events workload carries value_hist (the
    _carried_rollup rule), and a p95 request is then SERVED from the
    advised table bit-identical to raw — pre-aggregated percentiles
    without any hand-built table."""
    import json

    from maha_spark.registry.advisor import _NdvProbe, recommend_rollups
    from maha_spark.registry.materializer import apply_recommendation

    d = str(tmp_path_factory.mktemp("hist_advised"))
    for t in os.listdir(SRC):
        os.symlink(os.path.join(SRC, t), os.path.join(d, t))
    reg = build_contract_registry()
    eng = engine_for_dir(spark, reg, d)
    req = {"cube": "events_cube",
           "selectFields": [{"field": "day"}, {"field": "event_type"},
                            {"field": "value_p95"},
                            {"field": "event_count"}],
           "filterExpressions": [EV_DAY]}
    probe = _NdvProbe.fixed(
        rows={"events": 500_000_000},
        ndvs={("events", "ts"): 9000,          # ~hourly over a year
              ("events", "event_type"): 5})
    recs = recommend_rollups(eng, [json.dumps(req)] * 4, probe=probe)
    assert recs, "no recommendation for the day x event_type workload"
    t = apply_recommendation(eng, recs[0], d, "advised_events")
    assert type(t.columns["value_hist"].rollup).__name__ \
        == "HistogramMergeRollup"
    assert "value_p95" in t.columns

    raw = engine_for_dir(spark, build_contract_registry(), SRC)
    rolled = engine_for_dir(spark, reg, d)
    assert rolled.model(req).fact_table.name == "advised_events"
    a = sorted(map(tuple, raw.dataframe(req).collect()))
    b = sorted(map(tuple, rolled.dataframe(req).collect()))
    assert a == b and len(a) > 0


def test_nan_values_excluded_from_histogram(spark):
    """NaN must not be tallied (it would cast to bin 0 and drag
    quantiles down); note Spark's NaN = NaN is TRUE, so this pins the
    explicit isnan guard."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, float("nan")), (1, 250.0), (1, None)], "g INT, value DOUBLE")
    h = (df.groupBy("g")
         .agg(F.expr(HistogramRollup().agg("value")).alias("h"))
         .collect()[0]["h"])
    assert sum(h) == 1 and h[0] == 0


# ------------------------------------------------------- fuzz battery
# randomized quantile requests (grain day/hour x optional event-type
# filter x random p in {p50, p95} x random day windows) against a
# GENERATED DuckDB window twin — the same treatment the other operator
# families get in test_fuzz_requests.py.

import datetime as _dt  # noqa: E402
import random as _random  # noqa: E402

_EV_TYPES = ["click", "view", "purchase", "signup", "error"]


def _gen_hist_case(rng):
    grain = rng.choice(["day", "hour"])
    field = rng.choice(["value_p95", "value_p50"])
    p = 0.95 if field == "value_p95" else 0.50
    start = _dt.date(2024, 1, 1) + _dt.timedelta(days=rng.randint(0, 10))
    end = start + _dt.timedelta(days=rng.randint(2, 15))
    filters = [{"field": "day", "operator": "between",
                "from": start.isoformat(), "to": end.isoformat()}]
    preds = [f"CAST(ts AS DATE) BETWEEN DATE '{start}' AND DATE '{end}'"]
    if rng.random() < 0.5:
        types = rng.sample(_EV_TYPES, rng.randint(1, 3))
        filters.append({"field": "event_type", "operator": "in",
                        "values": types})
        tl = "', '".join(types)
        preds.append(f"event_type IN ('{tl}')")
    key_sql = ("strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')"
               if grain == "hour" else "CAST(ts AS DATE)")
    sql = duck_quantile_sql(
        p, keys_select=f"{key_sql} AS k, event_type",
        keys="k, event_type",
        where=f"value IS NOT NULL AND {' AND '.join(preds)}")
    return {
        "request": {"cube": "events_cube",
                    "selectFields": [{"field": grain},
                                     {"field": "event_type"},
                                     {"field": field}],
                    "filterExpressions": filters},
        "grain": grain, "field": field, "sql": sql,
    }


_hist_rng = _random.Random(20260815)
HIST_CASES = [_gen_hist_case(_hist_rng) for _ in range(12)]


@pytest.mark.parametrize("case", HIST_CASES,
                         ids=[f"hq{i:02d}" for i in range(len(HIST_CASES))])
def test_fuzz_quantile_matches_window_twin(case, ev_engine, duck):
    got = {(str(r[case["grain"]]), r["event_type"]): r[case["field"]]
           for r in ev_engine.dataframe(case["request"]).collect()}
    want = {(str(k), et): q
            for k, et, q in duck.execute(case["sql"]).fetchall()}
    assert got == want and len(got) > 0, case["sql"]
