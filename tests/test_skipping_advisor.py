"""Skipping-index advisor (registry/skip_advisor.py): the ledger-mined
answer to "which columns deserve a data-skipping sidecar". Contract
under test: needle filters on eligible plain DimCols rank by frequency,
planner-ineligible columns (derived, static-mapped, day/partition) are
never recommended, and the apply side builds sidecars the planner then
prunes with — mine -> build -> engine request reads fewer files.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from maha_spark.engine import engine_for_dir  # noqa: E402
from maha_spark.examples.contract import build_contract_registry  # noqa: E402
from maha_spark.registry.skip_advisor import (  # noqa: E402
    build_recommended_indexes, recommend_skipping_indexes)

SRC = "/root/testdata/sf0.001"


def _needle(value, extra=None):
    req = {
        "cube": "events_cube",
        "selectFields": [{"field": "user_id"}, {"field": "event_count"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "2024-01-01", "to": "2024-12-31"},
            {"field": "user_id", "operator": "=", "value": value}],
    }
    if extra:
        req["filterExpressions"].append(extra)
    return json.dumps(req)


@pytest.fixture(scope="module")
def eng(spark):
    return engine_for_dir(spark, build_contract_registry(), SRC)


def test_recommends_frequent_needle_column(eng):
    logs = [_needle(i) for i in range(5)] + [
        _needle(9, extra={"field": "event_type", "operator": "in",
                          "values": ["click", "view"]})]
    recs = recommend_skipping_indexes(eng, logs)
    assert [(r.table, r.column, r.count) for r in recs] == [
        ("events", "user_id", 6)]   # event_type: 1 < min_count
    assert recs[0].operators == ("=",)
    recs2 = recommend_skipping_indexes(eng, logs, min_count=1)
    assert ("events", "event_type", 1) in [
        (r.table, r.column, r.count) for r in recs2]


def test_day_and_ineligible_columns_never_recommended(eng):
    """The mandatory Day bound appears in EVERY request; partition
    pruning already serves it — recommending it would waste a sidecar.
    Derived columns are planner-ineligible and must not appear either."""
    logs = [_needle(i) for i in range(4)] + [json.dumps({
        "cube": "events_cube",
        "selectFields": [{"field": "hour"}, {"field": "event_count"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "2024-01-01", "to": "2024-12-31"},
            {"field": "hour", "operator": "=",
             "value": "2024-01-01 05:00:00"}],   # derived (date_trunc)
    })] * 3
    recs = recommend_skipping_indexes(eng, logs, min_count=1)
    cols = {(r.table, r.column) for r in recs}
    assert ("events", "user_id") in cols
    for t, c in cols:
        assert c not in ("event_day", "ts", "dt", "event_hour"), (t, c)


def test_invalid_entries_skipped(eng):
    logs = ["{not json", json.dumps({"cube": "nope"}), _needle(1),
            _needle(2)]
    recs = recommend_skipping_indexes(eng, logs)
    assert [(r.table, r.column, r.count) for r in recs] == [
        ("events", "user_id", 2)]


def test_mine_build_prune_loop(spark, tmp_path):
    """End-to-end: ledger -> recommendation -> build_recommended_indexes
    -> the next engine request on the same needle reads a pruned fact
    file list with identical rows."""
    d = str(tmp_path / "sf")
    os.makedirs(d)
    for t in os.listdir(SRC):
        if t != "events.parquet":
            os.symlink(os.path.join(SRC, t), os.path.join(d, t))
    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    (ev.withColumn("dt", F.to_date("ts"))
       .withColumn("ub", F.expr("CAST(user_id % 4 AS INT)"))
       .repartition(4, F.col("ub")).sortWithinPartitions("user_id")
       .drop("ub")
       .write.mode("overwrite").partitionBy("dt")
       .parquet(os.path.join(d, "events")))
    eng = engine_for_dir(spark, build_contract_registry(), d)

    logs = [_needle(13) for _ in range(3)]
    recs = recommend_skipping_indexes(eng, logs)
    assert [(r.table, r.column) for r in recs] == [("events", "user_id")]
    built = build_recommended_indexes(spark, d, recs)
    assert built and os.path.isdir(
        os.path.join(d, "_skipidx", "events", "skip_user_id.parquet"))

    got = eng.dataframe(_needle(13))
    ev_files = [f for f in got.inputFiles() if "/events/" in f]
    n_files = sum(
        len([f for f in os.listdir(os.path.join(d, "events", p))
             if f.endswith(".parquet")])
        for p in os.listdir(os.path.join(d, "events"))
        if p.startswith("dt="))
    assert 0 < len(ev_files) < n_files
    exp = spark.read.parquet(os.path.join(d, "events")) \
        .filter("user_id = 13") \
        .groupBy("user_id").agg(F.sum(F.lit(1)).alias("event_count"))
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))


def test_live_ledger_entries_mine_directly(spark, tmp_path):
    """The advisor consumes the engine's OWN RequestLogEntry stream
    (CollectingRequestLogWriter), not just raw JSON — the live loop:
    serve needle traffic -> ledger -> recommend -> build -> prune."""
    from maha_spark.engine import MahaSparkEngine
    from maha_spark.log.request_log import CollectingRequestLogWriter
    from maha_spark.plans.binding import ParquetBinding

    d = str(tmp_path / "sf")
    os.makedirs(d)
    for t in os.listdir(SRC):
        if t != "events.parquet":
            os.symlink(os.path.join(SRC, t), os.path.join(d, t))
    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    (ev.withColumn("dt", F.to_date("ts"))
       .withColumn("ub", F.expr("CAST(user_id % 4 AS INT)"))
       .repartition(4, F.col("ub")).sortWithinPartitions("user_id")
       .drop("ub")
       .write.mode("overwrite").partitionBy("dt")
       .parquet(os.path.join(d, "events")))
    writer = CollectingRequestLogWriter()
    eng = MahaSparkEngine(spark, build_contract_registry(),
                          ParquetBinding(spark, d),
                          request_logger=writer)
    for i in (13, 14, 15):
        out = eng.execute(_needle(i))
        assert "rows" in out
    assert len(writer.entries) == 3

    recs = recommend_skipping_indexes(eng, writer.entries)
    assert [(r.table, r.column, r.count) for r in recs] == [
        ("events", "user_id", 3)]
    build_recommended_indexes(spark, d, recs)
    got = eng.dataframe(_needle(13))
    ev_files = [f for f in got.inputFiles() if "/events/" in f]
    n_files = sum(
        len([f for f in os.listdir(os.path.join(d, "events", p))
             if f.endswith(".parquet")])
        for p in os.listdir(os.path.join(d, "events"))
        if p.startswith("dt="))
    assert 0 < len(ev_files) < n_files


def test_zorder_recommendation_needs_multiple_needle_columns(eng):
    """Z-order advice: only tables with needles on >= 2 columns (a
    single needle column is served by sort/sidecar alone); columns
    ranked by needle frequency."""
    from maha_spark.registry.skip_advisor import recommend_zorder

    single = recommend_skipping_indexes(eng, [_needle(i) for i in
                                              range(3)])
    assert recommend_zorder(single) == {}

    mixed = [_needle(i, extra={"field": "event_type", "operator": "in",
                               "values": ["click"]}) for i in range(2)] \
        + [_needle(9)]
    recs = recommend_skipping_indexes(eng, mixed)
    assert recommend_zorder(recs) == {
        "events": ["user_id", "event_type"]}


def test_equality_needles_on_uncanonical_dtypes_excluded():
    """An equality-only workload on a dtype the planner's needle
    canonicalization abstains on (decimals, timestamps) gains nothing
    from a sidecar — the advisor must not recommend building one."""
    from maha_spark.core.types import (DateType, DecType, IntType,
                                       StrType, TimestampType)
    from maha_spark.plans.skipping import _canon_supported
    assert _canon_supported(IntType())
    assert _canon_supported(StrType())
    assert _canon_supported(DateType())
    assert not _canon_supported(DecType())
    assert not _canon_supported(TimestampType())


def test_dim_driven_traffic_recommends_driving_fk(eng):
    """A bounded-page dim-driven request consults a sidecar on the
    driving fk (planner page-key pruning) — repeated q6-shaped traffic
    must rank lineitem.l_orderkey for indexing."""
    req = json.dumps({
        "cube": "tpch",
        "selectFields": [{"field": "order_key"},
                         {"field": "order_priority"},
                         {"field": "revenue"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "1995-01-01", "to": "2002-12-31"}],
        "sortBy": [{"field": "order_priority", "order": "ASC"}],
        "forceDimensionDriven": True,
        "rowsPerPage": 25,
    })
    recs = recommend_skipping_indexes(eng, [req, req, req])
    hit = [r for r in recs
           if r.table == "lineitem" and r.column == "l_orderkey"]
    assert hit and hit[0].count == 3
    assert hit[0].operators == ("dim-driven-page",)

    # an UNBOUNDED dim-driven page pushes no key set -> no signal
    unbounded = json.loads(req)
    del unbounded["rowsPerPage"]
    unbounded["distinct"] = True
    recs2 = recommend_skipping_indexes(eng, [json.dumps(unbounded)] * 3,
                                       min_count=1)
    assert not [r for r in recs2 if r.column == "l_orderkey"]


def _dim_driven_page(**extra):
    req = {
        "cube": "tpch",
        "selectFields": [{"field": "order_key"},
                         {"field": "order_priority"},
                         {"field": "revenue"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "1995-01-01", "to": "2002-12-31"}],
        "sortBy": [{"field": "order_priority", "order": "ASC"}],
        "forceDimensionDriven": True,
        "rowsPerPage": 25,
    }
    req.update(extra)
    return json.dumps(req)


#: case -> (request, table, column, whether the planner prunes on it)
AGREE_CASES = {
    "plain_needle": (_needle(13), "events", "user_id", True),
    "shifted_timezone_needle": (
        json.dumps({**json.loads(_needle(13)), "additionalParameters": {
            "timeZone": "America/Los_Angeles"}}),
        "events", "user_id", False),
    "bounded_dim_driven_page": (
        _dim_driven_page(), "lineitem", "l_orderkey", True),
    "bounded_distinct_dim_driven_page": (
        _dim_driven_page(additionalParameters={"Distinct": "true"}),
        "lineitem", "l_orderkey", False),
    "decimal_equality_needle": (json.dumps({
        "cube": "events_dec",
        "selectFields": [{"field": "value"}, {"field": "event_count"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "2024-01-01", "to": "2024-12-31"},
            {"field": "value", "operator": "=", "value": 185.22}],
    }), "events", "value", False),
}


def _n_files(d, table):
    return sum(len([f for f in os.listdir(os.path.join(d, table, p))
                    if f.endswith(".parquet")])
               for p in os.listdir(os.path.join(d, table))
               if p.startswith("dt="))


@pytest.fixture(scope="module")
def agree_layout(spark, tmp_path_factory):
    """Value-clustered, day-partitioned events and lineitem layouts with
    sidecars on every column the cases filter, and an engine whose
    registry adds ``events_dec``: the events fact with its ``value``
    column as a decimal dimension."""
    from dataclasses import replace

    from maha_spark.core.columns import DimCol
    from maha_spark.core.types import DecType
    from maha_spark.plans.skipping import (build_skipping_index,
                                           table_index_dir)
    from maha_spark.registry.cube import PubCol, PublicFact

    d = str(tmp_path_factory.mktemp("agree") / "sf")
    os.makedirs(d)
    for t in os.listdir(SRC):
        if t not in ("events.parquet", "lineitem.parquet"):
            os.symlink(os.path.join(SRC, t), os.path.join(d, t))
    for table, day, key in (("events", "ts", "user_id"),
                            ("lineitem", "l_shipdate", "l_orderkey")):
        (spark.read.parquet(os.path.join(SRC, f"{table}.parquet"))
         .withColumn("dt", F.to_date(day))
         .withColumn("kb", F.expr(f"CAST({key} % 4 AS INT)"))
         .repartition(4, F.col("kb")).sortWithinPartitions(key)
         .drop("kb")
         .write.mode("overwrite").partitionBy("dt")
         .parquet(os.path.join(d, table)))
    build_skipping_index(spark, os.path.join(d, "events"),
                         ["user_id", "value"], table_index_dir(d, "events"))
    build_skipping_index(spark, os.path.join(d, "lineitem"),
                         ["l_orderkey"], table_index_dir(d, "lineitem"))

    reg = build_contract_registry()
    events = reg.fact("events_cube").tables[0]
    reg.register_fact(PublicFact(
        name="events_dec",
        tables=[replace(events, columns={
            **events.columns, "value": DimCol("value", DecType())})],
        pub_cols=[PubCol("day", "event_day"), PubCol("value", "value")],
        pub_fact_cols=[PubCol("event_count", "event_count")],
        day_alias="day"))
    return d, engine_for_dir(spark, reg, d)


@pytest.mark.parametrize("case", sorted(AGREE_CASES))
def test_advisor_counts_iff_planner_prunes(agree_layout, case):
    """The advisor counts a (table, column) for a request exactly when a
    built sidecar on that column makes the engine's request read a
    pruned file list — never a sidecar no request consults. A pruned
    read lists a strict, non-empty subset of the table's files; an
    unpruned one lists them all, or none when the scan is cached."""
    d, eng = agree_layout
    req, table, column, prunes = AGREE_CASES[case]
    recs = recommend_skipping_indexes(eng, [req], min_count=1)
    counted = (table, column) in {(r.table, r.column) for r in recs}
    files = {f for f in eng.dataframe(req).inputFiles()
             if f"/{table}/" in f}
    pruned = 0 < len(files) < _n_files(d, table)
    assert (counted, pruned) == (prunes, prunes)
