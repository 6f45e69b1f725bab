"""Streaming-maintained pre-aggregated rollup: the stream's output is
registered as a cheaper fact candidate and the planner serves covered
queries from it, bit-exactly (fact/Fact.scala newRollUp semantics with
Structured Streaming as the maintenance job)."""

from __future__ import annotations

import pytest

DAY = {"field": "day", "operator": "between",
       "from": "1995-01-01", "to": "2002-12-31"}


@pytest.fixture(scope="module")
def rollup_env(spark, sf_dir, tmp_path_factory):
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.stream_rollup import (
        build_stream_rollup_registry, materialize_hourly_rollup)

    base_dir = str(tmp_path_factory.mktemp("stream-rollup"))
    materialize_hourly_rollup(spark, sf_dir, base_dir)
    return engine_for_dir(spark, build_stream_rollup_registry(), base_dir)


def _rows(engine, select, revision=None):
    req = {"cube": "events_cube",
           "selectFields": [{"field": f} for f in select],
           "filterExpressions": [DAY]}
    df = engine.dataframe(req)
    return sorted(tuple(r) for r in df.collect())


def test_hour_grain_served_from_streamed_rollup(rollup_env):
    m = rollup_env.model({
        "cube": "events_cube",
        "selectFields": [{"field": "hour"}, {"field": "event_type"},
                         {"field": "event_count"},
                         {"field": "total_value"}],
        "filterExpressions": [DAY]})
    assert m.fact_table.name == "events_hourly"
    assert m.fact_table.cost == 100


def test_user_count_falls_back_to_raw_events(rollup_env):
    m = rollup_env.model({
        "cube": "events_cube",
        "selectFields": [{"field": "event_type"},
                         {"field": "user_count"}],
        "filterExpressions": [DAY]})
    assert m.fact_table.name == "events"


def test_rollup_answers_equal_base_answers(rollup_env, spark, sf_dir):
    """Same cube, two physical plans: the streamed rollup result must be
    bit-identical to the raw-events result at hour grain AND after a
    coarser re-aggregation (partials re-summed)."""
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.stream_rollup import (
        build_stream_rollup_registry)

    # base-only engine: same registry minus the rollup candidate
    reg = build_stream_rollup_registry()
    cube = reg.fact("events_cube")
    cube.tables = [t for t in cube.tables if t.name == "events"]
    base_engine = engine_for_dir(spark, reg, sf_dir)

    for select in (["hour", "event_type", "event_count", "total_value"],
                   ["event_type", "event_count", "total_value"],
                   ["day", "total_value"]):
        got = _rows(rollup_env, select)
        want = _rows(base_engine, select)
        assert got == want, f"rollup mismatch for {select}"


def test_rollup_day_filter_prunes_to_rollup_scan(rollup_env):
    """Every file the query reads lies under the rollup table: the raw
    events table is never scanned."""
    from maha_spark.examples.stream_rollup import ROLLUP_TABLE

    df = rollup_env.dataframe({
        "cube": "events_cube",
        "selectFields": [{"field": "hour"}, {"field": "event_count"}],
        "filterExpressions": [{"field": "day", "operator": "between",
                               "from": "1998-01-01", "to": "1998-01-31"}]})
    # the analyzed plan's file relations: df.inputFiles() reads the
    # optimized plan, where a cached table is an InMemoryRelation that
    # lists no files
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files = [f for i in range(leaves.size())
             for f in leaves.apply(i).relation().inputFiles()]
    assert files, "the query reads no files"
    assert all(f"/{ROLLUP_TABLE}.parquet/" in f for f in files), files


def test_streamed_sketch_serves_approx_distinct_any_grain(spark, tmp_path):
    """The streaming job computes the HLL partial AT INGEST (Druid
    hyperUnique ingestion parity); the streamed rollup then serves
    user_count_approx at a COARSER grain (day) with estimates matching
    the raw-table sketch build, within sketch error of exact."""
    from maha_spark.engine import MahaSparkEngine
    from maha_spark.examples.stream_rollup import (
        build_stream_rollup_registry, materialize_hourly_rollup)
    from maha_spark.plans.binding import ParquetBinding

    base = materialize_hourly_rollup(spark, "/root/testdata/sf0.001",
                                     str(tmp_path))
    eng = MahaSparkEngine(spark, build_stream_rollup_registry(),
                          ParquetBinding(spark, base))
    req = {
        "cube": "events_cube",
        "selectFields": [{"field": "day"}, {"field": "user_count_approx"}],
        "filterExpressions": [{"field": "day", "operator": "between",
                               "from": "2024-01-01", "to": "2024-12-31"}],
    }
    assert eng.model(req).fact_table.name == "events_hourly"
    approx = dict(map(tuple, eng.dataframe(req).collect()))
    exact = dict(map(tuple, eng.dataframe(dict(
        req, selectFields=[{"field": "day"},
                           {"field": "user_count"}])).collect()))
    # exact user_count has a non-reagg rollup only on the base table, so
    # it came from raw events; the approx came from streamed partials
    assert len(approx) == len(exact) > 0
    for day, est in approx.items():
        assert abs(est - exact[day]) <= max(3, 0.05 * exact[day])


def test_streamed_histogram_partial_bit_matches_batch(spark, sf_dir):
    """with_hist: the streaming drain computes the fixed-bin histogram
    partial AT INGEST with the SAME builder as the batch materializer
    (core/rollup.py HistogramRollup) — per-(hour, event_type) partials
    are bit-identical integer arrays, so a stream-maintained rollup
    serves quantiles exactly like the batch-built one."""
    import os

    from pyspark.sql import functions as F

    from maha_spark.streaming.hourly import streaming_hourly

    streamed = streaming_hourly(spark, sf_dir, with_hist=True)
    got = {(r["hour"], r["event_type"]): list(r["value_hist"])
           for r in streamed.collect()}

    from maha_spark.core.rollup import HistogramRollup
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    batch = (ev.withColumn("ts", F.col("ts").cast("timestamp"))
             .groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                    "yyyy-MM-dd HH:mm:ss").alias("hour"),
                      "event_type")
             .agg(HistogramRollup().agg(F.col("value")).alias("h")))
    want = {(r["hour"], r["event_type"]): list(r["h"])
            for r in batch.collect()}
    assert got == want and len(got) > 0
