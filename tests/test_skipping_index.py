"""File-level data-skipping index (plans/skipping.py): zone maps +
Bloom sidecar for needle queries. The contract under test: NO false
negatives (needle_scan == full-scan filter, always), real skipping
(pruned file list strictly smaller than the layout on selective
needles), and a partition-incremental rebuild that never serves stale
file paths."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from maha_spark.plans.skipping import (  # noqa: E402
    build_skipping_index, needle_scan, prune_files)


@pytest.fixture(scope="module")
def layout(spark, tmp_path_factory):
    """A small day-partitioned fact: 40 days x 1 file, user_id clustered
    so most users appear in FEW files (the needle-query shape)."""
    d = tmp_path_factory.mktemp("skipdata")
    table = str(d / "events_part")
    idx = str(d / "skipidx")
    df = (spark.range(20_000)
          .withColumn("dt", F.expr(
              "date_add(DATE '2024-01-01', CAST(id % 40 AS INT))"))
          .withColumn("user_id", F.expr("CAST(id DIV 40 AS BIGINT)"))
          .withColumn("kind", F.expr(
              "CASE CAST(id % 3 AS INT) WHEN 0 THEN 'click' "
              "WHEN 1 THEN 'view' ELSE 'buy' END"))
          .withColumn("value", F.expr("CAST(id % 97 AS DOUBLE)")))
    (df.repartition(F.col("dt")).write.mode("overwrite")
       .partitionBy("dt").parquet(table))
    build_skipping_index(spark, table, ["user_id", "kind"], idx)
    return table, idx


def _rows(df):
    return sorted(map(tuple, df.select("id", "dt", "user_id", "kind")
                      .collect()))


def test_needle_equals_full_scan(spark, layout):
    table, idx = layout
    full = spark.read.parquet(table)
    for uid in (0, 7, 499, 123):
        got = needle_scan(spark, table, idx, "user_id", uid)
        exp = full.filter(F.col("user_id") == uid)
        assert _rows(got) == _rows(exp)
        assert got.count() == 40        # every user hits all 40 days here


def test_absent_needle_returns_empty_with_schema(spark, layout):
    table, idx = layout
    got = needle_scan(spark, table, idx, "user_id", 10_000_000)
    assert got.count() == 0
    assert got.columns == spark.read.parquet(table).columns
    assert prune_files(spark, idx, "user_id", 10_000_000) == []


def test_pruning_actually_skips_files(spark, layout):
    """Selective needles must read a strict subset of the layout — on a
    value-clustered column the zone maps alone prune most files."""
    d = layout[0]
    table, idx = layout
    n_files = sum(len([f for f in os.listdir(os.path.join(table, p))
                       if f.endswith(".parquet")])
                  for p in os.listdir(table) if p.startswith("dt="))
    # re-cluster by user_id ranges: write a second layout partitioned by
    # user bucket so each file holds a narrow user range
    clustered = table + "_byuser"
    (spark.read.parquet(table)
     .withColumn("ub", F.expr("CAST(user_id DIV 50 AS INT)"))
     # explicit count: a column-only repartition is AQE-coalescible and
     # can collapse the whole layout into one file
     .repartition(10, F.col("ub")).sortWithinPartitions("user_id")
     .drop("ub")
     .withColumn("dt", F.col("dt"))
     .write.mode("overwrite").parquet(clustered))
    idx2 = idx + "_byuser"
    build_skipping_index(spark, clustered, ["user_id"], idx2)
    total = len([f for f in os.listdir(clustered)
                 if f.endswith(".parquet")])
    kept = prune_files(spark, idx2, "user_id", 123)
    assert kept is not None and 0 < len(kept) < total
    got = needle_scan(spark, clustered, idx2, "user_id", 123)
    exp = spark.read.parquet(clustered).filter("user_id = 123")
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))
    assert n_files > 0    # sanity on the fixture itself


def test_string_column_and_unindexed_fallback(spark, layout):
    table, idx = layout
    got = needle_scan(spark, table, idx, "kind", "click")
    exp = spark.read.parquet(table).filter("kind = 'click'")
    assert got.count() == exp.count() > 0
    # unindexed column -> None from prune, full-scan fallback in scan
    assert prune_files(spark, idx, "value", 3.0) is None
    fb = needle_scan(spark, table, idx, "value", 3.0)
    assert fb.count() == spark.read.parquet(table) \
        .filter("value = 3.0").count() > 0


def test_incremental_rebuild_drops_stale_files(spark, layout, tmp_path):
    """Restating a day rewrites its directory (new file names); a
    days-scoped index refresh must drop the dead paths and index the new
    ones — needle results stay exact afterwards."""
    import shutil

    table, idx = layout
    work = str(tmp_path / "t")
    shutil.copytree(table, work)
    widx = str(tmp_path / "i")
    build_skipping_index(spark, work, ["user_id"], widx)

    day = "2024-01-05"
    day_df = (spark.read.parquet(work).filter(f"dt = '{day}'")
              .localCheckpoint(eager=True))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # rewrite the day with shifted user ids (a restatement)
    (day_df.withColumn("user_id", F.col("user_id") + 1_000_000)
     .repartition(2).write.mode("overwrite")
     .partitionBy("dt").parquet(work))

    build_skipping_index(spark, work, ["user_id"], widx, days=[day])
    # stale paths gone: every indexed file still exists on disk
    import pyspark.sql.functions as G
    files = [r["file"] for r in spark.read.parquet(
        os.path.join(widx, "skip_user_id.parquet")).select("file").collect()]
    for f in files:
        assert os.path.exists(f[len("file:"):] if f.startswith("file:")
                              else f), f
    # new values findable, old value for that day now excludes it
    got = needle_scan(spark, work, widx, "user_id", 1_000_123)
    exp = spark.read.parquet(work).filter("user_id = 1000123")
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))
    assert got.count() == 1
    got7 = needle_scan(spark, work, widx, "user_id", 123)
    exp7 = spark.read.parquet(work).filter("user_id = 123")
    assert got7.count() == exp7.count() == 39   # one day restated away


def test_engine_needle_request_prunes_fact_files(spark, tmp_path):
    """Planner integration: an engine request with an equality needle on
    an indexed physical column reads a pruned fact file list — same
    rows as the unindexed engine, fewer fact files scanned. The sidecar
    lives at {dir}/_skipidx/{table}/ (table_index_dir), built by a
    maintenance job; no request or registry change needed."""
    import json
    import shutil

    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry
    from maha_spark.plans.skipping import table_index_dir

    d = str(tmp_path / "sf")
    os.makedirs(d)
    src = "/root/testdata/sf0.001"
    for t in os.listdir(src):
        if t != "events.parquet":
            os.symlink(os.path.join(src, t), os.path.join(d, t))
    # day-partitioned events layout, value-clustered by user bucket so
    # zone maps can prune (each file holds a narrow user range per day)
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    (ev.withColumn("dt", F.to_date("ts"))
       .withColumn("ub", F.expr("CAST(user_id % 4 AS INT)"))
       .repartition(4, F.col("ub")).sortWithinPartitions("user_id")
       .drop("ub")
       .write.mode("overwrite").partitionBy("dt")
       .parquet(os.path.join(d, "events")))
    build_skipping_index(spark, os.path.join(d, "events"), ["user_id"],
                         table_index_dir(d, "events"))

    req = json.dumps({
        "cube": "events_cube",
        "selectFields": [{"field": "user_id"}, {"field": "event_count"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "2024-01-01", "to": "2024-12-31"},
            {"field": "user_id", "operator": "=", "value": 13}],
    })
    eng = engine_for_dir(spark, build_contract_registry(), d)
    got = eng.dataframe(req)
    ev_files = [f for f in got.inputFiles() if "/events/" in f]
    n_events_files = sum(
        len([f for f in os.listdir(os.path.join(d, "events", p))
             if f.endswith(".parquet")])
        for p in os.listdir(os.path.join(d, "events"))
        if p.startswith("dt="))
    assert 0 < len(ev_files) < n_events_files

    # rows identical to the unindexed engine on the same layout
    d2 = str(tmp_path / "sf2")
    shutil.copytree(d, d2)
    shutil.rmtree(os.path.join(d2, "_skipidx"))
    eng2 = engine_for_dir(spark, build_contract_registry(), d2)
    exp = eng2.dataframe(req)
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))
    assert got.count() > 0

    # an absent needle short-circuits to zero rows without a scan
    req_absent = json.loads(req)
    req_absent["filterExpressions"][1]["value"] = 99_999_999
    assert eng.dataframe(json.dumps(req_absent)).count() == 0


def test_cross_type_needle_is_safe(spark, layout):
    """A string-typed needle against an int column (the JSON-request
    shape) must not false-negative: the zone map abstains on the type
    mismatch and the Bloom check still prunes (str(13) and '13' hash
    identically)."""
    table, idx = layout
    kept_int = prune_files(spark, idx, "user_id", 123)
    kept_str = prune_files(spark, idx, "user_id", "123")
    assert set(kept_int) <= set(kept_str)   # superset direction only
    got = needle_scan(spark, table, idx, "user_id", 123)
    assert got.count() == 40


@pytest.fixture(scope="module")
def range_layout(spark, tmp_path_factory):
    """Time-clustered layout: each dt= file holds a contiguous id range
    (the event_id shape of real append-only facts), plus a column whose
    NULLs live in only a few days."""
    from maha_spark.plans.skipping import table_index_dir

    d = str(tmp_path_factory.mktemp("rangedata"))
    table = os.path.join(d, "facts")
    df = (spark.range(10_000)
          .withColumn("dt", F.expr(
              "date_add(DATE '2024-03-01', CAST(id DIV 500 AS INT))"))
          .withColumn("score", F.expr(
              "CASE WHEN id % 500 < 3 AND id DIV 500 IN (2, 7) "
              "THEN NULL ELSE CAST(id % 100 AS BIGINT) END")))
    (df.repartition(F.col("dt")).write.mode("overwrite")
       .partitionBy("dt").parquet(table))
    idx = table_index_dir(d, "facts")
    build_skipping_index(spark, table, ["id", "score"], idx)
    return table, idx


def test_range_pruning_equals_full_scan(spark, range_layout):
    from maha_spark.plans.skipping import prune_files_range

    table, idx = range_layout
    full = spark.read.parquet(table)
    n_files = len(set(full.inputFiles()))
    # id > 9000: only the last two 500-row files can intersect
    kept = prune_files_range(spark, idx, "id", lo=9000, lo_inclusive=False)
    assert 0 < len(kept) < n_files
    exp = {r["id"] for r in full.filter("id > 9000").collect()}
    got = set()
    for f in kept:
        p = f[len("file:"):] if f.startswith("file:") else f
        got |= {r["id"] for r in spark.read.parquet(p)
                .filter("id > 9000").collect()}
    assert got == exp
    # between window intersects exactly the covering files
    kept2 = prune_files_range(spark, idx, "id", lo=1200, hi=1400)
    assert len(kept2) == 1
    # unsatisfiable range prunes everything
    assert prune_files_range(spark, idx, "id", lo=50_000) == []


def test_null_pruning(spark, range_layout):
    from maha_spark.plans.skipping import prune_files_null

    table, idx = range_layout
    kept = prune_files_null(spark, idx, "score")
    assert len(kept) == 2          # NULLs planted in days 2 and 7 only
    rows = 0
    for f in kept:
        p = f[len("file:"):] if f.startswith("file:") else f
        rows += spark.read.parquet(p).filter("score IS NULL").count()
    assert rows == spark.read.parquet(table) \
        .filter("score IS NULL").count() == 6


def test_engine_range_needle_prunes(spark, tmp_path):
    """Planner integration for range needles: a > filter on an indexed
    time-clustered column reads a file subset, rows identical to the
    unindexed engine; the conjunction of two needles intersects."""
    import json
    import shutil

    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry
    from maha_spark.plans.skipping import table_index_dir

    d = str(tmp_path / "sf")
    os.makedirs(d)
    src = "/root/testdata/sf0.001"
    for t in os.listdir(src):
        if t != "events.parquet":
            os.symlink(os.path.join(src, t), os.path.join(d, t))
    # make user_id time-clustered (:= event_id, which is monotone with
    # ts) so per-file zone maps have disjoint ranges — the append-only
    # id shape real facts have
    ev = (spark.read.parquet(os.path.join(src, "events.parquet"))
          .withColumn("user_id", F.col("event_id")))
    (ev.withColumn("dt", F.to_date("ts"))
       .repartition(F.col("dt")).write.mode("overwrite")
       .partitionBy("dt").parquet(os.path.join(d, "events")))
    build_skipping_index(spark, os.path.join(d, "events"), ["user_id"],
                         table_index_dir(d, "events"))

    hi = int(ev.selectExpr("max(user_id)").first()[0])
    req = json.dumps({
        "cube": "events_cube",
        "selectFields": [{"field": "event_type"},
                         {"field": "event_count"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "2024-01-01", "to": "2024-12-31"},
            {"field": "user_id", "operator": ">",
             "value": int(hi * 0.9)}],
    })
    eng = engine_for_dir(spark, build_contract_registry(), d)
    got = eng.dataframe(req)
    ev_files = [f for f in got.inputFiles() if "/events/" in f]
    n_events_files = sum(
        len([f for f in os.listdir(os.path.join(d, "events", p))
             if f.endswith(".parquet")])
        for p in os.listdir(os.path.join(d, "events"))
        if p.startswith("dt="))
    assert 0 < len(ev_files) < n_events_files

    d2 = str(tmp_path / "sf2")
    shutil.copytree(d, d2)
    shutil.rmtree(os.path.join(d2, "_skipidx"))
    eng2 = engine_for_dir(spark, build_contract_registry(), d2)
    exp = eng2.dataframe(req)
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))
    assert got.count() > 0


def test_stale_index_falls_back_until_refresh(spark, tmp_path):
    """A table rewrite (compaction, day refresh — anything routed
    through overwrite_day_partitions, which bumps the root mtime) makes
    the sidecar STALE: pruning could miss the rewritten files, so the
    probe must fall back to the full scan until the maintenance job
    rebuilds the index."""
    from maha_spark.plans.scale import compact_day_partitions
    from maha_spark.plans.skipping import index_stale, table_index_dir

    d = str(tmp_path)
    table = os.path.join(d, "facts")
    df = (spark.range(4_000)
          .withColumn("dt", F.expr(
              "date_add(DATE '2024-05-01', CAST(id DIV 500 AS INT))")))
    (df.repartition(F.col("dt")).write.mode("overwrite")
       .partitionBy("dt").parquet(table))
    # fragment one day so compaction has something to rewrite
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    day = (spark.read.parquet(table).filter("dt = '2024-05-02'")
           .localCheckpoint(eager=True))
    (day.repartition(1).write.mode("overwrite")
        .option("maxRecordsPerFile", 100)
        .partitionBy("dt").parquet(table))

    idx = table_index_dir(d, "facts")
    build_skipping_index(spark, table, ["id"], idx)
    assert not index_stale(table, idx, "id")
    kept0 = prune_files(spark, idx, "id", 600)
    assert kept0       # prunes while fresh

    compact_day_partitions(spark, table, target_file_mb=256)
    assert index_stale(table, idx, "id")
    # needle_scan falls back to the full scan — rows stay correct even
    # though the indexed files for the compacted day no longer exist
    got = needle_scan(spark, table, idx, "id", 600)
    assert got.count() == 1
    assert len(set(got.inputFiles())) == len(
        set(spark.read.parquet(table).inputFiles()))

    build_skipping_index(spark, table, ["id"], idx)
    assert not index_stale(table, idx, "id")
    pruned = needle_scan(spark, table, idx, "id", 600)
    assert pruned.count() == 1
    assert len(set(pruned.inputFiles())) < len(
        set(spark.read.parquet(table).inputFiles()))


def test_prune_files_any_reads_sidecar_once(spark, layout):
    """IN-list pruning is the union of the per-value keeps, computed
    from ONE sidecar read."""
    from maha_spark.plans.skipping import prune_files_any
    table, idx = layout
    one = set(prune_files(spark, idx, "kind", "click"))
    two = set(prune_files(spark, idx, "kind", "view"))
    both = prune_files_any(spark, idx, "kind", ["click", "view"])
    assert set(both) == one | two
    assert prune_files_any(spark, idx, "kind", []) == []
    assert prune_files_any(spark, idx, "value", ["x"]) is None


def test_staleness_is_per_column(spark, tmp_path):
    """A partial-column rebuild after a table rewrite refreshes ONLY the
    rebuilt column's sidecar: the other column must still read stale
    (pruning on it could miss the rewrite's new files)."""
    from maha_spark.plans.skipping import index_stale, table_index_dir

    d = str(tmp_path)
    table = os.path.join(d, "facts")
    df = (spark.range(2_000)
          .withColumn("dt", F.expr(
              "date_add(DATE '2024-06-01', CAST(id DIV 500 AS INT))"))
          .withColumn("k", F.expr("CAST(id % 7 AS BIGINT)")))
    (df.repartition(F.col("dt")).write.mode("overwrite")
       .partitionBy("dt").parquet(table))
    idx = table_index_dir(d, "facts")
    build_skipping_index(spark, table, ["id", "k"], idx)
    assert not index_stale(table, idx, "id")
    assert not index_stale(table, idx, "k")

    # bump the root mtime the way every engine-maintained rewrite does
    now = os.path.getmtime(table) + 10
    os.utime(table, (now, now))
    assert index_stale(table, idx, "id")
    assert index_stale(table, idx, "k")

    build_skipping_index(spark, table, ["id"], idx)
    assert not index_stale(table, idx, "id")
    assert index_stale(table, idx, "k")     # untouched sidecar stays stale


@pytest.fixture(scope="module")
def engine_layout(spark, tmp_path_factory):
    """sf0.001 dir with a value-clustered day-partitioned events layout
    plus its user_id sidecar — the planner-integration fixture."""
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry
    from maha_spark.plans.skipping import table_index_dir

    d = str(tmp_path_factory.mktemp("engskip") / "sf")
    os.makedirs(d)
    src = "/root/testdata/sf0.001"
    for t in os.listdir(src):
        if t != "events.parquet":
            os.symlink(os.path.join(src, t), os.path.join(d, t))
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    (ev.withColumn("dt", F.to_date("ts"))
       .withColumn("ub", F.expr("CAST(user_id % 4 AS INT)"))
       .repartition(4, F.col("ub")).sortWithinPartitions("user_id")
       .drop("ub")
       .write.mode("overwrite").partitionBy("dt")
       .parquet(os.path.join(d, "events")))
    build_skipping_index(spark, os.path.join(d, "events"), ["user_id"],
                         table_index_dir(d, "events"))
    eng = engine_for_dir(spark, build_contract_registry(), d)
    n_files = sum(
        len([f for f in os.listdir(os.path.join(d, "events", p))
             if f.endswith(".parquet")])
        for p in os.listdir(os.path.join(d, "events"))
        if p.startswith("dt="))
    return d, eng, n_files


def _needle_req(value):
    import json
    return json.dumps({
        "cube": "events_cube",
        "selectFields": [{"field": "user_id"}, {"field": "event_count"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "2024-01-01", "to": "2024-12-31"},
            {"field": "user_id", "operator": "=", "value": value}],
    })


def test_planner_canonicalizes_string_needle(spark, engine_layout):
    """JSON requests carry stringly values; '13' against an int column
    must coerce to the stored int's hash and prune exactly like 13 —
    same rows, same pruned file set."""
    d, eng, n_files = engine_layout
    got_int = eng.dataframe(_needle_req(13))
    got_str = eng.dataframe(_needle_req("13"))
    fi = {f for f in got_int.inputFiles() if "/events/" in f}
    fs = {f for f in got_str.inputFiles() if "/events/" in f}
    assert fi == fs and 0 < len(fi) < n_files
    assert sorted(map(tuple, got_int.collect())) \
        == sorted(map(tuple, got_str.collect()))
    assert got_int.count() > 0


def test_planner_abstains_on_uncanonical_needles(spark, engine_layout):
    """Needles whose string form may not match CAST(stored AS STRING) —
    fractional floats, non-digit strings — must NOT prune (a wrong hash
    would false-negative); rows stay correct via the residual filter."""
    from maha_spark.request.request import ValidationError

    d, eng, n_files = engine_layout
    got = eng.dataframe(_needle_req(13.5))
    # the abstained plan routes through the binding's CACHED full scan
    # (InMemoryRelation) — a pruned plan is an uncached explicit
    # file-list FileScan and never caches
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    assert got.count() == 0

    # a non-numeric string on an int field never reaches the planner:
    # request validation rejects it (reference parity), so _canon_needle's
    # non-digit abstain only guards internal callers
    with pytest.raises(ValidationError):
        eng.dataframe(_needle_req("13x"))

    # integral float DOES canonicalize (13.0 == stored 13 in Spark,
    # str(13) is the built hash)
    got = eng.dataframe(_needle_req(13.0))
    fv = {f for f in got.inputFiles() if "/events/" in f}
    assert 0 < len(fv) < n_files
    assert got.count() > 0


@pytest.fixture()
def refresh_layout(spark, tmp_path):
    """Fresh per-test day-partitioned table with a two-column sidecar."""
    from maha_spark.plans.skipping import table_index_dir
    d = str(tmp_path)
    table = os.path.join(d, "facts")
    df = (spark.range(4_000)
          .withColumn("dt", F.expr(
              "date_add(DATE '2024-07-01', CAST(id DIV 500 AS INT))"))
          .withColumn("k", F.expr("CAST(id % 11 AS BIGINT)")))
    (df.repartition(F.col("dt")).write.mode("overwrite")
       .partitionBy("dt").parquet(table))
    idx = table_index_dir(d, "facts")
    build_skipping_index(spark, table, ["id", "k"], idx)
    return table, idx


def _sidecar_files(spark, idx, col, day=None):
    df = spark.read.parquet(os.path.join(idx, f"skip_{col}.parquet"))
    if day is not None:
        df = df.filter(F.col("dt_dir") == f"dt={day}")
    return sorted(r["file"] for r in df.select("file").collect())


def test_refresh_auto_detects_changed_days(spark, refresh_layout):
    """refresh_skipping_index(days=None) re-indexes exactly the day
    directories rewritten since the build (mtime-detected), carries the
    rest over byte-identically, and leaves the sidecar fresh."""
    from maha_spark.plans.skipping import (
        index_stale, refresh_skipping_index)
    table, idx = refresh_layout
    untouched_before = _sidecar_files(spark, idx, "id", "2024-07-05")

    # restate one day with shifted ids (new files, new values)
    day = "2024-07-02"
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    day_df = (spark.read.parquet(table).filter(f"dt = '{day}'")
              .localCheckpoint(eager=True))
    (day_df.withColumn("id", F.col("id") + 1_000_000)
     .repartition(2).write.mode("overwrite")
     .partitionBy("dt").parquet(table))
    now = os.path.getmtime(table) + 10
    os.utime(table, (now, now))     # the engine-rewrite root bump
    assert index_stale(table, idx, "id")

    paths = refresh_skipping_index(spark, table, idx)
    assert len(paths) == 2          # both columns refreshed, one group
    assert not index_stale(table, idx, "id")
    assert not index_stale(table, idx, "k")
    # untouched day rows carried over verbatim
    assert _sidecar_files(spark, idx, "id", "2024-07-05") \
        == untouched_before
    # every indexed file exists on disk (no dead paths)
    for f in _sidecar_files(spark, idx, "id"):
        assert os.path.exists(f[len("file:"):]
                              if f.startswith("file:") else f)
    # new values findable, exact vs full scan
    got = needle_scan(spark, table, idx, "id", 1_000_600)
    exp = spark.read.parquet(table).filter("id = 1000600")
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))
    assert got.count() == 1


def test_refresh_drops_deleted_day(spark, refresh_layout):
    """A full-day deletion (dt= dir removed, root bumped — the
    overwrite_day_partitions caveat) must purge that day's rows from the
    sidecar on refresh: kept rows for dead paths would make the pruned
    scan read nonexistent files."""
    from maha_spark.plans.skipping import refresh_skipping_index
    import shutil
    table, idx = refresh_layout
    # id=1700 lives only in dt=2024-07-04 (1700 DIV 500 = 3)
    assert _sidecar_files(spark, idx, "id", "2024-07-04")
    shutil.rmtree(os.path.join(table, "dt=2024-07-04"))
    now = os.path.getmtime(table) + 10
    os.utime(table, (now, now))

    refresh_skipping_index(spark, table, idx)
    assert _sidecar_files(spark, idx, "id", "2024-07-04") == []
    got = needle_scan(spark, table, idx, "id", 1_700)
    assert got.count() == 0
    got2 = needle_scan(spark, table, idx, "id", 600)
    assert got2.count() == 1


def test_refresh_restamps_when_nothing_changed(spark, refresh_layout):
    """A root-mtime bump with no day-directory changes (a rewrite that
    touched other state) re-stamps freshness WITHOUT rebuilding — the
    sidecar bytes stay identical and pruning stays enabled."""
    from maha_spark.plans.skipping import (
        index_stale, refresh_skipping_index)
    table, idx = refresh_layout
    before = _sidecar_files(spark, idx, "id")
    sidecar = os.path.join(idx, "skip_id.parquet")
    bytes_before = sorted(
        (f, os.path.getmtime(os.path.join(sidecar, f)))
        for f in os.listdir(sidecar))
    now = os.path.getmtime(table) + 10
    os.utime(table, (now, now))
    assert index_stale(table, idx, "id")

    refresh_skipping_index(spark, table, idx)
    assert not index_stale(table, idx, "id")
    assert _sidecar_files(spark, idx, "id") == before
    assert sorted((f, os.path.getmtime(os.path.join(sidecar, f)))
                  for f in os.listdir(sidecar)) == bytes_before


@pytest.fixture(scope="module")
def zorder_layout(spark, tmp_path_factory):
    """Two independent needle columns + a string column over 3 days —
    the shape where a single-column sort can't serve both needles."""
    d = str(tmp_path_factory.mktemp("zorder"))
    table = os.path.join(d, "facts")
    df = (spark.range(90_000)
          .withColumn("dt", F.expr(
              "date_add(DATE '2024-08-01', CAST(id % 3 AS INT))"))
          .withColumn("x", F.expr("CAST(id % 1000 AS BIGINT)"))
          .withColumn("y", F.expr("pmod(hash(id), 1000)").cast("long"))
          .withColumn("s", F.expr(
              "concat('u', CAST((id * 131) % 500 AS STRING))"))
          .withColumn("pad", F.expr("repeat(uuid(), 4)")))
    (df.repartition(F.col("dt")).write.mode("overwrite")
       .partitionBy("dt").parquet(table))
    return d, table


def _day_rows(spark, table):
    return sorted(map(tuple, spark.read.parquet(table)
                      .select("dt", "id", "x", "y", "s").collect()))


def _files_per_day(table):
    return {p: sorted(f for f in os.listdir(os.path.join(table, p))
                      if f.endswith(".parquet"))
            for p in os.listdir(table) if p.startswith("dt=")}


@pytest.mark.slow
def test_zorder_bit_identical_and_multi_file(spark, zorder_layout):
    """The rewrite changes layout only: per-day row multisets unchanged,
    and the size cap actually cuts each day into multiple files."""
    from maha_spark.plans.scale import zorder_day_partitions
    d, table = zorder_layout
    before = _day_rows(spark, table)
    days = zorder_day_partitions(spark, table, ["x", "y"],
                                 target_file_mb=0.05)
    assert len(days) == 3
    assert _day_rows(spark, table) == before
    for day, files in _files_per_day(table).items():
        assert len(files) > 4, day


@pytest.mark.slow
def test_zorder_prunes_on_every_listed_column(spark, zorder_layout):
    """After Z-ORDER on (x, y), the sidecar prunes needles on BOTH
    columns (files are tiles of the 2-D space); a plain x-sorted layout
    only prunes x — the y zone maps all span the full range.

    slow-marked with the rest of the zorder CHAIN: the three zorder
    tests mutate the shared module fixture in order (this one reads the
    layout the bit-identity test rewrote), so they run together in the
    slow tier or not at all."""
    from maha_spark.plans.skipping import table_index_dir
    d, table = zorder_layout     # already z-ordered by the test above
    idx = table_index_dir(d, "facts")
    build_skipping_index(spark, table, ["x", "y"], idx)
    total = sum(len(v) for v in _files_per_day(table).values())

    for col, needle in (("x", 123), ("y", 456)):
        kept = prune_files(spark, idx, col, needle)
        assert kept is not None and 0 < len(kept) < total // 2, col
        got = needle_scan(spark, table, idx, col, needle)
        exp = spark.read.parquet(table).filter(F.col(col) == needle)
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, exp.collect())), col

    # contrast: single-column sort leaves the OTHER column unprunable
    from maha_spark.plans.scale import overwrite_day_partitions
    xsorted = os.path.join(d, "facts_xsort")
    src = (spark.read.parquet(table).localCheckpoint(eager=True))
    n = src.count()
    overwrite_day_partitions(src, xsorted, max_records_per_file=n // 20,
                             sort_within=[F.col("x")])
    xidx = os.path.join(d, "_skipidx", "facts_xsort")
    build_skipping_index(spark, xsorted, ["x", "y"], xidx)
    xtotal = sum(len(v) for v in _files_per_day(xsorted).values())
    kept_x = prune_files(spark, xidx, "x", 123)
    kept_y = prune_files(spark, xidx, "y", 456)
    assert 0 < len(kept_x) < xtotal // 2       # leader prunes
    assert len(kept_y) == xtotal               # follower cannot


@pytest.mark.slow
def test_zorder_hash_bins_string_column(spark, zorder_layout):
    """A string column in the Z-order gets hash bins: equal values
    co-locate, so the Bloom sidecar prunes equality needles on it."""
    from maha_spark.plans.scale import zorder_day_partitions
    from maha_spark.plans.skipping import (
        refresh_skipping_index, table_index_dir)
    d, table = zorder_layout
    before = _day_rows(spark, table)
    zorder_day_partitions(spark, table, ["x", "s"],
                          target_file_mb=0.05)
    assert _day_rows(spark, table) == before
    idx = table_index_dir(d, "facts")
    # the rewrite made the existing sidecar stale — the maintenance
    # chain (zorder -> refresh) brings it back, re-indexing every day
    refresh_skipping_index(spark, table, idx)
    build_skipping_index(spark, table, ["s"], idx)
    total = sum(len(v) for v in _files_per_day(table).values())
    kept = prune_files(spark, idx, "s", "u123")
    assert kept is not None and 0 < len(kept) < total // 2
    got = needle_scan(spark, table, idx, "s", "u123")
    exp = spark.read.parquet(table).filter("s = 'u123'")
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))


def test_sidecar_probe_memoized(spark, refresh_layout):
    """Repeated needles on the same sidecar must not re-parse it: the
    driver memoizes per path+mtime, and the atomic rename of a rebuild
    bumps the mtime, invalidating the entry."""
    import pyarrow.parquet as pq

    from maha_spark.plans import skipping
    table, idx = refresh_layout
    skipping._SIDECAR_CACHE.clear()
    k1 = prune_files(spark, idx, "id", 600)
    path = os.path.join(idx, "skip_id.parquet")
    assert path in skipping._SIDECAR_CACHE

    orig = pq.read_table
    pq.read_table = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("sidecar re-parsed on a warm probe"))
    try:
        assert prune_files(spark, idx, "id", 600) == k1
        # range/null probes share the same memoized table
        from maha_spark.plans.skipping import (prune_files_null,
                                               prune_files_range)
        assert prune_files_range(spark, idx, "id", lo=600, hi=600) \
            is not None
        assert prune_files_null(spark, idx, "id") == []
    finally:
        pq.read_table = orig

    # a rebuild swaps the sidecar dir (rename -> new mtime): the next
    # probe re-reads instead of serving the dead entry
    import time
    time.sleep(0.01)
    build_skipping_index(spark, table, ["id"], idx)
    assert prune_files(spark, idx, "id", 600) == k1
    assert skipping._SIDECAR_CACHE[path][1] is not None


def test_date_needle_canonicalization(spark, tmp_path):
    """Date needles: a 'YYYY-M-D' string coerces to a datetime.date
    whose str() is the ISO form the Bloom was built from (CAST(date AS
    STRING)); datetimes and non-date strings abstain. The coerced value
    both zone-map-compares (date vs date) and Bloom-hashes correctly."""
    import datetime as dt

    from maha_spark.core.types import DateType
    from maha_spark.plans.skipping import _SKIP, _canon_needle

    assert _canon_needle(DateType(), "2024-07-02") == dt.date(2024, 7, 2)
    assert _canon_needle(DateType(), "2024-7-2") == dt.date(2024, 7, 2)
    assert _canon_needle(DateType(),
                         dt.date(2024, 7, 2)) == dt.date(2024, 7, 2)
    assert _canon_needle(DateType(), "2024-07-02 10:00:00") is _SKIP
    assert _canon_needle(DateType(),
                         dt.datetime(2024, 7, 2, 0, 0)) is _SKIP
    assert _canon_needle(DateType(), 20240702) is _SKIP

    d = str(tmp_path)
    table = os.path.join(d, "t")
    (spark.range(4_000)
     .withColumn("dt", F.expr(
         "date_add(DATE '2024-07-01', CAST(id DIV 1000 AS INT))"))
     .withColumn("event_date", F.expr(
         "date_add(DATE '2023-01-01', CAST(id % 8 AS INT))"))
     .repartition(8, F.col("event_date"))
     .write.partitionBy("dt").parquet(table))
    idx = os.path.join(d, "idx")
    build_skipping_index(spark, table, ["event_date"], idx)
    total = sum(len([f for f in os.listdir(os.path.join(table, p))
                     if f.endswith(".parquet")])
                for p in os.listdir(table) if p.startswith("dt="))
    needle = _canon_needle(DateType(), "2023-01-03")
    kept = prune_files(spark, idx, "event_date", needle)
    assert kept is not None and 0 < len(kept) < total
    got = needle_scan(spark, table, idx, "event_date", needle)
    exp = spark.read.parquet(table).filter("event_date = '2023-01-03'")
    assert got.count() == exp.count() > 0


def test_flat_append_invalidates_then_refresh_restores(spark, tmp_path):
    """The streaming sink shape: a FLAT parquet dir (no dt=) gains files
    via append — the root mtime bumps (files land in the root), so the
    sidecar reads stale (pruning on it would miss the new files), and
    refresh_skipping_index falls back to a full rebuild for flat
    tables. Needle results stay exact through the whole cycle."""
    from maha_spark.plans.skipping import (
        index_stale, refresh_skipping_index, table_index_dir)

    d = str(tmp_path)
    table = os.path.join(d, "rollup")
    (spark.range(1_000).withColumn("k", F.col("id") % 50)
     .coalesce(1).write.parquet(table))
    idx = table_index_dir(d, "rollup")
    build_skipping_index(spark, table, ["id"], idx)
    assert not index_stale(table, idx, "id")
    assert needle_scan(spark, table, idx, "id", 7).count() == 1

    import time
    time.sleep(0.01)
    (spark.range(1_000, 2_000).withColumn("k", F.col("id") % 50)
     .coalesce(1).write.mode("append").parquet(table))
    assert index_stale(table, idx, "id")
    # stale gate: falls back to the full scan — new rows visible NOW
    assert needle_scan(spark, table, idx, "id", 1_500).count() == 1

    refresh_skipping_index(spark, table, idx)
    assert not index_stale(table, idx, "id")
    assert needle_scan(spark, table, idx, "id", 1_500).count() == 1
    assert needle_scan(spark, table, idx, "id", 7).count() == 1
    assert prune_files(spark, idx, "id", 5_000) == []


def test_nan_zone_bounds_abstain(spark, tmp_path):
    """Spark orders NaN ABOVE every double (max of [1.0, NaN] is NaN,
    and `col > 1000` MATCHES a NaN row), while every Python NaN
    comparison is False — a zone-map test trusting NaN bounds would
    silently drop files that DO contain matching rows. Both the
    equality and the range probes must abstain on NaN bounds."""
    from maha_spark.plans.skipping import prune_files_range

    d = str(tmp_path)
    table = os.path.join(d, "t")
    (spark.sql("""
        SELECT * FROM VALUES
          (DATE '2024-01-01', 1.0d), (DATE '2024-01-01', double('NaN')),
          (DATE '2024-01-02', 5.0d), (DATE '2024-01-02', 7.0d)
        AS t(dt, v)
     """).repartition(F.col("dt"))
     .write.partitionBy("dt").parquet(table))
    idx = os.path.join(d, "idx")
    build_skipping_index(spark, table, ["v"], idx)

    # range needle v > 1000: only the NaN row matches; its file's
    # v_max is NaN and must be KEPT
    kept = prune_files_range(spark, idx, "v", lo=1000.0,
                             lo_inclusive=False)
    exp = spark.read.parquet(table).filter("v > 1000")
    assert exp.count() == 1         # Spark: NaN > 1000 is TRUE
    assert any("dt=2024-01-01" in f for f in kept)
    # equality needle 1.0 lives in the NaN-bounded file: must be kept
    got = needle_scan(spark, table, idx, "v", 1.0)
    assert got.count() == 1


def test_refresh_explicit_days_rebuilds_fully_without_record(
        spark, refresh_layout):
    """A sidecar with no readable freshness record (pre-upgrade format,
    manual tampering) cannot have its carried-over rows trusted: even a
    days-SCOPED refresh must fall back to a FULL rebuild for that
    column."""
    from maha_spark.plans.skipping import (
        index_stale, refresh_skipping_index)
    table, idx = refresh_layout
    # restate one day, then lose the freshness record for 'id'
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    day_df = (spark.read.parquet(table).filter("dt = '2024-07-03'")
              .localCheckpoint(eager=True))
    (day_df.withColumn("id", F.col("id") + 2_000_000)
     .repartition(1).write.mode("overwrite")
     .partitionBy("dt").parquet(table))
    os.unlink(os.path.join(idx, "skip_id.srcmtime"))
    now = os.path.getmtime(table) + 10
    os.utime(table, (now, now))

    # caller scopes the refresh to a DIFFERENT day — the untrusted
    # column must still rebuild fully (its sidecar would otherwise keep
    # dead 2024-07-03 paths and get stamped fresh)
    refresh_skipping_index(spark, table, idx, days=["2024-07-05"])
    assert not index_stale(table, idx, "id")
    for f in _sidecar_files(spark, idx, "id"):
        assert os.path.exists(f[len("file:"):]
                              if f.startswith("file:") else f), f
    got = needle_scan(spark, table, idx, "id", 2_001_300)
    assert got.count() == 1


def test_planner_abstains_under_shifted_timezone(spark, engine_layout):
    """A shifted-timezone request evaluates filters against LOCAL-day
    expressions over stored UTC values; the sidecar indexes stored
    values, so pruning could drop files whose UTC rows map into the
    requested local day — the planner must abstain entirely (same
    posture as rollup serving) and rows must match the unindexed
    engine."""
    import json
    d, eng, n_files = engine_layout
    req = json.loads(_needle_req(13))
    req["additionalParameters"] = {"timeZone": "America/Los_Angeles"}
    got = eng.dataframe(json.dumps(req))
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan       # cached full scan, no prune
    # same rows as an engine with NO index on an identical layout
    import shutil
    import tempfile
    d2 = tempfile.mkdtemp() + "/sf"
    shutil.copytree(d, d2)
    shutil.rmtree(os.path.join(d2, "_skipidx"))
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry
    eng2 = engine_for_dir(spark, build_contract_registry(), d2)
    exp = eng2.dataframe(json.dumps(req))
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))


def test_incremental_rebuild_with_new_params_never_mixes(spark, tmp_path):
    """Bloom positions are mod bits_m with `hashes` probes; a days-scoped
    rebuild at NEW parameters must not union its rows with carried-over
    rows built at the old ones (the probe would test wrong positions and
    could false-negative) — the column rebuilds fully instead, and a
    hand-mixed sidecar is refused by the probe (full-scan fallback)."""
    import pyarrow.parquet as pq

    from maha_spark.plans import skipping
    d = str(tmp_path)
    table = os.path.join(d, "t")
    (spark.range(2_000)
     .withColumn("dt", F.expr(
         "date_add(DATE '2024-07-01', CAST(id DIV 500 AS INT))"))
     .repartition(F.col("dt")).write.partitionBy("dt").parquet(table))
    idx = os.path.join(d, "idx")
    build_skipping_index(spark, table, ["id"], idx, bits=4096)
    build_skipping_index(spark, table, ["id"], idx, bits=8192,
                         days=["2024-07-02"])
    t = pq.read_table(os.path.join(idx, "skip_id.parquet"),
                      columns=["bits_m", "hashes"])
    assert set(t.column("bits_m").to_pylist()) == {8192}   # full rebuild
    got = needle_scan(spark, table, idx, "id", 600)
    assert got.count() == 1
    assert prune_files(spark, idx, "id", 600)

    # belt-and-suspenders: a mixed sidecar (external writer) makes the
    # probe abstain rather than test wrong positions
    import pyarrow as pa
    path = os.path.join(idx, "skip_id.parquet")
    full = pq.read_table(path)
    half = full.num_rows // 2
    bits_col = pa.chunked_array([pa.array(
        [4096] * half + [8192] * (full.num_rows - half), pa.int32()
    ).cast(full.schema.field("bits_m").type)])
    mixed = full.set_column(full.schema.get_field_index("bits_m"),
                            "bits_m", bits_col)
    skipping._SIDECAR_CACHE.clear()
    for f in (os.listdir(path) if os.path.isdir(path) else []):
        if not f.endswith(".parquet"):
            continue
        pq.write_table(mixed, os.path.join(path, f))
        break
    assert prune_files(spark, idx, "id", 600) is None   # abstains
    assert needle_scan(spark, table, idx, "id", 600).count() == 1


def test_refresh_preserves_custom_sidecar_sizing(spark, tmp_path):
    """A sidecar built with custom (bits, hashes) keeps that sizing
    through maintenance refreshes — a refresh must not silently
    downgrade a high-ndv column's Bloom to the defaults (which would
    both force a full rebuild and permanently raise the false-positive
    rate)."""
    import pyarrow.parquet as pq

    from maha_spark.plans.skipping import (
        index_stale, refresh_skipping_index, table_index_dir)
    d = str(tmp_path)
    table = os.path.join(d, "facts")
    (spark.range(2_000)
     .withColumn("dt", F.expr(
         "date_add(DATE '2024-07-01', CAST(id DIV 500 AS INT))"))
     .repartition(F.col("dt")).write.partitionBy("dt").parquet(table))
    idx = table_index_dir(d, "facts")
    build_skipping_index(spark, table, ["id"], idx, bits=16384, hashes=7)

    # restate one day, then refresh (auto mode)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    day_df = (spark.read.parquet(table).filter("dt = '2024-07-02'")
              .localCheckpoint(eager=True))
    (day_df.withColumn("id", F.col("id") + 1_000_000)
     .repartition(1).write.mode("overwrite")
     .partitionBy("dt").parquet(table))
    now = os.path.getmtime(table) + 10
    os.utime(table, (now, now))
    refresh_skipping_index(spark, table, idx)

    t = pq.read_table(os.path.join(idx, "skip_id.parquet"),
                      columns=["bits_m", "hashes"])
    assert set(t.column("bits_m").to_pylist()) == {16384}
    assert set(t.column("hashes").to_pylist()) == {7}
    assert not index_stale(table, idx, "id")
    assert needle_scan(spark, table, idx, "id", 1_000_600).count() == 1


def test_refresh_heals_mixed_sidecar(spark, refresh_layout):
    """A mixed-parameter sidecar (external writer / pre-fix state) on a
    QUIET table: the probe abstains, and the next refresh detects the
    mix and rebuilds fully instead of re-stamping it fresh forever."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from maha_spark.plans import skipping
    from maha_spark.plans.skipping import refresh_skipping_index
    table, idx = refresh_layout
    path = os.path.join(idx, "skip_id.parquet")
    full = pq.read_table(path)
    half = full.num_rows // 2
    bits_col = pa.chunked_array([pa.array(
        [4096] * half + [8192] * (full.num_rows - half), pa.int32()
    ).cast(full.schema.field("bits_m").type)])
    mixed = full.set_column(full.schema.get_field_index("bits_m"),
                            "bits_m", bits_col)
    skipping._SIDECAR_CACHE.clear()
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            pq.write_table(mixed, os.path.join(path, f))
            break
    assert prune_files(spark, idx, "id", 600) is None   # abstains

    # a refresh with NO changed days must still heal the column
    refresh_skipping_index(spark, table, idx)
    assert prune_files(spark, idx, "id", 600)           # prunes again
    assert needle_scan(spark, table, idx, "id", 600).count() == 1


@pytest.mark.slow
def test_dim_driven_page_keys_prune_fact_files(spark, tmp_path):
    """q6 shape: the dim-driven page's key set (known driver-side after
    dim pagination) probes the fact's l_orderkey sidecar, so the fact
    scan opens only files that can contain the page's keys — bit
    identical rows vs the unindexed engine, fewer lineitem files."""
    import json
    import shutil

    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry
    from maha_spark.plans.skipping import table_index_dir

    d = str(tmp_path / "sf")
    os.makedirs(d)
    src = "/root/testdata/sf0.001"
    for t in os.listdir(src):
        if t != "lineitem.parquet":
            os.symlink(os.path.join(src, t), os.path.join(d, t))
    li = spark.read.parquet(os.path.join(src, "lineitem.parquet"))
    (li.withColumn("dt", F.to_date("l_shipdate"))
       .withColumn("ob", F.expr("CAST(l_orderkey % 4 AS INT)"))
       .repartition(4, F.col("ob")).sortWithinPartitions("l_orderkey")
       .drop("ob")
       .write.mode("overwrite").partitionBy("dt")
       .parquet(os.path.join(d, "lineitem")))
    build_skipping_index(spark, os.path.join(d, "lineitem"),
                         ["l_orderkey"], table_index_dir(d, "lineitem"))

    req = json.dumps({
        "cube": "tpch",
        "selectFields": [{"field": "order_key"},
                         {"field": "order_priority"},
                         {"field": "revenue"}, {"field": "line_count"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "1995-01-01", "to": "2002-12-31"}],
        "sortBy": [{"field": "order_priority", "order": "ASC"}],
        "forceDimensionDriven": True,
        "paginationStartIndex": 10,
        "rowsPerPage": 25,
    })
    eng = engine_for_dir(spark, build_contract_registry(), d)
    got = eng.dataframe(req)
    li_files = {f for f in got.inputFiles() if "/lineitem/" in f}
    n_li_files = sum(
        len([f for f in os.listdir(os.path.join(d, "lineitem", p))
             if f.endswith(".parquet")])
        for p in os.listdir(os.path.join(d, "lineitem"))
        if p.startswith("dt="))
    assert 0 < len(li_files) < n_li_files

    # rows identical to the unindexed engine on the same layout
    d2 = str(tmp_path / "sf2")
    shutil.copytree(d, d2)
    shutil.rmtree(os.path.join(d2, "_skipidx"))
    eng2 = engine_for_dir(spark, build_contract_registry(), d2)
    exp = eng2.dataframe(req)
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))
    assert got.count() == 25


def test_sidecar_memo_eviction_is_thread_safe(tmp_path, monkeypatch):
    """Concurrent planners loading more sidecars than the memo holds
    evict and insert without racing each other."""
    import sys
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from maha_spark.plans import skipping

    tables, paths = {}, []
    for i in range(8):
        p = str(tmp_path / f"skip_c{i}.parquet")
        tables[p] = pa.table({"file": [f"f{i}"]})
        pq.write_table(tables[p], p)
        paths.append(p)
    # decode from memory: the race is in the memo, not the parquet read
    monkeypatch.setattr(pq, "read_table", lambda p: tables[p])
    monkeypatch.setattr(skipping, "_SIDECAR_CACHE", {})
    monkeypatch.setattr(skipping, "_SIDECAR_CACHE_MAX", 2)
    errors = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)

    def load(seed: int) -> None:
        try:
            for i in range(20_000):
                k = (i * 3 + seed) % len(paths)
                assert skipping._load_sidecar(paths[k])["file"] == [f"f{k}"]
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errors.append(e)

    try:
        threads = [threading.Thread(target=load, args=(s,))
                   for s in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(skipping._SIDECAR_CACHE) <= 2
