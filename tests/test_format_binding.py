"""Source pluggability: the same cube served from CSV and JSON bindings
(the reference's engine-per-table binding collapsed onto Spark DataSource
formats)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.engine import MahaSparkEngine  # noqa: E402
from maha_spark.plans.binding import FormatBinding  # noqa: E402


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    import duckdb
    d = tmp_path_factory.mktemp("csvsrc")
    con = duckdb.connect()
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{sf}/{t}.parquet')) "
            f"TO '{d}/{t}.csv' (HEADER, TIMESTAMP_FORMAT "
            f"'%Y-%m-%d %H:%M:%S')")
    con.close()
    return str(d)


def test_cube_query_over_csv_binding(spark, csv_dir, engine):
    from maha_spark.examples.tpch import build_registry
    binding = FormatBinding(
        spark, csv_dir, fmt="csv",
        options={"header": "true", "inferSchema": "true",
                 "timestampFormat": "yyyy-MM-dd HH:mm:ss"})
    csv_eng = MahaSparkEngine(spark, build_registry(), binding)
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Nation Name"}, {"field": "Revenue"}],
        "filterExpressions": [{"field": "Day", "operator": "between",
                               "from": "1995-01-01", "to": "2002-12-31"}],
    }
    got = {(r["Nation Name"], round(r["Revenue"], 2))
           for r in csv_eng.dataframe(req).collect()}
    exp = {(r["Nation Name"], round(r["Revenue"], 2))
           for r in engine.dataframe(req).collect()}
    assert got == exp and len(got) > 0


def test_cube_query_over_json_binding(spark, tmp_path, engine):
    import duckdb
    from maha_spark.examples.tpch import build_registry
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{sf}/{t}.parquet')) "
            f"TO '{tmp_path}/{t}.json' (FORMAT JSON, TIMESTAMP_FORMAT "
            f"'%Y-%m-%d %H:%M:%S')")
    con.close()
    binding = FormatBinding(
        spark, str(tmp_path), fmt="json",
        options={"timestampFormat": "yyyy-MM-dd HH:mm:ss"})
    js_eng = MahaSparkEngine(spark, build_registry(), binding)
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Region Name"}, {"field": "Line Count"}],
        "filterExpressions": [{"field": "Day", "operator": "between",
                               "from": "1995-01-01", "to": "2002-12-31"}],
    }
    got = {(r[0], round(r[1], 2)) for r in js_eng.dataframe(req).collect()}
    exp = {(r[0], round(r[1], 2)) for r in engine.dataframe(req).collect()}
    assert got == exp and len(got) > 0


def test_cache_policy_size_gated(spark, monkeypatch):
    """Auto-cache is gated on disk bytes AND estimated row count: small
    tables (dims) stay hot, a table over either cap is NEVER cached — at
    cluster scale caching an unbounded fact would evict/thrash the whole
    storage pool, and a repetitive fact can RLE-hide 100M+ rows behind a
    ~100 MB disk footprint where the columnar-cache scan loses to the
    parquet reader outright (tools/bench_probes/attrib_r6.json)."""
    from maha_spark.plans import binding as b

    lp = "/root/testdata/sf0.01/lineitem.parquet"
    np_ = "/root/testdata/sf0.01/nation.parquet"
    # start from a clean memo: an earlier module may have bound either
    # table under the default (permissive) caps
    b.forget_tables(lp, np_)
    pb = b.ParquetBinding(spark, "/root/testdata/sf0.01")
    monkeypatch.setenv("MAHA_SPARK_CACHE", "1")
    # rows cap below lineitem's count but above nation's (footer-exact
    # for single files)
    lr = b._est_rows(lp)
    nr = b._est_rows(np_)
    assert 0 < nr < lr
    monkeypatch.setenv("MAHA_SPARK_CACHE_MAX_ROWS", str(nr + 1))
    fact = pb.table("lineitem")
    assert not fact.storageLevel.useMemory
    dim = pb.table("nation")
    assert dim.storageLevel.useMemory
    # the bytes gate rejects independently of the rows gate
    monkeypatch.delenv("MAHA_SPARK_CACHE_MAX_ROWS")
    monkeypatch.setenv("MAHA_SPARK_CACHE_MAX_BYTES",
                       str(b._path_bytes(lp) - 1))
    assert not b._should_cache(lp)
    # drop BOTH memo entries: they were built under this test's tiny cap
    # (an uncached lineitem memo would otherwise stick for the session)
    b.forget_tables(lp, np_)


def test_est_rows_sees_through_rle_compression(spark, tmp_path):
    """A repetitive table RLE-hides millions of rows behind a tiny disk
    footprint (the scaled bench layouts put 307M rows in 131 MB); the
    rows estimate must come from parquet footers, not disk bytes, so the
    cache gate rejects such a table. Multi-file trees are sampled +
    extrapolated; the estimate must land within 20% of truth on a
    skewed-file-size layout."""
    import pyspark.sql.functions as F

    from maha_spark.plans import binding as b

    root = str(tmp_path / "rep")
    # 40 files with varying row counts of a single repeated value — high
    # RLE ratio AND non-uniform rows-per-file to exercise extrapolation
    (spark.range(400_000)
     .withColumn("part", (F.col("id") % 40).cast("int"))
     # parts 30-39 keep only ~1/3 of their rows -> non-uniform file sizes
     .filter("id % 40 < 30 or id % 3 = 0")
     .withColumn("v", F.lit("x" * 50))
     .repartition("part")
     .write.partitionBy("part").parquet(root))
    truth = spark.read.parquet(root).count()
    est = b._est_rows(root)
    assert abs(est - truth) / truth < 0.20
    # the gate flips exactly at the estimate under a tiny rows cap
    os.environ["MAHA_SPARK_CACHE_MAX_ROWS"] = str(est - 1)
    try:
        assert not b._should_cache(root)
        os.environ["MAHA_SPARK_CACHE_MAX_ROWS"] = str(est)
        assert b._should_cache(root)
    finally:
        os.environ.pop("MAHA_SPARK_CACHE_MAX_ROWS", None)
