"""Value-free whole-stage codegen.

``get_spark`` registers ``mahaspark.sql.MahaSparkExtensions``, whose
physical rule makes the comparison and IN-list literals inside Filter
conditions read their value from the generated class's references
instead of inlining it. Spark caches compiled classes by source text, so
a request that differs from an earlier one only in its values compiles
nothing new but the cached-batch stats predicates of its filtered cached
scans, which keep their plain literals. These tests pin that reuse, the
answers (against DuckDB) at ordinary and edge values, the untouched scan
filters, and that the rule is active at all.
"""

from __future__ import annotations

import copy
import datetime as dt
import math
import re

import pytest
from test_partition_pruning import part_engine  # noqa: F401 — fixture

from maha_spark.examples.contract import QUERIES
from maha_spark.session import codegen_stats

REFERENCED = "mahaspark.sql.ReferencedLiteral"


# -- plan walking (py4j) ----------------------------------------------------
def _seq(scala_seq) -> list:
    it, out = scala_seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _plan_nodes(df) -> list:
    """Every node of ``df``'s executed plan, through adaptive and query
    stage wrappers (the final plan once ``df`` has run)."""
    stack, out = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            out.append(node)
            stack.extend(_seq(node.children()))
    return out


def _literals(expressions) -> list:
    stack, out = list(expressions), []
    while stack:
        e = stack.pop()
        if e.getClass().getSimpleName().endswith("Literal"):
            out.append(e)
        stack.extend(_seq(e.children()))
    return out


def _literal_classes(expressions) -> list[str]:
    return [e.getClass().getName() for e in _literals(expressions)]


def _filter_literals(df) -> list[str]:
    return _literal_classes(n.condition() for n in _plan_nodes(df)
                            if n.getClass().getSimpleName() == "FilterExec")


#: the types whose values ``Literal.doGenCode`` writes into the source
INLINED = {"boolean", "byte", "short", "integer", "long", "float", "double",
           "date", "timestamp", "timestamp_ntz"}


def _stats_predicates_with_values(df) -> int:
    """Cached scans whose pushed predicates hold an inlined value: each
    one's cached-batch stats predicate compiles per new value."""
    return sum(1 for n in _plan_nodes(df)
               if n.getClass().getSimpleName() == "InMemoryTableScanExec"
               and any(e.dataType().typeName() in INLINED
                       for e in _literals(_seq(n.predicates()))))


def _compiles(spark) -> int:
    return codegen_stats(spark)["codegenCompiles"]


# -- results ------------------------------------------------------------------
def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, dt.datetime):
        return v.date().isoformat() if v == dt.datetime.combine(
            v.date(), dt.time()) else v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _rows(pdf) -> list[tuple]:
    pdf = pdf[sorted(pdf.columns, key=str.lower)]
    return sorted((tuple(_norm(v) for v in r)
                   for r in pdf.itertuples(index=False, name=None)),
                  key=repr)


def _sub(text: str, old: str, new: str) -> str:
    assert old in text, old
    return text.replace(old, new)


# -- value variants of five contract templates --------------------------------
DAY_SQL = "CAST(l_shipdate AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'"


def _request(name: str, v: dict) -> dict:
    req = copy.deepcopy(QUERIES[name]["request"])
    for f in req["filterExpressions"]:
        if f.get("field") == "day":
            f["from"], f["to"] = v["lo"], v["hi"]
        elif f.get("field") == "revenue":
            f["value"] = v["min_revenue"]
        elif f.get("field") == "part_size":
            f["value"] = v["min_size"]
        elif f.get("field") == "supp_nation_name":
            f["values"] = v["nations"]
        elif f.get("operator") == "and":
            lo, hi = f["filterExpressions"]
            lo["value"], hi["value"] = v["line_numbers"]
    return req


def _oracle(name: str, v: dict) -> str:
    sql, day = QUERIES[name]["sql"], DAY_SQL.format(**v)
    if name == "q1_pricing_summary":
        return _sub(sql, "FROM lineitem GROUP BY",
                    f"FROM lineitem WHERE {day} GROUP BY")
    if name == "q3_daily_revenue":
        return re.sub(r"CAST\(l_shipdate AS DATE\) BETWEEN DATE '[^']+'\s+"
                      r"AND DATE '[^']+'", day, sql)
    if name == "q11_having":
        sql = _sub(sql, "FROM lineitem GROUP BY",
                   f"FROM lineitem WHERE {day} GROUP BY")
        return _sub(sql, "> 900000", f"> {v['min_revenue']}")
    if name == "q12_filter_ops":
        sql = _sub(sql, "WHERE p_type", f"WHERE {day} AND p_type")
        sql = _sub(sql, "p_size > 2", f"p_size > {v['min_size']}")
        lo, hi = v["line_numbers"]
        return _sub(sql, "l_linenumber > 1 AND l_linenumber < 7",
                    f"l_linenumber > {lo} AND l_linenumber < {hi}")
    assert name == "q13_two_chains"
    nations = ",".join(f"'{n}'" for n in v["nations"])
    return _sub(sql, "WHERE sn.n_name IN ('NATION_1','NATION_2','NATION_3')",
                f"WHERE {day} AND sn.n_name IN ({nations})")


FIRST = {"lo": "1995-01-01", "hi": "2002-12-31", "min_revenue": 900000,
         "min_size": 2, "line_numbers": (1, 7),
         "nations": ["NATION_1", "NATION_2", "NATION_3"]}
SECOND = {"lo": "1996-02-03", "hi": "1999-07-08", "min_revenue": 600000,
          "min_size": 17, "line_numbers": (2, 6),
          "nations": ["NATION_8", "NATION_12", "NATION_13"]}
TEMPLATES = ("q1_pricing_summary", "q3_daily_revenue", "q11_having",
             "q12_filter_ops", "q13_two_chains")


@pytest.fixture(scope="module")
def contract_engine(spark, sf_dir):
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import (build_contract_registry,
                                              ensure_udfs)
    ensure_udfs(spark)
    return engine_for_dir(spark, build_contract_registry(), sf_dir)


@pytest.fixture
def fixed_stage_ids(spark):
    """Adaptive execution numbers a query's codegen stages in the order its
    stages happen to be created, and the number is part of the class
    source, so under it a repeat can compile a renumbered copy of a
    class whatever its values. Counting compiles needs the non-adaptive
    plan, whose numbering is fixed."""
    previous = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", previous)


@pytest.mark.parametrize("name", TEMPLATES)
def test_value_variant_compiles_only_stats_predicates(
        name, contract_engine, spark, duck, fixed_stage_ids):
    for values in (FIRST, SECOND):
        before = _compiles(spark)
        df = contract_engine.dataframe(_request(name, values))
        got = _rows(df.toPandas())
        compiled = _compiles(spark) - before
        assert got == _rows(duck.execute(_oracle(name, values)).df()), \
            values
        assert got, f"{name} {values}: empty answers pin nothing"
    allowed = _stats_predicates_with_values(df)
    assert compiled <= allowed, (
        f"{name}: a value variant compiled {compiled} classes; only its "
        f"{allowed} cached-batch stats predicates may compile")
    assert REFERENCED in _filter_literals(df)


# -- edge values --------------------------------------------------------------
EDGE_PREDICATES = (
    "d = CAST('NaN' AS DOUBLE)",
    "d < CAST('NaN' AS DOUBLE)",
    "d = CAST('-0.0' AS DOUBLE)",
    "d > CAST('-0.0' AS DOUBLE)",
    "d IN (CAST('-0.0' AS DOUBLE), CAST('NaN' AS DOUBLE))",
    "l = CAST('-9223372036854775808' AS BIGINT)",
    "l > CAST('-9223372036854775808' AS BIGINT)",
    "l IN (CAST('-9223372036854775808' AS BIGINT), 0)",
    "day = DATE '0001-01-01'",
    "day > DATE '0001-01-01'",
    "ts = TIMESTAMP '2001-02-03 04:05:06.123456'",
    "ts > TIMESTAMP '2001-02-03 04:05:06.123456'",
)


@pytest.fixture(scope="module")
def edge_table(spark, duck, tmp_path_factory):
    from pyspark.sql.types import (DateType, DoubleType, LongType,
                                   StructField, StructType, TimestampType)
    micros = dt.datetime(2001, 2, 3, 4, 5, 6, 123456)
    rows = [
        (1, math.nan, -2**63, dt.date(1, 1, 1), micros),
        (2, 0.0, -1, dt.date(1970, 1, 1), micros + dt.timedelta(
            microseconds=1)),
        (3, -0.0, 0, dt.date(2001, 11, 4), dt.datetime(1970, 1, 1)),
        (4, 1.5, 2**63 - 1, dt.date(9999, 12, 31), dt.datetime(
            2001, 2, 3, 4, 5, 6)),
        (5, -1.5, 7, dt.date(1, 1, 2), micros),
        (6, None, None, None, None),
    ]
    schema = StructType([StructField("k", LongType()),
                         StructField("d", DoubleType()),
                         StructField("l", LongType()),
                         StructField("day", DateType()),
                         StructField("ts", TimestampType())])
    path = str(tmp_path_factory.mktemp("edge") / "edge.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("codegen_edge")
    duck.execute("CREATE OR REPLACE VIEW codegen_edge AS "
                 f"SELECT * FROM read_parquet('{path}/*.parquet')")
    yield "codegen_edge"
    spark.catalog.dropTempView("codegen_edge")
    duck.execute("DROP VIEW codegen_edge")


@pytest.mark.parametrize("predicate", EDGE_PREDICATES)
def test_edge_values_match_oracle(predicate, edge_table, spark, duck):
    sql = f"SELECT k FROM {edge_table} WHERE {predicate}"
    df = spark.sql(sql)
    got = sorted(r.k for r in df.collect())
    want = sorted(int(k) for (k,) in duck.execute(sql).fetchall())
    assert got == want, predicate
    assert REFERENCED in _filter_literals(df), predicate


# -- scans keep their literals ------------------------------------------------
def test_partitioned_scan_filters_keep_plain_values(part_engine):  # noqa: F811
    req = {"cube": "tpch",
           "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
           "filterExpressions": [
               {"field": "day", "operator": "between",
                "from": "1996-04-05", "to": "1996-05-06"},
               {"field": "line_number", "operator": ">", "value": 3}]}
    df = part_engine.dataframe(req)
    df.collect()
    phys = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    partition = [ln for ln in phys.splitlines() if "PartitionFilters" in ln]
    pushed = [ln for ln in phys.splitlines() if "PushedFilters" in ln]
    assert any("1996-04-05" in ln for ln in partition), partition
    assert any("GreaterThan(l_linenumber,3)" in ln for ln in pushed), pushed
    scans = [n for n in _plan_nodes(df)
             if n.getClass().getSimpleName() == "FileSourceScanExec"]
    scan_literals = _literal_classes(
        e for s in scans
        for e in _seq(s.partitionFilters()) + _seq(s.dataFilters()))
    assert scan_literals and REFERENCED not in scan_literals
    assert REFERENCED in _filter_literals(df)


# -- the rule is active -------------------------------------------------------
@pytest.mark.parametrize("adaptive", ["true", "false"])
def test_get_spark_sessions_run_the_rule(spark, adaptive):
    """Spark only logs a warning when an extension fails to load (say a
    jar built against another Spark version); this fails instead."""
    assert "mahaspark.sql.MahaSparkExtensions" in spark.conf.get(
        "spark.sql.extensions")
    previous = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", adaptive)
    try:
        df = spark.range(100).where("id > 42 AND id IN (50, 60, 70)")
        assert [r.id for r in df.collect()] == [50, 60, 70]
        literals = _filter_literals(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", previous)
    assert literals.count(REFERENCED) == 4, (
        f"the value-free codegen rule did not run on Spark "
        f"{spark.version} (filter literals: {literals}); rebuild "
        "maha_spark/jvm/maha-spark.jar with tools/build_jvm.sh")
