"""End-to-end engine tests: JSON request -> DataFrame -> rows, checked
against DuckDB oracles (golden-result style, SURVEY §5 rebuild strategy)."""

from __future__ import annotations

import math

import pytest

DAY = {"field": "Day", "operator": "between",
       "from": "1995-01-01", "to": "2002-12-31"}


def rows_match(spark_rows, duck_rows, tol=1e-6):
    def norm(rows):
        out = []
        for r in rows:
            vals = []
            for v in (list(r) if not isinstance(r, (list, tuple)) else r):
                if isinstance(v, float):
                    vals.append(round(v, 6))
                else:
                    vals.append(v)
            out.append(tuple(vals))
        return sorted(out, key=repr)

    a, b = norm(spark_rows), norm(duck_rows)
    assert len(a) == len(b), f"row count {len(a)} != {len(b)}"
    for x, y in zip(a, b):
        for xv, yv in zip(x, y):
            if isinstance(xv, float) and isinstance(yv, float):
                assert math.isclose(xv, yv, rel_tol=tol, abs_tol=tol), (x, y)
            else:
                assert xv == yv, (x, y)


def test_pricing_summary(engine, duck):
    """TPC-H Q1 shape through the semantic layer."""
    req = {
        "cube": "lineitem_stats",
        "selectFields": [
            {"field": "Return Flag"}, {"field": "Line Status"},
            {"field": "Total Quantity"}, {"field": "Total Price"},
            {"field": "Revenue"}, {"field": "Line Count"},
        ],
        "filterExpressions": [DAY],
    }
    df = engine.dataframe(req)
    got = [tuple(r) for r in df.collect()]
    exp = duck.execute("""
        SELECT CASE l_returnflag WHEN 'A' THEN 'ACCEPTED' WHEN 'N' THEN 'NONE'
                    WHEN 'R' THEN 'RETURNED' ELSE 'UNKNOWN' END,
               l_linestatus, sum(l_quantity), sum(l_extendedprice),
               sum(l_extendedprice * (1 - l_discount)), count(*)
        FROM lineitem GROUP BY 1, 2
    """).fetchall()
    rows_match(got, exp)


def test_dim_join_chain(engine, duck):
    """fact -> orders -> customer -> nation chain with outer group-by."""
    req = {
        "cube": "lineitem_stats",
        "selectFields": [
            {"field": "Nation Name"}, {"field": "Revenue"},
            {"field": "Line Count"},
        ],
        "filterExpressions": [DAY],
    }
    df = engine.dataframe(req)
    got = [tuple(r) for r in df.collect()]
    exp = duck.execute("""
        SELECT n_name, sum(l_extendedprice * (1 - l_discount)), count(*)
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1
    """).fetchall()
    rows_match(got, exp)


def test_static_mapping_filter_reverse(engine, duck):
    """Filter on an enum label expands through the reverse static mapping."""
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"}, {"field": "Total Quantity"}],
        "filterExpressions": [DAY,
                              {"field": "Return Flag", "operator": "=",
                               "value": "RETURNED"}],
    }
    got = [tuple(r) for r in engine.dataframe(req).collect()]
    exp = duck.execute("""
        SELECT 'RETURNED', sum(l_quantity) FROM lineitem
        WHERE l_returnflag = 'R' GROUP BY 1
    """).fetchall()
    rows_match(got, exp)


def test_safe_divide_custom_rollup(engine, duck):
    """Aggregate-then-divide, never average-of-averages."""
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"}, {"field": "Discount Rate"}],
        "filterExpressions": [DAY],
    }
    got = [tuple(r) for r in engine.dataframe(req).collect()]
    exp = duck.execute("""
        SELECT CASE l_returnflag WHEN 'A' THEN 'ACCEPTED' WHEN 'N' THEN 'NONE'
                    WHEN 'R' THEN 'RETURNED' ELSE 'UNKNOWN' END,
               CASE WHEN sum(l_extendedprice) = 0 THEN 0.0
                    ELSE sum(l_extendedprice * (1 - l_discount)) / sum(l_extendedprice)
               END
        FROM lineitem GROUP BY 1
    """).fetchall()
    rows_match(got, exp)


def test_topn_sort_limit(engine, duck):
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Part ID"}, {"field": "Revenue"}],
        "filterExpressions": [DAY],
        "sortBy": [{"field": "Revenue", "order": "DESC"}],
        "rowsPerPage": 5,
    }
    got = [tuple(r) for r in engine.dataframe(req).collect()]
    exp = duck.execute("""
        SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem GROUP BY 1 ORDER BY rev DESC LIMIT 5
    """).fetchall()
    rows_match(got, exp)


def test_validation_errors(engine):
    from maha_spark.request.request import ValidationError
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "No Such Field"}],
        "filterExpressions": [],
    }
    with pytest.raises(ValidationError) as ei:
        engine.dataframe(req)
    msgs = " ".join(ei.value.errors)
    assert "No Such Field" in msgs
    assert "Day filter missing" in msgs


def test_mixed_owner_filter_requires_projection(engine):
    """OR across a metric and a non-projected dim attribute must fail
    validation (not AnalysisException at execution) — the predicate is
    evaluated over projected aliases (ADVICE r01)."""
    from maha_spark.request.request import ValidationError
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"}, {"field": "Revenue"}],
        "filterExpressions": [DAY, {"operator": "or", "filterExpressions": [
            {"field": "Revenue", "operator": ">", "value": 100},
            {"field": "Nation Name", "operator": "=", "value": "NATION_1"},
        ]}],
    }
    with pytest.raises(ValidationError, match="not in selectFields"):
        engine.dataframe(req)


def test_mixed_owner_filter_on_projected_fields_works(engine, duck):
    """Same mixed predicate succeeds when every field IS projected."""
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Nation Name"}, {"field": "Revenue"}],
        "filterExpressions": [DAY, {"operator": "or", "filterExpressions": [
            {"field": "Revenue", "operator": ">", "value": 8000000},
            {"field": "Nation Name", "operator": "=", "value": "NATION_1"},
        ]}],
    }
    got = [tuple(r) for r in engine.dataframe(req).collect()]
    exp = duck.execute("""
        SELECT * FROM (
            SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS rev
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        ) WHERE rev > 8000000 OR n_name = 'NATION_1'
    """).fetchall()
    rows_match(got, exp)


def test_schema_required_filter(engine):
    from maha_spark.request.request import ValidationError
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"}, {"field": "Revenue"}],
        "filterExpressions": [DAY],
    }
    with pytest.raises(ValidationError, match="required filter for schema"):
        engine.dataframe(req, schema="customer")
    # with the filter present it passes
    req["filterExpressions"].append(
        {"field": "Customer ID", "operator": "=", "value": 1})
    assert engine.dataframe(req, schema="customer") is not None


def test_json_envelope(engine):
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"}, {"field": "Revenue"}],
        "filterExpressions": [DAY],
    }
    out = engine.execute(req)
    assert out["header"]["cube"] == "lineitem_stats"
    fields = {f["fieldName"]: f["fieldType"] for f in out["header"]["fields"]}
    assert fields == {"Return Flag": "DIM", "Revenue": "FACT"}
    assert len(out["rows"]) == 3


def test_mixed_dim_and_metric_sort(engine, duck):
    """Dim-attribute ASC + metric DESC in one sortBy (the reference's
    fact-sort/dim-sort split, RequestModel.scala:123-124)."""
    out = engine.dataframe({
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Nation Name"},
                         {"field": "Return Flag"},
                         {"field": "Revenue"}],
        "filterExpressions": [DAY],
        "sortBy": [{"field": "Nation Name", "order": "ASC"},
                   {"field": "Revenue", "order": "DESC"}],
    }).collect()
    want = duck.execute("""
        SELECT n_name AS nation,
               CASE l_returnflag WHEN 'A' THEN 'ACCEPTED'
                    WHEN 'N' THEN 'NONE' WHEN 'R' THEN 'RETURNED'
                    ELSE 'UNKNOWN' END AS flag,
               sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2 ORDER BY nation ASC, revenue DESC
    """).fetchall()
    got = [(r[0], r[1], r[2]) for r in out]
    assert [g[0] for g in got] == [w[0] for w in want]  # full order
    rows_match(got, want)


def test_having_between_on_metric(engine, duck):
    """Between filter on an aggregated metric -> HAVING range."""
    out = engine.dataframe({
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Order Key"}, {"field": "Revenue"}],
        "filterExpressions": [
            DAY,
            {"field": "Revenue", "operator": "between",
             "from": "50000", "to": "60000"}],
    }).collect()
    want = duck.execute("""
        SELECT l_orderkey,
               sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem GROUP BY 1
        HAVING revenue BETWEEN 50000 AND 60000
    """).fetchall()
    rows_match([tuple(r) for r in out], want)
    assert len(out) > 0


def test_having_on_derived_safe_divide_metric(engine, duck):
    """HAVING over the derived safe-divide metric (expression expands to
    the inner aggregates, OracleOuterGroupByQueryGenerator HAVING path)."""
    out = engine.dataframe({
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"},
                         {"field": "Average Item Price"}],
        "filterExpressions": [
            DAY,
            {"field": "Average Item Price", "operator": ">",
             "value": "25000"}],
    }).collect()
    want = duck.execute("""
        SELECT l_returnflag,
               round(CASE WHEN SUM(l_quantity) = 0 THEN 0.0
                     ELSE CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                          AS DOUBLE) / SUM(l_quantity) END, 6) AS aip
        FROM lineitem GROUP BY 1 HAVING aip > 25000
    """).fetchall()
    if not want:  # threshold sits above every group at this SF
        want = duck.execute("""
            SELECT l_returnflag,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                        AS DOUBLE) / SUM(l_quantity), 6)
            FROM lineitem GROUP BY 1 LIMIT 0
        """).fetchall()
    rows_match([tuple(r) for r in out], want)


def test_debug_response_carries_plan(engine):
    """debug:true returns the optimized plan + selected fact table (the
    reference returns its generated engine query in debug mode)."""
    out = engine.execute({
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"}, {"field": "Revenue"}],
        "filterExpressions": [DAY],
        "debug": True,
    })
    dbg = out["header"]["debug"]
    assert dbg["factTable"] == "lineitem"
    assert "Aggregate" in dbg["plan"]
    assert dbg["requestType"] == "SyncRequest"


def test_scan_query_type_returns_row_grain(engine, duck):
    """queryType=scan skips aggregation: fact-grain rows come back as-is
    (DruidQueryGenerator Scan query path)."""
    base = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Order Key"},
                         {"field": "Line Number"}],
        "filterExpressions": [
            DAY, {"field": "Order Key", "operator": "in",
                  "values": ["1", "3", "5"]}],
    }
    scan = engine.dataframe({**base, "queryType": "scan"}).collect()
    want = duck.execute("""
        SELECT l_orderkey, l_linenumber FROM lineitem
        WHERE l_orderkey IN (1, 3, 5)
    """).fetchall()
    rows_match([tuple(r) for r in scan], want)
    # the default groupby path dedups to distinct combinations
    grouped = engine.dataframe(base).collect()
    assert len(grouped) == len({tuple(r) for r in want})


def test_distinct_additional_parameter(engine, duck):
    """additionalParameters.Distinct (reference RequestModel.scala:1092):
    the final projection dedupes BEFORE pagination, so a scan request's
    repeated (flag, status) rows collapse to ALL distinct combinations —
    not to the distincts of one arbitrary page."""
    base = {
        "cube": "lineitem_stats",
        "queryType": "scan",
        "selectFields": [{"field": "Return Flag"},
                         {"field": "Line Status"}],
        "filterExpressions": [{"field": "Day", "operator": "between",
                               "from": "1995-01-01", "to": "2002-12-31"}],
        "rowsPerPage": 1000,
    }
    raw = engine.dataframe(base).count()
    distinct = engine.dataframe(
        dict(base, additionalParameters={"Distinct": True})).count()
    assert distinct < raw
    expected = duck.execute(
        "SELECT COUNT(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus"
        " FROM lineitem)").fetchone()[0]
    assert distinct == expected


def test_distinct_with_row_count_dim_driven(spark):
    """Distinct on a dim-driven plan dedupes BEFORE pagination (the
    reference renders SELECT DISTINCT inside the pagination wrapper):
    pages hold distinct rows, never repeat across pages, and TOTALROWS
    counts the DISTINCT rows."""
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry

    eng = engine_for_dir(spark, build_contract_registry(),
                         "/root/testdata/sf0.001")
    base = {
        "cube": "tpch",
        "selectFields": [{"field": "order_priority"}],
        "filterExpressions": [{"field": "day", "operator": "between",
                               "from": "1995-01-01", "to": "2002-12-31"}],
        "forceDimensionDriven": True,
        "includeRowCount": True,
        "additionalParameters": {"Distinct": True},
        "sortBy": [{"field": "order_priority", "order": "ASC"}],
        "rowsPerPage": 3,
    }
    page1 = eng.dataframe(base).collect()
    page2 = eng.dataframe(
        dict(base, paginationStartIndex=3)).collect()
    vals1 = [r[0] for r in page1]
    vals2 = [r[0] for r in page2]
    # within-page distinct, no repeats across pages, distinct total
    assert len(set(vals1)) == len(vals1) == 3
    assert not set(vals1) & set(vals2)
    assert page1[0]["TOTALROWS"] == 5  # TPC-H order priorities


def test_additional_column_info_rejected_at_validation(spark):
    """Injection-shaped AdditionalColumnInfo values fail request
    validation (400), never reaching the planner."""
    import pytest
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry
    from maha_spark.request.request import ValidationError

    eng = engine_for_dir(spark, build_contract_registry(),
                         "/root/testdata/sf0.001")
    req = {
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [{"field": "day", "operator": "between",
                               "from": "1995-01-01", "to": "1995-01-31"}],
        "additionalParameters": {"AdditionalColumnInfo": [
            {"field": "__X__",
             "value": "a' OR restricted_col OR 'b"}]},
    }
    with pytest.raises(ValidationError, match="AdditionalColumnInfo"):
        eng.dataframe(req)


def test_additional_column_info_value_injection_rejected(spark):
    """Replacement values cross a trust boundary: expression syntax
    (function calls) must be rejected, not spliced into the plan."""
    import pytest
    from maha_spark.functions.macros import (reset_ctx_replacements,
                                             set_ctx_replacements,
                                             expand_macros)
    tok = set_ctx_replacements([("__X__",
                                 "reflect('java.lang.System','getenv')")])
    try:
        with pytest.raises(ValueError, match="AdditionalColumnInfo"):
            expand_macros("COL_W_REPLACEMENTS('__X__')")
    finally:
        reset_ctx_replacements(tok)


def test_engine_execute_releases_scoped_caches(spark, engine, sf_dir,
                                               monkeypatch):
    """Serving-path cache hygiene: a request's own planner caches (the
    dim-only cross-chain parts) are gone when ``execute`` returns, while
    an op's caches made outside any request live in the root scope,
    survive the request, and go on ``release_scoped_caches()``."""
    import json

    from maha_spark.ops import common as ops_common
    from maha_spark.ops.dedup import dedup_simhash_pairs

    req = json.dumps({
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Nation Name"},
                         {"field": "Supplier Nation Name"}],
        "filterExpressions": [{"field": "Day", "operator": "between",
                               "from": "1995-01-01", "to": "2001-12-31"}],
        "distinct": True,
    })
    root = ops_common.current_scope()

    def n_cached() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    # warm the deliberate lifetime caches (the engine's dim frames and
    # the binding layer's bounded small-table cache, which the op's
    # documents load populates), then baseline the JVM storage count
    assert engine.execute(req)["rows"]
    dedup_simhash_pairs(spark, sf_dir).count()
    ops_common.release_scoped_caches()
    n0 = n_cached()

    # the request caches its two chain parts in its own scope
    made = []
    cache = ops_common.Scope.cache
    monkeypatch.setattr(ops_common.Scope, "cache", lambda self, df: (
        made.append(self) or cache(self, df)))
    assert engine.execute(req)["rows"]
    monkeypatch.undo()
    assert len(made) == 2 and made[0] is made[1] is not root
    assert n_cached() == n0

    dedup_simhash_pairs(spark, sf_dir).count()   # caches in the root scope
    held = root.held()
    assert held > 0
    n_op = n_cached()
    assert n_op > n0

    assert engine.execute(req)["rows"]
    assert root.held() == held and n_cached() == n_op
    assert ops_common.release_scoped_caches() == held
    # blocking unpersist: the op's JVM storage blocks are gone too
    assert n_cached() == n0


def test_dim_only_cross_chain_cardinality_guard(spark, engine, monkeypatch):
    """A dim-only DISTINCT spanning UNRELATED chains cross-joins the
    per-chain distinct attribute sets; the docstring's cardinality bound
    is enforced — a product over DIM_ONLY_CROSS_MAX raises
    ValidationError (400) instead of materializing the blow-up."""
    import json

    import pytest as _pytest

    from maha_spark.plans import planner as planner_mod
    from maha_spark.request.request import ValidationError

    req = json.dumps({
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Nation Name"},
                         {"field": "Supplier Nation Name"}],
        "filterExpressions": [{"field": "Day", "operator": "between",
                               "from": "1995-01-01", "to": "2001-12-31"}],
        "distinct": True,
    })
    # within the default cap the product is the request's semantics
    assert engine.dataframe(req).count() > 0
    monkeypatch.setattr(planner_mod, "DIM_ONLY_CROSS_MAX", 3)
    with _pytest.raises(ValidationError, match="cartesian product"):
        engine.dataframe(req)


def test_decimal_avg_rounds_exact_tie_half_up(spark, sf_dir, tmp_path):
    """AverageRollup over DECIMAL(8,2) is the exact mean rounded HALF_UP
    to AVG's DECIMAL(12,6). 799 rows of 52532.25 and one of 52535.86
    have the exact mean 52532.2545125 — a tie at the 6th decimal, where
    Spark's own avg (a double average after the optimizer's decimal
    rewrite) returns 52532.254512."""
    import os

    import pandas as pd

    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import DAY_ALL, build_contract_registry

    for t in ("orders", "customer", "nation", "region", "supplier", "part"):
        os.symlink(os.path.join(sf_dir, f"{t}.parquet"),
                   tmp_path / f"{t}.parquet")
    one = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet")).head(1)
    li = pd.concat([one] * 800, ignore_index=True)
    li["l_linenumber"] = range(1, 801)
    li["l_extendedprice"] = [52532.25] * 799 + [52535.86]
    li.to_parquet(tmp_path / "lineitem.parquet", index=False)

    eng = engine_for_dir(spark, build_contract_registry(), str(tmp_path))
    rows = eng.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "nation_name"},
                         {"field": "avg_price_rollup"}],
        "filterExpressions": [DAY_ALL]}).collect()
    assert len(rows) == 1
    assert rows[0]["avg_price_rollup"] == 52532.254513


@pytest.fixture(scope="module")
def contract_engine(spark, sf_dir):
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry
    return engine_for_dir(spark, build_contract_registry(), sf_dir)


def test_outer_filter_on_select_field_alias(contract_engine):
    """An outer filter names the OUTPUT column, so it may name a
    select-field alias; the rows equal the un-aliased request's."""
    from maha_spark.examples.contract import DAY_ALL

    def req(alias):
        name = alias or "nation_name"
        return {
            "cube": "tpch",
            "selectFields": [{"field": "nation_name", "alias": alias},
                             {"field": "revenue"}],
            "filterExpressions": [DAY_ALL, {
                "operator": "outer", "filterExpressions": [
                    {"field": name, "operator": "like",
                     "value": "NATION_1"}]}]}

    df = contract_engine.dataframe(req("Nation"))
    assert df.columns == ["Nation", "revenue"]
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, contract_engine.dataframe(req(None)).collect()))
    assert got == want and len(want) > 0


def test_swapped_select_field_aliases(contract_engine):
    """Two select fields may trade names: each output column carries the
    values of the field it aliases."""
    from maha_spark.examples.contract import DAY_ALL

    base = {"cube": "tpch",
            "selectFields": [{"field": "part_id"}, {"field": "line_count"}],
            "filterExpressions": [DAY_ALL]}
    swapped = dict(base, selectFields=[
        {"field": "part_id", "alias": "line_count"},
        {"field": "line_count", "alias": "part_id"}])
    df = contract_engine.dataframe(swapped)
    assert df.columns == ["line_count", "part_id"]
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, contract_engine.dataframe(base).collect()))
    assert got == want and len(want) > 0


def test_sort_on_select_field_alias(contract_engine):
    """A sort may name the output alias (SQL's ORDER BY rule, as outer
    filters do): the page equals the un-aliased request sorted by the
    field, in order."""
    from maha_spark.examples.contract import DAY_ALL

    def req(alias):
        return {"cube": "tpch",
                "selectFields": [{"field": "nation_name", "alias": alias},
                                 {"field": "revenue"}],
                "filterExpressions": [DAY_ALL],
                "sortBy": [{"field": alias or "nation_name",
                            "order": "DESC"}],
                "rowsPerPage": 5}

    df = contract_engine.dataframe(req("Nation"))
    assert df.columns == ["Nation", "revenue"]
    got = list(map(tuple, df.collect()))
    want = list(map(tuple, contract_engine.dataframe(req(None)).collect()))
    assert got == want and len(want) == 5


def test_sort_with_swapped_select_field_aliases(contract_engine):
    """With two select fields trading names, a sort name is the output
    column first: ``line_count`` sorts the aliased part_id column."""
    from maha_spark.examples.contract import DAY_ALL

    def req(fields, sorts):
        return {"cube": "tpch", "selectFields": fields,
                "filterExpressions": [DAY_ALL],
                "sortBy": [{"field": f, "order": o} for f, o in sorts],
                "rowsPerPage": 10}

    base = req([{"field": "part_id"}, {"field": "line_count"}],
               [("line_count", "DESC"), ("part_id", "ASC")])
    swapped = req([{"field": "part_id", "alias": "line_count"},
                   {"field": "line_count", "alias": "part_id"}],
                  [("part_id", "DESC"), ("line_count", "ASC")])
    df = contract_engine.dataframe(swapped)
    assert df.columns == ["line_count", "part_id"]
    got = list(map(tuple, df.collect()))
    want = list(map(tuple, contract_engine.dataframe(base).collect()))
    assert got == want and len(want) == 10


def test_dim_driven_avg_without_dim_key(engine, duck):
    """Dim-driven request projecting a dim attribute without the dim's
    key (a model that needs an outer group-by) and a direct AVG metric:
    one row per supplier, zero-fact suppliers included with a NULL
    average."""
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Supplier Name"},
                         {"field": "Average Price"}],
        "filterExpressions": [{"field": "Day", "operator": "between",
                               "from": "1995-01-01", "to": "1995-01-03"}],
        "forceDimensionDriven": True,
    }
    model = engine.model(req)
    assert model.is_dim_driven and model.requires_outer_group_by
    got = [(r[0], None if r[1] is None else float(r[1]))
           for r in engine.dataframe(req).collect()]
    exp = duck.execute("""
        SELECT s_name, avg(l_extendedprice)
        FROM supplier LEFT JOIN lineitem ON l_suppkey = s_suppkey
             AND CAST(l_shipdate AS DATE)
                 BETWEEN DATE '1995-01-01' AND DATE '1995-01-03'
        GROUP BY s_suppkey, s_name
    """).fetchall()
    assert any(v is None for _, v in exp) and any(v for _, v in exp)
    rows_match(got, exp)
