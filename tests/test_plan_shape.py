"""Plan-shape assertions: the properties that matter at 100 TB.

These inspect the optimized/physical plan, not results:
- join elimination: no dim join when only the FK is projected
- filter pushdown: the Day bound reaches the parquet scan
- broadcast: dimension joins use BroadcastHashJoin, not shuffle joins
- partial aggregation: map-side combine before the exchange
- column pruning: the scan reads only needed columns
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DAY_ALL = {"field": "day", "operator": "between",
           "from": "1995-01-01", "to": "2002-12-31"}


@pytest.fixture(scope="module")
def contract_engine(spark):
    # plan-shape assertions describe the 100 TB configuration: the fact
    # table is NOT cached (caching rewrites scans into InMemoryRelation,
    # which has no parquet pushdown to assert on). Spark's CacheManager
    # substitutes ANY matching plan with a cached one, so tables cached by
    # earlier test modules must be unpersisted too.
    os.environ["MAHA_SPARK_CACHE"] = "0"
    from maha_spark.plans.binding import _DF_CACHE
    for _mt, df in _DF_CACHE.values():
        df.unpersist(blocking=True)
    _DF_CACHE.clear()
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry
    yield engine_for_dir(spark, build_contract_registry(),
                         "/root/testdata/sf0.001")
    os.environ.pop("MAHA_SPARK_CACHE", None)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _physical(df) -> str:
    """Full formatted physical plan (toString() truncates field lists)."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return qe.explainString(mode)


def test_no_dim_join_when_only_fk_projected(contract_engine):
    """line_number/return_flag are fact-local: the plan must not join any
    dimension (RequestModel join-elimination, RequestModel.scala:25-64)."""
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
    })
    assert "Join" not in _optimized(df)


def test_dim_filter_without_projection_is_semi_join(contract_engine):
    """Filtering on a dim attribute while not projecting it must produce a
    semi join (subquery-filter semantics), not a full join."""
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL,
                              {"field": "mktsegment", "operator": "=",
                               "value": "BUILDING"}],
    })
    assert "LeftSemi" in _optimized(df)


def test_day_filter_pushed_to_scan(contract_engine):
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [{"field": "day", "operator": "between",
                               "from": "1996-01-01", "to": "1996-12-31"}],
    })
    phys = _physical(df)
    # the derived CAST(ts AS DATE) between range must reach the parquet
    # scan as a raw-timestamp bound
    assert "PushedFilters" in phys
    assert "GreaterThanOrEqual(l_shipdate" in phys


def test_dim_joins_broadcast(contract_engine):
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "nation_name"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
    })
    phys = _physical(df)
    assert "BroadcastHashJoin" in phys
    assert "SortMergeJoin" not in phys


def test_partial_aggregation_before_exchange(contract_engine):
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
    })
    phys = _physical(df)
    assert "partial_sum" in phys  # map-side combine


def test_snowflake_chain_single_exchange(contract_engine):
    """q5 shape (the scaled bench's heaviest raw-scan query): the entire
    orders->customer->nation->region chain must reach the fact as
    broadcasts, the fact side must partial-aggregate map-side, and the
    ONLY hash-partitioning exchange is the final re-aggregation of the
    already-tiny grouped rows. A second hashpartitioning exchange or any
    sort-merge/shuffled-hash join here means the 100 TB plan shuffles
    the raw fact — the regression this test exists to catch (plan
    audited at the 256x tier: one BroadcastHashJoin over the scan,
    partial_sum, one Exchange on region_name)."""
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "region_name"}, {"field": "revenue"},
                         {"field": "sum_qty"}],
        "filterExpressions": [DAY_ALL],
    })
    phys = _physical(df)
    assert "SortMergeJoin" not in phys and "ShuffledHashJoin" not in phys
    assert "BroadcastHashJoin" in phys
    assert "partial_sum" in phys
    # formatted mode details each exchange as "Arguments: hashpartitioning"
    assert phys.count("Arguments: hashpartitioning") == 1


def test_money_metrics_aggregate_as_longs(contract_engine):
    """The cents-long fast path: money sums must aggregate raw BIGINTs in
    codegen, never per-row decimals (no BigDecimal casts / UnscaledValue
    wrapping in the aggregate)."""
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"},
                         {"field": "charge"}],
        "filterExpressions": [DAY_ALL],
    })
    phys = _physical(df)
    assert "UnscaledValue" not in phys
    assert "as decimal" not in phys.lower()


def test_column_pruning_reaches_scan(contract_engine):
    """A 2-column request over the 16-column lineitem must scan only the
    needed physical columns."""
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "sum_qty"}],
        "filterExpressions": [DAY_ALL],
    })
    phys = _physical(df)
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", phys)
    assert m, phys
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols <= {"l_returnflag", "l_quantity", "l_shipdate"}, cols


def test_cents_path_equals_decimal_semantics(spark):
    """Property check beyond the corpus: for random 2dp money values the
    cents-long formulas must equal the DECIMAL formulas bit-for-bit
    (sums, per-row rounded products, and the final double division)."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(7)
    n = 20_000
    pdf = pd.DataFrame({
        "price": np.round(rng.uniform(0.01, 99_999.99, n), 2),
        "disc": np.round(rng.uniform(0.0, 0.10, n), 2),
        "tax": np.round(rng.uniform(0.0, 0.08, n), 2),
    })
    df = spark.createDataFrame(pdf)
    DEC = ("CAST(CAST(price AS DECIMAL(8,2)) * (1 - CAST(disc AS "
           "DECIMAL(4,2))) AS DECIMAL(8,2))")
    DECC = ("CAST(CAST(price AS DECIMAL(8,2)) * (1 - CAST(disc AS "
            "DECIMAL(4,2))) * (1 + CAST(tax AS DECIMAL(4,2))) "
            "AS DECIMAL(8,2))")
    # the production spelling (contract.QTY_C et al.): BigDecimal-free
    # floor(x*100 + 0.5), exact for non-negative decimal-clean doubles
    PC = "CAST(price * 100 + 0.5 AS BIGINT)"
    DH = "CAST(disc * 100 + 0.5 AS BIGINT)"
    TH = "CAST(tax * 100 + 0.5 AS BIGINT)"
    CENTS = f"(({PC} * (100 - {DH}) + 50) DIV 100)"
    CENTSC = f"(({PC} * (100 - {DH}) * (100 + {TH}) + 5000) DIV 10000)"
    row = df.selectExpr(
        f"SUM(CAST({DEC} AS DOUBLE)) AS dec_sum_naive",
        f"CAST(SUM({DEC}) AS DOUBLE) AS dec_sum",
        f"CAST(SUM({CENTS}) AS DOUBLE) / 100.0 AS cents_sum",
        f"CAST(SUM({DECC}) AS DOUBLE) AS dec_charge",
        f"CAST(SUM({CENTSC}) AS DOUBLE) / 100.0 AS cents_charge",
        f"SUM(CASE WHEN CAST({DEC} * 100 AS BIGINT) != {CENTS} "
        f"THEN 1 ELSE 0 END) AS rowwise_mismatch",
    ).collect()[0]
    assert row["rowwise_mismatch"] == 0
    assert row["dec_sum"] == row["cents_sum"]
    assert row["dec_charge"] == row["cents_charge"]


def test_union_view_same_table_single_scan(contract_engine):
    """Same-table union branches must fold into ONE fact scan with the
    branch constants exploded — not k scans unioned."""
    df = contract_engine.dataframe({
        "cube": "tpch_union",
        "selectFields": [{"field": "view_name"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
    })
    phys = _physical(df)
    assert "Generate" in phys and "explode" in phys
    # formatted plans mention each node twice (tree + detail): one
    # physical scan = 2 mentions; a 2-branch union would be 4
    assert phys.count("Scan parquet") <= 2
    assert "Union" not in phys


def test_row_count_has_no_single_partition_window(contract_engine):
    """includeRowCount must NOT funnel the result through one partition
    (Window over lit(1)); it is a 1-row count aggregate broadcast back."""
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
        "includeRowCount": True,
    })
    phys = _physical(df)
    assert "Window" not in phys, phys
    assert "BroadcastNestedLoopJoin" in phys or "BroadcastExchange" in phys


def test_dim_driven_row_count_counts_unpaginated(contract_engine):
    """Dim-driven TOTALROWS equals the total matching dim entities, not
    the page size (ADVICE r01: count before offset/limit)."""
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "order_key"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
        "forceDimensionDriven": True,
        "rowsPerPage": 5,
        "includeRowCount": True,
    })
    rows = df.collect()
    assert len(rows) == 5
    # sf0.001: orders has far more rows than the page
    assert rows[0]["TOTALROWS"] > 5


def test_timezone_still_pushes_raw_bound(contract_engine):
    """With a request timezone the widened UTC bound must still reach the
    scan (partition pruning survives the local-time rendering)."""
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "day"}, {"field": "revenue"}],
        "filterExpressions": [{"field": "day", "operator": "between",
                               "from": "1996-06-01", "to": "1996-06-30"}],
        "additionalParameters": {"timeZone": "Asia/Kolkata"},
    })
    phys = _physical(df)
    assert "PushedFilters" in phys
    assert "GreaterThanOrEqual(l_shipdate,1996-05-31" in phys


def test_dim_driven_pushes_page_keys_into_fact(contract_engine):
    """Dim-driven requests must semi-join the raw fact on the broadcast
    page-key set BEFORE aggregating (the reference's InFilter injection,
    QueryPipeline.scala:918-946) — never aggregate the whole fact into
    per-orderkey groups to serve one page."""
    df = contract_engine.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "order_key"},
                         {"field": "order_priority"},
                         {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
        "sortBy": [{"field": "order_priority", "order": "ASC"}],
        "forceDimensionDriven": True,
        "rowsPerPage": 25,
    })
    phys = _physical(df)
    # the page-key semi-join must exist and be broadcast
    assert "LeftSemi" in phys, phys
    # and it must sit BELOW the fact aggregation: the first HashAggregate
    # (bottom-up formatted output lists scans first) appears after the
    # semi join operator id in the tree section
    tree = phys.split("\n\n")[0]
    semi_line = next(i for i, ln in enumerate(tree.splitlines())
                     if "LeftSemi" in ln or "BroadcastHashJoin" in ln
                     and "LeftSemi" in ln)
    agg_lines = [i for i, ln in enumerate(tree.splitlines())
                 if "HashAggregate" in ln]
    # at least one aggregate consumes the semi-join output (appears above
    # it in the tree = smaller line index)
    assert any(i < semi_line for i in agg_lines), tree


def test_large_dim_is_not_broadcast_hinted(spark):
    """Only a dim DECLARING cardinality within the ceiling gets the
    broadcast hint. Declared-large AND undeclared (cardinality=None) dims
    join WITHOUT a hint: with autoBroadcastJoinThreshold disabled the plan
    falls to a non-broadcast join (AQE would still convert small filtered
    sides at runtime from observed sizes). An explicit hint overrides AQE
    sizing, so hinting an unknown-size dim would OOM every executor at
    cluster scale — unknown must mean unhinted."""
    import os
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry

    os.environ["MAHA_SPARK_CACHE"] = "0"
    req = {
        "cube": "tpch",
        "selectFields": [{"field": "nation_name"}, {"field": "revenue"}],
        "filterExpressions": [DAY_ALL],
    }
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # contract dims declare small cardinalities -> hinted broadcast
        small = engine_for_dir(spark, build_contract_registry(),
                               "/root/testdata/sf0.001")
        assert "BroadcastHashJoin" in _physical(small.dataframe(req))

        # declared-large -> unhinted
        reg = build_contract_registry()
        for dim in reg._dims.values():
            dim.table.cardinality = 10 ** 9
        big = engine_for_dir(spark, reg, "/root/testdata/sf0.001")
        assert "BroadcastHashJoin" not in _physical(big.dataframe(req))

        # UNDECLARED (None) -> also unhinted: the scale-safe default
        reg2 = build_contract_registry()
        for dim in reg2._dims.values():
            dim.table.cardinality = None
        unk = engine_for_dir(spark, reg2, "/root/testdata/sf0.001")
        phys = _physical(unk.dataframe(req))
        assert "BroadcastHashJoin" not in phys, phys
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        os.environ.pop("MAHA_SPARK_CACHE", None)


def test_generators_explode_only_cheap_sequences(spark):
    """GenerateExec re-evaluates its generator child once per OUTPUT row,
    so exploding a computed gram/signature/bucket array costs O(array
    build) per emitted element (measured 20x on the repetition op). Pin
    that every pipeline Generate's child is a literal/cheap sequence —
    expensive columns must pass THROUGH the Generate instead."""
    import re

    from maha_spark.ops import (chunking, contamination, dedup, similarity,
                                text, winnow)

    sf = "/root/testdata/sf0.001"
    dfs = {
        "text_repetition": text.text_repetition(spark, sf),
        "contamination": contamination.contamination(spark, sf),
        "minhash_lsh": dedup.dedup_minhash_lsh(spark, sf),
        "simhash_pairs": dedup.dedup_simhash_pairs(spark, sf),
        "ngram_jaccard": dedup.dedup_ngram_jaccard(spark, sf),
        "ann_topk": similarity.ann_topk(spark, sf, "LSH"),
        "chunking": chunking.chunk_documents(spark, sf),
        "winnow_pairs": winnow.winnow_pairs(spark, sf),
    }
    # string/struct-building generator children are the expensive shapes
    # (the CASE-guarded integer sequence stays O(len) ints per row)
    costly = re.compile(
        r"explode\((transform|concat\(|array\(named_struct|aggregate)")
    for name, df in dfs.items():
        plan = _optimized(df)
        m = costly.search(plan)
        assert m is None, (
            f"{name}: generator child builds values ({m.group(0)}...) — "
            f"it will re-evaluate per output row; explode indices and "
            f"derive values after the Generate")


def test_chunking_tokenizes_below_the_generate(spark):
    """chunk_documents: the token array must be MATERIALIZED in a project
    below the Generate and pass through it — if CollapseProject ever
    inlines split() into the post-Generate slice (`slice(split(...))`),
    tokenization re-runs once per emitted chunk: O(tokens x chunks) per
    doc instead of O(tokens). Also pin that the generator child is the
    cheap index sequence, not a computed array."""
    from maha_spark.ops import chunking

    plan = _optimized(chunking.chunk_documents(spark, "/root/testdata/sf0.001"))
    assert "explode(sequence(0" in plan, plan
    assert "slice(split(" not in plan, plan
    # the split-project must sit BELOW the Generate in the tree (top-down
    # print: larger character offset = deeper)
    assert plan.index("Generate explode") < plan.index("split("), plan
    # the chunk text join runs ONCE: chunk_fp is md5 over the chunk_text
    # alias, not a second concat_ws — if CollapseProject ever re-inlines
    # the alias the join cost doubles per chunk row
    assert plan.count("concat_ws") == 1, plan


def test_semi_join_and_chain_unhinted_on_unknown_cardinality(spark):
    """The broadcast gate's safe default covers ALL three hint sites:
    the semi-join key set and the snowflake chain joins, not just the
    main dim join — with every dim's cardinality undeclared and the
    auto threshold disabled, no BroadcastHashJoin may appear anywhere in
    either plan (AQE would still convert small sides at runtime)."""
    import os
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry

    os.environ["MAHA_SPARK_CACHE"] = "0"
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        reg = build_contract_registry()
        for dim in reg._dims.values():
            dim.table.cardinality = None
        eng = engine_for_dir(spark, reg, "/root/testdata/sf0.001")
        # semi-join path (filtered, unprojected dim chain)
        semi = eng.dataframe({
            "cube": "tpch",
            "selectFields": [{"field": "return_flag"},
                             {"field": "revenue"}],
            "filterExpressions": [
                DAY_ALL,
                {"field": "mktsegment", "operator": "in",
                 "values": ["AUTOMOBILE", "MACHINERY"]}],
        })
        phys = _physical(semi)
        assert "LeftSemi" in phys
        assert "BroadcastHashJoin" not in phys, phys
        # 4-level snowflake chain joins (customer -> nation -> region)
        chain = eng.dataframe({
            "cube": "tpch",
            "selectFields": [{"field": "region_name"},
                             {"field": "customer_name"},
                             {"field": "revenue"}],
            "filterExpressions": [DAY_ALL],
        })
        assert "BroadcastHashJoin" not in _physical(chain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        os.environ.pop("MAHA_SPARK_CACHE", None)


def test_q5_via_nation_rollup_never_touches_orders_or_customer(
        spark, tmp_path_factory):
    """q5 served from the aggregate-join rollup (chain rebasing): the
    physical plan must scan lineitem_daily_nation — not the raw fact —
    and must not join orders or customer at all (their join was paid at
    materialization); nation/region still arrive as broadcasts and the
    only hash-partitioning exchange is the final tiny re-aggregation.
    This is the plan the 100 TB case runs: ~187k stored rows replace the
    fact scan entirely."""
    import os

    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import (
        build_contract_registry, materialize_lineitem_nation_rollup)

    os.environ["MAHA_SPARK_CACHE"] = "0"
    try:
        src = "/root/testdata/sf0.001"
        d = str(tmp_path_factory.mktemp("natplan"))
        for t in os.listdir(src):
            os.symlink(os.path.join(src, t), os.path.join(d, t))
        materialize_lineitem_nation_rollup(spark, src, d)
        from maha_spark.plans.binding import _DF_CACHE
        for _mt, cdf in _DF_CACHE.values():
            cdf.unpersist(blocking=True)
        _DF_CACHE.clear()
        eng = engine_for_dir(spark, build_contract_registry(), d)
        df = eng.dataframe({
            "cube": "tpch",
            "selectFields": [{"field": "region_name"}, {"field": "revenue"},
                             {"field": "sum_qty"}],
            "filterExpressions": [DAY_ALL],
        })
        phys = _physical(df)
        assert "lineitem_daily_nation" in phys
        assert "orders" not in phys and "customer" not in phys
        assert "SortMergeJoin" not in phys and "ShuffledHashJoin" not in phys
        assert "BroadcastHashJoin" in phys
        assert phys.count("Arguments: hashpartitioning") == 1
    finally:
        os.environ.pop("MAHA_SPARK_CACHE", None)


def test_q4_via_segment_rollup_filter_pushed_no_customer_join(
        spark, tmp_path_factory):
    """q4 served from the aggregate-join rollup via a MATERIALIZED dim
    attribute (customer.c_mktsegment stored on the rollup): the physical
    plan scans lineitem_daily_nation with the segment filter PUSHED to
    the parquet scan, never joins orders or customer, broadcasts only
    nation, and re-aggregates through exactly one exchange."""
    import os

    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import (
        build_contract_registry, materialize_lineitem_nation_rollup)

    os.environ["MAHA_SPARK_CACHE"] = "0"
    try:
        src = "/root/testdata/sf0.001"
        d = str(tmp_path_factory.mktemp("segplan"))
        for t in os.listdir(src):
            os.symlink(os.path.join(src, t), os.path.join(d, t))
        materialize_lineitem_nation_rollup(spark, src, d)
        from maha_spark.plans.binding import _DF_CACHE
        for _mt, cdf in _DF_CACHE.values():
            cdf.unpersist(blocking=True)
        _DF_CACHE.clear()
        eng = engine_for_dir(spark, build_contract_registry(), d)
        df = eng.dataframe({
            "cube": "tpch",
            "selectFields": [{"field": "nation_name"}, {"field": "revenue"},
                             {"field": "line_count"}],
            "filterExpressions": [DAY_ALL,
                                  {"field": "mktsegment", "operator": "=",
                                   "value": "BUILDING"}],
        })
        phys = _physical(df)
        assert "lineitem_daily_nation" in phys
        assert "orders" not in phys and "customer" not in phys
        assert "PushedFilters" in phys and "c_mktsegment" in \
            phys[phys.index("PushedFilters"):].splitlines()[0]
        assert "SortMergeJoin" not in phys and "ShuffledHashJoin" not in phys
        assert "BroadcastHashJoin" in phys
        assert phys.count("Arguments: hashpartitioning") == 1
    finally:
        os.environ.pop("MAHA_SPARK_CACHE", None)


def test_timeshift_grand_total_is_broadcast_bnlj(contract_engine):
    """VERDICT r7 #5: with no group keys and no day projected, the
    timeshift previous window is a 1-row grand total — the crossJoin
    must be an explicit broadcast (BroadcastNestedLoopJoin, no shuffle
    of the current side against it), matching the other three
    grand-total sites in the planner."""
    from maha_spark.curators.curators import timeshift_frame
    req = {
        "cube": "tpch",
        "selectFields": [{"field": "revenue"}, {"field": "sum_qty"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "1996-01-01", "to": "1996-03-31"}],
    }
    model = contract_engine.model(req)
    joined, metrics = timeshift_frame(contract_engine, model, {})
    phys = _physical(joined)
    assert "BroadcastNestedLoopJoin" in phys, phys
    assert "CartesianProduct" not in phys, phys
    assert set(metrics) == {"revenue", "sum_qty"}
    rows = joined.collect()
    assert len(rows) == 1 and rows[0]["revenue Prev"] is not None
