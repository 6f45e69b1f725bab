"""Driver-contract cube + query/oracle catalog.

This module powers ``__spark_entry__.py``: every entry in ``QUERIES`` is a
(JSON reporting request, equivalent DuckDB SQL) pair executed through the
full semantic-layer engine (parse -> validate -> RequestModel -> DataFrame
planner), exercising one operator family from SURVEY.md §2 each.

Determinism contract: double-typed metrics are summed as DECIMAL
(exact, order-independent) and cast to DOUBLE at the end, in BOTH the cube
definition and the oracle SQL — so Spark and DuckDB produce bit-identical
values regardless of aggregation order. Derived ratios divide the two
identical doubles (IEEE division is deterministic).

Performance contract: every decimal stays at precision <= 8 and every
product is rounded to cents per row (money semantics), so partial SUMs
land at precision <= 18 — Spark's long-backed Decimal fast path inside
whole-stage codegen. Precision 19+ falls off to JVM BigDecimal and costs
~4x throughput on the aggregation (measured: 19.2M-row q1 1.04s -> 0.35s).
An 18,2 sum holds 10^16 cents; overflow at extreme scale surfaces as
null (Spark decimal overflow), never a silent wrap.
"""

from __future__ import annotations

from ..core.columns import (
    DerivedDimCol, DerivedFactCol, DimCol, FactCol, PostResultCol, safe_div,
)
from ..core.filters import IN_BETWEEN_EQUALITY
from ..core.grain import DAILY, HOURLY
from ..core.filters import EqualityFilter, LessThanFilter
from ..core.rollup import (
    AverageRollup, CardinalityRollup, CountRollup, FilteredRollup,
    HistogramMergeRollup, HistogramRollup, HllSketchRollup,
    HllUnionRollup, MaxRollup, MinRollup, NoopRollup, RoundedSumRollup,
    SumRollup, hist_quantile_sql,
)
from ..core.types import (BinType, DateType, DecType, IntType,
                          PassthroughType, StaticMapping, StrType,
                          TimestampType)
from ..registry.cube import (
    DimensionTable, FactTable, PubCol, PublicDimension, PublicFact, Registry,
    ViewPart,
)

DAY_ALL = {"field": "day", "operator": "between",
           "from": "1995-01-01", "to": "2002-12-31"}

ORDER_STATUS_MAP = StaticMapping({"O": "OPEN", "F": "FULFILLED", "P": "PENDING"},
                                 "UNKNOWN")
ORDER_STATUS_SQL = ("CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN "
                    "'FULFILLED' WHEN 'P' THEN 'PENDING' ELSE 'UNKNOWN' END")
RETURN_FLAG_MAP = StaticMapping({"A": "ACCEPTED", "N": "NONE", "R": "RETURNED"},
                                "UNKNOWN")
RETURN_FLAG_SQL = ("CASE l_returnflag WHEN 'A' THEN 'ACCEPTED' WHEN 'N' THEN "
                   "'NONE' WHEN 'R' THEN 'RETURNED' ELSE 'UNKNOWN' END")

QTY = "CAST({l_quantity} AS DECIMAL(8,2))"
PRICE = "CAST({l_extendedprice} AS DECIMAL(8,2))"
DISC = "CAST({l_discount} AS DECIMAL(4,2))"
TAX = "CAST({l_tax} AS DECIMAL(4,2))"
# per-row round-to-cents keeps the summed precision <= 18 (long-backed)
DISC_PRICE = f"CAST({PRICE} * (1 - {DISC}) AS DECIMAL(8,2))"
CHARGE = f"CAST({PRICE} * (1 - {DISC}) * (1 + {TAX}) AS DECIMAL(8,2))"

# ---- cents-long fast path -------------------------------------------------
# The money columns are decimal-clean 2dp doubles (verified: max deviation of
# x*100 from an integer is < 1e-8 across all SFs), so ROUND(x*100) IS the
# exact unscaled DECIMAL(8,2) value. Summing raw BIGINT cents stays on
# whole-stage codegen's long adder and avoids the per-row
# double->string->BigDecimal cast + decimal multiply chain, which measured
# ~3x slower (19.2M-row q1: 1.18s decimal vs 0.42s long/double). The
# HALF_UP downscale of a positive product is (v + 5*10^(k-1)) DIV 10^k.
# Final values convert as SUM(cents)/100.0: both that division and Spark's
# DECIMAL->DOUBLE cast are correctly rounded, so results are bit-identical
# to the decimal formulation the DuckDB oracle uses. Overflow headroom:
# BIGINT cents holds 9.2e16 dollars of partial sum.
# ROUND(double) routes every row through BigDecimal.setScale; for these
# non-negative decimal-clean columns HALF_UP == floor(x*100 + 0.5), and
# CAST(double AS BIGINT) truncates toward zero == floor on non-negatives —
# a pure double->long path that stays in generated code (measured 1.7x on
# the 19.2M-row scaled q1: 0.96s -> 0.57s, i.e. at the raw-double floor)
QTY_C = "CAST({l_quantity} * 100 + 0.5 AS BIGINT)"
PRICE_C = "CAST({l_extendedprice} * 100 + 0.5 AS BIGINT)"
DISC_H = "CAST({l_discount} * 100 + 0.5 AS BIGINT)"
TAX_H = "CAST({l_tax} * 100 + 0.5 AS BIGINT)"
# price*(1-disc), exact in units of 1e-4 dollars, HALF_UP to cents
DISC_PRICE_C = f"(({PRICE_C} * (100 - {DISC_H}) + 50) DIV 100)"
# price*(1-disc)*(1+tax), exact in 1e-6 dollars, single HALF_UP to cents
CHARGE_C = (f"(({PRICE_C} * (100 - {DISC_H}) * (100 + {TAX_H}) + 5000) "
            f"DIV 10000)")

# same fragments in DuckDB spelling (identical here — ANSI)
SQL_QTY = "CAST(l_quantity AS DECIMAL(8,2))"
SQL_PRICE = "CAST(l_extendedprice AS DECIMAL(8,2))"
SQL_DISC = "CAST(l_discount AS DECIMAL(4,2))"
SQL_TAX = "CAST(l_tax AS DECIMAL(4,2))"
# DuckDB's decimal-downscale CAST truncates; its ROUND is HALF_UP like
# Spark's CAST — so the oracle spells per-row round-to-cents as ROUND
SQL_DISC_PRICE = (f"CAST(ROUND({SQL_PRICE} * (1 - {SQL_DISC}), 2) "
                  f"AS DECIMAL(8,2))")
SQL_CHARGE_ROW = (f"CAST(ROUND({SQL_PRICE} * (1 - {SQL_DISC}) "
                  f"* (1 + {SQL_TAX}), 2) AS DECIMAL(8,2))")


def _li_partial_col_defs() -> dict:
    """Stored-partial column declarations shared by every lineitem
    rollup table: the base's per-row quantized columns under the same
    names, stored as SUMS/MAX/MIN per grain row (the materializer builds
    each from the base column of that name) and re-declared with the
    rollup that merges them."""
    return {
        **{k: FactCol(k, IntType(), rollup=SumRollup()) for k in
           ("qty_dec", "price_dec", "disc_price_dec", "charge_dec",
            "disc_dec", "ret_qty_dec")},
        "rounded_rev_raw": FactCol("rounded_rev_raw", IntType(),
                                   rollup=RoundedSumRollup(scale=2)),
        "line_count": FactCol("line_count", IntType(default_value=0),
                              rollup=SumRollup()),
        "max_price_raw": FactCol("max_price_raw", DecType(),
                                 rollup=MaxRollup()),
        "min_price_raw": FactCol("min_price_raw", DecType(),
                                 rollup=MinRollup()),
    }


def build_contract_registry() -> Registry:
    reg = Registry()

    def nation_region(prefix: str, role: str) -> None:
        region_t = DimensionTable(
            name="region", primary_key="r_regionkey", level=1, cost=5,
            cardinality=5,
            columns={
                "r_regionkey": DimCol("r_regionkey", IntType()),
                "r_name": DimCol("r_name", StrType()),
            })
        reg.register_dimension(PublicDimension(
            name=f"{role}_region", table=region_t,
            pub_cols=[PubCol(f"{prefix}region_id", "r_regionkey"),
                      PubCol(f"{prefix}region_name", "r_name")]))
        nation_t = DimensionTable(
            name="nation", primary_key="n_nationkey", level=2, cost=25,
            cardinality=25,
            parent_keys={"n_regionkey": f"{role}_region"},
            columns={
                "n_nationkey": DimCol("n_nationkey", IntType()),
                "n_name": DimCol("n_name", StrType()),
                "n_regionkey": DimCol("n_regionkey", IntType(),
                                      foreign_key=f"{role}_region"),
            })
        reg.register_dimension(PublicDimension(
            name=f"{role}_nation", table=nation_t,
            pub_cols=[PubCol(f"{prefix}nation_id", "n_nationkey"),
                      PubCol(f"{prefix}nation_name", "n_name")]))

    nation_region("", "customer")
    nation_region("supp_", "supplier")

    customer = DimensionTable(
        name="customer", primary_key="c_custkey", level=3, cost=150,
        cardinality=150_000,
        parent_keys={"c_nationkey": "customer_nation"},
        schema_col_map={"customer": "c_custkey"},
        columns={
            "c_custkey": DimCol("c_custkey", IntType()),
            "c_name": DimCol("c_name", StrType(), case_insensitive=True),
            "c_nationkey": DimCol("c_nationkey", IntType(),
                                  foreign_key="customer_nation"),
            "c_acctbal": DimCol("c_acctbal", DecType()),
            "c_mktsegment": DimCol("c_mktsegment", StrType()),
            # COMPARE_PERCENTAGE banded labeling via the macro
            # (DerivedExpression.scala:813 Oracle, :266 Postgres):
            # a < pct/100 * b -> label, else the chained next expression
            "acct_band": DerivedDimCol(
                "acct_band", StrType(),
                expr=("COMPARE_PERCENTAGE({c_acctbal}, 1, 0, 'NEGATIVE', "
                      "COMPARE_PERCENTAGE({c_acctbal}, 5000, 100, 'LOW', "
                      "'HIGH'))")),
        })
    reg.register_dimension(PublicDimension(
        name="customer", table=customer,
        pub_cols=[PubCol("customer_id", "c_custkey"),
                  PubCol("customer_name", "c_name"),
                  PubCol("mktsegment", "c_mktsegment"),
                  PubCol("acctbal", "c_acctbal"),
                  PubCol("acct_band", "acct_band")]))

    orders = DimensionTable(
        name="orders", primary_key="o_orderkey", level=4, cost=1500,
        cardinality=1_500_000,
        parent_keys={"o_custkey": "customer"},
        columns={
            "o_orderkey": DimCol("o_orderkey", IntType()),
            "o_custkey": DimCol("o_custkey", IntType(), foreign_key="customer"),
            "o_orderstatus": DimCol("o_orderstatus",
                                    StrType(static_mapping=ORDER_STATUS_MAP)),
            "o_totalprice": DimCol("o_totalprice", DecType()),
            "o_orderdate": DimCol("o_orderdate", TimestampType()),
            "o_orderpriority": DimCol("o_orderpriority", StrType()),
            "order_day": DerivedDimCol("order_day", DateType(),
                                       expr="CAST({o_orderdate} AS DATE)"),
            # TO_CHAR macro (Oracle DerivedExpression.scala:830): Oracle
            # format tokens translate to the Spark pattern alphabet
            "order_month_c": DerivedDimCol(
                "order_month_c", StrType(),
                expr="TO_CHAR({o_orderdate}, 'YYYY-MM')"),
        })
    reg.register_dimension(PublicDimension(
        name="orders", table=orders,
        pub_cols=[PubCol("order_key", "o_orderkey"),
                  PubCol("order_status", "o_orderstatus"),
                  PubCol("order_total", "o_totalprice"),
                  PubCol("order_date", "order_day"),
                  PubCol("order_ts", "o_orderdate"),
                  PubCol("order_priority", "o_orderpriority"),
                  PubCol("order_month_c", "order_month_c")]))

    part = DimensionTable(
        name="part", primary_key="p_partkey", level=4, cost=200,
        cardinality=200_000,
        columns={
            "p_partkey": DimCol("p_partkey", IntType()),
            "p_name": DimCol("p_name", StrType(), case_insensitive=True),
            "p_brand": DimCol("p_brand", StrType()),
            "p_type": DimCol("p_type", StrType()),
            "p_size": DimCol("p_size", IntType()),
            "p_retailprice": DimCol("p_retailprice", DecType()),
            # REGEX derived function (DerivedExpression.scala Hive :609,
            # Presto :435; DerivedFunction.scala:141) — last word of the name
            "p_noun": DerivedDimCol(
                "p_noun", StrType(),
                expr="REGEX({p_name}, ' ([a-z]+)$', 1)"),
            # JAVASCRIPT derived function parity (DerivedFunction.scala:113):
            # arbitrary per-row logic = a registered vectorized UDF
            # referenced by name (functions.register_pandas_udf)
            "p_name_rev": DerivedDimCol(
                "p_name_rev", StrType(),
                expr="py_reverse({p_name})"),
        })
    reg.register_dimension(PublicDimension(
        name="part", table=part,
        pub_cols=[PubCol("part_id", "p_partkey"),
                  PubCol("part_name", "p_name"),
                  PubCol("brand", "p_brand"),
                  PubCol("part_type", "p_type"),
                  PubCol("part_size", "p_size"),
                  PubCol("retail_price", "p_retailprice"),
                  PubCol("part_noun", "p_noun"),
                  PubCol("part_name_rev", "p_name_rev")]))

    supplier = DimensionTable(
        name="supplier", primary_key="s_suppkey", level=4, cost=10,
        cardinality=10_000,
        parent_keys={"s_nationkey": "supplier_nation"},
        columns={
            "s_suppkey": DimCol("s_suppkey", IntType()),
            "s_name": DimCol("s_name", StrType()),
            "s_nationkey": DimCol("s_nationkey", IntType(),
                                  foreign_key="supplier_nation"),
            "s_acctbal": DimCol("s_acctbal", DecType()),
        })
    reg.register_dimension(PublicDimension(
        name="supplier", table=supplier,
        pub_cols=[PubCol("supplier_id", "s_suppkey"),
                  PubCol("supplier_name", "s_name")]))

    # ------------------------------------------------------------- fact
    li_cols = {
        "l_orderkey": DimCol("l_orderkey", IntType(), foreign_key="orders"),
        "l_partkey": DimCol("l_partkey", IntType(), foreign_key="part"),
        "l_suppkey": DimCol("l_suppkey", IntType(), foreign_key="supplier"),
        "l_linenumber": DimCol("l_linenumber", IntType()),
        # degenerate dimension over the (whole-number) quantity so a
        # same-table FieldEqualityFilter can produce non-empty results
        "l_qty_int": DerivedDimCol("l_qty_int", IntType(),
                                   expr="CAST({l_quantity} AS INT)"),
        "l_returnflag": DimCol("l_returnflag", StrType()),
        "rf_label": DerivedDimCol(
            "rf_label", StrType(static_mapping=RETURN_FLAG_MAP),
            expr="{l_returnflag}"),
        "l_linestatus": DimCol("l_linestatus", StrType()),
        "l_shipdate": DimCol("l_shipdate", TimestampType(), is_day_column=True),
        # raw physical metric columns (not public; sources for expressions)
        "l_quantity": FactCol("l_quantity", DecType()),
        "l_extendedprice": FactCol("l_extendedprice", DecType()),
        "l_discount": FactCol("l_discount", DecType()),
        "l_tax": FactCol("l_tax", DecType()),
        "ship_day": DerivedDimCol("ship_day", DateType(),
                                  expr="CAST({l_shipdate} AS DATE)"),
        # GET_INTERVAL_DATE derived function via the macro language
        # (DerivedFunction.scala:21; functions/macros.py)
        "ship_month": DerivedDimCol(
            "ship_month", DateType(),
            expr="GET_INTERVAL_DATE({l_shipdate}, 'M')"),
        # DAY_OF_WEEK derived function (DerivedExpression.scala Hive :572,
        # Presto :398; DerivedFunction.scala:49)
        "ship_dow": DerivedDimCol(
            "ship_dow", StrType(),
            expr="DAY_OF_WEEK({l_shipdate})"),
        # exact cents-long partial aggregates (internal; see fast-path note)
        "qty_dec": FactCol("qty_dec", IntType(), expr=QTY_C,
                           depends_on=("l_quantity",)),
        "price_dec": FactCol("price_dec", IntType(), expr=PRICE_C,
                             depends_on=("l_extendedprice",)),
        "disc_price_dec": FactCol("disc_price_dec", IntType(),
                                  expr=DISC_PRICE_C,
                                  depends_on=("l_extendedprice", "l_discount")),
        "charge_dec": FactCol("charge_dec", IntType(),
                              expr=CHARGE_C,
                              depends_on=("l_extendedprice", "l_discount", "l_tax")),
        "disc_dec": FactCol("disc_dec", IntType(), expr=DISC_H,
                            depends_on=("l_discount",)),
        "ret_qty_dec": FactCol("ret_qty_dec", IntType(),
                               rollup=FilteredRollup(condition_sql="l_returnflag = 'R'"),
                               expr=QTY_C, depends_on=("l_returnflag", "l_quantity")),
        "line_count": FactCol("line_count", IntType(default_value=0),
                              rollup=CountRollup()),
        "order_cnt": FactCol("order_cnt", IntType(),
                             rollup=CardinalityRollup(exact=True),
                             expr="{l_orderkey}", depends_on=("l_orderkey",)),
        "order_cnt_approx": FactCol("order_cnt_approx", IntType(),
                                    rollup=CardinalityRollup(exact=False),
                                    expr="{l_orderkey}", depends_on=("l_orderkey",)),
        "max_price_raw": FactCol("max_price_raw", DecType(), rollup=MaxRollup(),
                                 expr="{l_extendedprice}",
                                 depends_on=("l_extendedprice",)),
        "min_price_raw": FactCol("min_price_raw", DecType(), rollup=MinRollup(),
                                 expr="{l_extendedprice}",
                                 depends_on=("l_extendedprice",)),
        # AverageRollup (RollupExpression.scala:31 AverageRollup) — exact
        # decimal AVG; re-agg goes through the planner's sum/count
        # decomposition or join-then-agg, never avg-of-avgs
        "avg_price_roll": FactCol("avg_price_roll", DecType(),
                                  rollup=AverageRollup(), expr=PRICE,
                                  depends_on=("l_extendedprice",)),
        # NoopRollup (RollupExpression.scala:34) — pass-through value that
        # is functionally dependent on the grouping key (never re-summed)
        "status_label_raw": FactCol("status_label_raw", StrType(),
                                    rollup=NoopRollup(),
                                    expr="upper({l_returnflag})",
                                    depends_on=("l_returnflag",)),
        # RoundedSumRollup (druid-lookups RoundingDoubleSumAggregatorFactory)
        # over exact cents: ROUND(sum, 2) is the identity on integer cents,
        # matching ROUND(SUM(DECIMAL(8,2)), 2) exactly
        "rounded_rev_raw": FactCol("rounded_rev_raw", IntType(),
                                   rollup=RoundedSumRollup(scale=2),
                                   expr=DISC_PRICE_C,
                                   depends_on=("l_extendedprice", "l_discount")),
        # public metric expressions (exact cents -> double; both the /100.0
        # division and DECIMAL->DOUBLE are correctly rounded, so these equal
        # the oracle's CAST(SUM(DECIMAL) AS DOUBLE) bit-for-bit)
        "sum_qty": DerivedFactCol("sum_qty", DecType(),
                                  expr="(CAST({qty_dec} AS DOUBLE) / 100.0)"),
        "sum_base_price": DerivedFactCol(
            "sum_base_price", DecType(),
            expr="(CAST({price_dec} AS DOUBLE) / 100.0)"),
        "revenue": DerivedFactCol(
            "revenue", DecType(default_value=0.0),
            expr="(CAST({disc_price_dec} AS DOUBLE) / 100.0)"),
        "charge": DerivedFactCol(
            "charge", DecType(),
            expr="(CAST({charge_dec} AS DOUBLE) / 100.0)"),
        "avg_qty": DerivedFactCol(
            "avg_qty", DecType(),
            expr="(CAST({qty_dec} AS DOUBLE) / 100.0) / {line_count}"),
        "avg_price": DerivedFactCol(
            "avg_price", DecType(),
            expr="(CAST({price_dec} AS DOUBLE) / 100.0) / {line_count}"),
        "avg_disc": DerivedFactCol(
            "avg_disc", DecType(),
            expr="(CAST({disc_dec} AS DOUBLE) / 100.0) / {line_count}"),
        "returned_qty": DerivedFactCol(
            "returned_qty", DecType(),
            expr="(CAST({ret_qty_dec} AS DOUBLE) / 100.0)"),
        "discount_rate": DerivedFactCol(
            "discount_rate", DecType(),
            expr=safe_div("(CAST({disc_price_dec} AS DOUBLE) / 100.0)",
                          "(CAST({price_dec} AS DOUBLE) / 100.0)")),
        "avg_price_rollup": DerivedFactCol(
            "avg_price_rollup", DecType(),
            expr="CAST({avg_price_roll} AS DOUBLE)"),
        "revenue_rounded": DerivedFactCol(
            "revenue_rounded", DecType(),
            expr="(CAST({rounded_rev_raw} AS DOUBLE) / 100.0)"),
    }

    lineitem = FactTable(name="lineitem", columns=li_cols, grain=DAILY,
                         day_column="l_shipdate", cost=6000,
                         partition_columns=["dt"])
    rollup_cols = {k: v for k, v in li_cols.items()
                   if k not in ("l_partkey", "l_suppkey", "l_linenumber")}
    lineitem_rollup = FactTable(
        name="lineitem", columns=rollup_cols, grain=DAILY,
        day_column="l_shipdate", cost=2000,
        discarded={"l_partkey", "l_suppkey", "l_linenumber"},
        partition_columns=["dt"])

    # Pre-aggregated DAILY rollup at (ship day, return flag, line status)
    # — the lineitem twin of events_hourly (FactBuilder.newRollUp,
    # fact/Fact.scala:867): ~6 stored rows per day replace the raw
    # line-item log for any request whose columns it covers and whose
    # metrics re-aggregate. The cents partials are SUMs of the base's
    # per-row quantized values, so serving from the rollup is
    # bit-identical to aggregating raw rows (pinned in
    # tests/test_rollup_serving.py). Exact distinct (order_cnt) and the
    # Noop label are stored AT grain and guarded by serves_grain;
    # anything depending on discarded raw columns (quantity_int,
    # order_count_approx, avg_price_rollup, FK joins) falls back to the
    # base fact by column coverage. Physical table optional — the
    # binding availability probe drops the candidate when not
    # materialized (the sf correctness fixtures); the bench's scaled
    # tier materializes it (materialize_lineitem_rollup).
    li_daily_cols = {
        "l_shipdate": DimCol("l_shipdate", TimestampType(),
                             is_day_column=True),
        "l_returnflag": DimCol("l_returnflag", StrType()),
        "l_linestatus": DimCol("l_linestatus", StrType()),
        # derived dims re-declared over the stored day/flag columns
        **{k: li_cols[k] for k in
           ("rf_label", "ship_day", "ship_month", "ship_dow")},
        **_li_partial_col_defs(),
        # exact per-grain distinct + functional label: stored AT grain,
        # NoopRollup => serves_grain requires grouping by the full grain
        "order_cnt": FactCol("order_cnt", IntType(), rollup=NoopRollup()),
        "status_label_raw": FactCol("status_label_raw", StrType(),
                                    rollup=NoopRollup()),
        # public metric expressions carried over verbatim (they read only
        # the stored partials above)
        **{k: li_cols[k] for k in
           ("sum_qty", "sum_base_price", "revenue", "charge", "avg_qty",
            "avg_price", "avg_disc", "returned_qty", "discount_rate",
            "revenue_rounded")},
    }
    lineitem_daily = FactTable(
        name="lineitem_daily", columns=li_daily_cols, grain=DAILY,
        day_column="l_shipdate", cost=50, partition_columns=["dt"],
        discarded={"l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                   "l_qty_int", "l_quantity", "l_extendedprice",
                   "l_discount", "l_tax", "order_cnt_approx",
                   "avg_price_roll", "avg_price_rollup"},
        grain_cols=["ship_day", "l_returnflag", "l_linestatus"])

    # AGGREGATE-JOIN rollup at (ship day, customer nation, market
    # segment): the orders -> customer join is paid ONCE at
    # materialization and the stored `cust_nation_fk` re-enters the
    # customer_nation dim chain directly (chain REBASING in
    # model/request_model.py), so nation/region reporting queries never
    # touch the raw fact or the two skipped dims. The stored
    # `c_mktsegment` additionally MATERIALIZES customer.c_mktsegment
    # (DimCol.materializes): requests filtering or grouping the segment
    # are served from the stored column with no customer join at all —
    # the q4 shape. ~187k stored rows (2.5k days x 25 nations x <=5
    # segments, sparse) replace the raw line items at any scale.
    # Summable cents partials only — no Noop/exact-distinct columns, so
    # any coarser re-aggregation is valid; requests using orders or
    # OTHER customer attributes are unreachable from the rebased chain
    # and fall back to the raw fact by chain satisfiability.
    li_nation_cols = {
        "l_shipdate": DimCol("l_shipdate", TimestampType(),
                             is_day_column=True),
        "cust_nation_fk": DimCol("cust_nation_fk", IntType(),
                                 foreign_key="customer_nation"),
        "c_mktsegment": DimCol("c_mktsegment", StrType(),
                               materializes="customer.c_mktsegment"),
        **{k: li_cols[k] for k in ("ship_day", "ship_month", "ship_dow")},
        **_li_partial_col_defs(),
        **{k: li_cols[k] for k in
           ("sum_qty", "sum_base_price", "revenue", "charge", "avg_qty",
            "avg_price", "avg_disc", "returned_qty", "discount_rate",
            "revenue_rounded")},
    }
    lineitem_daily_nation = FactTable(
        name="lineitem_daily_nation", columns=li_nation_cols, grain=DAILY,
        day_column="l_shipdate", cost=60, partition_columns=["dt"],
        discarded={"l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                   "l_returnflag", "l_linestatus", "rf_label", "l_qty_int",
                   "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                   "order_cnt", "order_cnt_approx", "status_label_raw",
                   "avg_price_roll", "avg_price_rollup"},
        grain_cols=["ship_day", "cust_nation_fk", "c_mktsegment"])

    # Pre-aggregated DAILY x PART rollup — the q2/q11 shape (TopN /
    # HAVING over `GROUP BY l_partkey`), the only cube family still at
    # raw-scan parity in the round-7 scaled probe (attrib_r7: both
    # engines data-bound at 177-300 Mrows/s). Stored rows are bounded by
    # DISTINCT (ship day, part) pairs: on the row-multiplied scaled
    # tiers that stays ~the base fact's pair count while the raw fact
    # grows x1024, so the q2/q11 scan drops from 614M rows to ~600k.
    # Same cents partials as the other rollups (bit-identical serving);
    # l_partkey keeps its foreign_key so part-chain projections
    # (part_id == the part pk) join exactly like the raw fact. No
    # Noop/exact-distinct columns — any coarser re-aggregation is valid.
    li_part_cols = {
        "l_shipdate": DimCol("l_shipdate", TimestampType(),
                             is_day_column=True),
        "l_partkey": li_cols["l_partkey"],
        **{k: li_cols[k] for k in ("ship_day", "ship_month", "ship_dow")},
        **_li_partial_col_defs(),
        **{k: li_cols[k] for k in
           ("sum_qty", "sum_base_price", "revenue", "charge", "avg_qty",
            "avg_price", "avg_disc", "returned_qty", "discount_rate",
            "revenue_rounded")},
    }
    lineitem_daily_part = FactTable(
        name="lineitem_daily_part", columns=li_part_cols, grain=DAILY,
        day_column="l_shipdate", cost=400, partition_columns=["dt"],
        discarded={"l_orderkey", "l_suppkey", "l_linenumber",
                   "l_returnflag", "l_linestatus", "rf_label", "l_qty_int",
                   "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                   "order_cnt", "order_cnt_approx", "status_label_raw",
                   "avg_price_roll", "avg_price_rollup"},
        grain_cols=["ship_day", "l_partkey"])

    pub_metrics = [
        PubCol("sum_qty", "sum_qty"), PubCol("sum_base_price", "sum_base_price"),
        PubCol("revenue", "revenue"), PubCol("charge", "charge"),
        PubCol("avg_qty", "avg_qty"), PubCol("avg_price", "avg_price"),
        PubCol("avg_disc", "avg_disc"), PubCol("returned_qty", "returned_qty"),
        PubCol("discount_rate", "discount_rate"),
        PubCol("line_count", "line_count"), PubCol("order_count", "order_cnt"),
        PubCol("order_count_approx", "order_cnt_approx"),
        PubCol("max_price", "max_price_raw"), PubCol("min_price", "min_price_raw"),
        PubCol("avg_price_rollup", "avg_price_rollup"),
        PubCol("status_label", "status_label_raw"),
        PubCol("revenue_rounded", "revenue_rounded"),
    ]
    pub_dims = [
        PubCol("day", "ship_day", IN_BETWEEN_EQUALITY),
        PubCol("month", "ship_month", IN_BETWEEN_EQUALITY),
        PubCol("return_flag", "l_returnflag"),
        PubCol("return_flag_label", "rf_label"),
        PubCol("line_status", "l_linestatus"),
        PubCol("line_number", "l_linenumber"),
        PubCol("quantity_int", "l_qty_int"),
        PubCol("day_of_week", "ship_dow"),
    ]
    reg.register_fact(PublicFact(
        name="tpch", tables=[lineitem, lineitem_rollup, lineitem_daily,
                             lineitem_daily_nation, lineitem_daily_part],
        pub_cols=pub_dims, pub_fact_cols=pub_metrics,
        schema_required_alias={"customer": "customer_id"},
        day_alias="day"))

    # forced-filter cube (fact/Fact.scala:433 forceFilters, overridable):
    # cube-level forced filter over a PUBLIC alias (return_flag = 'R',
    # overridable by a user filter on the same alias) plus a PHYSICAL
    # forced filter on the fact table (l_linenumber < 7, never overridable)
    lineitem_forced = FactTable(
        name="lineitem", columns=li_cols, grain=DAILY,
        day_column="l_shipdate", cost=6000,
        forced_filters=[LessThanFilter(field="l_linenumber", value=7,
                                       is_forced=True)])
    reg.register_fact(PublicFact(
        name="tpch_forced", tables=[lineitem_forced],
        pub_cols=pub_dims, pub_fact_cols=pub_metrics,
        forced_filters=[EqualityFilter(field="return_flag", value="R",
                                       is_forced=True, is_overridable=True)],
        day_alias="day"))

    # union view cube: two branches of the same physical fact with a
    # constant discriminator column (fact/View.scala UnionView semantics)
    uv_cols = dict(li_cols)
    uv_cols["view_name"] = DimCol("view_name", StrType())
    union_fact = FactTable(
        name="lineitem_union", columns=uv_cols, grain=DAILY,
        day_column="l_shipdate", cost=12000,
        parts=[ViewPart("lineitem", {"view_name": "current"}),
               ViewPart("lineitem", {"view_name": "adjustment"})])
    reg.register_fact(PublicFact(
        name="tpch_union",
        tables=[union_fact],
        pub_cols=pub_dims + [PubCol("view_name", "view_name")],
        pub_fact_cols=pub_metrics,
        day_alias="day"))

    # ------------------------------------------------------------- events
    ev_cols = {
        "event_id": DimCol("event_id", IntType()),
        "ts": DimCol("ts", TimestampType(), is_day_column=True),
        "event_day": DerivedDimCol("event_day", DateType(),
                                   expr="CAST({ts} AS DATE)"),
        "event_hour": DerivedDimCol(
            "event_hour", StrType(),
            # group on the 8-byte truncated timestamp; format once per
            # OUTPUT row (render_expr) instead of once per input row
            expr="date_trunc('hour', {ts})",
            render_expr="date_format({self}, 'yyyy-MM-dd HH:mm:ss')"),
        "user_id": DimCol("user_id", IntType()),
        "event_type": DimCol("event_type", StrType()),
        "value": FactCol("value", DecType()),
        # exact hundred-thousandths (value is decimal-clean at 5dp and
        # non-negative; same BigDecimal-free HALF_UP as the lineitem cents)
        "value_dec": FactCol("value_dec", IntType(),
                             expr="CAST({value} * 100000 + 0.5 AS BIGINT)",
                             depends_on=("value",)),
        "event_count": FactCol("event_count", IntType(), rollup=CountRollup()),
        "user_cnt": FactCol("user_cnt", IntType(),
                            rollup=CardinalityRollup(exact=True),
                            expr="{user_id}", depends_on=("user_id",)),
        # mergeable HLL sketch partial (Druid hyperUnique rollup column):
        # the approx distinct that DOES re-aggregate at any grain
        "user_hll": FactCol("user_hll", BinType(),
                            rollup=HllSketchRollup(),
                            expr="{user_id}", depends_on=("user_id",)),
        "user_count_hll": DerivedFactCol(
            "user_count_hll", IntType(),
            expr="CAST(hll_sketch_estimate({user_hll}) AS BIGINT)"),
        "total_value": DerivedFactCol(
            "total_value", DecType(),
            expr="(CAST({value_dec} AS DOUBLE) / 100000.0)"),
        # mergeable fixed-bin histogram partial (Druid approxHistogram
        # rollup column): quantile metrics served from ANY coarser
        # pre-aggregation bit-identically to raw (core/rollup.py)
        "value_hist": FactCol("value_hist", PassthroughType(),
                              rollup=HistogramRollup(),
                              expr="{value}", depends_on=("value",)),
        "value_p95": DerivedFactCol(
            "value_p95", DecType(),
            expr=hist_quantile_sql("{value_hist}", 0.95)),
        "value_p50": DerivedFactCol(
            "value_p50", DecType(),
            expr=hist_quantile_sql("{value_hist}", 0.50)),
        # POST_RESULT_DECODE (PostResultFunction.scala:42): expose the
        # metric only for rows whose status dim matches
        "value_if_click": PostResultCol(
            "value_if_click", DecType(),
            expr=("CASE WHEN {event_type} = 'click' THEN {total_value} "
                  "ELSE NULL END")),
    }
    events = FactTable(name="events", columns=ev_cols, grain=HOURLY,
                       day_column="ts", cost=1000,
                       partition_columns=["dt"])

    # Pre-aggregated hourly rollup (FactBuilder.newRollUp / withNewGrain,
    # fact/Fact.scala:867,1385), continuously maintainable by the
    # streaming job (streaming/hourly.py — pytest pins stream == batch
    # content). Stored at EXACTLY (hour, event_type): event_count and the
    # cents sum are summable partials; user_cnt is the exact per-group
    # distinct, declared NoopRollup + grain_cols so candidate selection
    # only serves it to requests grouping at this grain. Physical table
    # optional: binding availability drops the candidate when not
    # materialized (the sf fixtures), and serves it at the bench's scaled
    # tier where one pre-aggregated scan replaces the raw event log.
    roll_cols = {
        "ts": DimCol("ts", TimestampType(), is_day_column=True),
        "event_day": DerivedDimCol("event_day", DateType(),
                                   expr="CAST({ts} AS DATE)"),
        "event_hour": DerivedDimCol(
            "event_hour", StrType(),
            expr="date_trunc('hour', {ts})",
            render_expr="date_format({self}, 'yyyy-MM-dd HH:mm:ss')"),
        "event_type": DimCol("event_type", StrType()),
        "value_dec": FactCol("value_dec", IntType(), rollup=SumRollup()),
        "event_count": FactCol("event_count", IntType(),
                               rollup=SumRollup()),
        "user_cnt": FactCol("user_cnt", IntType(), rollup=NoopRollup()),
        # stored sketch partials merge at ANY grain (union == building
        # from raw values), so the approx distinct has no grain guard
        "user_hll": FactCol("user_hll", BinType(),
                            rollup=HllUnionRollup()),
        "user_count_hll": DerivedFactCol(
            "user_count_hll", IntType(),
            expr="CAST(hll_sketch_estimate({user_hll}) AS BIGINT)"),
        "total_value": DerivedFactCol(
            "total_value", DecType(),
            expr="(CAST({value_dec} AS DOUBLE) / 100000.0)"),
        # stored histogram partials merge bin-by-bin at any grain, so
        # the quantile metrics have no grain guard (like user_hll)
        "value_hist": FactCol("value_hist", PassthroughType(),
                              rollup=HistogramMergeRollup()),
        "value_p95": DerivedFactCol(
            "value_p95", DecType(),
            expr=hist_quantile_sql("{value_hist}", 0.95)),
        "value_p50": DerivedFactCol(
            "value_p50", DecType(),
            expr=hist_quantile_sql("{value_hist}", 0.50)),
        "value_if_click": PostResultCol(
            "value_if_click", DecType(),
            expr=("CASE WHEN {event_type} = 'click' THEN {total_value} "
                  "ELSE NULL END")),
    }
    events_rollup = FactTable(
        name="events_hourly", columns=roll_cols, grain=HOURLY,
        day_column="ts", cost=10, partition_columns=["dt"],
        discarded={"event_id", "user_id", "value"},
        grain_cols=["event_hour", "event_type"])
    reg.register_fact(PublicFact(
        name="events_cube", tables=[events, events_rollup],
        pub_cols=[PubCol("day", "event_day", IN_BETWEEN_EQUALITY),
                  PubCol("hour", "event_hour"),
                  PubCol("event_type", "event_type"),
                  PubCol("user_id", "user_id")],
        pub_fact_cols=[PubCol("total_value", "total_value"),
                       PubCol("event_count", "event_count"),
                       PubCol("user_count", "user_cnt"),
                       PubCol("user_count_approx", "user_count_hll"),
                       PubCol("value_p95", "value_p95"),
                       PubCol("value_p50", "value_p50"),
                       PubCol("value_if_click", "value_if_click")],
        day_alias="day"))

    return reg


EV_DAY = {"field": "day", "operator": "between",
          "from": "2024-01-01", "to": "2024-12-31"}

SQL_REVENUE = f"CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE)"
SQL_CHARGE = f"CAST(SUM({SQL_CHARGE_ROW}) AS DOUBLE)"

#: name -> {"request": reporting-request JSON, "sql": DuckDB oracle,
#:          "cube"/"schema" extras}
QUERIES: dict[str, dict] = {
    # -- §2.4 aggregation: TPC-H Q1 pricing summary through the cube
    "q1_pricing_summary": {
        "request": {
            "cube": "tpch",
            "selectFields": [
                {"field": "return_flag"}, {"field": "line_status"},
                {"field": "sum_qty"}, {"field": "sum_base_price"},
                {"field": "revenue"}, {"field": "charge"},
                {"field": "avg_qty"}, {"field": "avg_price"},
                {"field": "avg_disc"}, {"field": "line_count"},
            ],
            "filterExpressions": [DAY_ALL],
        },
        "sql": f"""
            SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
                   CAST(SUM({SQL_QTY}) AS DOUBLE) AS sum_qty,
                   CAST(SUM({SQL_PRICE}) AS DOUBLE) AS sum_base_price,
                   {SQL_REVENUE} AS revenue,
                   {SQL_CHARGE} AS charge,
                   CAST(SUM({SQL_QTY}) AS DOUBLE) / COUNT(*) AS avg_qty,
                   CAST(SUM({SQL_PRICE}) AS DOUBLE) / COUNT(*) AS avg_price,
                   CAST(SUM({SQL_DISC}) AS DOUBLE) / COUNT(*) AS avg_disc,
                   COUNT(*) AS line_count
            FROM lineitem GROUP BY 1, 2
        """,
    },
    # -- §2.6 TopN (sort by metric + deterministic tiebreak; exact, beats
    #    Druid approx TopN) + offset pagination in the same request
    "q2_topn_parts": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "part_id"}, {"field": "revenue"}],
            "filterExpressions": [DAY_ALL],
            "sortBy": [{"field": "revenue", "order": "DESC"},
                       {"field": "part_id", "order": "ASC"}],
            "paginationStartIndex": 5,
            "rowsPerPage": 15,
        },
        "sql": f"""
            SELECT l_partkey AS part_id, {SQL_REVENUE} AS revenue
            FROM lineitem GROUP BY 1
            ORDER BY revenue DESC, part_id ASC LIMIT 15 OFFSET 5
        """,
    },
    # -- §2.3 star join chain with dim filter (inner) + OGB re-aggregation
    "q4_nation_revenue_by_segment": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "nation_name"}, {"field": "revenue"},
                             {"field": "line_count"}],
            "filterExpressions": [DAY_ALL,
                                  {"field": "mktsegment", "operator": "=",
                                   "value": "BUILDING"}],
        },
        "sql": f"""
            SELECT n_name AS nation_name, {SQL_REVENUE} AS revenue,
                   COUNT(*) AS line_count
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY 1
        """,
    },
    # -- §2.3 deepest snowflake chain (4 levels) + OGB
    "q5_region_rollup": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "region_name"}, {"field": "revenue"},
                             {"field": "sum_qty"}],
            "filterExpressions": [DAY_ALL],
        },
        "sql": f"""
            SELECT r_name AS region_name, {SQL_REVENUE} AS revenue,
                   CAST(SUM({SQL_QTY}) AS DOUBLE) AS sum_qty
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
    },
    # -- §2.6 dim-driven pagination: page over the dimension, LOJ fact,
    #    zero-fact entities appear with coalesced defaults
    "q6_dim_driven_orders": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "order_key"},
                             {"field": "order_priority"},
                             {"field": "revenue"}, {"field": "line_count"}],
            "filterExpressions": [DAY_ALL],
            "sortBy": [{"field": "order_priority", "order": "ASC"}],
            "forceDimensionDriven": True,
            "paginationStartIndex": 10,
            "rowsPerPage": 25,
        },
        "sql": f"""
            WITH page AS (
                SELECT o_orderkey, o_orderpriority FROM orders
                ORDER BY o_orderpriority ASC, o_orderkey ASC
                LIMIT 25 OFFSET 10
            ), f AS (
                SELECT l_orderkey, {SQL_REVENUE} AS revenue,
                       COUNT(*) AS line_count
                FROM lineitem GROUP BY 1
            )
            SELECT o_orderkey AS order_key, o_orderpriority AS order_priority,
                   COALESCE(f.revenue, 0.0) AS revenue,
                   COALESCE(f.line_count, 0) AS line_count
            FROM page LEFT JOIN f ON o_orderkey = l_orderkey
        """,
    },
    # -- §1.2 static enum mapping decode on a joined dim attribute, with a
    #    §2.2 DateTimeBetween ISO range on the dim's timestamp attribute
    "q7_order_status_decode": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "order_status"}, {"field": "revenue"}],
            "filterExpressions": [
                DAY_ALL,
                {"field": "order_ts", "operator": "datetimebetween",
                 "from": "1996-03-01T00:00:00", "to": "1997-06-30T23:59:59"},
            ],
        },
        "sql": f"""
            SELECT {ORDER_STATUS_SQL} AS order_status, {SQL_REVENUE} AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
              AND o_orderdate <= TIMESTAMP '1997-06-30 23:59:59'
            GROUP BY 1
        """,
    },
    # -- §2.4 filtered rollup (DruidFilteredRollup -> sum(case when))
    # -- §2.4 filtered rollup (DruidFilteredRollup -> sum(case when)) AND
    #    exact distinct-count rollup (DruidCardinalityRollup exact) in one
    #    request — both metrics live on the cube, one grouping exercises
    #    both rollup renderers (was q8 + q10 before the 50-entry cap)
    "q8_filtered_rollup": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "line_status"},
                             {"field": "returned_qty"},
                             {"field": "order_count"},
                             {"field": "line_count"}],
            "filterExpressions": [DAY_ALL],
        },
        "sql": f"""
            SELECT l_linestatus AS line_status,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN {SQL_QTY} END)
                        AS DOUBLE) AS returned_qty,
                   COUNT(DISTINCT l_orderkey) AS order_count,
                   COUNT(*) AS line_count
            FROM lineitem GROUP BY 1
        """,
    },
    # -- §2.2 filter operator battery (in / not in / like / between / >)
    "q12_filter_ops": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "brand"}, {"field": "revenue"},
                             {"field": "line_count"}],
            "filterExpressions": [
                DAY_ALL,
                {"field": "part_type", "operator": "in",
                 "values": ["SMALL", "MEDIUM", "LARGE"]},
                {"field": "brand", "operator": "not in",
                 "values": ["Brand#1", "Brand#2"]},
                {"field": "part_name", "operator": "like", "value": "bolt"},
                {"field": "part_size", "operator": ">", "value": 2},
                # same-table field-equality with non-empty results (line
                # number = whole-number quantity), so the oracle hash
                # actually verifies values
                {"field": "line_number", "operator": "==",
                 "compareTo": "quantity_int"},
                # <> and the And combinator (was q24 before the 50-entry
                # cap) — both bite: line 1 and N-flag rows are dropped
                {"field": "return_flag", "operator": "<>", "value": "N"},
                {"operator": "and", "filterExpressions": [
                    {"field": "line_number", "operator": ">", "value": 1},
                    {"field": "line_number", "operator": "<", "value": 7},
                ]},
            ],
        },
        "sql": f"""
            SELECT p_brand AS brand, {SQL_REVENUE} AS revenue,
                   COUNT(*) AS line_count
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_type IN ('SMALL','MEDIUM','LARGE')
              AND p_brand NOT IN ('Brand#1','Brand#2')
              AND lower(p_name) LIKE '%bolt%'
              AND p_size > 2
              AND l_linenumber = CAST(l_quantity AS INT)
              AND l_returnflag <> 'N'
              AND l_linenumber > 1 AND l_linenumber < 7
            GROUP BY 1
        """,
    },
    # -- §2.7 union view (UNION ALL with per-branch constants)
    # -- §2.6 hourly grain timeseries on the events table
    "q17_events_hourly": {
        "request": {
            "cube": "events_cube",
            "selectFields": [{"field": "hour"}, {"field": "event_type"},
                             {"field": "event_count"}, {"field": "total_value"},
                             {"field": "user_count"}],
            "filterExpressions": [EV_DAY],
        },
        "sql": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type,
                   COUNT(*) AS event_count,
                   CAST(SUM(CAST(value AS DECIMAL(8,5))) AS DOUBLE) AS total_value,
                   COUNT(DISTINCT user_id) AS user_count
            FROM events GROUP BY 1, 2
        """,
    },
    # -- §2.2 subquery semi-join: dim filtered but not projected
    "q18_semi_join": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
            "filterExpressions": [
                DAY_ALL,
                {"field": "mktsegment", "operator": "in",
                 "values": ["AUTOMOBILE", "MACHINERY"]},
            ],
        },
        "sql": f"""
            SELECT l_returnflag AS return_flag, {SQL_REVENUE} AS revenue
            FROM lineitem
            WHERE l_orderkey IN (
                SELECT o_orderkey FROM orders
                JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment IN ('AUTOMOBILE','MACHINERY'))
            GROUP BY 1
        """,
    },
    # -- §2.5 row count window (Count(*) OVER() TOTALROWS)
    "q19_row_count": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "return_flag"}, {"field": "revenue"}],
            "filterExpressions": [DAY_ALL],
            "includeRowCount": True,
        },
        "sql": f"""
            SELECT l_returnflag AS return_flag, {SQL_REVENUE} AS revenue,
                   COUNT(*) OVER () AS TOTALROWS
            FROM lineitem GROUP BY l_returnflag
        """,
    },
    # -- §2.8 month grain derived (GET_INTERVAL_DATE 'M')
    "q20_monthly_rollup": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "month"}, {"field": "revenue"},
                             {"field": "max_price"}, {"field": "min_price"}],
            "filterExpressions": [DAY_ALL],
        },
        "sql": f"""
            SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                   {SQL_REVENUE} AS revenue,
                   MAX(l_extendedprice) AS max_price,
                   MIN(l_extendedprice) AS min_price
            FROM lineitem GROUP BY 1
        """,
    },
    # -- §2.2 '<>' + AND combinator with range bounds
    # -- §2.8 REGEX_EXTRACT derived dim attribute
    "q27_regex_extract": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "part_noun"}, {"field": "revenue"}],
            "filterExpressions": [DAY_ALL],
        },
        "sql": f"""
            SELECT regexp_extract(p_name, ' ([a-z]+)$', 1) AS part_noun,
                   {SQL_REVENUE} AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        """,
    },
    # -- §2.8 COMPARE_PERCENTAGE-style banded labeling on a snowflake attr
    #    + safe divide `/-` custom rollup (aggregate then divide)
    "q28_banding": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "acct_band"}, {"field": "revenue"},
                             {"field": "discount_rate"},
                             {"field": "line_count"}],
            "filterExpressions": [DAY_ALL],
        },
        "sql": f"""
            SELECT CASE WHEN c_acctbal < 0 THEN 'NEGATIVE'
                        WHEN c_acctbal < 5000 THEN 'LOW'
                        ELSE 'HIGH' END AS acct_band,
                   {SQL_REVENUE} AS revenue,
                   CASE WHEN CAST(SUM({SQL_PRICE}) AS DOUBLE) = 0
                         OR CAST(SUM({SQL_PRICE}) AS DOUBLE) IS NULL THEN 0.0
                        ELSE CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE)
                             / CAST(SUM({SQL_PRICE}) AS DOUBLE)
                   END AS discount_rate,
                   COUNT(*) AS line_count
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
    },
    # -- §2.2 metric filter -> HAVING
    "q11_having": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "part_id"}, {"field": "revenue"}],
            "filterExpressions": [DAY_ALL,
                                  {"field": "revenue", "operator": ">",
                                   "value": 900000}],
        },
        "sql": f"""
            SELECT l_partkey AS part_id, {SQL_REVENUE} AS revenue
            FROM lineitem GROUP BY 1
            HAVING {SQL_REVENUE} > 900000
        """,
    },
    # -- §2.4 rollup family at plain fact grain: AverageRollup + NoopRollup
    #    pass-through (value functionally dependent on the group key, so
    #    first() is deterministic and equals MAX in the oracle) +
    #    RoundedSumRollup (ROUND(SUM(x), 2) at aggregation time)
    "q33_noop_rollup": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "return_flag"},
                             {"field": "status_label"},
                             {"field": "avg_price_rollup"},
                             {"field": "revenue_rounded"},
                             {"field": "revenue"},
                             {"field": "line_count"}],
            "filterExpressions": [DAY_ALL],
        },
        "sql": f"""
            SELECT l_returnflag AS return_flag,
                   MAX(upper(l_returnflag)) AS status_label,
                   CAST((2 * SUM(CAST({SQL_PRICE} * 100 AS HUGEINT)) * 10000
                         + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                       / 1000000.0 AS avg_price_rollup,
                   CAST(ROUND(SUM({SQL_DISC_PRICE}), 2)
                        AS DOUBLE) AS revenue_rounded,
                   {SQL_REVENUE} AS revenue,
                   COUNT(*) AS line_count
            FROM lineitem GROUP BY 1
        """,
    },
    # -- §2.2 forced filters: cube-level overridable (return_flag='R') +
    #    physical table-level (l_linenumber < 7) are both injected
    # -- §2.2 forced filters: variant 'forced' takes the cube + physical
    #    forced filters as-is; variant 'override' replaces the overridable
    #    cube-level forced filter with a user filter on the same alias
    #    while the physical one stays (was q35 + q36 before the 50-entry
    #    cap; one UNION-ALL entry keeps both paths oracle-checked)
    "q35_forced_filter": {
        "requests": [
            ("forced", {
                "cube": "tpch_forced",
                "selectFields": [{"field": "line_status"},
                                 {"field": "revenue"},
                                 {"field": "line_count"}],
                "filterExpressions": [DAY_ALL],
            }),
            ("override", {
                "cube": "tpch_forced",
                "selectFields": [{"field": "line_status"},
                                 {"field": "revenue"},
                                 {"field": "line_count"}],
                "filterExpressions": [DAY_ALL,
                                      {"field": "return_flag",
                                       "operator": "=", "value": "A"}],
            }),
        ],
        "sql": f"""
            SELECT 'forced' AS variant, l_linestatus AS line_status,
                   {SQL_REVENUE} AS revenue, COUNT(*) AS line_count
            FROM lineitem
            WHERE l_returnflag = 'R' AND l_linenumber < 7
            GROUP BY 2
            UNION ALL
            SELECT 'override' AS variant, l_linestatus AS line_status,
                   {SQL_REVENUE} AS revenue, COUNT(*) AS line_count
            FROM lineitem
            WHERE l_returnflag = 'A' AND l_linenumber < 7
            GROUP BY 2
        """,
    },
    # -- §3.1 step 4 timezone: local-day filtering + local-time grouping
    #    (BaseUTCTimeProvider day-shifting; Asia/Kolkata = fixed +05:30 so
    #    the DuckDB oracle can use interval arithmetic without ICU)
    "q30_timezone_day": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "day"}, {"field": "revenue"},
                             {"field": "line_count"}],
            "filterExpressions": [{"field": "day", "operator": "between",
                                   "from": "1996-06-01", "to": "1996-06-30"}],
            "additionalParameters": {"timeZone": "Asia/Kolkata"},
        },
        "sql": f"""
            SELECT CAST(l_shipdate + INTERVAL 330 MINUTE AS DATE) AS day,
                   {SQL_REVENUE} AS revenue, COUNT(*) AS line_count
            FROM lineitem
            WHERE CAST(l_shipdate + INTERVAL 330 MINUTE AS DATE)
                  BETWEEN DATE '1996-06-01' AND DATE '1996-06-30'
            GROUP BY 1
        """,
    },
    # -- §2.10 UDF plumbing: a registered vectorized (Arrow) UDF used by a
    #    derived dimension column (JAVASCRIPT function intent,
    #    DerivedFunction.scala:113; functions.register_pandas_udf), plus
    #    §2.2 JavaScriptFilter parity: arbitrary predicate over fields as a
    #    Spark SQL expression (FilterOperation.scala:278; core/filters.py
    #    ExpressionFilter) — stays in JVM codegen instead of a JS engine
    "q33_udf_function": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "part_name_rev"}, {"field": "revenue"}],
            "filterExpressions": [
                DAY_ALL,
                {"field": "part_size", "operator": "<", "value": 5},
                {"field": "line_number", "operator": "expression",
                 "expression": ("{line_number} * 2 > 8 "
                                "OR {line_status} = 'F'")}],
        },
        "sql": f"""
            SELECT reverse(p_name) AS part_name_rev,
                   {SQL_REVENUE} AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size < 5
              AND (l_linenumber * 2 > 8 OR l_linestatus = 'F')
            GROUP BY 1
        """,
    },
    # -- §2.6 timeseries (grain grouping) + §2.8 DAY_OF_WEEK derived
    #    function
    "q3_daily_revenue": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "day"}, {"field": "day_of_week"},
                             {"field": "revenue"}, {"field": "line_count"}],
            "filterExpressions": [{"field": "day", "operator": "between",
                                   "from": "1996-01-01", "to": "1996-12-31"}],
        },
        "sql": f"""
            SELECT CAST(l_shipdate AS DATE) AS day,
                   dayname(l_shipdate) AS day_of_week,
                   {SQL_REVENUE} AS revenue,
                   COUNT(*) AS line_count
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01'
                  AND DATE '1996-12-31'
            GROUP BY 1, 2
        """,
    },
    # -- §2.2 outer filter on final projected aliases
    "q15_outer_filter": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "nation_name"}, {"field": "revenue"}],
            "filterExpressions": [
                DAY_ALL,
                {"operator": "outer", "filterExpressions": [
                    {"field": "nation_name", "operator": "like", "value": "NATION_1"},
                ]},
            ],
        },
        "sql": f"""
            SELECT * FROM (
                SELECT n_name AS nation_name, {SQL_REVENUE} AS revenue
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1
            ) WHERE nation_name LIKE '%NATION_1%'
        """,
    },
    # -- §2.3 two independent join chains in one query
    "q13_two_chains": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "nation_name"},
                             {"field": "supp_nation_name"},
                             {"field": "revenue"}],
            "filterExpressions": [
                DAY_ALL,
                {"field": "supp_nation_name", "operator": "in",
                 "values": ["NATION_1", "NATION_2", "NATION_3"]},
            ],
        },
        "sql": f"""
            SELECT cn.n_name AS nation_name, sn.n_name AS supp_nation_name,
                   {SQL_REVENUE} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE sn.n_name IN ('NATION_1','NATION_2','NATION_3')
            GROUP BY 1, 2
        """,
    },
    # -- §2.4 AverageRollup through the non-re-aggregatable path: the dim
    #    join forces join-then-agg (or sum/count OGB decomposition) so the
    #    result is the TRUE average over joined rows, never avg-of-avgs.
    #    AVG(DECIMAL(8,2)) has type DECIMAL(12,6). Spark's own avg of so
    #    narrow a decimal is a double average (optimizer rule
    #    DecimalAggregates), so AverageRollup computes the exact
    #    sum/count and the cast to DECIMAL(12,6) rounds it HALF_UP
    #    (core/rollup.exact_avg). The oracle replicates that with integer
    #    arithmetic ((2a+b) // 2b is half-up a/b) because DuckDB divides
    #    decimals as doubles.
    "q32_avg_rollup": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "nation_name"},
                             {"field": "avg_price_rollup"},
                             {"field": "revenue"}],
            "filterExpressions": [DAY_ALL],
        },
        "sql": f"""
            WITH s AS (
                SELECT n_name,
                       SUM(CAST({SQL_PRICE} * 100 AS HUGEINT)) AS cents,
                       COUNT(*) AS n,
                       {SQL_REVENUE} AS revenue
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1
            )
            SELECT n_name AS nation_name,
                   CAST((2 * cents * 10000 + n) // (2 * n) AS DOUBLE)
                       / 1000000.0 AS avg_price_rollup,
                   revenue
            FROM s
        """,
    },
    # -- §2.7 union view (UNION ALL with per-branch constants)
    "q16_union_view": {
        "request": {
            "cube": "tpch_union",
            "selectFields": [{"field": "view_name"}, {"field": "return_flag"},
                             {"field": "revenue"}],
            "filterExpressions": [DAY_ALL],
        },
        "sql": f"""
            SELECT view_name, l_returnflag AS return_flag,
                   {SQL_REVENUE} AS revenue
            FROM (
                SELECT 'current' AS view_name, * FROM lineitem
                UNION ALL
                SELECT 'adjustment' AS view_name, * FROM lineitem
            ) GROUP BY 1, 2
        """,
    },
}

#: cube queries outside the contract. Same structure as QUERIES;
#: pinned against their DuckDB oracles by
#: tests/test_offcontract_queries.py.
OFFCONTRACT_QUERIES: dict[str, dict] = {
    # -- §1.2 filter on a static-mapped label: reverse map expands the
    #    label back to raw values (DataType.scala reverseStaticMapping;
    #    the decode direction is covered by q7)
    "q29_static_mapping_filter": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "line_status"}, {"field": "revenue"}],
            "filterExpressions": [DAY_ALL,
                                  {"field": "order_status", "operator": "=",
                                   "value": "OPEN"}],
        },
        "sql": f"""
            SELECT l_linestatus AS line_status, {SQL_REVENUE} AS revenue
            FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                 WHERE o_orderstatus = 'O')
            GROUP BY 1
        """,
    },
    # -- §2.4 dim-only SELECT DISTINCT
    "q14_distinct_dims": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "order_status"},
                             {"field": "order_priority"}],
            "filterExpressions": [DAY_ALL],
            "distinct": True,
        },
        "sql": f"""
            SELECT DISTINCT {ORDER_STATUS_SQL} AS order_status,
                   o_orderpriority AS order_priority
            FROM orders
        """,
    },
    # -- §2.8 post-result function: metric exposed only when the status
    #    dim matches (POST_RESULT_DECODE)
    "q31_post_result_decode": {
        "request": {
            "cube": "events_cube",
            "selectFields": [{"field": "event_type"},
                             {"field": "event_count"},
                             {"field": "value_if_click"}],
            "filterExpressions": [EV_DAY],
        },
        "sql": """
            SELECT event_type, COUNT(*) AS event_count,
                   CASE WHEN event_type = 'click'
                        THEN CAST(SUM(CAST(value AS DECIMAL(8,5))) AS DOUBLE)
                        ELSE NULL END AS value_if_click
            FROM events GROUP BY 1
        """,
    },
    # -- §2.5 dim-driven TOTALROWS
    "q37_dim_rowcount": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "order_key"},
                             {"field": "order_priority"},
                             {"field": "revenue"}],
            "filterExpressions": [DAY_ALL],
            "sortBy": [{"field": "order_priority", "order": "ASC"}],
            "forceDimensionDriven": True,
            "paginationStartIndex": 5,
            "rowsPerPage": 10,
            "includeRowCount": True,
        },
        "sql": f"""
            WITH page AS (
                SELECT o_orderkey, o_orderpriority FROM orders
                ORDER BY o_orderpriority ASC, o_orderkey ASC
                LIMIT 10 OFFSET 5
            ), f AS (
                SELECT l_orderkey, {SQL_REVENUE} AS revenue
                FROM lineitem GROUP BY 1
            ), t AS (SELECT COUNT(*) AS TOTALROWS FROM orders)
            SELECT o_orderkey AS order_key, o_orderpriority AS order_priority,
                   COALESCE(f.revenue, 0.0) AS revenue, TOTALROWS
            FROM page LEFT JOIN f ON o_orderkey = l_orderkey CROSS JOIN t
        """,
    },
    # -- §2.2 OR combinator + NOT LIKE + IS NOT NULL
    "q22_or_notlike": {
        "request": {
            "cube": "tpch",
            "selectFields": [{"field": "brand"}, {"field": "revenue"}],
            "filterExpressions": [
                DAY_ALL,
                {"operator": "or", "filterExpressions": [
                    {"field": "part_size", "operator": "<", "value": 15},
                    {"field": "brand", "operator": "not like",
                     "value": "rand#1"},
                ]},
                {"field": "part_name", "operator": "isnotnull"},
            ],
        },
        "sql": f"""
            SELECT p_brand AS brand, {SQL_REVENUE} AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_size < 15 OR p_brand NOT LIKE '%rand#1%')
              AND p_name IS NOT NULL
            GROUP BY 1
        """,
    },
}


def ensure_udfs(spark) -> None:
    """Register the contract's UDFs once per session (the reference's
    registered-UDF statements prepended to generated queries,
    HiveQueryGeneratorCommon; SURVEY §2.10)."""
    from ..functions import register_pandas_udf, registered_functions
    if "py_reverse" in registered_functions(spark):
        return
    register_pandas_udf(
        spark, "py_reverse",
        lambda s: s.map(lambda x: None if x is None else x[::-1]),
        "string")


def run_query(spark, sf_dir: str, name: str):
    """Execute one contract query through the full engine."""
    from ..engine import engine_for_dir
    q = QUERIES.get(name) or OFFCONTRACT_QUERIES[name]
    ensure_udfs(spark)
    eng = engine_for_dir(spark, build_contract_registry(), sf_dir)
    if "requests" in q:
        # multi-variant entry: UNION ALL of per-variant engine runs with a
        # label column (each variant is a full engine lifecycle)
        from pyspark.sql import functions as F
        df = None
        for label, req in q["requests"]:
            part = eng.dataframe(req).select(
                F.lit(label).alias("variant"), "*")
            df = part if df is None else df.unionByName(part)
    else:
        df = eng.dataframe(q["request"])
    return df


def _declared_rollup(spark, src_dir: str, cube: str, name: str) -> tuple:
    """``(spark, binding, registry, cube, table)`` — the
    ``registry/materializer.py`` arguments that build the declared
    rollup ``name`` of ``cube`` from the raw tables under ``src_dir``."""
    from ..plans.binding import ParquetBinding

    reg = build_contract_registry()
    fact = reg.fact(cube)
    table = next(t for t in fact.tables if t.name == name)
    return spark, ParquetBinding(spark, src_dir), reg, fact, table


def materialize_lineitem_rollup(spark, src_dir: str, dst_dir: str,
                                partitioned: bool = False) -> str:
    """Write the ``lineitem_daily`` rollup (day, return flag, line
    status) from the raw lineitem under ``src_dir`` into ``dst_dir``;
    ``partitioned=True`` writes the Hive day-partitioned layout that
    ``refresh_lineitem_rollup`` maintains."""
    from ..registry.materializer import materialize_rollup
    return materialize_rollup(
        *_declared_rollup(spark, src_dir, "tpch", "lineitem_daily"),
        dst_dir, partitioned=partitioned)


def refresh_lineitem_rollup(spark, src_dir: str, dst_dir: str,
                            from_day: str, to_day: str) -> str:
    """Re-aggregate ``[from_day, to_day]`` (inclusive, 'YYYY-MM-DD') of
    the PARTITIONED ``lineitem_daily`` rollup; days outside the range
    are untouched (``refresh_rollup``)."""
    from ..registry.materializer import refresh_rollup
    return refresh_rollup(
        *_declared_rollup(spark, src_dir, "tpch", "lineitem_daily"),
        dst_dir, from_day, to_day)


def materialize_lineitem_part_rollup(spark, src_dir: str, dst_dir: str,
                                     partitioned: bool = False) -> str:
    """Write the ``lineitem_daily_part`` rollup (day, part key) — the
    q2/q11 serving shape."""
    from ..registry.materializer import materialize_rollup
    return materialize_rollup(
        *_declared_rollup(spark, src_dir, "tpch", "lineitem_daily_part"),
        dst_dir, partitioned=partitioned)


def materialize_lineitem_nation_rollup(spark, src_dir: str, dst_dir: str,
                                       partitioned: bool = False) -> str:
    """Write the ``lineitem_daily_nation`` AGGREGATE-JOIN rollup (day,
    customer nation, market segment): the orders -> customer -> nation
    join is paid here, once. ``partitioned=True`` writes the layout
    ``refresh_lineitem_nation_rollup`` maintains."""
    from ..registry.materializer import materialize_rollup
    return materialize_rollup(
        *_declared_rollup(spark, src_dir, "tpch", "lineitem_daily_nation"),
        dst_dir, partitioned=partitioned)


def refresh_lineitem_nation_rollup(spark, src_dir: str, dst_dir: str,
                                   from_day: str, to_day: str) -> str:
    """Day-range restatement of the PARTITIONED aggregate-join rollup:
    only the restated days' line items re-join the customer chain
    (``refresh_rollup``)."""
    from ..registry.materializer import refresh_rollup
    return refresh_rollup(
        *_declared_rollup(spark, src_dir, "tpch", "lineitem_daily_nation"),
        dst_dir, from_day, to_day)


def materialize_events_rollup(spark, src_dir: str, dst_dir: str) -> str:
    """Write the flat ``events_hourly`` rollup (hour, event type) from
    the raw events under ``src_dir`` — the content the streaming
    maintainer emits (tests/test_stream_rollup.py pins stream ==
    batch)."""
    from ..registry.materializer import materialize_rollup
    return materialize_rollup(
        *_declared_rollup(spark, src_dir, "events_cube", "events_hourly"),
        dst_dir)
