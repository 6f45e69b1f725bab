"""Advisor loop, apply side (registry/materializer.py): a
RollupRecommendation materializes into a physical aggregate + FactTable
registration that the planner then serves through the existing candidate
selection and chain rebasing — advise -> materialize -> register ->
serve, pinned equivalent to the raw fact."""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.engine import engine_for_dir  # noqa: E402
from maha_spark.examples.tpch import build_registry  # noqa: E402
from maha_spark.registry.advisor import _NdvProbe, recommend_rollups  # noqa: E402
from maha_spark.registry.materializer import (  # noqa: E402
    apply_recommendation, rollup_table_from_recommendation)

SRC = "/root/testdata/sf0.001"
DAY = [{"field": "Day", "operator": "between",
        "from": "1995-01-01", "to": "2001-12-31"}]


def _req(fields):
    return {"cube": "lineitem_stats",
            "selectFields": [{"field": f} for f in fields],
            "filterExpressions": DAY}


def _approx_eq(a, b):
    """Row-set equality up to IEEE re-association of double partials
    (the documented float caveat — hand-built rollups cents-quantize
    for bit identity; the generic materializer does not)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x == y:
                continue
            if isinstance(x, float) and isinstance(y, float) \
                    and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                continue
            return False
    return True


@pytest.fixture(scope="module")
def applied(spark, tmp_path_factory):
    """Symlinked sf0.001 dir + the advisor's top recommendation
    materialized and registered; returns (registry, dir, rec, table)."""
    d = str(tmp_path_factory.mktemp("advised"))
    for t in os.listdir(SRC):
        os.symlink(os.path.join(SRC, t), os.path.join(d, t))
    reg = build_registry()
    eng = engine_for_dir(spark, reg, d)
    logs = ([json.dumps(_req(["Nation Name", "Region Name", "Revenue"]))] * 5
            + [json.dumps(_req(["Nation Name", "Market Segment",
                                "Revenue"]))] * 3)
    probe = _NdvProbe.fixed(
        rows={"lineitem": 600_000_000, "orders": 150_000_000,
              "customer": 15_000_000, "nation": 25, "region": 5},
        ndvs={("lineitem", "l_shipdate"): 2500,
              ("customer", "c_mktsegment"): 5,
              ("nation", "n_name"): 25, ("region", "r_name"): 5})
    recs = recommend_rollups(eng, logs, top_n=3, probe=probe)
    rec = recs[0]       # union: nation entry fk + materialized mktsegment
    table = apply_recommendation(eng, rec, d, "advised_rollup")
    return reg, d, rec, table


def _engines(spark, reg, d):
    return (engine_for_dir(spark, build_registry(), SRC),   # raw-only
            engine_for_dir(spark, reg, d))                   # with rollup


@pytest.mark.parametrize("fields", [
    ["Nation Name", "Region Name", "Revenue", "Total Quantity",
     "Line Count"],
    ["Nation Name", "Market Segment", "Revenue"],        # materialized attr
    ["Nation Name", "Max Price", "Min Price", "Returned Quantity"],
    ["Region Name", "Charge"],                           # deeper chain only
    ["Month", "Nation Name", "Revenue"],     # day-derived dim re-declared
])
def test_served_from_advised_rollup_and_matches_raw(spark, applied, fields):
    reg, d, _rec, _t = applied
    raw, rolled = _engines(spark, reg, d)
    q = _req(fields)
    assert rolled.model(q).fact_table.name == "advised_rollup"
    a = sorted(map(tuple, raw.dataframe(q).collect()))
    b = sorted(map(tuple, rolled.dataframe(q).collect()))
    assert a and _approx_eq(a, b)


@pytest.mark.parametrize("fields", [
    ["Nation Name", "Order Count"],          # exact distinct: excluded
    ["Nation Name", "Average Price"],        # avg rollup: excluded
    ["Nation Name", "Order Priority", "Revenue"],  # skipped-dim attr
    ["Return Flag", "Revenue"],              # fact dim not in the grain
])
def test_uncoverable_requests_fall_back_to_raw(spark, applied, fields):
    reg, d, _rec, _t = applied
    raw, rolled = _engines(spark, reg, d)
    q = _req(fields)
    assert rolled.model(q).fact_table.name == "lineitem"
    a = sorted(map(tuple, raw.dataframe(q).collect()))
    b = sorted(map(tuple, rolled.dataframe(q).collect()))
    assert a and a == b


def test_declaration_shape(applied):
    _reg, _d, rec, t = applied
    cols = t.columns
    # grain: day col + fk + materialized attr
    assert "l_shipdate" in cols and "customer_nation_fk" in cols
    assert cols["customer_nation_fk"].foreign_key == "customer_nation"
    assert cols["c_mktsegment"].materializes == "customer.c_mktsegment"
    # lossless partials carried, re-declared per the hand-built convention
    assert type(cols["line_count"].rollup).__name__ == "SumRollup"
    assert type(cols["returned_qty"].rollup).__name__ == "SumRollup"
    assert type(cols["max_price"].rollup).__name__ == "MaxRollup"
    # non-reaggregatable metrics excluded -> coverage rejects, raw serves
    for gone in ("order_count_distinct", "order_count_approx",
                 "avg_price", "l_discount"):
        assert gone not in cols and gone in t.discarded
    # derived dims over stored cols re-declared verbatim
    for kept in ("ship_day", "ship_month", "ship_week"):
        assert kept in cols
    # derived fact exprs whose refs are stored partials carried
    assert "avg_discount_rate" in cols
    assert t.grain_cols and t.cost == rec.suggested_cost


@pytest.mark.slow
def test_partitioned_refresh_bit_identical_and_scoped(spark, applied,
                                                      tmp_path_factory):
    """The advised rollup gets the same maintenance contract as the
    hand-built ones: a day-range refresh restores corrupted partitions
    bit-identically to the full build, and days outside the range are
    physically untouched."""
    import shutil

    from maha_spark.registry.materializer import (
        materialize_recommendation, refresh_recommendation)
    reg, d, rec, _t = applied
    cube = reg.fact("lineitem_stats")

    work = str(tmp_path_factory.mktemp("advised_part"))
    for t in os.listdir(SRC):
        os.symlink(os.path.join(SRC, t), os.path.join(work, t))
    eng = engine_for_dir(spark, reg, work)
    out = materialize_recommendation(spark, eng.binding, reg, cube, rec,
                                     work, "advised_part",
                                     partitioned=True)
    full = _part_rows(spark, out)
    days = sorted(f.split("=", 1)[1] for f in os.listdir(out)
                  if f.startswith("dt="))
    lo, hi = days[2], days[4]
    # corrupt the range: drop one day dir, truncate another
    shutil.rmtree(os.path.join(out, f"dt={days[2]}"))
    victim = os.path.join(out, f"dt={days[3]}")
    for f in os.listdir(victim):
        os.unlink(os.path.join(victim, f))
    outside = {f: sorted(os.listdir(os.path.join(out, f)))
               for f in os.listdir(out) if f.startswith("dt=")
               and not (lo <= f.split("=", 1)[1] <= hi)}
    mtimes = {f: os.path.getmtime(os.path.join(out, f)) for f in outside}
    refresh_recommendation(spark, eng.binding, reg, cube, rec, work,
                           "advised_part", lo, hi)
    assert _part_rows(spark, out) == full
    for f, listing in outside.items():
        assert sorted(os.listdir(os.path.join(out, f))) == listing
        assert os.path.getmtime(os.path.join(out, f)) == mtimes[f]


def _part_rows(spark, path):
    df = spark.read.parquet(path)
    keys = ["dt", "customer_nation_fk", "c_mktsegment"]
    cols = keys + sorted(c for c in df.columns if c not in keys)
    return sorted(
        map(tuple, df.select(*cols).collect()),
        key=lambda r: tuple((v is None, v) for v in r[:3]))


def test_materialized_rows_at_expected_grain(spark, applied):
    reg, d, _rec, _t = applied
    df = spark.read.parquet(os.path.join(d, "advised_rollup.parquet"))
    n = df.count()
    keys = df.select("l_shipdate", "customer_nation_fk",
                     "c_mktsegment").distinct().count()
    assert n == keys            # one row per grain key
    raw = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
    assert n < raw.count()      # it actually aggregates
    assert "dt" in df.columns


def test_refresh_refuses_flat_layout(spark, applied):
    """The binding gives a dt= directory precedence over {name}.parquet:
    refreshing a flat-layout table would create a partial directory that
    silently shadows the complete table — the refresh must refuse."""
    from maha_spark.registry.materializer import refresh_recommendation
    reg, d, rec, _t = applied
    cube = reg.fact("lineitem_stats")
    eng = engine_for_dir(spark, reg, d)
    with pytest.raises(FileNotFoundError, match="partitioned=True"):
        refresh_recommendation(spark, eng.binding, reg, cube, rec, d,
                               "advised_rollup", "1995-01-01",
                               "1995-01-03")


def test_carried_rollup_rounded_sum_integer_only():
    """round(sum(round(double partials))) can be off by a whole rounding
    unit, not an ulp — RoundedSum carries only on integer columns (the
    hand-built cents convention)."""
    from maha_spark.core.rollup import RoundedSumRollup, SumRollup
    from maha_spark.core.types import DecType, IntType
    from maha_spark.registry.materializer import _carried_rollup
    assert isinstance(_carried_rollup(RoundedSumRollup(scale=2), IntType()),
                      RoundedSumRollup)
    assert _carried_rollup(RoundedSumRollup(scale=2), DecType()) is None
    assert isinstance(_carried_rollup(SumRollup(), DecType()), SumRollup)


def test_sub_day_guard_matches_format_tokens():
    from maha_spark.registry.materializer import _SUB_DAY
    for bad in ("date_format({ts}, 'HH')", "date_format({ts}, 'HH:mm')",
                "GET_INTERVAL_DATE({ts}, 'H')", "hour({ts})"):
        assert _SUB_DAY.search(bad), bad
    for ok in ("GET_INTERVAL_DATE({ts}, 'M')", "CAST({ts} AS DATE)",
               "date_format({ts}, 'yyyy')", "DAY_OF_WEEK({ts})"):
        assert not _SUB_DAY.search(ok), ok


def test_materialized_column_carries_behavioral_flags(applied):
    """ADVICE r7: the materialized DimCol must carry the source dim
    column's behavioral flags (case_insensitive — planner.resolve reads
    it off the FACT column), while positional dim-table flags
    (parent FK / day / partition) do not transfer."""
    import dataclasses as dc

    from maha_spark.registry.advisor import ChainEncoding
    _reg, _d, rec, _t = applied
    reg = build_registry()
    cube = reg.fact("lineitem_stats")
    enc = ChainEncoding(
        fact_fk_col="l_orderkey", entry_dim="customer_nation",
        materialized=(("customer", "Customer Name", "c_name"),
                      ("customer", "Nation FK", "c_nationkey")))
    rec2 = dc.replace(rec, chains=(enc,))
    t2 = rollup_table_from_recommendation(reg, cube, rec2, "flags")
    c = t2.columns["c_name"]
    assert c.case_insensitive is True          # tpch c_name declares it
    assert c.materializes == "customer.c_name"
    # c_nationkey is a parent FK on the dim table; the denormalized fact
    # copy must NOT present itself as a chain FK
    assert t2.columns["c_nationkey"].foreign_key is None


def test_flag_mismatched_materialized_col_never_covered(spark, applied):
    """dim_cover requires behavioral-flag parity between the dim column
    and the materialized fact column: a mismatch would silently change
    filter matching semantics, so the request falls back to raw."""
    import dataclasses as dc
    reg2 = build_registry()
    cube = reg2.fact("lineitem_stats")
    _reg, d, rec, _t = applied
    t2 = rollup_table_from_recommendation(reg2, cube, rec, "advised_rollup")
    t2.columns["c_mktsegment"] = dc.replace(
        t2.columns["c_mktsegment"], case_insensitive=True)  # dim col: False
    cube.tables.append(t2)
    eng = engine_for_dir(spark, reg2, d)
    q = _req(["Nation Name", "Market Segment", "Revenue"])
    assert eng.model(q).fact_table.name == "lineitem"
    # the same table still serves requests not touching the segment
    q2 = _req(["Nation Name", "Revenue"])
    assert eng.model(q2).fact_table.name == "advised_rollup"


def test_chain_frame_unions_forked_snowflake_branches(spark):
    """ADVICE r7: on a forked snowflake (one dim with two parent
    branches), materialized attributes on BOTH branches must land in the
    chain frame — the old single-path walk silently dropped one branch."""
    from maha_spark.core.columns import DimCol
    from maha_spark.core.types import IntType, StrType
    from maha_spark.registry.advisor import ChainEncoding
    from maha_spark.registry.cube import (DimensionTable, FactTable,
                                          PubCol, PublicDimension, Registry)
    from maha_spark.registry.materializer import _chain_frame

    reg = Registry()
    reg.register_dimension(PublicDimension(
        name="brand", table=DimensionTable(
            name="brand", primary_key="b_id", level=1,
            columns={"b_id": DimCol("b_id", IntType()),
                     "b_name": DimCol("b_name", StrType())}),
        pub_cols=[PubCol("Brand Id", "b_id"), PubCol("Brand", "b_name")]))
    reg.register_dimension(PublicDimension(
        name="vendor", table=DimensionTable(
            name="vendor", primary_key="v_id", level=1,
            columns={"v_id": DimCol("v_id", IntType()),
                     "v_name": DimCol("v_name", StrType())}),
        pub_cols=[PubCol("Vendor Id", "v_id"), PubCol("Vendor", "v_name")]))
    reg.register_dimension(PublicDimension(
        name="product", table=DimensionTable(
            name="product", primary_key="p_id", level=2,
            parent_keys={"b_fk": "brand", "v_fk": "vendor"},
            columns={"p_id": DimCol("p_id", IntType()),
                     "b_fk": DimCol("b_fk", IntType(), foreign_key="brand"),
                     "v_fk": DimCol("v_fk", IntType(),
                                    foreign_key="vendor")}),
        pub_cols=[PubCol("Product Id", "p_id")]))

    base = FactTable(
        name="sales", day_column="",
        columns={"prod_fk": DimCol("prod_fk", IntType(),
                                   foreign_key="product")})
    dfs = {
        "brand": spark.createDataFrame([(1, "acme"), (2, "zeta")],
                                       "b_id long, b_name string"),
        "vendor": spark.createDataFrame([(10, "north"), (11, "south")],
                                        "v_id long, v_name string"),
        "product": spark.createDataFrame(
            [(100, 1, 11), (101, 2, 10), (102, 2, None)],
            "p_id long, b_fk long, v_fk long"),
    }

    class B:
        def table(self, n):
            return dfs[n]

    # fully-materialized chain: attrs from BOTH branches, no entry FK
    enc = ChainEncoding(fact_fk_col="prod_fk", entry_dim=None,
                        materialized=(("brand", "Brand", "b_name"),
                                      ("vendor", "Vendor", "v_name")))
    jf, fk = _chain_frame(B(), reg, base, enc)
    assert fk == "prod_fk"
    assert {"__join_key", "b_name", "v_name"} <= set(jf.columns)
    rows = {r["__join_key"]: (r["b_name"], r["v_name"])
            for r in jf.collect()}
    # left-join semantics: missing vendor keeps NULL
    assert rows == {100: ("acme", "south"), 101: ("zeta", "north"),
                    102: ("zeta", None)}

    # entry on one branch + materialized attr on the OTHER branch
    enc2 = ChainEncoding(fact_fk_col="prod_fk", entry_dim="brand",
                         materialized=(("vendor", "Vendor", "v_name"),))
    jf2, _ = _chain_frame(B(), reg, base, enc2)
    assert {"__join_key", "brand_fk", "v_name"} <= set(jf2.columns)
    rows2 = {r["__join_key"]: (r["brand_fk"], r["v_name"])
             for r in jf2.collect()}
    assert rows2 == {100: (1, "south"), 101: (2, "north"), 102: (2, None)}


@pytest.mark.slow
def test_refresh_self_compacts_fragmented_days(spark, applied,
                                               tmp_path_factory):
    """The maintenance loop closes its own loop: a day fragmented by
    out-of-band appends (the streaming-sink failure mode) is bin-packed
    back to one file by the NEXT refresh cycle — even when that day is
    outside the refreshed window — with the table's rows bit-identical
    throughout and already-compact days physically untouched."""
    from maha_spark.registry.materializer import (
        materialize_recommendation, refresh_recommendation)
    reg, d, rec, _t = applied
    cube = reg.fact("lineitem_stats")

    work = str(tmp_path_factory.mktemp("advised_compact"))
    for t in os.listdir(SRC):
        os.symlink(os.path.join(SRC, t), os.path.join(work, t))
    eng = engine_for_dir(spark, reg, work)
    out = materialize_recommendation(spark, eng.binding, reg, cube, rec,
                                     work, "advised_cpt",
                                     partitioned=True)
    full = _part_rows(spark, out)
    days = sorted(f.split("=", 1)[1] for f in os.listdir(out)
                  if f.startswith("dt="))
    # fragment the densest day (one file PER ROW — the worst append
    # pattern) and pick a DIFFERENT day as the refresh window
    counts = {str(r["dt"]): r["count"] for r in
              spark.read.parquet(out).groupBy("dt").count().collect()}
    frag = max(counts, key=lambda d: counts[d])
    frag_dir = os.path.join(out, f"dt={frag}")
    day_df = (spark.read.parquet(out)
              .filter(f"dt = '{frag}'").localCheckpoint(eager=True))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (day_df.repartition(1).write.mode("overwrite")
           .option("maxRecordsPerFile", 1)
           .partitionBy("dt").parquet(out))
    n_before = len([f for f in os.listdir(frag_dir)
                    if f.endswith(".parquet")])
    assert n_before >= 2
    ref = next(x for x in days if x != frag)   # refresh a DIFFERENT day
    untouched = {f: sorted(os.listdir(os.path.join(out, f)))
                 for f in os.listdir(out)
                 if f.startswith("dt=")
                 and f.split("=", 1)[1] not in (frag, ref)}

    refresh_recommendation(spark, eng.binding, reg, cube, rec, work,
                           "advised_cpt", ref, ref)
    n_after = len([f for f in os.listdir(frag_dir)
                   if f.endswith(".parquet")])
    assert n_after == 1, f"{n_before} -> {n_after}"
    assert _part_rows(spark, out) == full
    for f, listing in untouched.items():
        assert sorted(os.listdir(os.path.join(out, f))) == listing


@pytest.mark.slow
def test_refresh_keeps_skipping_sidecar_fresh(spark, applied,
                                              tmp_path_factory):
    """The maintenance loop closes over the data-skipping index: a
    day-range refresh (which rewrites dt= dirs and bumps the root mtime,
    making any sidecar stale) finishes by refreshing the sidecar for
    exactly the rewritten days — needle pruning stays enabled across
    refresh cycles without a separate job."""
    import shutil

    from maha_spark.plans.skipping import (
        build_skipping_index, index_stale, prune_files, table_index_dir)
    from maha_spark.registry.materializer import (
        materialize_recommendation, refresh_recommendation)

    reg, d, rec, _t = applied
    cube = reg.fact("lineitem_stats")
    work = str(tmp_path_factory.mktemp("advised_skipidx"))
    for t in os.listdir(SRC):
        os.symlink(os.path.join(SRC, t), os.path.join(work, t))
    eng = engine_for_dir(spark, reg, work)
    out = materialize_recommendation(spark, eng.binding, reg, cube, rec,
                                     work, "advised_part",
                                     partitioned=True)
    idx = table_index_dir(work, "advised_part")
    build_skipping_index(spark, out, ["customer_nation_fk"], idx)
    assert not index_stale(out, idx, "customer_nation_fk")

    days = sorted(f.split("=", 1)[1] for f in os.listdir(out)
                  if f.startswith("dt="))
    lo, hi = days[1], days[2]
    shutil.rmtree(os.path.join(out, f"dt={days[1]}"))   # corrupt one day
    refresh_recommendation(spark, eng.binding, reg, cube, rec, work,
                           "advised_part", lo, hi)
    # refresh rewrote dt= dirs AND re-indexed them: sidecar fresh, every
    # indexed path live, needle pruning still answers
    assert not index_stale(out, idx, "customer_nation_fk")
    df = spark.read.parquet(os.path.join(idx,
                                         "skip_customer_nation_fk.parquet"))
    for r in df.select("file").collect():
        f = r["file"]
        assert os.path.exists(f[len("file:"):] if f.startswith("file:")
                              else f), f
    kept = prune_files(spark, idx, "customer_nation_fk", 3)
    assert kept  # value exists -> non-empty keep from a FRESH sidecar


def test_advised_declaration_is_daily_over_an_hourly_base():
    """The materializer truncates advised rows to the day, so the
    declaration says DAILY even over the hourly events cube."""
    from maha_spark.core.grain import DAILY, HOURLY
    from maha_spark.examples.contract import build_contract_registry
    from maha_spark.registry.advisor import RollupRecommendation
    reg = build_contract_registry()
    cube = reg.fact("events_cube")
    assert cube.base_table.grain == HOURLY
    rec = RollupRecommendation(
        cube="events_cube", fact_table="events", fact_cols=("event_type",),
        chains=(), est_rows=1, fact_rows=1, coverage=1.0, n_covered=1,
        n_eligible=1, suggested_cost=1, base_cost=1)
    t = rollup_table_from_recommendation(reg, cube, rec, "ev_daily")
    assert t.grain == DAILY


def test_stored_dim_needs_exactly_one_base_fk_path():
    """A stored FK or materialized attribute is joined in through the
    one base FK whose chain reaches its dim; none or several is a
    declaration error, not a guess."""
    from maha_spark.core.columns import DimCol
    from maha_spark.examples.contract import build_contract_registry
    from maha_spark.registry.cube import FactTable
    from maha_spark.registry.materializer import _base_fk
    reg = build_contract_registry()
    base = reg.fact("tpch").base_table
    assert _base_fk(reg, base, "customer_nation") == "l_orderkey"
    assert _base_fk(reg, base, "supplier_region") == "l_suppkey"
    with pytest.raises(ValueError, match="0 foreign keys"):
        _base_fk(reg, base, "no_such_dim")
    twice = FactTable(name="f", columns={
        "a": DimCol("a", foreign_key="orders"),
        "b": DimCol("b", foreign_key="customer")})
    with pytest.raises(ValueError, match="2 foreign keys"):
        _base_fk(reg, twice, "customer_nation")
