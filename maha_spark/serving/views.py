"""Flattened semantic views: one row-level view per cube.

A BI tool speaking JDBC issues plain SQL -- ``SELECT "Nation Name",
SUM("Revenue") ... GROUP BY 1`` -- against a star it can discover via
catalog metadata. The reference satisfies this with a Calcite parser that
rewrites SQL into a ReportingRequest (MahaCalciteSqlParser.scala:248-380);
the Spark-first shape is to *publish the semantic layer as a view* and let
Spark SQL plan the query:

* every public dim alias is projected (static-mapping decodes applied);
* every snowflake dimension chain reachable from the fact's FKs is joined
  (broadcast left-outer) and its public aliases projected;
* every re-aggregatable metric is projected as its ROW-LEVEL source
  expression, so the client's own GROUP BY + SUM/MAX/MIN/AVG/COUNT
  reproduces the cube's rollup semantics (FilteredRollup renders as
  CASE WHEN cond THEN src END so SUM skips non-matching rows);
* cube-level forced filters are baked into the view.

Post-aggregation metrics (DerivedFactCol ratios, PostResultCol) are not
row-level-expressible and are intentionally not published -- a JDBC client
computes SUM(a)/SUM(b) itself, which is exactly the safe-divide contract.

Scale: the view is a *logical* plan -- filters/pruning push through the
projection into the parquet scans, dims broadcast; nothing materializes
until a client query runs, and that query plans exactly like the
planner's own agg/join shapes.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.columns import BaseCol, DerivedFactCol, FactCol, PostResultCol
from ..core.filters import ResolvedField
from ..core.rollup import CountRollup, FilteredRollup
from ..plans.binding import TableBinding
from ..plans.planner import _col_sql, _decode_sql, _inner_sql, _q
from ..registry.cube import PublicDimension, Registry

DOMAIN_VIEW = "maha_domain"


def _metric_row_sql(table_cols: dict[str, BaseCol], col: FactCol) -> str:
    """Row-level source expression whose client-side aggregation equals the
    cube's rollup (RollupExpression.scala:29-93 semantics)."""
    if isinstance(col.rollup, CountRollup):
        return "1"  # SUM over it == COUNT(*)
    if col.expr:
        resolver = {n: _inner_sql(table_cols, n) for n in table_cols}
        from ..core.columns import expand_expr
        src = expand_expr(col.expr, resolver)
    else:
        src = _col_sql(table_cols, col.name)
    if isinstance(col.rollup, FilteredRollup):
        # NULL outside the condition: ignored by SUM/MIN/MAX/COUNT alike
        return (f"CASE WHEN ({col.rollup.condition_sql}) "
                f"THEN ({src}) ELSE NULL END")
    return src


def _dim_chain_df(registry: Registry, binding: TableBinding,
                  dim: PublicDimension,
                  used_aliases: set[str]) -> tuple[DataFrame, str]:
    """Dimension + all snowflake ancestors joined into one broadcastable
    side, projecting each level's public aliases (Registry join-path
    semantics, registry/Registry.scala:776). Returns (df, pk_col_name)."""
    t = dim.table
    pk_out = f"__pk_{dim.name}"
    cols = [F.col(_q(t.primary_key)).alias(pk_out)]
    for fk_col in t.parent_keys:
        if fk_col != t.primary_key:
            cols.append(F.col(_q(fk_col)).alias(f"__fk_{dim.name}_{fk_col}"))
    for p in dim.pub_cols:
        if p.hidden_from_json or p.alias in used_aliases:
            continue
        used_aliases.add(p.alias)
        cols.append(F.expr(_decode_sql(t.columns, p)).alias(p.alias))
    df = binding.table(t.name).select(*cols)
    for fk_col, parent_name in t.parent_keys.items():
        parent = registry.dimension(parent_name)
        pdf, ppk = _dim_chain_df(registry, binding, parent, used_aliases)
        fk_ref = f"__fk_{dim.name}_{fk_col}"
        df = df.join(F.broadcast(pdf), df[_q(fk_ref)] == pdf[_q(ppk)],
                     "left_outer").drop(fk_ref, ppk)
    return df, pk_out


def cube_view_df(spark: SparkSession, registry: Registry,
                 binding: TableBinding, cube_name: str) -> DataFrame:
    """The flattened row-level semantic view for one cube."""
    fact = registry.fact(cube_name)
    table = fact.base_table

    # load (union view parts with per-part constants, fact/View.scala:24-37)
    if table.parts:
        dfs = []
        for part in table.parts:
            d = binding.table(part.table)
            for cname, v in part.constants.items():
                d = d.withColumn(cname, F.lit(v))
            dfs.append(d)
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d, allowMissingColumns=True)
    else:
        df = binding.table(table.name)

    # cube-level forced filters over physical columns (fact/Fact.scala:433)
    for ff in table.forced_filters:
        def raw_resolve(alias: str, _t=table) -> ResolvedField:
            col = _t.columns.get(alias)
            return ResolvedField(_col_sql(_t.columns, alias),
                                 dtype=col.dtype if col else None)
        df = df.filter(F.expr(ff.to_sql(raw_resolve, None)))

    used: set[str] = set()
    cols = []
    fk_keep: list[tuple[str, str]] = []  # (physical fk col, dim name)
    for p in fact.pub_cols:
        if p.hidden_from_json or p.alias in used:
            continue
        used.add(p.alias)
        cols.append(F.expr(_decode_sql(table.columns, p)).alias(p.alias))
    for p in fact.pub_fact_cols:
        if p.hidden_from_json or p.alias in used:
            continue
        col = table.columns.get(p.name)
        if not isinstance(col, FactCol):
            continue  # DerivedFactCol / PostResultCol: post-agg only
        used.add(p.alias)
        cols.append(F.expr(_metric_row_sql(table.columns, col)).alias(p.alias))
    for fk_col, dim_name in table.fk_columns().items():
        fk_keep.append((fk_col, dim_name))
        cols.append(F.col(_q(fk_col)).alias(f"__join_{fk_col}"))

    out = df.select(*cols)
    for fk_col, dim_name in fk_keep:
        dim = registry.dimension(dim_name)
        ddf, pk = _dim_chain_df(registry, binding, dim, used)
        jref = f"__join_{fk_col}"
        out = out.join(F.broadcast(ddf), out[_q(jref)] == ddf[_q(pk)],
                       "left_outer").drop(jref, pk)
    return out


_SAFE = re.compile(r"[^A-Za-z0-9_]")


def view_name(cube_name: str) -> str:
    return _SAFE.sub("_", cube_name).lower()


def publish_registry(spark: SparkSession, registry: Registry,
                     binding: TableBinding,
                     cubes: Optional[list[str]] = None) -> list[str]:
    """Publish every cube as a GLOBAL temp view (visible to every Thrift
    session as ``global_temp.<name>``) plus a ``maha_domain`` discovery
    view mirroring the registry's domain JSON (Registry.scala:685)."""
    names = []
    for cube in (cubes or registry.cubes()):
        name = view_name(cube)
        cube_view_df(spark, registry, binding, cube) \
            .createOrReplaceGlobalTempView(name)
        names.append(name)

    rows = []
    for cube in (cubes or registry.cubes()):
        f = registry.fact(cube)
        seen: set[str] = set()
        for p in f.pub_cols:
            if not p.hidden_from_json and p.alias not in seen:
                seen.add(p.alias)
                rows.append((view_name(cube), p.alias, "Dimension",
                             bool(p.filter_ops), p.required,
                             p.filtering_required))
        for p in f.pub_fact_cols:
            col = f.base_table.columns.get(p.name)
            if not p.hidden_from_json and p.alias not in seen and \
                    isinstance(col, FactCol):
                seen.add(p.alias)
                rows.append((view_name(cube), p.alias, "Fact",
                             bool(p.filter_ops), p.required,
                             p.filtering_required))
        # snowflake-chain dim aliases are queryable on the view too
        frontier = list(f.base_table.fk_columns().values())
        while frontier:
            dim = registry.dimension(frontier.pop())
            for p in dim.pub_cols:
                if not p.hidden_from_json and p.alias not in seen:
                    seen.add(p.alias)
                    rows.append((view_name(cube), p.alias, "Dimension",
                                 bool(p.filter_ops), p.required,
                                 p.filtering_required))
            frontier.extend(dim.table.parent_keys.values())
    spark.createDataFrame(
        rows, "cube string, field string, type string, filterable boolean, "
              "required boolean, filtering_required boolean") \
        .createOrReplaceGlobalTempView(DOMAIN_VIEW)
    return names
