"""SQL planner: RequestModel -> one parameterized Spark SQL statement.

This single module replaces the reference's six per-engine query
generators + executors + API-side row merging (maha
`core/.../query/*QueryGenerator.scala`, `QueryPipeline.scala:908-1280`,
`query/RowList.scala:244-617`). Like them it renders one engine-native
query per request: ``Planner.build`` returns ``spark.sql(text,
args=params)``. Bound tables are temp views (``TableBinding.view``);
request values (filter values, day bounds, IN lists) are named
parameter markers bound in ``params``, never spliced into the text;
registry-declared expressions (derived columns, forced filters, rollup
sources) are SQL text. Every request takes one of four shapes:

* agg-then-join (fact-driven, each joined chain's primary key projected):

      SELECT keys, fks, rollups FROM fact        -- filters pushed to scan
        WHERE day ∧ forced ∧ fact filters [LEFT SEMI JOIN semi-chain keys]
        GROUP BY keys, fks  -> [WHERE having]    -- partial agg map-side
      -> SELECT /*+ BROADCAST(r) */ l.*, r.attrs FROM agg l
           LEFT OUTER JOIN chain r ON l.fk = r.pk        -- star joins

* join-then-agg (fact-driven, a chain projects attributes without its
  primary key — the reference's outer group-by case,
  OracleOuterGroupByQueryGenerator.scala:35):

      SELECT aliases, rollups FROM (fact rows JOIN chains) GROUP BY aliases

* dim-driven (forceDimensionDriven): the driving chain is ordered and
  paginated first, its page keys semi-join the fact, and the aggregated
  fact is left-joined onto the page:

      page = SELECT * FROM chain ORDER BY sorts, pk LIMIT n OFFSET m
      SELECT l.*, r.* FROM page l LEFT OUTER JOIN
        (agg over fact LEFT SEMI JOIN page keys) r ON l.pk = r.fk

* dim-only: per-chain SELECT DISTINCT, cross-joined.

Every shape then runs the same tail:

      SELECT final aliases, derived exprs
      -> [WHERE outer filters] [DISTINCT] [CROSS JOIN TOTALROWS]
      -> ORDER BY ... LIMIT mr OFFSET si
      -> SELECT alias AS output name

Each step nests the previous one as a subquery (one step per relational
operation), so Catalyst sees the plan an operator-by-operator build
would give it.

Scale notes (100 TB design): filters and column pruning push into the
parquet scan (PushedFilters / ReadSchema); dims broadcast only under a
declared-cardinality ceiling (``Planner.BROADCAST_DIM_MAX_ROWS``), so the
fact is not shuffled for joins; agg-then-join shrinks the fact to the
grouped grain before any join, join-then-agg shuffles only map-side
partials at the final alias grain — the one GROUP BY is the only
required shuffle; dim-driven pagination orders the (small) dim side only.
"""

from __future__ import annotations

import os
from typing import Any, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession

from ..core.columns import (
    BaseCol, ConstCol, DerivedDimCol, DerivedFactCol, DimCol, FactCol,
    PostResultCol, _PLACEHOLDER, expand_expr, static_mapping_projection,
)
from ..core.filters import ResolvedField, bind, sql_literal
from ..core.rollup import AverageRollup, NoopRollup
from ..model.request_model import (
    CONSTANT, DIM_ATTR, FACT_DIM, METRIC, DimJoinChain, RequestModel,
    resolve_output_column,
)
from ..ops.common import current_scope, scoped_cache
from ..registry.cube import FactTable, PubCol, PublicDimension
from . import skipping
from .binding import TableBinding

ROW_COUNT_ALIAS = "TOTALROWS"  # Count(*) OVER() TOTALROWS (OracleQueryGeneratorTest.scala:44)

#: cap on the cartesian product a dim-only DISTINCT request over UNRELATED
#: chains may combine — past it, a client error instead of a blow-up
DIM_ONLY_CROSS_MAX = 10_000_000


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _col_sql(table_cols: dict[str, BaseCol], name: str) -> str:
    """SQL fragment for a column of a physical table, expanding derived
    expressions recursively and static mappings into CASE WHEN chains."""
    col = table_cols.get(name)
    if col is None:
        return _q(name)
    if isinstance(col, (DerivedDimCol, PostResultCol)):
        resolver = {n: _inner_sql(table_cols, n) for n in table_cols}
        expanded = expand_expr(col.expr, resolver)
        if isinstance(col, DerivedDimCol) and col.render_expr:
            # full user-facing value = render over the group expression
            # (filters/describe see the rendered form)
            return expand_expr(col.render_expr, {"self": f"({expanded})"})
        return expanded
    if isinstance(col, ConstCol):
        return sql_literal(col.value)
    return _q(name)


def _field(table_cols: dict[str, BaseCol], name: str) -> ResolvedField:
    """A column of a physical table as a filter operand."""
    col = table_cols.get(name)
    return ResolvedField(_col_sql(table_cols, name),
                         dtype=col.dtype if col is not None else None,
                         case_insensitive=isinstance(col, DimCol)
                         and col.case_insensitive)


def _inner_sql(table_cols: dict[str, BaseCol], name: str) -> str:
    col = table_cols.get(name)
    if isinstance(col, DerivedDimCol):
        return col.expr
    return _q(name)


def _decode_sql(table_cols: dict[str, BaseCol], pub: PubCol) -> str:
    """Projection SQL for a public column incl. static-mapping decode."""
    base = _col_sql(table_cols, pub.name)
    col = table_cols.get(pub.name)
    if col is not None and col.dtype.has_static_mapping:
        return static_mapping_projection(base, col.dtype)
    return base


class Statement(NamedTuple):
    """One rendered request: the SQL text and its bound parameters."""
    text: str
    params: dict[str, Any]


#: (session id, unfiltered fact relation, source SQL) -> AVG's result
#: type; the relation names versioned views, so a rewrite is a new key
_AVG_TYPES: dict[tuple, str] = {}

_JOIN_SQL = {"inner": "JOIN", "left_outer": "LEFT OUTER JOIN",
             "left_semi": "LEFT SEMI JOIN", "cross": "CROSS JOIN"}


class _Rel:
    """One relation of the statement under construction: a query text
    and its output column names. Each method nests it as a subquery
    under one more operation; ``src`` is how a FROM clause names it."""

    def __init__(self, sql: str, cols, src: Optional[str] = None):
        self.sql, self.cols = sql, list(cols)
        self.src = src or f"({sql})"

    @staticmethod
    def of(view: str, cols) -> "_Rel":
        return _Rel(f"SELECT * FROM {_q(view)}", cols, _q(view))

    def where(self, cond: str) -> "_Rel":
        return _Rel(f"SELECT * FROM {self.src} t WHERE {cond}", self.cols)

    def select(self, items: list[tuple[str, str]], distinct: bool = False,
               group: int = 0) -> "_Rel":
        """``items`` are (SQL, output name); the first ``group`` of them
        are the GROUP BY keys."""
        text = ", ".join(sql if sql == _q(name) else f"{sql} AS {_q(name)}"
                         for sql, name in items)
        out = (f"SELECT {'DISTINCT ' if distinct else ''}{text} "
               f"FROM {self.src} t")
        if group:
            out += " GROUP BY " + ", ".join(map(str, range(1, group + 1)))
        return _Rel(out, [name for _, name in items])

    def with_column(self, name: str, sql: str) -> "_Rel":
        """Replace column ``name`` in place, or append it."""
        items = [(sql if c == name else _q(c), c) for c in self.cols]
        return self.select(items if name in self.cols
                           else items + [(sql, name)])

    def drop(self, name: str) -> "_Rel":
        return self.select([(_q(c), c) for c in self.cols if c != name])

    def join(self, right: "_Rel", on: Optional[tuple[str, str]], how: str,
             broadcast: bool = False, drop: Optional[str] = None) -> "_Rel":
        """``self`` ``how``-joined to ``right`` on ``self.on[0] =
        right.on[1]``, keeping the columns of both sides but the right
        side's ``drop``."""
        rcols = [] if how == "left_semi" else \
            [c for c in right.cols if c != drop]
        items = ", ".join(["l.*"] + [f"r.{_q(c)}" for c in rcols])
        sql = (f"SELECT {'/*+ BROADCAST(r) */ ' if broadcast else ''}{items}"
               f" FROM {self.src} l {_JOIN_SQL[how]} {right.src} r")
        if on is not None:
            sql += f" ON l.{_q(on[0])} = r.{_q(on[1])}"
        return _Rel(sql, self.cols + rcols)


def _with_row_count(rel: _Rel, counted: _Rel) -> _Rel:
    """Attach ``TOTALROWS`` = the row count of ``counted`` to every row
    of ``rel``: COUNT(*) OVER() semantics without funneling the result
    through one partition — a 1-row aggregate broadcast back onto every
    row (OracleQueryGeneratorTest.scala:44)."""
    total = counted.select([("count(1)", ROW_COUNT_ALIAS)])
    return rel.join(total, None, "cross", broadcast=True)


def _sql(spark: SparkSession, text: str, params: dict[str, Any]) -> DataFrame:
    """``spark.sql(text, args=params)`` with the values crossing py4j as
    one java Map: the JVM wraps each in ``lit()``, which pyspark's
    ``spark.sql`` does Python-side at about four py4j calls a value."""
    return DataFrame(spark._jsparkSession.sql(text, params), spark)


def _cached_view(spark: SparkSession, rel: _Rel,
                 params: dict[str, Any]) -> tuple[DataFrame, _Rel]:
    """Evaluate ``rel`` once: a scoped cache of it, and a relation over
    that cache (a view the current scope drops) for the statement."""
    df = scoped_cache(_sql(spark, rel.sql, params))
    return df, _Rel.of(current_scope().view(df), rel.cols)


class Planner:
    def __init__(self, spark: SparkSession, binding: TableBinding):
        self.spark = spark
        self.binding = binding

    # ------------------------------------------------------------------
    def build(self, model: RequestModel) -> DataFrame:
        """The request's DataFrame: one ``spark.sql`` of the rendered
        statement, which the frame carries as ``statement``."""
        params: dict[str, Any] = {}
        if model.additional_col_info:
            # request-scoped COL_W_REPLACEMENTS substitutions; rendering
            # is driver-side synchronous, so the contextvar scopes
            # exactly this build
            from ..functions.macros import (reset_ctx_replacements,
                                            set_ctx_replacements)
            token = set_ctx_replacements(model.additional_col_info)
            try:
                text = self._render(model, params)
            finally:
                reset_ctx_replacements(token)
        else:
            text = self._render(model, params)
        df = _sql(self.spark, text, params)
        df.statement = Statement(text, params)
        return df

    def _render(self, model: RequestModel, params: dict[str, Any]) -> str:
        if model.is_dim_only:
            rel = self._build_dim_only(model, params)
        elif model.is_dim_driven:
            rel = self._build_dim_driven(model, params)
        else:
            rel = self._build_fact_driven(model, params)

        rel = self._apply_outer_filters(model, rel, params)

        if model.request_distinct:
            # additionalParameters.Distinct (RequestModel.scala:1089-1096):
            # dedupe the FINAL projection before row count / pagination —
            # sort fields are validated to be among the selected fields,
            # so narrowing to the projection aliases is safe here.
            rel = rel.select([(_q(p.alias), p.alias)
                              for p in model.projections], distinct=True)
        if model.include_row_count and (model.request_distinct
                                        or not model.is_dim_driven):
            # a dim-driven plan attaches the count of its UNPAGINATED dim
            # side (_build_dim_driven); under Distinct the count of
            # DISTINCT final rows is the meaningful total instead
            rel = _with_row_count(rel, rel)

        rel = self._apply_order_and_page(model, rel)

        # public aliases -> requested output names, in one projection (a
        # rename may take a name another projection still holds)
        items = [(_q(p.alias), p.output_name) for p in model.projections]
        if model.include_row_count:
            items.append((_q(ROW_COUNT_ALIAS), ROW_COUNT_ALIAS))
        return rel.select(items).sql

    # ------------------------------------------------------------------
    # fact side
    # ------------------------------------------------------------------
    def _fact_base(self, table: FactTable) -> tuple[_Rel, bool]:
        """The unfiltered fact relation, and whether it reads only views
        the binding memoizes (so its text names a table version)."""
        if not table.parts:
            v = self.binding.view(table.name)
            return _Rel.of(v.name, v.columns), v.shared
        # Branches over the SAME physical table fold into ONE scan with
        # the per-branch constants exploded — a UNION ALL of k branches
        # would scan the fact k times. Distinct tables still union.
        by_table: dict[str, list] = {}
        for part in table.parts:
            by_table.setdefault(part.table, []).append(part)
        rels, shared = [], True
        for tname, parts in by_table.items():
            v = self.binding.view(tname)
            shared = shared and v.shared
            rel = _Rel.of(v.name, v.columns)
            if len(parts) == 1:
                for cname, val in parts[0].constants.items():
                    rel = rel.with_column(cname, sql_literal(val))
            else:
                keys = sorted({c for p in parts for c in p.constants})
                entries = ", ".join(
                    "named_struct(" + ", ".join(
                        f"{sql_literal(c)}, " + (
                            sql_literal(p.constants[c]) if c in p.constants
                            else "CAST(NULL AS STRING)")
                        for c in keys) + ")"
                    for p in parts)
                rel = rel.with_column("__branch",
                                      f"explode(array({entries}))")
                for c in keys:
                    rel = rel.with_column(c, f"__branch.{_q(c)}")
                rel = rel.drop("__branch")
            rels.append(rel)
        cols = list(dict.fromkeys(c for r in rels for c in r.cols))
        return _Rel(" UNION ALL ".join(
            "SELECT " + ", ".join(_q(c) if c in r.cols else f"NULL AS {_q(c)}"
                                  for c in cols) + f" FROM {r.src} t"
            for r in rels), cols), shared

    def _load_fact(self, table: FactTable, model: RequestModel,
                   params: dict[str, Any],
                   page_keys: Optional[list] = None) -> _Rel:
        rel, _ = self._fact_base(table)
        rel = self._apply_file_skipping(rel, model, page_keys)
        rel = self._apply_partition_pruning(rel, table, model, params)
        return self._apply_timezone(rel, table, model, params)

    def _sidecar_dirs(self, table: FactTable) -> Optional[tuple[str, str]]:
        """``(index dir, table dir)`` when the binding dir carries a
        skipping sidecar directory for this fact; None otherwise."""
        base_dir = getattr(self.binding, "base_dir", None)
        if base_dir is None or not hasattr(self.binding, "table_pruned"):
            return None
        idx_dir = skipping.table_index_dir(base_dir, table.name)
        if not os.path.isdir(idx_dir):
            return None
        tdir = self.binding.table_path(table.name)
        return None if tdir is None else (idx_dir, tdir)

    def _apply_file_skipping(self, rel: _Rel, model: RequestModel,
                             page_keys: Optional[list] = None) -> _Rel:
        """File-level data skipping for needle requests: when the
        binding dir carries sidecar indexes (``plans/skipping.py``,
        under ``{dir}/_skipidx/{table}/``), the fact scan reads only the
        files ``skipping.prune_needles`` keeps for the request's
        ``skipping.request_needles`` (``page_keys``: the dim-driven
        page's collected keys). Every original filter still applies to
        the pruned rows, so a Bloom false positive costs a file open,
        never correctness. Otherwise ``rel``, the normal (cached) scan."""
        needles = skipping.request_needles(model, page_keys)
        dirs = self._sidecar_dirs(model.fact_table) if needles else None
        kept = None if dirs is None \
            else skipping.prune_needles(*dirs, needles)
        if kept is None:
            return rel
        if not kept:
            return rel.where("false")
        pruned = self.binding.table_pruned(model.fact_table.name, kept)
        return _Rel.of(current_scope().view(pruned), pruned.columns)

    def _apply_partition_pruning(self, rel: _Rel, table: FactTable,
                                 model: RequestModel,
                                 params: dict[str, Any]) -> _Rel:
        """The day-range predicate on the PHYSICAL date-partition column
        (``FactTable.partition_columns[0]``, ``DATE(day_column)`` by
        layout convention), so the scan touches only the requested days'
        directories. A request timezone widens the bound ±1 day, as in
        _apply_timezone (BaseUTCTimeProvider.scala:87-185)."""
        if not table.partition_columns or not model.day_range:
            return rel
        pcol = table.partition_columns[0]
        if pcol not in rel.cols:
            return rel
        import datetime as _dt
        f_d, t_d = model.day_range
        widen = _dt.timedelta(days=1 if model.timezone else 0)
        lo = bind(params, (f_d - widen).isoformat())
        hi = bind(params, (t_d + widen).isoformat())
        return rel.where(f"({_q(pcol)} >= {lo}) AND ({_q(pcol)} <= {hi})")

    def _apply_timezone(self, rel: _Rel, table: FactTable,
                        model: RequestModel,
                        params: dict[str, Any]) -> _Rel:
        """Render the fact's raw UTC time column in the request timezone
        (BaseUTCTimeProvider.scala:87-185): a pushable ±1-day bound on
        the raw column, then the column shifted so every derived
        expression and the exact Day filter evaluate in local time."""
        tz = model.timezone
        day_col = table.day_column
        if not tz or not day_col or day_col not in rel.cols:
            return rel
        raw = _q(day_col)
        if model.day_range:
            import datetime as _dt
            f_d, t_d = model.day_range
            lo = bind(params, (f_d - _dt.timedelta(days=1)).isoformat())
            hi = bind(params, (t_d + _dt.timedelta(days=2)).isoformat())
            rel = rel.where(f"({raw} >= CAST({lo} AS TIMESTAMP)) AND "
                            f"({raw} < CAST({hi} AS TIMESTAMP))")
        return rel.with_column(day_col,
                               f"from_utc_timestamp({raw}, {bind(params, tz)})")

    def _fact_resolver(self, model: RequestModel):
        """alias -> ResolvedField over raw fact rows (pre-aggregation)."""
        table = model.fact_table
        cube = model.cube

        def resolve(alias: str) -> ResolvedField:
            pub = cube.col_by_alias(alias)
            if pub is not None:
                name = pub.name
            else:
                # dim-attribute aliases the selected table serves from its
                # own materialized columns (chain-rebase coverage)
                name = model.covered_dim_aliases.get(alias, alias)
            return _field(table.columns, name)

        return resolve

    def _split_fact_filters(self, model: RequestModel):
        """row-level filters vs HAVING-style filters on metric aliases."""
        fact_aliases = set(model.cube.fact_alias_map())
        row, having = [], []
        for f in model.fact_filters:
            if any(a in fact_aliases for a in f.fields()):
                having.append(f)
            else:
                row.append(f)
        return row, having

    def _metric_plan(self, model: RequestModel):
        """Decide which physical aggregates are needed and how to compute
        each projected metric from them."""
        table = model.fact_table
        base_needed: dict[str, FactCol] = {}
        derived: list[tuple[str, DerivedFactCol]] = []  # (alias, col)
        direct: list[tuple[str, FactCol]] = []

        def add_base(name: str) -> None:
            col = table.columns.get(name)
            if isinstance(col, FactCol):
                base_needed[name] = col
            elif isinstance(col, DerivedFactCol):
                for ref in _PLACEHOLDER.findall(col.expr):
                    if ref != name:
                        add_base(ref)

        for p in model.projections:
            if p.kind != METRIC:
                continue
            col = table.columns.get(p.pub_col.name)
            if isinstance(col, DerivedFactCol):
                derived.append((p.alias, col))
                add_base(p.pub_col.name)
            elif isinstance(col, PostResultCol):
                # post-result functions are final-projection expressions
                # over aggregated metrics and projected dims
                # (PostResultFunction.scala:42-182)
                derived.append((p.alias, col))
                for ref in _PLACEHOLDER.findall(col.expr):
                    add_base(ref)
            elif isinstance(col, FactCol):
                direct.append((p.alias, col))
                base_needed[p.pub_col.name] = col
        # HAVING filters may reference metrics not projected
        _, having = self._split_fact_filters(model)
        for f in having:
            for a in f.fields():
                pub = model.cube.fact_alias_map().get(a)
                if pub is not None:
                    add_base(pub.name)
                    col = table.columns.get(pub.name)
                    if isinstance(col, FactCol) and a not in [x for x, _ in direct]:
                        direct.append((a, col))
        return base_needed, direct, derived

    def _group_key_exprs(self, model: RequestModel) -> list[tuple[str, str]]:
        """(alias, sql) group keys answerable at fact grain.

        Columns with a ``render_expr`` group on the UNRENDERED expression
        (e.g. an 8-byte truncated timestamp, not its formatted string);
        _final_projection applies the render once per output row."""
        table = model.fact_table
        out = []
        for p in model.projections:
            if p.kind == FACT_DIM:
                col = table.columns.get(p.pub_col.name)
                if isinstance(col, DerivedDimCol) and col.render_expr and \
                        not col.dtype.has_static_mapping:
                    resolver = {n: _inner_sql(table.columns, n)
                                for n in table.columns}
                    out.append((p.alias, expand_expr(col.expr, resolver)))
                else:
                    out.append((p.alias, _decode_sql(table.columns, p.pub_col)))
        return out

    def _fact_rows(self, model: RequestModel, params: dict[str, Any],
                   prefilter_keys: Optional[tuple[str, _Rel]] = None,
                   prefilter_values: Optional[list] = None) -> _Rel:
        """Raw fact rows of the request: scan -> forced filters -> row
        filters -> semi-join chains.

        ``prefilter_keys=(fk_col, keys)`` semi-joins the RAW fact on the
        driving dimension's page of keys (bounded by rowsPerPage) before
        any aggregation — the reference's dim-driven InFilter injection
        (QueryPipeline.scala:918-946) as a broadcast semi-join.
        ``prefilter_values`` (those keys, collected when a skipping
        sidecar on the fk exists) also prune the files the scan opens."""
        table = model.fact_table
        rel = self._load_fact(table, model, params,
                              page_keys=prefilter_values)

        # physical forced filters (over physical column names), declared
        # by the registry: their values render as literals
        for ff in table.forced_filters:
            def raw_resolve(alias: str, _t=table) -> ResolvedField:
                col = _t.columns.get(alias)
                return ResolvedField(_col_sql(_t.columns, alias),
                                     dtype=col.dtype if col else None)
            rel = rel.where(ff.to_sql(raw_resolve, None))

        row_filters, _ = self._split_fact_filters(model)
        resolve = self._fact_resolver(model)
        for f in row_filters:
            rel = rel.where(f.to_sql(resolve, params))

        # semi-join chains reduce the fact BEFORE aggregation; the key
        # set broadcasts only under the declared-cardinality ceiling
        for ch in model.chains:
            if ch.join_type == "left_semi":
                rel = rel.join(self._build_chain(ch, params, keys_only=True),
                               (ch.fact_fk_col, "__semi_key"), "left_semi",
                               broadcast=self._broadcastable(ch.dims))

        # dim-driven page-key pushdown (see docstring)
        if prefilter_keys is not None:
            fk_name, keys = prefilter_keys
            rel = rel.join(keys, (fk_name, "__page_key"), "left_semi",
                           broadcast=True)
        return rel

    def _build_fact_agg(self, model: RequestModel, params: dict[str, Any],
                        extra_keys: Optional[list[str]] = None,
                        prefilter_keys: Optional[tuple[str, _Rel]] = None,
                        prefilter_values: Optional[list] = None) -> _Rel:
        """_fact_rows -> GROUP BY with group keys = projected fact
        dims + FK cols needed by join chains (+ ``extra_keys``)."""
        table = model.fact_table
        rows = self._fact_rows(model, params, prefilter_keys,
                               prefilter_values)
        keys = self._group_key_exprs(model)
        fk_cols = [ch.fact_fk_col for ch in model.chains
                   if ch.join_type != "left_semi"]
        for fk in (extra_keys or []):
            if fk not in fk_cols:
                fk_cols.append(fk)
        key_items = [(sql, alias) for alias, sql in keys]
        key_items += [(_q(fk), fk) for fk in fk_cols
                      if fk not in [a for a, _ in keys]]

        base_needed, direct, _ = self._metric_plan(model)
        aggs: list[tuple[str, str]] = []
        # NoopRollup metrics that are pure functions of BARE group-key
        # columns become post-aggregation projections instead of first()
        # aggregates: a first() over a string has a string buffer, which
        # forces the WHOLE aggregation into SortAggregate. When every
        # placeholder ref is a bare group key the expr is constant per
        # group, so first(expr, ignorenulls) == expr(key) row-for-row.
        key_alias_by_sql = {sql: alias for alias, sql in keys}
        post_noop: list[tuple[str, str]] = []
        for alias, col in direct:
            if isinstance(col.rollup, NoopRollup) and col.expr and key_items:
                refs = _PLACEHOLDER.findall(col.expr)
                if refs and all(_q(r) in key_alias_by_sql for r in refs):
                    sub = {r: _q(key_alias_by_sql[_q(r)]) for r in refs}
                    post_noop.append((alias, expand_expr(col.expr, sub)))
                    continue
            aggs.append((self._agg_sql(col, table), alias))
        for name, col in base_needed.items():
            # derived exprs always read the __base_-prefixed internal copy,
            # even when the same metric is also directly projected
            aggs.append((self._agg_sql(col, table), f"__base_{name}"))

        if not aggs and post_noop:
            # every metric was noop-rewritten: revert one to its first()
            # so the grouped-aggregation shape still runs (the scan/
            # distinct branches below must stay unreachable while
            # projections are pending)
            alias0, _sql0 = post_noop.pop(0)
            aggs.append((self._agg_sql(dict(direct)[alias0], table), alias0))

        if not aggs:
            # pure dim/scan projection at fact grain (queryType=scan)
            return rows.select(key_items,
                               distinct=model.request.query_type != "scan")

        gdf = rows.select(key_items + aggs, group=len(key_items))
        for alias, sql in post_noop:
            gdf = gdf.with_column(alias, sql)
        return self._apply_having(model, gdf, params)

    def _apply_having(self, model: RequestModel, gdf: _Rel,
                      params: dict[str, Any]) -> _Rel:
        """HAVING-style filters over the aggregated metric aliases of
        ``gdf``: a derived metric expands over the ``__base_`` partials,
        a direct metric reads its own alias (or its ``__base_`` copy
        when only that was aggregated)."""
        _, having = self._split_fact_filters(model)
        table = model.fact_table

        def resolve(alias: str) -> ResolvedField:
            pub = model.cube.fact_alias_map().get(alias)
            if pub is not None:
                col = table.columns.get(pub.name)
                if isinstance(col, DerivedFactCol):
                    resolver = {n: _q(f"__base_{n}") for n in table.columns}
                    return ResolvedField(expand_expr(col.expr, resolver))
                if alias not in gdf.cols:
                    return ResolvedField(_q(f"__base_{pub.name}"))
            return ResolvedField(_q(alias))

        for f in having:
            gdf = gdf.where(f.to_sql(resolve, params))
        return gdf

    def _agg_sql(self, col: FactCol, table: FactTable) -> str:
        """The rollup aggregate of ``col`` over raw rows of ``table``
        (the rollup materializer builds stored partials with it too)."""
        src = expand_expr(col.expr, {n: _inner_sql(table.columns, n)
                                     for n in table.columns}) \
            if col.expr else _col_sql(table.columns, col.name)
        if isinstance(col.rollup, AverageRollup):
            return col.rollup.agg(src, self._avg_type(table, src))
        return col.rollup.agg(src)

    def _avg_type(self, table: FactTable, src: str) -> str:
        """AVG's result type for ``src`` over ``table``, resolved once
        per table version and source (an analysis of ``SELECT avg``)."""
        base, shared = self._fact_base(table)
        key = (id(self.spark), base.sql, src)
        hit = _AVG_TYPES.get(key)
        if hit is None:
            hit = self.spark.sql(f"SELECT avg({src}) FROM {base.src} t") \
                .schema[0].dataType.simpleString()
            if shared:
                _AVG_TYPES[key] = hit
        return hit

    # ------------------------------------------------------------------
    # dimension side
    # ------------------------------------------------------------------
    def _load_dim(self, dim: PublicDimension, ch: DimJoinChain,
                  params: dict[str, Any]) -> _Rel:
        t = dim.table
        v = self.binding.view(t.name)
        rel = _Rel.of(v.name, v.columns)

        def resolve(alias: str) -> ResolvedField:
            pub = dim.alias_map().get(alias)
            return _field(t.columns, pub.name if pub is not None else alias)

        for f in ch.filters.get(dim.name, []):
            rel = rel.where(f.to_sql(resolve, params))
        # project: pk, parent fks, projected attrs (column pruning)
        items = [(_q(t.primary_key), t.primary_key)]
        for fk in t.parent_keys:
            if fk != t.primary_key:
                items.append((_q(fk), fk))
        for alias in ch.projected.get(dim.name, []):
            items.append((_decode_sql(t.columns, dim.alias_map()[alias]),
                          alias))
        for s in ch.sorts:
            pub = dim.alias_map().get(s.field)
            if pub is not None and s.field not in ch.projected.get(dim.name, []):
                items.append((_decode_sql(t.columns, pub), s.field))
        return rel.select(items)

    #: declared-rows ceiling for hinting a dimension broadcast. An
    #: undeclared dim joins unhinted, so Catalyst/AQE pick the strategy
    #: from real sizes: a hint overrides autoBroadcastJoinThreshold and
    #: AQE sizing, and an unknown-size dim could OOM every executor.
    BROADCAST_DIM_MAX_ROWS = 5_000_000

    def _broadcastable(self, dims) -> bool:
        """Broadcast-hint a dim side only when EVERY participating
        dimension declares a cardinality within the ceiling
        (dimCardinalityEnginePreference, ref fact/Fact.scala)."""
        return all(d.table.cardinality is not None
                   and d.table.cardinality <= self.BROADCAST_DIM_MAX_ROWS
                   for d in dims)

    def _build_chain(self, ch: DimJoinChain, params: dict[str, Any],
                     keys_only: bool = False) -> _Rel:
        """Join the snowflake chain d0 <- d1 <- ... into one dim-side
        relation keyed by d0's primary key."""
        d0 = ch.dims[0]
        rel = self._load_dim(d0, ch, params)
        prev = d0
        for d in ch.dims[1:]:
            fk_col = next((c for c, pname in prev.table.parent_keys.items()
                           if pname == d.name), None)
            if fk_col is None:
                raise ValueError(f"no parent key {prev.name} -> {d.name}")
            pk = d.table.primary_key
            # inner if this dim carries filters, else left to keep chain rows
            rel = rel.join(self._load_dim(d, ch, params), (fk_col, pk),
                           "inner" if ch.filters.get(d.name) else "left_outer",
                           broadcast=self._broadcastable([d]), drop=pk)
            prev = d
        pk0 = _q(d0.table.primary_key)
        if keys_only:
            return rel.select([(pk0, "__semi_key")], distinct=True)
        # keep join key + all projected/sort aliases
        keep = [(pk0, f"__dimkey_{ch.fact_fk_col}")]
        for aliases in ch.projected.values():
            keep += [(_q(a), a) for a in aliases]
        for s in ch.sorts:
            if all(s.field not in al for al in ch.projected.values()) \
                    and s.field in rel.cols:
                keep.append((_q(s.field), s.field))
        return rel.select(keep)

    # ------------------------------------------------------------------
    # strategies
    # ------------------------------------------------------------------
    def _join_chains(self, model: RequestModel, rel: _Rel,
                     params: dict[str, Any]) -> _Rel:
        """Join every chain that projects or sorts onto the fact relation
        by its fact FK, with the chain's own join type (semi-join chains
        already reduced the fact in _fact_rows)."""
        for ch in model.chains:
            if ch.join_type == "left_semi" or not (ch.has_projection or ch.sorts):
                continue
            key = f"__dimkey_{ch.fact_fk_col}"
            rel = rel.join(self._build_chain(ch, params),
                           (ch.fact_fk_col, key), ch.join_type,
                           broadcast=self._broadcastable(ch.dims), drop=key)
        return rel

    def _build_fact_driven(self, model: RequestModel,
                           params: dict[str, Any]) -> _Rel:
        if model.requires_outer_group_by:
            return self._build_join_then_agg(model, params)
        rel = self._join_chains(model, self._build_fact_agg(model, params),
                                params)
        return self._final_projection(model, rel, params)

    def _build_join_then_agg(self, model: RequestModel,
                             params: dict[str, Any]) -> _Rel:
        """Single aggregation at the final alias grain after joining the
        dims to raw fact rows — the plan for every request that needs an
        outer group-by (a chain projects attributes without its primary
        key). Where the reference aggregates twice
        (OracleOuterGroupByQueryGenerator.scala:35), broadcast probes on
        raw rows feed ONE exchange of map-side partials at the final
        grain — also the only lossless plan for non-re-aggregatable
        metrics (cardinality, average)."""
        table = model.fact_table
        rows = self._join_chains(model, self._fact_rows(model, params),
                                 params)
        keys = []
        for p in model.projections:
            if p.kind == FACT_DIM:
                keys.append((_decode_sql(table.columns, p.pub_col), p.alias))
            elif p.kind == DIM_ATTR:
                keys.append((_q(p.alias), p.alias))
        base_needed, direct, _ = self._metric_plan(model)
        aggs = [(self._agg_sql(col, table), alias) for alias, col in direct]
        for name, col in base_needed.items():
            aggs.append((self._agg_sql(col, table), f"__base_{name}"))
        gdf = rows.select(keys + aggs, group=len(keys))
        return self._final_projection(model,
                                      self._apply_having(model, gdf, params),
                                      params)

    def _build_dim_driven(self, model: RequestModel,
                          params: dict[str, Any]) -> _Rel:
        """Dim-driven (ROJ) shape: paginate the ORDERED dimension first, then
        left-join the aggregated fact (QueryPipeline.scala:918-946;
        OracleQueryGeneratorTest.scala:456-489). Entities with zero fact rows
        appear, with metric defaults coalesced."""
        driving = model.chains[0]
        dim = self._build_chain(driving, params)

        # TOTALROWS = matching dim entities BEFORE pagination (the page
        # size is not the answer)
        entities = dim

        # pre-join ordering + pagination on the dim side
        order = [f"{_q(s.field)} {'DESC' if s.order == 'DESC' else 'ASC'}"
                 for s in model.dim_sorts if s.field in dim.cols]
        key = f"__dimkey_{driving.fact_fk_col}"
        order.append(f"{_q(key)} ASC")  # deterministic tiebreak
        # Any explicit limit (0 = describe shape) or offset paginates the
        # dim side here — except under Distinct, which dedupes the FINAL
        # projection before pagination (OracleQueryGenerator.scala:
        # 655-670), so _render paginates after the dedupe instead.
        paginate_dim = (not model.request_distinct
                        and (model.max_rows >= 0 or model.start_index > 0))
        if paginate_dim:
            dim = _page(dim, order, model.start_index, model.max_rows)

        # a LIMITed page is a bounded, deterministic key set (the __dimkey
        # tiebreak totals the order): the fact semi-joins it, as the
        # reference pushes an InFilter (QueryPipeline.scala:918-946)
        prefilter = None
        page_values = None
        if paginate_dim and model.max_rows >= 0:
            # with a skipping sidecar on the driving fk, the page's key
            # values also prune the fact's files. The page is cached
            # (released with the request's scope), so the collect, the
            # semi-join and the dim join reuse ONE evaluation of it.
            if self._page_keys_prune(model):
                page_df, dim = _cached_view(self.spark, dim, params)
                page_values = [r[0] for r in
                               page_df.select(_q(key)).collect()]
            prefilter = (driving.fact_fk_col,
                         dim.select([(_q(key), "__page_key")]))
        fact = self._build_fact_agg(model, params,
                                    extra_keys=[driving.fact_fk_col],
                                    prefilter_keys=prefilter,
                                    prefilter_values=page_values)
        rel = dim.join(fact, (key, driving.fact_fk_col), "left_outer")

        # other (non-driving) chains join normally
        for ch in model.chains[1:]:
            if ch.join_type == "left_semi":
                continue
            k2 = f"__dimkey_{ch.fact_fk_col}"
            rel = rel.join(self._build_chain(ch, params),
                           (ch.fact_fk_col, k2), "left_outer",
                           broadcast=self._broadcastable(ch.dims), drop=k2)

        # FK projections of the driving chain come from the DIM side when the
        # fact row is missing (entities with zero facts must appear —
        # OracleQueryGeneratorTest.scala:460 coalesce rendering)
        for p in model.projections:
            if p.kind == FACT_DIM and p.pub_col is not None and \
                    p.pub_col.name == driving.fact_fk_col:
                rel = rel.with_column(
                    p.alias, f"coalesce({_q(key)}, {_q(p.alias)})")

        rel = rel.drop(key)
        out = self._final_projection(model, rel, params,
                                     coalesce_defaults=True)
        if model.include_row_count and not model.request_distinct:
            out = _with_row_count(out, entities)
        return out

    def _page_keys_prune(self, model: RequestModel) -> bool:
        """Cheap driver-side probe: would the page's keys prune the
        fact's files, i.e. is there a PAGE_KEYS needle with a fresh
        sidecar? Gates the page-key collect — without one the collect
        would be a wasted job."""
        page = [n for n in skipping.request_needles(model)
                if n.operator == skipping.PAGE_KEYS]
        dirs = self._sidecar_dirs(model.fact_table) if page else None
        return dirs is not None \
            and skipping.sidecar_fresh(*dirs, page[0].column)

    def _build_dim_only(self, model: RequestModel,
                        params: dict[str, Any]) -> _Rel:
        """Dim-only SELECT DISTINCT (RequestModel.isRequestingDistict).

        Each chain is reduced to its projected attributes and
        de-duplicated BEFORE chains are combined, so unrelated chains
        cross-join small distinct sets. The product is capped at
        ``DIM_ONLY_CROSS_MAX``: past it, ValidationError (-> 400)."""
        parts = []
        for ch in model.chains:
            chrel = self._build_chain(ch, params)
            keep = [a for als in ch.projected.values() for a in als]
            keep += [s.field for s in ch.sorts
                     if s.field not in keep and s.field in chrel.cols]
            parts.append(chrel.select([(_q(a), a) for a in keep],
                                      distinct=True))
        rel = parts[0]
        if len(parts) > 1:
            # each distinct set is evaluated ONCE into a scoped cache: the
            # guard counts one part at a time (a rejected request stops
            # at the part that blows the cap) and the cross join reuses
            # the cached rows; the request's scope releases them
            from ..request.request import ValidationError
            product = 1
            for i, part in enumerate(parts):
                df, parts[i] = _cached_view(self.spark, part, params)
                product *= max(1, df.count())
                if product > DIM_ONLY_CROSS_MAX:
                    raise ValidationError(
                        ["distinct dim request spans unrelated chains "
                         f"whose cartesian product exceeds "
                         f"{DIM_ONLY_CROSS_MAX} rows — narrow the "
                         "requested attributes or add filters"])
            rel = parts[0]
            for part in parts[1:]:
                rel = rel.join(part, None, "cross")
        return rel.select([(_q(p.alias), p.alias) for p in model.projections
                           if p.kind == DIM_ATTR], distinct=True)

    # ------------------------------------------------------------------
    def _final_projection(self, model: RequestModel, rel: _Rel,
                          params: dict[str, Any],
                          coalesce_defaults: bool = False) -> _Rel:
        table = model.fact_table
        items: list[tuple[str, str]] = []
        _, _, derived = self._metric_plan(model)
        derived_aliases = {a for a, _ in derived}
        for p in model.projections:
            if p.kind == CONSTANT:
                items.append((bind(params, p.value), p.alias))
            elif p.kind in (FACT_DIM, DIM_ATTR):
                colmeta = table.columns.get(p.pub_col.name) \
                    if p.pub_col is not None else None
                if p.kind == FACT_DIM and isinstance(colmeta, DerivedDimCol) \
                        and colmeta.render_expr and \
                        not colmeta.dtype.has_static_mapping:
                    # presentation step deferred from the group key
                    items.append((expand_expr(colmeta.render_expr,
                                              {"self": _q(p.alias)}), p.alias))
                else:
                    items.append((_q(p.alias), p.alias))
            elif p.kind == METRIC and p.alias in derived_aliases:
                col = table.columns[p.pub_col.name]
                # FactCol partials resolve to their __base_ aggregates,
                # DerivedFactCols expand recursively (post-result functions
                # may reference them), dim columns resolve to the projected
                # group-key alias (post-result decode conditions)
                dim_alias = {q.pub_col.name: q.alias for q in model.projections
                             if q.kind != METRIC and q.pub_col is not None}

                def render(name: str, _seen=()) -> str:
                    c0 = table.columns.get(name)
                    if isinstance(c0, DerivedFactCol) and name not in _seen:
                        sub = {r: render(r, _seen + (name,))
                               for r in _PLACEHOLDER.findall(c0.expr)}
                        return "(" + expand_expr(c0.expr, sub) + ")"
                    if name in dim_alias and not isinstance(c0, FactCol):
                        return _q(dim_alias[name])
                    return _q(f"__base_{name}")

                sub = {r: render(r) for r in _PLACEHOLDER.findall(col.expr)}
                items.append((_coalesced(expand_expr(col.expr, sub), col,
                                         coalesce_defaults), p.alias))
            elif p.kind == METRIC:
                items.append((_coalesced(_q(p.alias),
                                         table.columns.get(p.pub_col.name),
                                         coalesce_defaults), p.alias))
        return rel.select(items)

    def _apply_outer_filters(self, model: RequestModel, rel: _Rel,
                             params: dict[str, Any]) -> _Rel:
        # outer filters name output columns (SQL's ORDER BY rule); the
        # relation still carries the projection aliases until _render's
        # final rename
        def resolve(name: str) -> ResolvedField:
            return ResolvedField(_q(resolve_output_column(
                name, model.projections) or name))

        for f in model.outer_filters:
            rel = rel.where(f.to_sql(resolve, params))
        return rel

    def _apply_order_and_page(self, model: RequestModel, rel: _Rel) -> _Rel:
        order: list[str] = []
        sorted_fields: set[str] = set()
        for s in model.request.sort_by:
            name = resolve_output_column(s.field, model.projections)
            if name in rel.cols:
                order.append(f"{_q(name)} {'DESC' if s.order == 'DESC' else 'ASC'}")
                sorted_fields.add(name)
        # dim-driven plans paginate pre-join — except under Distinct,
        # where pagination must follow the final dedupe and happens here
        paginating = not model.is_dim_driven or model.request_distinct
        if paginating and (order or model.request_distinct) \
                and (model.start_index > 0 or model.max_rows >= 0):
            # pages of separate requests need a TOTAL order, or rows can
            # repeat or vanish across pages: the remaining projection
            # columns break ties. An UNSORTED non-distinct limit stays an
            # unordered CollectLimit (ROWNUM-without-ORDER-BY semantics)
            # — a total order would sort the whole scan at 100 TB.
            order += [f"{_q(p.alias)} ASC" for p in model.projections
                      if p.alias not in sorted_fields
                      and p.alias in rel.cols]
        if not paginating:
            return _page(rel, order, 0, -1)
        # 0 is a real limit (describe queries: SELECT * ... LIMIT 0
        # serve the schema); -1 means unpaginated
        return _page(rel, order, model.start_index, model.max_rows)


def _page(rel: _Rel, order: list[str], offset: int, limit: int) -> _Rel:
    """``rel`` ordered by ``order``, then ``OFFSET offset`` (when > 0)
    and ``LIMIT limit`` (when >= 0)."""
    if not order and offset <= 0 and limit < 0:
        return rel
    sql = f"SELECT * FROM {rel.src} t"
    if order:
        sql += " ORDER BY " + ", ".join(order)
    if limit >= 0:
        sql += f" LIMIT {int(limit)}"
    if offset > 0:
        sql += f" OFFSET {int(offset)}"
    return _Rel(sql, rel.cols)


def _coalesced(sql: str, col: Optional[BaseCol], coalesce: bool) -> str:
    """``sql``, defaulted to the column's declared default value."""
    if coalesce and col is not None and col.dtype.default_value is not None:
        return f"coalesce({sql}, {sql_literal(col.dtype.default_value)})"
    return sql
