"""DataFrame planner: RequestModel -> one Spark DataFrame.

This single module replaces the reference's six per-engine query
generators + executors + API-side row merging (maha
`core/.../query/*QueryGenerator.scala`, `QueryPipeline.scala:908-1280`,
`query/RowList.scala:244-617`). The plan shape is:

    fact.filter(day ∧ forced ∧ fact filters)        -- pushed to the scan
        .groupBy(fact-grain keys).agg(rollups)       -- partial agg map-side
        .join(broadcast(dims), fk = pk, <derived>)   -- star joins
        [.groupBy(final aliases).agg(re-rollups)]    -- outer group-by (OGB)
        .select(final aliases, derived exprs)
        .filter(outer filters)
        .orderBy(...).offset(si).limit(mr)

Scale notes (100 TB design):
* filters and column pruning are expressed declaratively so Catalyst pushes
  them into the parquet scan (PushedFilters / ReadSchema);
* dimension sides are broadcast() — star-schema dims are small relative to
  the fact, so no shuffle of the fact for joins;
* aggregation before the join (agg-then-join) shrinks the fact to the
  grouped grain before any join work; the OGB re-aggregation operates on
  already-reduced data;
* the only required shuffle is the one groupBy on the fact's grouping keys
  (AQE coalesces/handles skew at runtime);
* dim-driven pagination orders/limits the (small) dim side only.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..core.columns import (
    BaseCol, ConstCol, DerivedDimCol, DerivedFactCol, DimCol, FactCol,
    PostResultCol, _PLACEHOLDER, expand_expr, static_mapping_projection,
)
from ..core.filters import Filter, ResolvedField
from ..core.rollup import (AverageRollup, CardinalityRollup, NoopRollup,
                           Rollup, exact_avg)
from ..model.request_model import (
    CONSTANT, DIM_ATTR, FACT_DIM, METRIC, DimJoinChain, ProjectedField,
    RequestModel,
)
from ..registry.cube import DimensionTable, FactTable, PubCol, PublicDimension
from .binding import TableBinding

ROW_COUNT_ALIAS = "TOTALROWS"  # Count(*) OVER() TOTALROWS (OracleQueryGeneratorTest.scala:44)

#: sentinel for _canon_needle: the needle's string form may not match
#: Spark's CAST(stored AS STRING) — never prune on it
_SKIP = object()


def _canon_needle(dtype, value):
    """Canonicalize an equality/IN needle so ``str(value)`` matches the
    string Spark's CAST(stored AS STRING) produced at Bloom-build time —
    a mismatched representation would hash to the wrong positions and
    prune files that DO contain the value (a silent wrong answer).

    Int columns: ints pass; integral floats and canonical digit strings
    coerce (Spark's relaxed equality matches them against stored ints,
    and the coerced int hashes identically to the stored form). String
    columns: strings only (a numeric needle makes Spark compare after a
    numeric cast, where '013' = 13 — the Bloom can't see that). Date
    columns: date objects and 'YYYY-M-D' strings coerce to a
    ``datetime.date`` whose str() is the ISO form CAST(date AS STRING)
    produced (Spark's lenient string->date cast accepts the same
    shapes). Anything else — fractional needles on int columns,
    non-digit strings, unsupported column types — returns the _SKIP
    sentinel."""
    import datetime as _dt

    from ..core.types import DateType, IntType, StrType
    if isinstance(dtype, IntType):
        if isinstance(value, bool):
            return _SKIP
        if isinstance(value, int):
            return value
        if isinstance(value, float) and value.is_integer():
            return int(value)
        if isinstance(value, str):
            try:
                return int(value, 10)
            except ValueError:
                return _SKIP
        return _SKIP
    if isinstance(dtype, StrType):
        return value if isinstance(value, str) else _SKIP
    if isinstance(dtype, DateType):
        if isinstance(value, _dt.datetime):    # before date: subclass
            return _SKIP
        if isinstance(value, _dt.date):
            return value
        if isinstance(value, str):
            try:
                return _dt.datetime.strptime(value, "%Y-%m-%d").date()
            except ValueError:
                return _SKIP
        return _SKIP
    return _SKIP


#: cap on the cartesian product a dim-only DISTINCT request over UNRELATED
#: chains may combine (the product is the request's semantics, but two
#: high-cardinality attributes would be a genuine blow-up — refuse as a
#: client error instead)
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
        return repr(col.value) if not isinstance(col.value, str) else \
            "'" + col.value.replace("'", "''") + "'"
    return _q(name)


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


class Planner:
    def __init__(self, spark: SparkSession, binding: TableBinding):
        self.spark = spark
        self.binding = binding

    # ------------------------------------------------------------------
    def build(self, model: RequestModel) -> DataFrame:
        if model.additional_col_info:
            # request-scoped COL_W_REPLACEMENTS substitutions; plan
            # construction is driver-side synchronous, so the contextvar
            # scopes exactly this build
            from ..functions.macros import (reset_ctx_replacements,
                                            set_ctx_replacements)
            token = set_ctx_replacements(model.additional_col_info)
            try:
                return self._build_inner(model)
            finally:
                reset_ctx_replacements(token)
        return self._build_inner(model)

    def _build_inner(self, model: RequestModel) -> DataFrame:
        if model.is_dim_only:
            df = self._build_dim_only(model)
        elif model.is_dim_driven:
            df = self._build_dim_driven(model)
        else:
            df = self._build_fact_driven(model)

        df = self._apply_outer_filters(model, df)

        if model.request_distinct:
            # additionalParameters.Distinct (RequestModel.scala:1089-1096):
            # dedupe the FINAL projection before row count / pagination —
            # sort fields are validated to be among the selected fields,
            # so narrowing to the projection aliases is safe here. A
            # dim-driven plan attached its entity-count TOTALROWS; under
            # Distinct the count of DISTINCT rows is the meaningful total,
            # so it is recomputed over the deduped frame.
            df = df.select(*[_q(p.alias) for p in model.projections]) \
                   .distinct()
            if model.include_row_count:
                total = df.agg(F.count(F.lit(1)).alias(ROW_COUNT_ALIAS))
                df = df.crossJoin(F.broadcast(total))

        if model.include_row_count and not model.is_dim_driven \
                and not model.request_distinct:
            # COUNT(*) OVER() semantics without funneling the result
            # through one partition: a 1-row count aggregate broadcast back
            # onto every row. (Dim-driven requests attach the count of the
            # UNPAGINATED dim side inside _build_dim_driven — the reference
            # computes TOTALROWS in the dim subquery before ROW_NUMBER
            # pagination, OracleQueryGenerator row-count rendering.)
            total = df.agg(F.count(F.lit(1)).alias(ROW_COUNT_ALIAS))
            df = df.crossJoin(F.broadcast(total))

        df = self._apply_order_and_page(model, df)

        # rename public aliases -> requested output names last
        renames = [(p.alias, p.output_name) for p in model.projections
                   if p.output_name != p.alias]
        for old, new in renames:
            df = df.withColumnRenamed(old, new)
        ordered = [p.output_name for p in model.projections]
        if model.include_row_count:
            ordered.append(ROW_COUNT_ALIAS)
        return df.select(*[_q(c) for c in ordered])

    # ------------------------------------------------------------------
    # fact side
    # ------------------------------------------------------------------
    def _load_fact(self, table: FactTable,
                   model: Optional[RequestModel] = None,
                   extra_needles: Optional[list] = None) -> DataFrame:
        if table.parts:
            # Branches over the SAME physical table fold into ONE scan with
            # the per-branch constants exploded (each row generated once per
            # branch) — UNION ALL of k same-table branches would scan the
            # fact k times; the fold always reads it exactly once, which is
            # the difference that matters at 100 TB. Branches over distinct
            # tables still union (and Catalyst still prunes whole branches
            # under a constant-column filter).
            by_table: dict[str, list] = {}
            for part in table.parts:
                by_table.setdefault(part.table, []).append(part)
            dfs = []
            for tname, parts in by_table.items():
                df = self.binding.table(tname)
                if len(parts) == 1:
                    for cname, v in parts[0].constants.items():
                        df = df.withColumn(cname, F.lit(v))
                else:
                    keys = sorted({c for p in parts for c in p.constants})
                    entries = [
                        F.struct(*[
                            (F.lit(p.constants[c]) if c in p.constants
                             else F.lit(None).cast("string")).alias(c)
                            for c in keys])
                        for p in parts]
                    df = df.withColumn("__branch",
                                       F.explode(F.array(*entries)))
                    for c in keys:
                        df = df.withColumn(c, F.col(f"__branch.{c}"))
                    df = df.drop("__branch")
                dfs.append(df)
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
        else:
            out = self.binding.table(table.name)
            pruned = self._apply_file_skipping(table, model, extra_needles)
            if pruned is not None:
                out = pruned
        out = self._apply_partition_pruning(out, table, model)
        return self._apply_timezone(out, table, model)

    def _apply_file_skipping(self, table: FactTable,
                             model: Optional[RequestModel],
                             extra_needles: Optional[list] = None
                             ) -> Optional[DataFrame]:
        """File-level data skipping for needle requests: when the
        binding dir carries a sidecar index (``plans/skipping.py``,
        built by a maintenance job under ``{dir}/_skipidx/{table}/``)
        for a physical column the request filters by ``=``/``in``, the
        fact scan reads ONLY files whose zone map + Bloom filter may
        contain the value(s). Every original filter (day bound, forced
        filters, the needle itself) still applies to the pruned frame,
        so Bloom false positives cost an extra file open, never
        correctness — and false negatives cannot occur by construction.

        Eligibility is deliberately narrow: plain stored DimCols only —
        no derived expressions (their value space differs from stored
        bytes), no static mappings (filters expand through the reverse
        map elsewhere), no case-insensitive columns (the index hashes
        exact stored values). Returns None when no filter matches an
        index — the normal (cached) scan proceeds."""
        import os as _os

        if model is None:
            return None
        if getattr(model, "timezone", None) or getattr(
                model, "utc_shifted", False):
            # a shifted-timezone request evaluates filters against
            # LOCAL-day expressions over the stored UTC values
            # (_apply_timezone); the sidecar indexes the stored values,
            # so pruning on the request's local-time literals could drop
            # files whose UTC rows map into the requested local day —
            # abstain entirely, same posture as rollup serving
            # (shifted-tz never rollup-served)
            return None
        base_dir = getattr(self.binding, "base_dir", None)
        if base_dir is None or not hasattr(self.binding, "table_pruned"):
            return None
        from ..core.filters import (BetweenFilter, EqualityFilter,
                                    GreaterThanFilter, InFilter,
                                    IsNullFilter, LessThanFilter)
        from .skipping import (index_file_count, index_stale,
                               prune_files_any, prune_files_null,
                               prune_files_range, table_index_dir)
        idx_dir = table_index_dir(base_dir, table.name)
        if not _os.path.isdir(idx_dir):
            return None
        tdir = self.binding.table_path(table.name) \
            if hasattr(self.binding, "table_path") else None
        if tdir is None:
            return None

        # top-level request filters are CONJUNCTIVE, so per-filter keep
        # sets intersect: a file dropped by ANY needle cannot hold a row
        # satisfying the whole predicate (Or combinators are single
        # opaque Filter objects and never match below — they cannot
        # prune a branch at a time)
        kept_sets: list[set[str]] = []
        totals: list[int] = []
        for f in model.fact_filters:
            pub = model.cube.col_by_alias(f.field) \
                if hasattr(f, "field") else None
            name = pub.name if pub is not None else \
                getattr(f, "field", None)
            col = table.columns.get(name) if name else None
            if not isinstance(col, DimCol) or col.case_insensitive \
                    or col.dtype.has_static_mapping or col.is_day_column:
                # day columns are excluded even unshifted: their request
                # bounds are already served losslessly by directory
                # partition pruning, and their filter values pass
                # through day-grain normalization the sidecar's stored
                # values never saw
                continue
            if index_stale(tdir, idx_dir, name):
                # the table was rewritten after this column's sidecar
                # was built — a stale index can miss a restated day's
                # new files; never prune on it
                continue
            if isinstance(f, (EqualityFilter, InFilter)):
                values = [f.value] if isinstance(f, EqualityFilter) \
                    else list(f.values)
                canon = [_canon_needle(col.dtype, v) for v in values]
                if any(c is _SKIP for c in canon):
                    # a needle whose string form may not match Spark's
                    # CAST(stored AS STRING) would hash to the wrong
                    # Bloom positions — pruning on it could FALSE-
                    # NEGATIVE, so the whole filter abstains
                    continue
                fl0 = prune_files_any(self.spark, idx_dir, name, canon)
                fl = set(fl0) if fl0 is not None else None
            elif isinstance(f, GreaterThanFilter):
                fl0 = prune_files_range(self.spark, idx_dir, name,
                                        lo=f.value, lo_inclusive=False)
                fl = set(fl0) if fl0 is not None else None
            elif isinstance(f, LessThanFilter):
                fl0 = prune_files_range(self.spark, idx_dir, name,
                                        hi=f.value, hi_inclusive=False)
                fl = set(fl0) if fl0 is not None else None
            elif isinstance(f, BetweenFilter):
                fl0 = prune_files_range(self.spark, idx_dir, name,
                                        lo=f.from_value, hi=f.to_value)
                fl = set(fl0) if fl0 is not None else None
            elif isinstance(f, IsNullFilter):
                fl0 = prune_files_null(self.spark, idx_dir, name)
                fl = set(fl0) if fl0 is not None else None
            else:
                continue
            if fl is None:      # no sidecar for this column
                continue
            kept_sets.append(fl)
            total = index_file_count(idx_dir, name)
            if total is not None:
                totals.append(total)
        # runtime-derived needles (the dim-driven PAGE-KEY set — known
        # driver-side after dim pagination, bounded by the row caps):
        # same eligibility guards and the same never-false-negative
        # contract as the request-filter needles above
        for name, values in (extra_needles or []):
            col = table.columns.get(name)
            if not isinstance(col, DimCol) or col.case_insensitive \
                    or col.dtype.has_static_mapping or col.is_day_column:
                continue
            if index_stale(tdir, idx_dir, name):
                continue
            vals = [v for v in values if v is not None]
            if not vals:
                continue
            canon = [_canon_needle(col.dtype, v) for v in vals]
            if any(c is _SKIP for c in canon):
                continue
            fl0 = prune_files_any(self.spark, idx_dir, name, canon)
            if fl0 is None:
                continue
            kept_sets.append(set(fl0))
            total = index_file_count(idx_dir, name)
            if total is not None:
                totals.append(total)
        if not kept_sets:
            return None
        kept = set.intersection(*kept_sets)
        if not kept:
            # the index proves the conjunction unsatisfiable
            return self.binding.table(table.name).filter(F.lit(False))
        if totals and len(kept) * 2 >= min(totals):
            # no-benefit prune: an explicit N-root-path read lists each
            # root separately and loses to the one-root (and cacheable)
            # directory scan when most files survive — measured 4x
            # SLOWER at 97% kept (tools/bench_probes/zorderdemo_r9) —
            # so a needle keeping half the files or more uses the
            # normal scan
            return None
        return self.binding.table_pruned(table.name, sorted(kept))

    def _apply_partition_pruning(self, df: DataFrame, table: FactTable,
                                 model: Optional[RequestModel]) -> DataFrame:
        """Emit the day-range predicate on the PHYSICAL date-partition
        column (``FactTable.partition_columns[0]``, holding
        ``DATE(day_column)`` by layout convention).

        At 100 TB the fact table is date-partitioned; the mandatory Day
        Between filter must become a PartitionFilter so the scan touches
        only the requested days' directories — row-group statistics alone
        still enumerate every file. When a request timezone shifts local
        days across UTC date lines the bound widens ±1 day, mirroring the
        pushable-bound widening in _apply_timezone
        (BaseUTCTimeProvider.scala:87-185)."""
        if (not table.partition_columns or model is None
                or not model.day_range):
            return df
        pcol = table.partition_columns[0]
        if pcol not in df.columns:
            return df
        import datetime as _dt
        f_d, t_d = model.day_range
        widen = _dt.timedelta(days=1 if model.timezone else 0)
        return df.filter(
            (F.col(_q(pcol)) >= F.lit((f_d - widen).isoformat()))
            & (F.col(_q(pcol)) <= F.lit((t_d + widen).isoformat())))

    def _apply_timezone(self, df: DataFrame, table: FactTable,
                        model: Optional[RequestModel]) -> DataFrame:
        """Render the fact's raw UTC time column in the request timezone.

        Mirrors BaseUTCTimeProvider.scala:87-185: the local-day filter is
        widened by ±1 day into a pushable predicate on the raw (UTC)
        column — Spark prunes parquet row groups / partitions with it —
        then the column itself is shifted so every derived day/hour/month
        expression and the exact Day between filter evaluate in local time.
        """
        tz = model.timezone if model is not None else None
        day_col = table.day_column
        if not tz or not day_col or day_col not in df.columns:
            return df
        raw = F.col(_q(day_col))
        if model.day_range:
            import datetime as _dt
            f_d, t_d = model.day_range
            lo = F.lit((f_d - _dt.timedelta(days=1)).isoformat()).cast("timestamp")
            hi = F.lit((t_d + _dt.timedelta(days=2)).isoformat()).cast("timestamp")
            df = df.filter((raw >= lo) & (raw < hi))
        return df.withColumn(day_col, F.from_utc_timestamp(raw, tz))

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
            col = table.columns.get(name)
            dtype = col.dtype if col is not None else None
            ci = isinstance(col, DimCol) and col.case_insensitive
            sql = _col_sql(table.columns, name)
            return ResolvedField(col=F.expr(sql), dtype=dtype,
                                 case_insensitive=ci, sql=sql)

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

    def _build_fact_agg(self, model: RequestModel,
                        extra_keys: Optional[list[str]] = None,
                        skip_group: bool = False,
                        prefilter_keys: Optional[tuple[str, DataFrame]] = None,
                        prefilter_values: Optional[list] = None
                        ) -> DataFrame:
        """fact scan -> filter -> (groupBy.agg) with group keys =
        projected fact dims + FK cols needed by join chains.

        ``prefilter_keys=(fk_col, keys_df)`` semi-joins the RAW fact on the
        driving dimension's paginated key set before any aggregation — the
        Spark-first form of the reference's dim-driven InFilter injection
        (QueryPipeline.scala:918-946: dim query first, then
        ``InFilter(fact_fk, page_keys)`` on the fact query). The page is
        bounded by rowsPerPage (<=5k sync / 100k async), so a broadcast
        hash semi-join prunes the fact scan instead of aggregating the
        whole table into high-cardinality groups.

        ``prefilter_values`` (the page keys, collected driver-side by
        the dim-driven builder when a skipping sidecar for the fk column
        exists) additionally probes the fact's file-skipping index so
        the scan OPENS only files whose zone map / Bloom may contain the
        page's keys — the semi-join then filters rows inside those
        files. A stale/absent sidecar degrades to the plain scan."""
        table = model.fact_table
        needles = None
        if prefilter_keys is not None and prefilter_values:
            needles = [(prefilter_keys[0], prefilter_values)]
        df = self._load_fact(table, model, extra_needles=needles)

        # physical forced filters (over physical column names)
        for ff in table.forced_filters:
            def raw_resolve(alias: str, _t=table) -> ResolvedField:
                col = _t.columns.get(alias)
                sql = _col_sql(_t.columns, alias)
                return ResolvedField(col=F.expr(sql), sql=sql,
                                     dtype=col.dtype if col else None)
            df = df.filter(ff.to_column(raw_resolve))

        row_filters, having = self._split_fact_filters(model)
        resolve = self._fact_resolver(model)
        for f in row_filters:
            df = df.filter(f.to_column(resolve))

        keys = self._group_key_exprs(model)
        fk_cols = [ch.fact_fk_col for ch in model.chains
                   if ch.join_type != "left_semi"]
        for fk in (extra_keys or []):
            if fk not in fk_cols:
                fk_cols.append(fk)
        key_exprs = [F.expr(sql).alias(alias) for alias, sql in keys]
        key_exprs += [F.col(fk).alias(fk) for fk in fk_cols
                      if fk not in [a for a, _ in keys]]

        # semi-join chains reduce the fact BEFORE aggregation; the key
        # set broadcasts only under the dims' declared-cardinality
        # ceiling — a weak filter on a billion-row dim must shuffle
        for ch in model.chains:
            if ch.join_type == "left_semi":
                dim_keys = self._build_chain_df(ch, keys_only=True)
                df = df.join(self._maybe_broadcast(dim_keys, ch.dims),
                             df[ch.fact_fk_col] == dim_keys["__semi_key"],
                             "left_semi")

        # dim-driven page-key pushdown (see docstring)
        if prefilter_keys is not None:
            fk_name, keys_df = prefilter_keys
            df = df.join(F.broadcast(keys_df),
                         df[fk_name] == keys_df["__page_key"], "left_semi")

        base_needed, direct, derived = self._metric_plan(model)

        if skip_group:
            return df

        aggs: list[Column] = []
        # NoopRollup metrics that are pure functions of BARE group-key
        # columns become post-aggregation projections instead of
        # first(...) aggregates: a first() over a string expression has a
        # string aggregation buffer, which disqualifies HashAggregate and
        # forces the WHOLE fact aggregation into SortAggregate (partial
        # sort of every scan partition — plan-audited r12, guide §2.3).
        # Identity: the expr's placeholder refs all appear as bare group
        # keys, so the expr is constant within each group and
        # first(expr, ignorenulls) == expr(key) row-for-row (a group's
        # constant is either the projected value or NULL in both forms).
        # Derived/decoded keys never match the bare `col` spelling, so
        # anything non-trivially grouped falls back to first().
        key_alias_by_sql = {sql: alias for alias, sql in keys}
        post_noop: list[tuple[str, str]] = []
        for alias, col in direct:
            if isinstance(col.rollup, NoopRollup) and col.expr and key_exprs:
                refs = _PLACEHOLDER.findall(col.expr)
                if refs and all(_q(r) in key_alias_by_sql for r in refs):
                    sub = {r: _q(key_alias_by_sql[_q(r)]) for r in refs}
                    post_noop.append((alias, expand_expr(col.expr, sub)))
                    continue
            aggs.append(self._agg_expr(col, table, df).alias(alias))
        for name, col in base_needed.items():
            # derived exprs always read the __base_-prefixed internal copy,
            # even when the same metric is also directly projected
            aggs.append(self._agg_expr(col, table, df).alias(f"__base_{name}"))
        # average decomposition partials for possible OGB re-agg
        if model.requires_outer_group_by:
            for alias, col in direct:
                if isinstance(col.rollup, AverageRollup):
                    src = self._agg_source(col, table)
                    aggs.append(F.sum(src).alias(f"__avgsum_{alias}"))
                    aggs.append(F.count(src).alias(f"__avgcnt_{alias}"))

        if not aggs and post_noop:
            # every metric was noop-rewritten: revert one to its first()
            # so the grouped-aggregation shape still runs (the scan/
            # distinct branches below must stay unreachable while
            # projections are pending)
            alias0, _sql0 = post_noop.pop(0)
            col0 = dict(direct)[alias0]
            aggs.append(self._agg_expr(col0, table, df).alias(alias0))

        if not aggs:
            # pure dim/scan projection at fact grain (queryType=scan)
            if model.request.query_type == "scan":
                return df.select(*key_exprs)
            return df.select(*key_exprs).distinct()

        gdf = df.groupBy(*key_exprs).agg(*aggs) if key_exprs else df.agg(*aggs)
        for alias, sql in post_noop:
            gdf = gdf.withColumn(alias, F.expr(sql))

        # HAVING filters over aggregated metric aliases
        if having:
            def having_resolve(alias: str) -> ResolvedField:
                pub = model.cube.fact_alias_map().get(alias)
                if pub is not None:
                    col = table.columns.get(pub.name)
                    if isinstance(col, DerivedFactCol):
                        resolver = {n: _q(f"__base_{n}") for n in table.columns}
                        sql = expand_expr(col.expr, resolver)
                        return ResolvedField(col=F.expr(sql), sql=sql)
                    if alias in gdf.columns:
                        return ResolvedField(col=F.col(_q(alias)), sql=_q(alias))
                    return ResolvedField(col=F.col(_q(f"__base_{pub.name}")),
                                         sql=_q(f"__base_{pub.name}"))
                return ResolvedField(col=F.col(_q(alias)), sql=_q(alias))
            for f in having:
                gdf = gdf.filter(f.to_column(having_resolve))
        return gdf

    def _agg_source(self, col: FactCol, table: FactTable) -> Column:
        if col.expr:
            resolver = {n: _inner_sql(table.columns, n) for n in table.columns}
            return F.expr(expand_expr(col.expr, resolver))
        return F.expr(_col_sql(table.columns, col.name))

    def _agg_expr(self, col: FactCol, table: FactTable,
                  df: DataFrame) -> Column:
        src = self._agg_source(col, table)
        if isinstance(col.rollup, AverageRollup):
            # AVG's result type for this source, resolved against df
            avg_type = df.select(F.avg(src)).schema[0].dataType
            return col.rollup.agg(src, avg_type)
        return col.rollup.agg(src)

    # ------------------------------------------------------------------
    # dimension side
    # ------------------------------------------------------------------
    def _dim_resolver(self, dim: PublicDimension):
        t = dim.table

        def resolve(alias: str) -> ResolvedField:
            pub = dim.alias_map().get(alias)
            name = pub.name if pub is not None else alias
            col = t.columns.get(name)
            ci = isinstance(col, DimCol) and col.case_insensitive
            sql = _col_sql(t.columns, name)
            return ResolvedField(col=F.expr(sql), sql=sql,
                                 dtype=col.dtype if col else None,
                                 case_insensitive=ci)

        return resolve

    def _load_dim(self, dim: PublicDimension, ch: DimJoinChain,
                  schema_name: Optional[str] = None) -> DataFrame:
        t = dim.table
        df = self.binding.table(t.name)
        resolve = self._dim_resolver(dim)
        for f in ch.filters.get(dim.name, []):
            df = df.filter(f.to_column(resolve))
        # project: pk, parent fks, projected attrs (column pruning)
        cols: list[Column] = [F.col(_q(t.primary_key))]
        for fk in t.parent_keys:
            if fk != t.primary_key:
                cols.append(F.col(_q(fk)))
        for alias in ch.projected.get(dim.name, []):
            pub = dim.alias_map()[alias]
            cols.append(F.expr(_decode_sql(t.columns, pub)).alias(alias))
        for s in ch.sorts:
            pub = dim.alias_map().get(s.field)
            if pub is not None and s.field not in ch.projected.get(dim.name, []):
                cols.append(F.expr(_decode_sql(t.columns, pub)).alias(s.field))
        return df.select(*cols)

    #: estimated-rows ceiling for hinting a dimension broadcast; only a dim
    #: DECLARING a cardinality at or under the ceiling gets the hint — an
    #: undeclared dim joins unhinted, so Catalyst/AQE pick the strategy
    #: from real sizes (shuffled hash / sort-merge, with runtime broadcast
    #: conversion if the filtered side turns out small). An explicit hint
    #: overrides autoBroadcastJoinThreshold and AQE sizing, so hinting an
    #: unknown-size dim would OOM every executor at cluster scale.
    BROADCAST_DIM_MAX_ROWS = 5_000_000

    def _maybe_broadcast(self, ddf: DataFrame, dims) -> DataFrame:
        """Broadcast-hint a dim frame only when EVERY participating
        dimension declares a cardinality within the ceiling; unknown
        (undeclared) cardinality means no hint — never ship a dim of
        unknown size to every executor (dimCardinalityEnginePreference,
        ref fact/Fact.scala routes on declared dim cardinality)."""
        for d in dims:
            card = d.table.cardinality
            if card is None or card > self.BROADCAST_DIM_MAX_ROWS:
                return ddf
        return F.broadcast(ddf)

    def _build_chain_df(self, ch: DimJoinChain, keys_only: bool = False) -> DataFrame:
        """Join the snowflake chain d0 <- d1 <- ... into one dim-side DF
        keyed by d0's primary key."""
        d0 = ch.dims[0]
        df = self._load_dim(d0, ch)
        prev = d0
        for d in ch.dims[1:]:
            fk_col = next((c for c, pname in prev.table.parent_keys.items()
                           if pname == d.name), None)
            if fk_col is None:
                raise ValueError(f"no parent key {prev.name} -> {d.name}")
            ddf = self._load_dim(d, ch)
            # inner if this dim carries filters, else left to keep chain rows
            jt = "inner" if ch.filters.get(d.name) else "left_outer"
            df = df.join(self._maybe_broadcast(ddf, [d]),
                         df[fk_col] == ddf[_q(d.table.primary_key)], jt)
            df = df.drop(ddf[_q(d.table.primary_key)])
            prev = d
        if keys_only:
            return df.select(F.col(_q(d0.table.primary_key)).alias("__semi_key")) \
                     .distinct()
        # keep join key + all projected/sort aliases
        keep = [F.col(_q(d0.table.primary_key)).alias(f"__dimkey_{ch.fact_fk_col}")]
        for dname, aliases in ch.projected.items():
            keep += [F.col(_q(a)) for a in aliases]
        for s in ch.sorts:
            if all(s.field not in al for al in ch.projected.values()):
                if s.field in df.columns:
                    keep.append(F.col(_q(s.field)))
        return df.select(*keep)

    # ------------------------------------------------------------------
    # strategies
    # ------------------------------------------------------------------
    def _needs_join_agg(self, model: RequestModel) -> bool:
        """Use join-then-agg (single aggregation at the final grain after
        joining raw fact rows to the broadcast dims) whenever an outer
        group-by would otherwise be needed.

        The reference's OGB (inner agg + join + outer re-agg,
        OracleOuterGroupByQueryGenerator.scala:35) exists because its
        engines couldn't join-then-aggregate efficiently. In Spark the
        inner aggregation keys include the join FKs — near fact grain, so
        it shrinks nothing — while its exchange shuffles the whole fact.
        Join-then-agg replaces that with broadcast probes on raw rows plus
        ONE exchange of map-side-combined partials at the (tiny) final
        alias grain, and is also the only lossless plan for
        non-re-aggregatable metrics (cardinality, average)."""
        return model.requires_outer_group_by

    def _build_fact_driven(self, model: RequestModel) -> DataFrame:
        if self._needs_join_agg(model):
            return self._build_join_then_agg(model)

        df = self._build_fact_agg(model)

        for ch in model.chains:
            if ch.join_type == "left_semi" or not (ch.has_projection or ch.sorts):
                continue
            dimdf = self._build_chain_df(ch)
            key = f"__dimkey_{ch.fact_fk_col}"
            df = df.join(self._maybe_broadcast(dimdf, ch.dims),
                         df[_q(ch.fact_fk_col)] == dimdf[_q(key)],
                         ch.join_type).drop(key)

        if model.requires_outer_group_by:
            df = self._outer_group_by(model, df)

        df = self._final_projection(model, df)
        return df

    def _build_join_then_agg(self, model: RequestModel) -> DataFrame:
        """Single aggregation at the final grain after joining dims to raw
        fact rows (used when metrics are not re-aggregatable)."""
        table = model.fact_table
        df = self._build_fact_agg(model, skip_group=True)
        for ch in model.chains:
            if ch.join_type == "left_semi":
                continue
            dimdf = self._build_chain_df(ch)
            key = f"__dimkey_{ch.fact_fk_col}"
            df = df.join(self._maybe_broadcast(dimdf, ch.dims),
                         df[_q(ch.fact_fk_col)] == dimdf[_q(key)],
                         ch.join_type).drop(key)

        keys = []
        for p in model.projections:
            if p.kind == FACT_DIM:
                keys.append(F.expr(_decode_sql(table.columns, p.pub_col)).alias(p.alias))
            elif p.kind == DIM_ATTR:
                keys.append(F.col(_q(p.alias)))
        base_needed, direct, derived = self._metric_plan(model)
        aggs = [self._agg_expr(col, table, df).alias(alias) for alias, col in direct]
        for name, col in base_needed.items():
            aggs.append(self._agg_expr(col, table, df).alias(f"__base_{name}"))
        gdf = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)

        # HAVING-style filters on metric aliases (same resolution as the
        # agg-then-join path, which applies them inside _build_fact_agg)
        _, having = self._split_fact_filters(model)
        if having:
            def having_resolve(alias: str) -> ResolvedField:
                pub = model.cube.fact_alias_map().get(alias)
                if pub is not None:
                    col = table.columns.get(pub.name)
                    if isinstance(col, DerivedFactCol):
                        resolver = {n: _q(f"__base_{n}") for n in table.columns}
                        sql = expand_expr(col.expr, resolver)
                        return ResolvedField(col=F.expr(sql), sql=sql)
                    if alias in gdf.columns:
                        return ResolvedField(col=F.col(_q(alias)), sql=_q(alias))
                    return ResolvedField(col=F.col(_q(f"__base_{pub.name}")),
                                         sql=_q(f"__base_{pub.name}"))
                return ResolvedField(col=F.col(_q(alias)), sql=_q(alias))
            for f in having:
                gdf = gdf.filter(f.to_column(having_resolve))
        return self._final_projection(model, gdf, keys_present=True)

    def _outer_group_by(self, model: RequestModel, df: DataFrame) -> DataFrame:
        """Re-aggregate at the final alias grain after dim joins
        (OracleOuterGroupByQueryGenerator semantics, SURVEY §2.4)."""
        table = model.fact_table
        keys = [F.col(_q(p.alias)) for p in model.projections
                if p.kind in (FACT_DIM, DIM_ATTR)]
        aggs: list[Column] = []
        for p in model.projections:
            if p.kind != METRIC:
                continue
            col = table.columns.get(p.pub_col.name)
            if isinstance(col, FactCol):
                if isinstance(col.rollup, AverageRollup):
                    # the inner aggregate's AVG column carries AVG's type
                    aggs.append(exact_avg(
                        F.sum(F.col(_q(f"__avgsum_{p.alias}"))),
                        F.sum(F.col(_q(f"__avgcnt_{p.alias}"))),
                        df.schema[p.alias].dataType).alias(p.alias))
                else:
                    aggs.append(col.rollup.reagg(F.col(_q(p.alias))).alias(p.alias))
        # re-aggregate base partials for derived metrics (sum-of-sums)
        for c in df.columns:
            if c.startswith("__base_"):
                name = c[len("__base_"):]
                col = table.columns.get(name)
                if isinstance(col, FactCol):
                    aggs.append(col.rollup.reagg(F.col(_q(c))).alias(c))
                else:
                    aggs.append(F.sum(F.col(_q(c))).alias(c))
        return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)

    def _build_dim_driven(self, model: RequestModel) -> DataFrame:
        """Dim-driven (ROJ) shape: paginate the ORDERED dimension first, then
        left-join the aggregated fact (QueryPipeline.scala:918-946;
        OracleQueryGeneratorTest.scala:456-489). Entities with zero fact rows
        appear, with metric defaults coalesced."""
        driving = model.chains[0]
        dimdf = self._build_chain_df(driving)

        # TOTALROWS = matching dim entities BEFORE pagination (the page
        # size is not the answer); 1-row aggregate broadcast onto the page
        total = None
        if model.include_row_count and not model.request_distinct:
            # under Distinct the meaningful total is the count of DISTINCT
            # final rows, computed in build() after the dedupe
            total = dimdf.agg(F.count(F.lit(1)).alias(ROW_COUNT_ALIAS))

        # pre-join ordering + pagination on the dim side
        order = []
        for s in model.dim_sorts:
            if s.field in dimdf.columns:
                order.append(F.col(_q(s.field)).desc() if s.order == "DESC"
                             else F.col(_q(s.field)).asc())
        key = f"__dimkey_{driving.fact_fk_col}"
        order.append(F.col(_q(key)).asc())  # deterministic tiebreak
        # Distinct dedupes the FINAL projection before pagination (the
        # reference renders SELECT DISTINCT inside the pagination wrapper,
        # OracleQueryGenerator.scala:655-670) — pre-join dim pagination
        # would short pages / repeat rows across pages, so it defers to
        # build()'s post-distinct pagination for this case
        # any explicit limit (0 = describe shape) or offset paginates the
        # dim side here; Distinct defers to post-dedupe pagination
        paginate_dim = (not model.request_distinct
                        and (model.max_rows >= 0 or model.start_index > 0))
        if paginate_dim:
            # the global dim sort exists to cut a deterministic page —
            # skipped when pagination defers to the post-distinct step
            dimdf = dimdf.orderBy(*order)
            if model.start_index > 0:
                dimdf = dimdf.offset(model.start_index)
            if model.max_rows >= 0:
                dimdf = dimdf.limit(model.max_rows)

        # paginated page => bounded, deterministic key set (total order with
        # the __dimkey tiebreak) — push it into the fact scan as the
        # reference pushes an InFilter (QueryPipeline.scala:918-946).
        # Only an explicit LIMIT bounds the key set; offset-only and
        # unpaginated (distinct) pages have nothing bounded to push.
        prefilter = None
        page_values = None
        if paginate_dim and model.max_rows >= 0:
            prefilter = (driving.fact_fk_col,
                         dimdf.select(F.col(_q(key)).alias("__page_key")))
            # when the fact carries a skipping sidecar on the driving fk,
            # the page's key VALUES (bounded by the row caps) probe it so
            # the fact scan opens only candidate files. The page is
            # cached first (engine's scoped-cache drain reclaims it) so
            # the driver collect, the semi-join broadcast, and the final
            # dim join all reuse ONE ordered-pagination computation.
            if (not getattr(model, "timezone", None)
                    and not getattr(model, "utc_shifted", False)
                    and self._fact_has_sidecar(model.fact_table,
                                               driving.fact_fk_col)):
                from ..ops.common import scoped_cache
                dimdf = scoped_cache(dimdf)
                prefilter = (driving.fact_fk_col,
                             dimdf.select(F.col(_q(key))
                                          .alias("__page_key")))
                page_values = [r[0] for r in
                               dimdf.select(F.col(_q(key))).collect()]
        fact = self._build_fact_agg(model, extra_keys=[driving.fact_fk_col],
                                    prefilter_keys=prefilter,
                                    prefilter_values=page_values)
        df = dimdf.join(fact, dimdf[_q(key)] == fact[_q(driving.fact_fk_col)],
                        "left_outer")

        # other (non-driving) chains join normally
        for ch in model.chains[1:]:
            if ch.join_type == "left_semi":
                continue
            chdf = self._build_chain_df(ch)
            k2 = f"__dimkey_{ch.fact_fk_col}"
            df = df.join(self._maybe_broadcast(chdf, ch.dims),
                         df[_q(ch.fact_fk_col)] == chdf[_q(k2)],
                         "left_outer").drop(k2)

        # FK projections of the driving chain come from the DIM side when the
        # fact row is missing (entities with zero facts must appear —
        # OracleQueryGeneratorTest.scala:460 coalesce rendering)
        for p in model.projections:
            if p.kind == FACT_DIM and p.pub_col is not None and \
                    p.pub_col.name == driving.fact_fk_col:
                df = df.withColumn(p.alias,
                                   F.coalesce(F.col(_q(key)), F.col(_q(p.alias))))

        df = df.drop(key)
        out = self._final_projection(model, df, coalesce_defaults=True)
        if total is not None:
            out = out.crossJoin(F.broadcast(total))
        return out

    def _fact_has_sidecar(self, table: FactTable, col: str) -> bool:
        """Cheap driver-side probe: does a fresh skipping sidecar for
        ``col`` exist under the binding dir for this fact? Gates the
        dim-driven page-key collect — without a sidecar the collect
        would be a wasted job."""
        import os as _os

        from .skipping import _index_path, index_stale, table_index_dir
        base_dir = getattr(self.binding, "base_dir", None)
        if base_dir is None or not hasattr(self.binding, "table_pruned"):
            return False
        idx_dir = table_index_dir(base_dir, table.name)
        if not _os.path.exists(_index_path(idx_dir, col)):
            return False
        tdir = self.binding.table_path(table.name) \
            if hasattr(self.binding, "table_path") else None
        return tdir is not None and not index_stale(tdir, idx_dir, col)

    def _build_dim_only(self, model: RequestModel) -> DataFrame:
        """Dim-only SELECT DISTINCT (RequestModel.isRequestingDistict).

        Each chain is reduced to its projected attributes and de-duplicated
        BEFORE chains are combined, so a request spanning unrelated chains
        cross-joins the small distinct sets (product bounded by attribute
        cardinalities) instead of the raw dimension tables. That bound is
        ENFORCED, not hoped: when more than one chain combines, each
        distinct set is counted and the running product is capped at
        ``DIM_ONLY_CROSS_MAX`` — two high-cardinality attributes (e.g.
        two name columns) raise ValidationError (-> 400) instead of
        materializing a cartesian blow-up."""
        parts = []
        for ch in model.chains:
            chdf = self._build_chain_df(ch)
            keep = [a for als in ch.projected.values() for a in als]
            keep += [s.field for s in ch.sorts
                     if s.field not in keep and s.field in chdf.columns]
            parts.append(chdf.select(*[F.col(_q(a)) for a in keep]).distinct())
        if len(parts) > 1:
            # evaluate each distinct set ONCE via scoped_cache: the
            # guard's count materializes it lazily (one part at a time
            # — a rejected request never evaluates past the part that
            # blows the cap) and the cross-join reuses the cached rows;
            # the engine drains scoped caches in execute()'s finally,
            # so a long-lived serving session accumulates nothing, and
            # a lost-executor recomputes from lineage (a localCheckpoint
            # would be unrecoverable)
            from ..ops.common import scoped_cache
            from ..request.request import ValidationError
            parts = [scoped_cache(p) for p in parts]
            product = 1
            for p in parts:
                product *= max(1, p.count())
                if product > DIM_ONLY_CROSS_MAX:
                    raise ValidationError(
                        ["distinct dim request spans unrelated chains "
                         f"whose cartesian product exceeds "
                         f"{DIM_ONLY_CROSS_MAX} rows — narrow the "
                         "requested attributes or add filters"])
        df = parts[0]
        for p in parts[1:]:
            df = df.crossJoin(p)
        cols = [F.col(_q(p.alias)) for p in model.projections if p.kind == DIM_ATTR]
        return df.select(*cols).distinct()

    # ------------------------------------------------------------------
    def _final_projection(self, model: RequestModel, df: DataFrame,
                          keys_present: bool = False,
                          coalesce_defaults: bool = False) -> DataFrame:
        table = model.fact_table
        cols: list[Column] = []
        base_needed, direct, derived = self._metric_plan(model)
        derived_aliases = {a for a, _ in derived}
        for p in model.projections:
            if p.kind == CONSTANT:
                cols.append(F.lit(p.value).alias(p.alias))
            elif p.kind in (FACT_DIM, DIM_ATTR):
                colmeta = table.columns.get(p.pub_col.name) \
                    if p.pub_col is not None else None
                if p.kind == FACT_DIM and isinstance(colmeta, DerivedDimCol) \
                        and colmeta.render_expr and \
                        not colmeta.dtype.has_static_mapping:
                    # presentation step deferred from the group key
                    cols.append(F.expr(expand_expr(
                        colmeta.render_expr,
                        {"self": _q(p.alias)})).alias(p.alias))
                else:
                    cols.append(F.col(_q(p.alias)))
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
                c = F.expr(expand_expr(col.expr, sub))
                if coalesce_defaults and col.dtype.default_value is not None:
                    c = F.coalesce(c, F.lit(col.dtype.default_value))
                cols.append(c.alias(p.alias))
            elif p.kind == METRIC:
                c: Column = F.col(_q(p.alias))
                colmeta = table.columns.get(p.pub_col.name)
                if coalesce_defaults and colmeta is not None and \
                        colmeta.dtype.default_value is not None:
                    c = F.coalesce(c, F.lit(colmeta.dtype.default_value))
                cols.append(c.alias(p.alias))
        return df.select(*cols)

    def _apply_outer_filters(self, model: RequestModel, df: DataFrame) -> DataFrame:
        if not model.outer_filters:
            return df

        def resolve(alias: str) -> ResolvedField:
            return ResolvedField(col=F.col(_q(alias)), sql=_q(alias))

        for f in model.outer_filters:
            df = df.filter(f.to_column(resolve))
        return df

    def _apply_order_and_page(self, model: RequestModel, df: DataFrame) -> DataFrame:
        order: list[Column] = []
        sorted_fields: set[str] = set()
        for s in model.request.sort_by:
            name = s.field
            if name in df.columns:
                c = F.col(_q(name))
                order.append(c.desc() if s.order == "DESC" else c.asc())
                sorted_fields.add(name)
        # dim-driven plans paginate pre-join — except under Distinct,
        # where pagination must follow the final dedupe and happens here
        paginating = not model.is_dim_driven or model.request_distinct
        if paginating and (order or model.request_distinct) \
                and (model.start_index > 0 or model.max_rows >= 0):
            # offset/limit across separate page requests needs a TOTAL
            # order — user sorts alone may tie, and each page is its own
            # Spark job, so without a tiebreak rows can repeat or vanish
            # across pages. The remaining projection columns break ties
            # (distinct rows differ in at least one of them). An
            # UNSORTED non-distinct limit stays an unordered CollectLimit
            # (reference ROWNUM-without-ORDER-BY semantics): forcing a
            # total order there would sort the whole scan at 100 TB for
            # pages nobody asked to be stable.
            order += [F.col(_q(p.alias)).asc() for p in model.projections
                      if p.alias not in sorted_fields
                      and p.alias in df.columns]
        if order:
            df = df.orderBy(*order)
        if paginating:
            if model.start_index > 0:
                df = df.offset(model.start_index)
            # 0 is a real limit (describe queries: SELECT * ... LIMIT 0
            # serve the schema); -1 means unpaginated
            if model.max_rows >= 0:
                df = df.limit(model.max_rows)
        return df
