"""RequestModel: the analyzed query (maha `core/.../RequestModel.scala:114-164`,
built by RequestModel.from :318-1287).

Responsibilities preserved from the reference:

* alias -> column resolution against the cube's public contract
* fact/dim split of projections, filters, sorts
* dimension-candidate discovery + join-path resolution up snowflake chains
  (Registry.findDimensionPath:776)
* join-type derivation matrix (RequestModel.scala:180-228):
    - dim filtered (non-PK) or schema-required field on dim -> INNER
    - fact-driven, no dim filters                            -> LEFT OUTER
    - dim-driven (forceDimensionDriven)                      -> dim side drives,
      fact LEFT-OUTER-joined to the paginated dim (ROJ shape,
      QueryPipeline.scala:918-946)
    - dim filtered but nothing projected from it             -> LEFT SEMI
* validation: unknown fields, disallowed filter ops, in-list length caps
  (RequestModel.scala:1359-1380), mandatory Day filter, max-days-window /
  look-back (:1300-1343), schema-required filters (fact/Fact.scala:1752),
  restricted schemas, incompatible/dependent columns, row caps
* fact candidate pruning + cheapest-table choice
  (getCandidatesFor + findBestFactCandidate, QueryPipeline.scala:487-561)
"""

from __future__ import annotations

import datetime as _dt
import re as _re
from dataclasses import dataclass, field as dfield
from typing import Any, Optional

from ..core.columns import DerivedDimCol, DerivedFactCol, DimCol, FactCol, _PLACEHOLDER
from ..core.filters import (
    AndFilter, BetweenFilter, FieldEqualityFilter, Filter, InFilter,
    NotInFilter, OrFilter, OuterFilter, PushDownFilter,
)
from ..registry.cube import FactTable, PubCol, PublicDimension, PublicFact, Registry
from ..request.request import ReportingRequest, SortBy, ValidationError

MAX_ALLOWED_FILTER_VALUES = 1000  # in-list cap (RequestModel.scala:1359-1380)

FACT_DIM = "fact_dim"      # group-by-able field answered from the fact table
METRIC = "metric"          # aggregated field
DIM_ATTR = "dim_attr"      # field from a joined dimension
CONSTANT = "constant"      # Field.value constant


@dataclass
class ProjectedField:
    alias: str           # public alias requested
    output_name: str     # alias in the result (Field.alias or field)
    kind: str
    pub_col: Optional[PubCol] = None
    dim_name: Optional[str] = None   # for DIM_ATTR: terminal public dim
    value: Any = None                # for CONSTANT


def resolve_output_column(name: str,
                          projections: list[ProjectedField]
                          ) -> Optional[str]:
    """SQL's ORDER BY name rule, shared by sorts and outer filters:
    ``name`` is an output name first, else a select field that is not
    another column's output name. Returns that projection's alias (the
    column name until the planner's final rename), or None when nothing
    selected answers to ``name``."""
    for p in projections:
        if p.output_name == name:
            return p.alias
    for p in projections:
        if p.alias == name:
            return p.alias
    return None


@dataclass
class DimJoinChain:
    """One join chain fact -> d0 -> d1 -> ... ordered fact-adjacent first."""

    fact_fk_col: str                      # physical fact column
    dims: list[PublicDimension]
    join_type: str                        # left_outer | inner | left_semi
    #: aliases projected per dim name
    projected: dict[str, list[str]] = dfield(default_factory=dict)
    #: filters per dim name
    filters: dict[str, list[Filter]] = dfield(default_factory=dict)
    #: sorts on attributes of dims in this chain (dim-driven path)
    sorts: list[SortBy] = dfield(default_factory=list)

    @property
    def has_projection(self) -> bool:
        return any(self.projected.values())

    @property
    def has_filters(self) -> bool:
        return any(self.filters.values())


@dataclass
class RequestModel:
    request: ReportingRequest
    cube: PublicFact
    fact_table: FactTable
    projections: list[ProjectedField]
    fact_filters: list[Filter]
    outer_filters: list[OuterFilter]
    chains: list[DimJoinChain]
    fact_sorts: list[SortBy]
    dim_sorts: list[SortBy]
    is_dim_driven: bool
    is_dim_only: bool            # no metrics requested -> SELECT DISTINCT dims
    include_row_count: bool
    start_index: int
    max_rows: int
    #: needed physical fact columns (scan pruning)
    needed_fact_cols: set[str]
    requires_outer_group_by: bool
    utc_shifted: bool = False
    #: additionalParameters.Distinct (RequestModel.scala:1089-1096): the
    #: final projected rows dedupe before pagination
    request_distinct: bool = False
    #: additionalParameters.AdditionalColumnInfo: (field, value) pairs
    #: textually substituted into COL_W_REPLACEMENTS columns at plan time
    #: (QueryGenerator.scala:399 overrideRenderedColWithCtx)
    additional_col_info: tuple = ()
    #: request timezone (additionalParameters.timeZone): the fact's raw time
    #: column is rendered in this zone before day/grain derivations
    #: (BaseUTCTimeProvider.scala:16-127 semantics, Spark-native)
    timezone: Optional[str] = None
    #: parsed (from, to) of the mandatory Day between filter — used for the
    #: widened UTC partition-pruning bound when timezone is set
    day_range: Optional[tuple] = None
    #: public dim-attribute alias -> fact column, for aliases the selected
    #: table serves from its own MATERIALIZED dim columns (chain-rebase
    #: coverage); the planner's fact resolver consults this for aliases
    #: outside the cube's own contract
    covered_dim_aliases: dict[str, str] = dfield(default_factory=dict)

    @property
    def metric_aliases(self) -> list[str]:
        return [p.alias for p in self.projections if p.kind == METRIC]


def _leaf_filters(f: Filter) -> list[Filter]:
    if isinstance(f, (AndFilter, OrFilter, OuterFilter)):
        return [lf for sub in f.filters for lf in _leaf_filters(sub)]
    if isinstance(f, PushDownFilter) and f.inner is not None:
        return _leaf_filters(f.inner)
    return [f]


def _check_filter_ops(f: Filter, pub: PubCol, errors: list[str]) -> None:
    for leaf in _leaf_filters(f):
        if leaf.field != pub.alias:
            continue
        op = leaf.operator
        if op in ("or", "and", "outer", "pushdown"):
            continue
        if pub.filter_ops and op not in pub.filter_ops:
            errors.append(
                f"Unsupported operation {op!r} on field {pub.alias!r}; allowed: "
                f"{sorted(pub.filter_ops)}")
        for attr in ("values",):
            vals = getattr(leaf, attr, None)
            if vals is not None and len(vals) > MAX_ALLOWED_FILTER_VALUES:
                errors.append(
                    f"Filter on {pub.alias!r} exceeds max allowed values "
                    f"{MAX_ALLOWED_FILTER_VALUES}")


def _parse_date(v: Any) -> Optional[_dt.date]:
    if isinstance(v, _dt.date):
        return v
    try:
        return _dt.date.fromisoformat(str(v)[:10])
    except ValueError:
        return None


#: AdditionalColumnInfo crosses a trust boundary (any REST caller) and
#: splices textually into COL_W_REPLACEMENTS SQL: fields must be real
#: tokens (no single-char wildcards that would strip authored syntax)
#: and values identifier-shaped — no quotes/backticks/parens, so a value
#: can neither break out of a string literal nor call functions
_ACI_FIELD = _re.compile(r"^[A-Za-z0-9_.{}$-]{2,64}$")
_ACI_VALUE = _re.compile(r"^[A-Za-z0-9_. ]{0,64}$")


# stringly-typed parameter coercion shared with request parsing
from ..request.request import _to_bool as _parse_bool_param  # noqa: E402


def build_request_model(request: ReportingRequest, registry: Registry,
                        today: Optional[_dt.date] = None,
                        revision: Optional[int] = None,
                        table_available=None) -> RequestModel:
    """``table_available``: optional ``(physical name) -> bool`` probe —
    a declared rollup whose physical table is not materialized in the
    current binding must not be selected (the reference disqualifies
    candidates on unavailable engines the same way)."""
    errors: list[str] = []
    try:
        cube = registry.fact(request.cube, revision=revision)
    except KeyError as e:
        # unknown cube / unknown revision is a request error, not a crash
        raise ValidationError([str(e).strip('"')]) from None

    dim_alias = cube.dim_alias_map()
    fact_alias = cube.fact_alias_map()

    # dimension lookup tables: which public dim carries which alias,
    # and which fact FK col reaches which public dim
    fact_fks = cube.base_table.fk_columns()  # physical col -> pub dim name
    reachable: dict[str, tuple[str, list[str]]] = {}  # dim name -> (fk col, path)
    for fk_col, dname in fact_fks.items():
        # BFS from each FK dim through parent chains
        frontier = [[dname]]
        while frontier:
            path = frontier.pop(0)
            last = path[-1]
            if last not in reachable or len(path) < len(reachable[last][1]):
                reachable[last] = (fk_col, path)
            try:
                d = registry.dimension(last)
            except KeyError:
                # one unregistered dim prunes only ITS path; sibling /
                # parent paths still queued in the frontier must survive
                continue
            for parent in d.table.parent_keys.values():
                if parent not in [p for p in path]:
                    frontier.append(path + [parent])

    def locate_dim_attr(alias: str) -> Optional[tuple[str, PubCol]]:
        """Find (terminal dim name, pub col) providing this alias."""
        best: Optional[tuple[str, PubCol]] = None
        for dname in reachable:
            try:
                d = registry.dimension(dname)
            except KeyError:
                continue
            p = d.alias_map().get(alias)
            if p is not None:
                # prefer the shortest chain
                if best is None or len(reachable[dname][1]) < len(reachable[best[0]][1]):
                    best = (dname, p)
        return best

    # ------------------------------------------------------------------
    # resolve projections
    # ------------------------------------------------------------------
    projections: list[ProjectedField] = []
    used_aliases: list[str] = []
    dim_usage: dict[str, dict[str, Any]] = {}  # dim name -> {projected, filters, sorts}

    def dim_use(dname: str) -> dict[str, Any]:
        return dim_usage.setdefault(dname, {"projected": [], "filters": [], "sorts": []})

    for sf in request.select_fields:
        if sf.value is not None:
            projections.append(ProjectedField(sf.field, sf.output_name, CONSTANT,
                                              value=sf.value))
            continue
        a = sf.field
        used_aliases.append(a)
        if a in dim_alias:
            projections.append(ProjectedField(a, sf.output_name, FACT_DIM,
                                              pub_col=dim_alias[a]))
        elif a in fact_alias:
            projections.append(ProjectedField(a, sf.output_name, METRIC,
                                              pub_col=fact_alias[a]))
        else:
            hit = locate_dim_attr(a)
            if hit is None:
                errors.append(f"Field not found in cube {request.cube!r}: {a!r}")
                continue
            dname, pub = hit
            d = registry.dimension(dname)
            # join elimination: PK alias answered from the fact FK when the
            # fact carries the FK column (RequestModel.scala join-need logic)
            if pub.alias == d.pk_alias and dname in fact_fks.values():
                fk_col = next(c for c, n in fact_fks.items() if n == dname)
                synth = PubCol(alias=a, name=fk_col, filter_ops=pub.filter_ops)
                projections.append(ProjectedField(a, sf.output_name, FACT_DIM,
                                                  pub_col=synth))
            else:
                projections.append(ProjectedField(a, sf.output_name, DIM_ATTR,
                                                  pub_col=pub, dim_name=dname))
                dim_use(dname)["projected"].append(a)

    # duplicate output aliases (RequestModel.scala "Duplicate fields/
    # aliases found"): two select fields may not share a result name
    seen_out: set[str] = set()
    dup_out: set[str] = set()
    for sf in request.select_fields:
        key = sf.output_name or sf.field
        if key in seen_out:
            dup_out.add(key)
        seen_out.add(key)
    if dup_out:
        errors.append(f"Duplicate fields/aliases found: cube="
                      f"{request.cube!r}, duplicate fields are "
                      f"{sorted(dup_out)}")

    # required public columns must be requested ("Missing required field:
    # cube=..., field=...")
    for p in list(cube.pub_cols) + list(cube.pub_fact_cols):
        if p.required and p.alias not in used_aliases:
            errors.append(f"Missing required field: cube={request.cube!r}, "
                          f"field={p.alias!r}")

    # ------------------------------------------------------------------
    # schema access control + required filters
    # ------------------------------------------------------------------
    filter_fields = [lf.field for f in request.filters for lf in _leaf_filters(f)]

    req_alias = cube.schema_required_alias.get(request.schema)
    if req_alias and req_alias not in filter_fields:
        errors.append(
            f"required filter for schema {request.schema!r} not found: {req_alias!r}")
    elif req_alias:
        # the schema filter is an access-control key: only In / = pin it
        # to concrete tenant values ("Invalid Schema Required Filter ...
        # expected at least one of set(In,=)")
        for f in request.filters:
            for lf in _leaf_filters(f):
                if lf.field == req_alias and lf.operator not in ("in", "="):
                    errors.append(
                        f"Invalid schema required filter operation on "
                        f"{req_alias!r}: expected one of ('in', '='), "
                        f"found {lf.operator!r}")

    for a in used_aliases + filter_fields:
        pub = cube.col_by_alias(a)
        if pub is None:
            # dim attributes carry validation attributes too
            hit = locate_dim_attr(a)
            pub = hit[1] if hit else None
        if pub is None:
            continue
        if pub.restricted_schemas and \
                request.schema not in pub.restricted_schemas:
            errors.append(f"field {a!r} is restricted to schemas "
                          f"{sorted(pub.restricted_schemas)}")
        if pub.incompatible_columns:
            clash = pub.incompatible_columns & set(used_aliases)
            if clash and a in used_aliases:
                errors.append(f"field {a!r} is incompatible with {sorted(clash)}")
        # dependent columns (RequestModel.scala:453: every dependsOnColumns
        # alias must also be requested or filtered)
        if pub.depends_on_columns:
            present = set(used_aliases) | set(filter_fields)
            for dep in sorted(pub.depends_on_columns):
                if dep not in present:
                    errors.append(f"Missing dependent column: field {a!r} "
                                  f"depends on {dep!r}")

    for p in list(cube.pub_cols) + list(cube.pub_fact_cols):
        if p.filtering_required and p.alias not in filter_fields:
            errors.append(f"filtering is required on field {p.alias!r}")

    # ------------------------------------------------------------------
    # classify filters: fact vs dim vs outer; validate ops; day window
    # ------------------------------------------------------------------
    fact_filters: list[Filter] = []
    outer_filters: list[OuterFilter] = []
    day_filter: Optional[BetweenFilter] = None

    def _dtype_of(alias: str):
        pub = cube.col_by_alias(alias)
        if pub is not None:
            for t in cube.tables:
                col = t.columns.get(pub.name)
                if col is not None:
                    return col.dtype
            return None
        hit = locate_dim_attr(alias)
        if hit is not None:
            dname, dpub = hit
            col = registry.dimension(dname).table.columns.get(dpub.name)
            return col.dtype if col is not None else None
        return None

    def _check_filter_values(leaf: Filter) -> None:
        """Value-level filter semantics (RequestModel.scala: max-length,
        statically-mapped-op, numeric-value, field-equality type rules)."""
        from ..core.types import DecType, IntType, StrType
        dt = _dtype_of(leaf.field)
        if dt is None:
            return
        if isinstance(leaf, FieldEqualityFilter):
            other = _dtype_of(leaf.compare_to)
            if other is not None and type(other) is not type(dt):
                errors.append(
                    "Both fields being compared must be the same data "
                    f"type: {leaf.field!r} is {type(dt).__name__}, "
                    f"{leaf.compare_to!r} is {type(other).__name__}")
            return
        vals = list(getattr(leaf, "values", ()) or ())
        if not vals and getattr(leaf, "value", None) is not None:
            vals = [leaf.value]
        if isinstance(dt, StrType) and dt.length:
            for v in vals:
                if isinstance(v, str) and len(v) > dt.length:
                    errors.append(
                        f"Value for {leaf.field!r} exceeds max length "
                        f"of {dt.length} characters")
        if dt.has_static_mapping and leaf.operator in (
                "like", "not like", ">", "<"):
            errors.append(
                "Unsupported filter operation on statically mapped "
                f"field: {leaf.field!r} operator {leaf.operator!r}")
        if isinstance(dt, (IntType, DecType)) and not dt.has_static_mapping \
                and leaf.operator in (">", "<", "=", "<>"):
            for v in vals:
                if isinstance(v, str):
                    try:
                        float(v)
                    except ValueError:
                        errors.append(
                            f"Unknown filter value for field="
                            f"{leaf.field!r}, value={v!r}")

    def classify(f: Filter) -> None:
        nonlocal day_filter
        if isinstance(f, OuterFilter):
            # outer filters run over the FINAL projected columns, so every
            # referenced field must be selected ("OuterFilter ... is not
            # in selected column list")
            for lf in _leaf_filters(f):
                for a in lf.fields():
                    if resolve_output_column(a, projections) is None:
                        errors.append(f"OuterFilter {a!r} is not in "
                                      f"selected column list")
            outer_filters.append(f)
            return
        inner = f.inner if isinstance(f, PushDownFilter) and f.inner else f
        leaves = _leaf_filters(inner)
        owners: set[str] = set()
        for leaf in leaves:
            for a in leaf.fields():
                if a in dim_alias or a in fact_alias:
                    owners.add("__fact__")
                    pub = cube.col_by_alias(a)
                    _check_filter_ops(leaf, pub, errors)
                    _check_filter_values(leaf)
                else:
                    hit = locate_dim_attr(a)
                    if hit is None:
                        errors.append(f"Filter field not found in cube "
                                      f"{request.cube!r}: {a!r}")
                        continue
                    dname, pub = hit
                    d = registry.dimension(dname)
                    if pub.alias == d.pk_alias and dname in fact_fks.values():
                        owners.add("__fact__")  # PK filter applies to fact FK
                    else:
                        owners.add(dname)
                    _check_filter_ops(leaf, pub, errors)
                    _check_filter_values(leaf)
        if owners == {"__fact__"} or not owners:
            fact_filters.append(inner)
            if isinstance(inner, BetweenFilter) and inner.field == cube.day_alias:
                day_filter = inner
        elif len(owners) == 1:
            dname = next(iter(owners))
            dim_use(dname)["filters"].append(inner)
        else:
            # mixed fact+dim predicate -> evaluate after joins over the
            # FINAL projected aliases. That only resolves if every
            # referenced field is projected; otherwise fail validation now
            # instead of an AnalysisException at execution time.
            missing = sorted({a for leaf in leaves for a in leaf.fields()
                              if a not in used_aliases})
            if missing:
                errors.append(
                    "Filter mixes fact and dimension fields "
                    f"{sorted({a for lf in leaves for a in lf.fields()})}; "
                    f"such a predicate is evaluated over the projected "
                    f"result, but {missing} are not in selectFields")
            else:
                outer_filters.append(OuterFilter(filters=(inner,)))

    for f in request.filters:
        classify(f)

    # forced filters at cube level (public aliases) are injected, overridable
    # ones skipped when the user filtered the same alias (Fact.scala:433,778)
    for ff in cube.forced_filters:
        if ff.is_overridable and ff.field in filter_fields:
            continue
        classify(ff)

    if cube.require_day_filter and day_filter is None:
        errors.append(f"Day filter missing: a 'between' filter on "
                      f"{cube.day_alias!r} is required")

    day_range = None
    if day_filter is not None:
        f_d, t_d = _parse_date(day_filter.from_value), _parse_date(day_filter.to_value)
        if f_d is None or t_d is None:
            # an unparseable bound must be a 400, not a silently-skipped
            # window check: downstream it would become a NULL comparison
            # (empty results) and defeat partition pruning
            bad = (day_filter.from_value if f_d is None
                   else day_filter.to_value)
            errors.append(f"Day filter date invalid: {bad!r} "
                          f"(expected YYYY-MM-DD)")
        else:
            day_range = (f_d, t_d)
            if t_d < f_d:
                errors.append("Day filter 'from' must be <= 'to'")
            window = (t_d - f_d).days + 1
            # a window starting in the future can never match data
            # (RequestModelTest "should fail when from date is in
            # future"; a future 'to' with a past 'from' stays valid)
            if f_d > (today or _dt.date.today()):
                errors.append(f"Day filter 'from' {f_d.isoformat()} is in "
                              f"the future")

            def _per_type(v):
                # reference getMaxDaysWindow maps (RequestType, Grain) ->
                # days; a plain int applies to every request type
                if isinstance(v, dict):
                    return v.get(request.request_type)
                return v

            mdw = _per_type(cube.max_days_window
                            or cube.base_table.max_days_window)
            if mdw is not None and window > mdw:
                errors.append(f"Max days window exceeded: {window} > {mdw} "
                              f"(MaxDaysWindowExceeded)")
            mdl = _per_type(cube.max_days_lookback
                            or cube.base_table.max_days_lookback)
            ref_day = today or _dt.date.today()
            if mdl is not None and (ref_day - f_d).days > mdl:
                errors.append(f"Max days look back exceeded: "
                              f"{(ref_day - f_d).days} > {mdl}")

    # ------------------------------------------------------------------
    # sorts: fact vs dim (RequestModel.scala:123-124)
    # ------------------------------------------------------------------
    fact_sorts: list[SortBy] = []
    dim_sorts: list[SortBy] = []
    for s in request.sort_by:
        # reference rule (RequestModel validation): ordering fields must be
        # among the requested fields — sorting on an unprojected column is
        # rejected, not silently planned. Named by SQL's ORDER BY rule;
        # the model carries the resolved select field.
        field = resolve_output_column(s.field, projections)
        if field is None:
            errors.append(
                f"Ordering field must be in requested fields: {s.field!r}")
            continue
        s = SortBy(field, s.order)
        if s.field in dim_alias or s.field in fact_alias:
            fact_sorts.append(s)
        else:
            hit = locate_dim_attr(s.field)
            if hit is None:
                errors.append(f"Sort field not found in cube: {s.field!r}")
                continue
            dname, pub = hit
            d = registry.dimension(dname)
            if pub.alias == d.pk_alias and dname in fact_fks.values():
                fact_sorts.append(s)
            else:
                dim_sorts.append(s)
                dim_use(dname)["sorts"].append(s)

    # ------------------------------------------------------------------
    # build join chains (merge dims sharing a fact FK, order by level desc:
    # fact-adjacent = deepest level, like keyword(4) -> advertiser(1))
    # ------------------------------------------------------------------
    chains: dict[str, DimJoinChain] = {}
    for dname, use in dim_usage.items():
        if dname not in reachable:
            errors.append(f"dimension {dname!r} not joinable from cube "
                          f"{request.cube!r}")
            continue
        fk_col, path = reachable[dname]
        ch = chains.get(fk_col)
        if ch is None:
            ch = DimJoinChain(fact_fk_col=fk_col, dims=[], join_type="left_outer")
            chains[fk_col] = ch
        # extend chain with full path (dedup, keep order fact-adjacent first)
        names = [d.name for d in ch.dims]
        for pname in path:
            if pname not in names:
                ch.dims.append(registry.dimension(pname))
                names.append(pname)
        ch.projected.setdefault(dname, []).extend(use["projected"])
        if use["filters"]:
            ch.filters.setdefault(dname, []).extend(use["filters"])
        ch.sorts.extend(use["sorts"])

    is_dim_driven = request.force_dimension_driven and bool(chains)

    # join type matrix (RequestModel.scala:180-228)
    for ch in chains.values():
        if not ch.has_projection and ch.has_filters and not is_dim_driven:
            ch.join_type = "left_semi"  # subquery filter (OracleQueryGenerator:49-68)
        elif ch.has_filters:
            ch.join_type = "inner"
        else:
            ch.join_type = "left_outer"

    metrics = [p for p in projections if p.kind == METRIC]
    is_dim_only = not metrics and not any(p.kind == FACT_DIM for p in projections) \
        and bool(chains)

    # ------------------------------------------------------------------
    # fact table selection: needed physical columns -> cheapest candidate
    # ------------------------------------------------------------------
    # Coverage is checked on TOP-LEVEL column names only: each candidate
    # table carries its OWN definition of a logical column (a
    # pre-aggregated rollup stores `event_count` as a summable partial
    # where the base counts rows), so expanding the base table's
    # expression dependencies here would wrongly demand the base's raw
    # inputs from every rollup. Dependencies expand AGAINST THE SELECTED
    # table below (fact/Fact.scala newRollUp: rollups re-declare columns,
    # candidates match on public column coverage).
    top_needed: set[str] = set()
    for p in projections:
        if p.kind in (FACT_DIM, METRIC) and p.pub_col is not None:
            top_needed.add(p.pub_col.name)
    for f in fact_filters:
        for leaf in _leaf_filters(f):
            for a in leaf.fields():
                pub = cube.col_by_alias(a)
                if pub is not None:
                    top_needed.add(pub.name)
    # grain guard input: the request's grouped top-level columns (a
    # stored exact-distinct only serves requests grouping AT its grain)
    grouped_cols = {p.pub_col.name for p in projections
                    if p.kind == FACT_DIM and p.pub_col is not None}
    candidates = cube.candidate_tables(top_needed, request.request_type,
                                       schema=request.schema,
                                       grouped_cols=grouped_cols)

    # ------------------------------------------------------------------
    # chain satisfiability (join-aware rollups): a candidate serves each
    # dim chain either through the chain's base-table FK column, or
    # REBASED — the candidate declares its own FK into a dim PARTWAY
    # down the chain's path (an aggregate-join rollup stores e.g. the
    # nation key it joined at build time), valid only when every dim the
    # request actually uses sits at or beyond that entry point (a
    # skipped dim's attributes are not reachable from the rebased
    # chain). Reference analogue: fact/Fact.scala newRollUp re-declares
    # dim FK columns per rollup and getCandidatesFor matches on them.
    # ------------------------------------------------------------------
    # keyed by candidate IDENTITY, not name — the registry deliberately
    # holds same-named table variants (base lineitem + its coarser
    # rollup both bind the physical name "lineitem").
    # Plan entry per chain: (new_fk | None, start_index, covers) where
    # ``covers`` maps each dim served from the candidate's OWN stored
    # columns (DimCol.materializes — denormalized attributes) to its
    # {public alias -> fact column} rewrite; new_fk None = every used
    # dim is covered, the chain joins nothing at query time.
    chain_rebase: dict[int, dict[str, tuple[Optional[str], int, dict]]] = {}
    chain_join_failed = False
    if chains:
        viable = []
        for t in candidates:
            plan: dict[str, tuple[Optional[str], int, dict]] = {}
            taken = {fk for fk in chains if fk in t.columns}
            cov_cols = t.covered_dim_cols()

            def dim_cover(dn: str) -> Optional[dict[str, str]]:
                """{alias -> fact col} if EVERY use of dim ``dn`` (its
                projections, filter fields, sorts) reads an attribute the
                candidate materializes; None otherwise. Disabled for
                dim-driven requests (a dim filter there must select
                ENTITIES — zero-fact rows included — which a fact-side
                rewrite cannot express) and for dim-only SELECT DISTINCT
                (that path projects chain attributes, not fact dims)."""
                if is_dim_driven or is_dim_only \
                        or (request.is_distinct and not metrics) \
                        or not cov_cols:
                    return None
                use = dim_usage.get(dn) or {}
                aliases = set(use.get("projected") or [])
                for f in use.get("filters") or []:
                    for leaf in _leaf_filters(f):
                        # NULL-satisfying operators break cover exactness:
                        # the build-time left join stores NULL for orphan
                        # FKs, so a covered isnull (or an arbitrary
                        # expression, which may contain IS NULL /
                        # coalesce) could keep orphan fact rows the raw
                        # path's inner dim join drops. Fall back to the
                        # raw join for those.
                        if leaf.operator in ("isnull", "expression"):
                            return None
                        aliases.update(leaf.fields())
                sort_fields = {s.field for s in use.get("sorts") or []}
                # a covered sort must ride an output column: require the
                # sorted alias to also be projected
                if not sort_fields <= aliases:
                    return None
                aliases |= sort_fields
                if not aliases:
                    return None
                try:
                    dim = registry.dimension(dn)
                    am = dim.alias_map()
                except KeyError:
                    return None
                m: dict[str, str] = {}
                for a in aliases:
                    p = am.get(a)
                    fc = cov_cols.get((dn, p.name)) if p is not None else None
                    if fc is None:
                        return None
                    # behavioral-flag parity: planner.resolve reads
                    # case_insensitive off the column it binds, so a
                    # covered filter must carry the dim column's flag —
                    # a mismatch (e.g. a materialized copy declared
                    # without the flag) would change matching semantics
                    dcol = dim.table.columns.get(p.name)
                    fcol = t.columns.get(fc)
                    if getattr(dcol, "case_insensitive", False) \
                            != getattr(fcol, "case_insensitive", False):
                        return None
                    m[a] = fc
                return m

            ok = True
            for fk_col, ch in chains.items():
                if fk_col in t.columns:
                    continue
                path_names = [d.name for d in ch.dims]
                used = {dn for dn in dim_usage
                        if reachable.get(dn, (None, None))[0] == fk_col}
                coverable = {dn: m for dn in used
                             if (m := dim_cover(dn)) is not None}
                if coverable.keys() >= used:
                    # fully covered: no join at all for this chain
                    plan[fk_col] = (None, 0, coverable)
                    continue
                best: Optional[tuple[str, int]] = None
                for col, target_dim in t.fk_columns().items():
                    if target_dim not in path_names or col in taken:
                        continue
                    i = path_names.index(target_dim)
                    if all(path_names.index(u) >= i or u in coverable
                           for u in used if u in path_names) \
                            and (best is None or i > best[1]):
                        best = (col, i)
                if best is None:
                    ok = False
                    break
                # rewrite only the dims the rebased join cannot reach —
                # dims at/beyond the entry point keep the exact FK join
                before = {dn: m for dn, m in coverable.items()
                          if dn in path_names
                          and path_names.index(dn) < best[1]}
                plan[fk_col] = (best[0], best[1], before)
                taken.add(best[0])
            if ok:
                chain_rebase[id(t)] = plan
                viable.append(t)
        if candidates and not viable:
            chain_join_failed = True
            errors.append(
                f"no fact table in cube {request.cube!r} can join the "
                f"dimension chains {sorted(chains)} for this request")
        candidates = viable
    tz = request.additional_parameters.get("timeZone")
    _utc_names = {"UTC", "Etc/UTC", "GMT", "Z", "+00:00", "GMT+0", "UTC+0"}
    if candidates and (request.query_type == "scan"
                       or (tz and tz not in _utc_names)):
        # a pre-aggregated table (grain_cols declared) can never serve a
        # row-grain scan, and its stored UTC-grain partials cannot be
        # re-bucketed onto shifted local days — both fall back to the
        # raw-grain candidates; a rollup-ONLY cube cannot serve these
        # requests at all (silent wrong-grain rows are worse than a 400)
        raw = [t for t in candidates if not t.grain_cols]
        if raw:
            candidates = raw
        else:
            errors.append(
                f"cube {request.cube!r} has only pre-aggregated tables "
                "covering this request; queryType=scan and shifted-"
                "timezone requests need a row-grain fact table")
    if table_available is not None and len(candidates) > 1:
        def _avail(t):
            if t.parts:
                return all(table_available(p.table) for p in t.parts)
            return table_available(t.name)
        avail = [t for t in candidates if _avail(t)]
        if avail:  # all-missing falls through to the execution error
            candidates = avail
    if day_range is not None:
        # availableOnwardsDate (fact/Fact.scala:1752): a table backfilled
        # from some date cannot serve a window starting before it
        candidates = [
            t for t in candidates
            if t.available_onwards is None
            or _parse_date(t.available_onwards) <= day_range[0]]
    if not candidates and not chain_join_failed:
        # (suppressed when the chain-satisfiability error already fired:
        # column coverage DID succeed there, and pointing the 400 at a
        # nonexistent coverage problem would mislead API consumers)
        errors.append(
            f"no fact table in cube {request.cube!r} covers columns "
            f"{sorted(top_needed)} for the requested window")

    if request.rows_per_page > request.max_rows_cap:
        errors.append(f"rowsPerPage {request.rows_per_page} exceeds cap "
                      f"{request.max_rows_cap}")

    # per-schema dim row security: a dimension whose table maps the request
    # schema to a physical column requires a filter on that column's public
    # alias (schemaColMap, dimension/Dimension.scala:607,1113-1117 — the
    # schema entity id scopes every dim access)
    for ch in chains.values():
        for d in ch.dims:
            col = d.table.schema_col_map.get(request.schema)
            if not col:
                continue
            alias = next((p.alias for p in d.pub_cols if p.name == col), None)
            if alias is not None and alias not in filter_fields:
                errors.append(
                    f"schema {request.schema!r} requires a filter on "
                    f"{alias!r} when querying dimension {d.name!r}")

    aci = request.additional_parameters.get("AdditionalColumnInfo") or []
    if not isinstance(aci, list):
        errors.append("AdditionalColumnInfo must be a list of "
                      "{field, value} objects")
        aci = []
    for f in aci:
        if not isinstance(f, dict) or not f.get("field"):
            errors.append("AdditionalColumnInfo entries must be "
                          "{field, value} objects")
            continue
        for part, pat in (("field", _ACI_FIELD), ("value", _ACI_VALUE)):
            v = str(f.get(part, ""))
            if not pat.match(v):
                errors.append(
                    f"AdditionalColumnInfo {part} {v!r} contains "
                    "characters outside the allowed identifier set")

    if errors:
        raise ValidationError(errors)

    fact_table = candidates[0]

    # apply the selected candidate's chain rebasing: the chain now
    # starts at the rollup's stored FK and the skipped (unused) dims
    # drop off the join path; dims COVERED by stored (materialized)
    # attributes leave the chain entirely — their filters become fact
    # row filters, their projections become fact dims, both reading the
    # stored column. Equivalence note: a covered filter applied to the
    # fact scan drops exactly the rows the inner dim join would have
    # dropped (the stored value IS the joined dim's value per row, and
    # orphan FKs store NULL, which no filter matches).
    covered_dim_aliases: dict[str, str] = {}
    for old_fk, (new_fk, start, covers) in chain_rebase.get(
            id(fact_table), {}).items():
        ch = chains.pop(old_fk)
        for dn, amap in covers.items():
            covered_dim_aliases.update(amap)
            ch.projected.pop(dn, None)
            fact_filters.extend(ch.filters.pop(dn, []))
            for p in projections:
                if p.kind == DIM_ATTR and p.dim_name == dn:
                    p.kind = FACT_DIM
            moved = [s for s in ch.sorts if s.field in amap]
            if moved:
                ch.sorts = [s for s in ch.sorts if s.field not in amap]
                dim_sorts = [s for s in dim_sorts if s not in moved]
                fact_sorts.extend(moved)
        if new_fk is None:
            continue  # fully covered: the chain joins nothing
        ch.fact_fk_col = new_fk
        ch.dims = ch.dims[start:]
        if covers:
            # re-derive the join type: the matrix above saw the covered
            # dims' filters as chain filters
            if not ch.has_projection and ch.has_filters \
                    and not is_dim_driven:
                ch.join_type = "left_semi"
            elif ch.has_filters:
                ch.join_type = "inner"
            else:
                ch.join_type = "left_outer"
        chains[new_fk] = ch

    # expand expression dependencies against the SELECTED table (scan
    # column set; each table resolves its own derived exprs)
    needed: set[str] = set()

    def add_fact_col_deps(col_name: str, table: FactTable) -> None:
        col = table.columns.get(col_name)
        needed.add(col_name)
        if col is None:
            return
        expr = getattr(col, "expr", "")
        if expr:
            for ref in _PLACEHOLDER.findall(expr):
                if ref != col_name and ref in table.columns:
                    add_fact_col_deps(ref, table)
        for dep in col.depends_on:
            add_fact_col_deps(dep, table)

    for name in top_needed:
        add_fact_col_deps(name, fact_table)
    # chain join keys enter the scan AFTER rebasing — the selected
    # table's own FK column, not necessarily the base table's
    for ch in chains.values():
        add_fact_col_deps(ch.fact_fk_col, fact_table)
    # covered dim attributes are read straight off the fact scan
    for fc in covered_dim_aliases.values():
        add_fact_col_deps(fc, fact_table)
    if fact_table.day_column:
        needed.add(fact_table.day_column)

    # outer group-by needed when a chain projects non-PK dim attrs while the
    # corresponding FK is not part of the final projection (SURVEY §2.4 OGB)
    projected_aliases = {p.alias for p in projections}
    requires_ogb = False
    for ch in chains.values():
        if not ch.has_projection:
            continue
        d0 = ch.dims[0]
        if d0.pk_alias not in projected_aliases:
            requires_ogb = True

    return RequestModel(
        request=request,
        cube=cube,
        fact_table=fact_table,
        projections=projections,
        fact_filters=fact_filters,
        outer_filters=outer_filters,
        chains=list(chains.values()),
        fact_sorts=fact_sorts,
        dim_sorts=dim_sorts,
        is_dim_driven=is_dim_driven,
        is_dim_only=is_dim_only or (request.is_distinct and not metrics),
        include_row_count=request.include_row_count,
        start_index=request.pagination_start_index,
        max_rows=request.rows_per_page,
        needed_fact_cols=needed,
        requires_outer_group_by=requires_ogb,
        timezone=request.additional_parameters.get("timeZone"),
        request_distinct=_parse_bool_param(
            request.additional_parameters.get("Distinct",
                request.additional_parameters.get("distinct", False))),
        additional_col_info=tuple(
            (str(f.get("field", "")), str(f.get("value", "")))
            for f in aci if isinstance(f, dict) and f.get("field")),
        day_range=day_range,
        covered_dim_aliases=covered_dim_aliases,
    )
