"""Filter language: the reference's 17 filter operations
(maha `core/.../FilterOperation.scala:37-54` ops, `:98-376` ASTs).

Each filter AST renders to one Spark SQL boolean expression,
``to_sql(resolve, params)``, given a ``FieldResolver`` (alias -> SQL
fragment + column metadata). Filter values never enter the text: each
is bound in ``params`` under a named marker (``:p0``, ``:p1``...) that
``spark.sql(text, args=params)`` binds as a literal. ``params=None``
renders the values as SQL literals instead — for registry-declared
filters (a table's forced filters), which are not request input.
Semantics preserved from the reference:

* case-insensitive compare when the column is annotated (lower() both sides,
  SqlEqualityFilterRenderer FilterOperation.scala:753)
* static-mapping labels in filter values expand through the REVERSE map to
  IN over raw stored values (DataType.scala:25,44-45), incl. non-unique
  reverse maps -> multiple raw values per label
* Between is inclusive; the Day between filter is mandatory per request
* OuterFilter applies on final projected aliases after join/agg
* PushDownFilter forces a dim filter onto the fact side (automatic in
  Spark's predicate pushdown; kept for API parity)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Optional, Protocol, Sequence

from .types import DataType


class FieldResolver(Protocol):
    def __call__(self, alias: str) -> "ResolvedField": ...


@dataclass(frozen=True)
class ResolvedField:
    #: SQL fragment for this field
    sql: str
    dtype: Optional[DataType] = None
    case_insensitive: bool = False


def sql_literal(v: Any) -> str:
    """``v`` as a Spark SQL literal of the type ``F.lit(v)`` gives it."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v) + "D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")


def bind(params: Optional[dict[str, Any]], v: Any) -> str:
    """A named parameter marker bound to ``v`` in ``params`` — or, with
    ``params=None``, ``v`` as a literal."""
    if params is None:
        return sql_literal(v)
    name = f"p{len(params)}"
    params[name] = v
    return ":" + name


def _map_value(rf: ResolvedField, v: Any) -> list[Any]:
    """Translate one filter value through the reverse static mapping if the
    column has one; returns the list of raw values it corresponds to."""
    dt = rf.dtype
    if dt is not None and dt.has_static_mapping:
        rev = dt.static_mapping.reverse
        if isinstance(v, str) and v in rev:
            return list(rev[v])
    return [v]


def _map_values(rf: ResolvedField, values: Sequence[Any]) -> list[Any]:
    return [m for v in values for m in _map_value(rf, v)]


def _lowered(rf: ResolvedField, v: Any) -> tuple[str, Any]:
    """Compare sides: case-insensitive columns compare lower() of both."""
    if rf.case_insensitive and isinstance(v, str):
        return f"lower(({rf.sql}))", v.lower()
    return f"({rf.sql})", v


def _in(rf: ResolvedField, vals: list[Any], params) -> str:
    if not vals:
        return "false"   # IN over an empty list is false (OptimizeIn)
    lhs = f"lower(({rf.sql}))" if rf.case_insensitive else f"({rf.sql})"
    if rf.case_insensitive:
        vals = [v.lower() if isinstance(v, str) else v for v in vals]
    return f"{lhs} IN ({', '.join(bind(params, v) for v in vals)})"


@dataclass(frozen=True)
class Filter:
    field: str
    operator: str = ""
    #: validation category for allowed-op checks (FilterOperation enum value)
    is_forced: bool = False
    is_overridable: bool = False

    def to_sql(self, resolve: FieldResolver,
               params: Optional[dict[str, Any]]) -> str:  # pragma: no cover
        raise NotImplementedError

    def fields(self) -> list[str]:
        return [self.field]


@dataclass(frozen=True)
class InFilter(Filter):
    values: tuple[Any, ...] = ()
    operator: str = "in"

    def to_sql(self, resolve, params) -> str:
        rf = resolve(self.field)
        return _in(rf, _map_values(rf, self.values), params)


@dataclass(frozen=True)
class NotInFilter(Filter):
    values: tuple[Any, ...] = ()
    operator: str = "not in"

    def to_sql(self, resolve, params) -> str:
        rf = resolve(self.field)
        return f"NOT ({_in(rf, _map_values(rf, self.values), params)})"


@dataclass(frozen=True)
class BetweenFilter(Filter):
    from_value: Any = None
    to_value: Any = None
    operator: str = "between"

    def to_sql(self, resolve, params) -> str:
        x = resolve(self.field).sql
        return (f"(({x}) >= {bind(params, self.from_value)}) AND "
                f"(({x}) <= {bind(params, self.to_value)})")


@dataclass(frozen=True)
class DateTimeBetweenFilter(Filter):
    """ISO8601 datetime range (FilterOperation.scala:161-249)."""

    from_value: str = ""
    to_value: str = ""
    operator: str = "datetimebetween"

    def to_sql(self, resolve, params) -> str:
        x = resolve(self.field).sql
        return (f"(({x}) >= to_timestamp({bind(params, self.from_value)})) "
                f"AND (({x}) <= to_timestamp({bind(params, self.to_value)}))")


@dataclass(frozen=True)
class EqualityFilter(Filter):
    value: Any = None
    operator: str = "="

    def to_sql(self, resolve, params) -> str:
        rf = resolve(self.field)
        vals = _map_value(rf, self.value)
        if len(vals) > 1:  # label with non-unique reverse map -> IN
            return _in(ResolvedField(rf.sql), vals, params)
        lhs, v = _lowered(rf, vals[0])
        return f"{lhs} = {bind(params, v)}"


@dataclass(frozen=True)
class NotEqualToFilter(Filter):
    value: Any = None
    operator: str = "<>"

    def to_sql(self, resolve, params) -> str:
        return f"NOT ({EqualityFilter.to_sql(self, resolve, params)})"


@dataclass(frozen=True)
class _CompareFilter(Filter):
    value: Any = None

    def to_sql(self, resolve, params) -> str:
        return (f"({resolve(self.field).sql}) {self.operator} "
                f"{bind(params, self.value)}")


@dataclass(frozen=True)
class GreaterThanFilter(_CompareFilter):
    operator: str = ">"


@dataclass(frozen=True)
class LessThanFilter(_CompareFilter):
    operator: str = "<"


@dataclass(frozen=True)
class LikeFilter(Filter):
    """Substring match: renders as '%value%' (SqlLikeFilterRenderer
    FilterOperation.scala:885)."""

    value: str = ""
    operator: str = "like"

    def to_sql(self, resolve, params) -> str:
        lhs, v = _lowered(resolve(self.field), self.value)
        return f"{lhs} LIKE {bind(params, f'%{v}%')}"


@dataclass(frozen=True)
class NotLikeFilter(Filter):
    value: str = ""
    operator: str = "not like"

    def to_sql(self, resolve, params) -> str:
        # SQL NOT LIKE is false for NULL; the reference renders plain NOT LIKE
        x = resolve(self.field).sql
        return f"NOT (({x}) LIKE {bind(params, f'%{self.value}%')})"


@dataclass(frozen=True)
class IsNullFilter(Filter):
    operator: str = "isnull"

    def to_sql(self, resolve, params) -> str:
        return f"({resolve(self.field).sql}) IS NULL"


@dataclass(frozen=True)
class IsNotNullFilter(Filter):
    operator: str = "isnotnull"

    def to_sql(self, resolve, params) -> str:
        return f"({resolve(self.field).sql}) IS NOT NULL"


@dataclass(frozen=True)
class FieldEqualityFilter(Filter):
    """Column-to-column compare ('==', FilterOperation.scala:287; Druid
    ColumnComparisonDimFilter :1112)."""

    compare_to: str = ""
    operator: str = "=="

    def to_sql(self, resolve, params) -> str:
        return (f"({resolve(self.field).sql}) = "
                f"({resolve(self.compare_to).sql})")

    def fields(self) -> list[str]:
        return [self.field, self.compare_to]


@dataclass(frozen=True)
class ExpressionFilter(Filter):
    """JavaScriptFilter parity (FilterOperation.scala:278; Druid JS filter
    rendering :1074). The reference ships a JavaScript predicate to Druid;
    executing user JS in Spark would force a per-row Python/JS bridge, so
    the predicate is a Spark SQL boolean expression instead -- same intent
    (an arbitrary predicate over one or more fields), but it stays inside
    JVM whole-stage codegen. Fields are referenced as ``{alias}``
    placeholders and resolve through the same alias resolution as every
    other filter; registered UDFs (functions.register_udf) and
    DerivedFunction macros are usable inside the expression.
    """

    expression: str = ""
    operator: str = "expression"

    def to_sql(self, resolve, params) -> str:
        from .columns import _PLACEHOLDER, expand_expr
        resolver = {name: resolve(name).sql
                    for name in set(_PLACEHOLDER.findall(self.expression))}
        return expand_expr(self.expression, resolver)

    def fields(self) -> list[str]:
        from .columns import _PLACEHOLDER
        refs = list(dict.fromkeys(_PLACEHOLDER.findall(self.expression)))
        if self.field and self.field not in refs:
            refs.insert(0, self.field)
        return refs


@dataclass(frozen=True)
class _CompoundFilter(Filter):
    filters: tuple[Filter, ...] = ()
    field: str = ""

    def to_sql(self, resolve, params) -> str:
        op = " OR " if self.operator == "or" else " AND "
        return op.join(f"({f.to_sql(resolve, params)})"
                       for f in self.filters)

    def fields(self) -> list[str]:
        return [fld for f in self.filters for fld in f.fields()]


@dataclass(frozen=True)
class OrFilter(_CompoundFilter):
    operator: str = "or"


@dataclass(frozen=True)
class AndFilter(_CompoundFilter):
    operator: str = "and"


@dataclass(frozen=True)
class OuterFilter(_CompoundFilter):
    """Applied on the FINAL projected aliases after join/agg
    (FilterOperation.scala:141; QueryPipeline.scala:498-500)."""

    operator: str = "outer"


@dataclass(frozen=True)
class PushDownFilter(Filter):
    """Forces a dim filter onto the fact side (FilterOperation.scala:134).
    Spark's predicate pushdown makes this automatic; kept for API parity."""

    inner: Optional[Filter] = None
    operator: str = "pushdown"
    field: str = ""

    def to_sql(self, resolve, params) -> str:
        assert self.inner is not None
        return self.inner.to_sql(resolve, params)

    def fields(self) -> list[str]:
        return self.inner.fields() if self.inner else []


# ---------------------------------------------------------------------------
# Allowed-operation sets (FilterOperation.scala:56-96 convenience sets)
# ---------------------------------------------------------------------------

EQUALITY = frozenset({"="})
IN = frozenset({"in"})
BETWEEN = frozenset({"between"})
LIKE = frozenset({"like"})
IN_EQUALITY = IN | EQUALITY
IN_BETWEEN_EQUALITY = IN | BETWEEN | EQUALITY
IN_NOTIN_EQUALITY = IN | frozenset({"not in"}) | EQUALITY
IN_NOTIN_BETWEEN_EQUALITY = IN_BETWEEN_EQUALITY | frozenset({"not in"})
IN_NOTIN_EQUALITY_LIKE = IN_NOTIN_EQUALITY | LIKE
IN_NOTIN_EQUALITY_NOTEQUALS_LIKE = IN_NOTIN_EQUALITY_LIKE | frozenset({"<>"})
ALL_OPS = frozenset({
    "in", "not in", "between", "datetimebetween", "=", "<>", ">", "<",
    "like", "not like", "isnull", "isnotnull", "==", "or", "and",
    "expression",
})


def parse_filter_json(obj: dict[str, Any]) -> Filter:
    """Parse one filterExpression JSON object (ReportingRequest.deserialize,
    request/ReportingRequest.scala:360-480 filter section)."""
    op = str(obj.get("operator", "")).lower().strip()
    fld = obj.get("field", "")
    if op == "in":
        return InFilter(field=fld, values=tuple(obj["values"]))
    if op in ("not in", "notin"):
        return NotInFilter(field=fld, values=tuple(obj["values"]))
    if op == "between":
        return BetweenFilter(field=fld, from_value=obj["from"], to_value=obj["to"])
    if op in ("datetimebetween", "date time between"):
        # validate ISO-8601 at parse time (DateTimeBetweenFilterHelper
        # format check) instead of surfacing a runtime cast failure
        import datetime as _dt
        for k in ("from", "to"):
            v = str(obj[k])
            try:
                _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
            except ValueError:
                raise ValueError(
                    f"datetimebetween {k!r} must be an ISO-8601 datetime, "
                    f"got {v!r}") from None
        return DateTimeBetweenFilter(field=fld, from_value=obj["from"], to_value=obj["to"])
    if op in ("=", "equals", "equality"):
        return EqualityFilter(field=fld, value=obj["value"])
    if op == "<>":
        return NotEqualToFilter(field=fld, value=obj["value"])
    if op == ">":
        return GreaterThanFilter(field=fld, value=obj["value"])
    if op == "<":
        return LessThanFilter(field=fld, value=obj["value"])
    if op == "like":
        return LikeFilter(field=fld, value=obj["value"])
    if op in ("not like", "notlike"):
        return NotLikeFilter(field=fld, value=obj["value"])
    if op in ("isnull", "is null"):
        return IsNullFilter(field=fld)
    if op in ("isnotnull", "is not null"):
        return IsNotNullFilter(field=fld)
    if op == "==":
        return FieldEqualityFilter(field=fld, compare_to=obj["compareTo"])
    if op in ("expression", "javascript"):
        # "function" accepted for JavaScriptFilter-shaped request JSON
        return ExpressionFilter(field=fld,
                                expression=obj.get("expression") or
                                obj.get("function", ""))
    if op in ("or", "and"):
        inner = tuple(parse_filter_json(f)
                      for f in obj.get("filterExpressions", ()))
        if not inner:
            # RequestModelTest "should fail when using or with empty
            # filters"
            raise ValueError(f"{op!r} filter requires at least one "
                             f"inner filterExpression")
        return (OrFilter if op == "or" else AndFilter)(filters=inner)
    if op == "outer":
        # the reference's JSON key is "outerFilters"
        # (FilterOperation.scala:1998 OuterFilter.applyJSON);
        # "filterExpressions" stays accepted for symmetry with or/and
        inner = obj.get("outerFilters", obj.get("filterExpressions", ()))
        return OuterFilter(filters=tuple(parse_filter_json(f)
                                         for f in inner))
    if op == "pushdown":
        return PushDownFilter(inner=parse_filter_json(obj["filterExpression"]))
    raise ValueError(f"unsupported filter operator: {op!r}")
