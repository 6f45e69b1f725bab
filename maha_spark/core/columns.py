"""Column kinds for facts and dimensions.

Mirrors the reference's column model (maha `core/.../Column.scala:46-142`,
`fact/Fact.scala:29-64`, `dimension/Dimension.scala:61`) collapsed onto a
single Spark expression language:

* DimCol          - group-by key / attribute column (physical)
* FactCol         - metric with a Rollup
* DerivedDimCol   - expression over other columns ({ref} placeholders
                    expanded recursively, Column.scala:170-198)
* DerivedFactCol  - post-aggregation expression over other aggregated
                    metrics (Maha CustomRollup / post-aggregators)
* ConstCol        - literal
* PostResultCol   - computed on the final projection (PostResultFunction.scala)
                    -- in Spark just a final-select expression

Derived expressions are Spark SQL strings with ``{name}`` placeholders
referring to sibling columns; ``safe_div`` renders the reference's `/-`
operator (0 when denominator is 0).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Optional, Sequence

from pyspark.sql import Column, functions as F

from .rollup import Rollup, SumRollup
from .types import DataType, IntType

_PLACEHOLDER = re.compile(r"\{([^{}]+)\}")


def safe_div(num: str, den: str) -> str:
    """The reference's `/-` safe-divide (RollupExpression.scala:41-66):
    0 when the denominator is 0/NULL, else num/den."""
    return (f"CASE WHEN ({den}) = 0 OR ({den}) IS NULL THEN 0.0 "
            f"ELSE ({num}) / ({den}) END")


def expand_expr(expr: str, resolver: dict[str, str]) -> str:
    """Recursively expand {name} placeholders (ColumnContext.render,
    Column.scala:170-198), then DerivedFunction-parity macros
    (functions/macros.py). ``resolver`` maps name -> SQL fragment (which may
    itself contain placeholders)."""
    seen: set[str] = set()

    def sub(e: str, depth: int = 0) -> str:
        if depth > 16:
            raise ValueError(f"derived-expression cycle while expanding: {expr}")

        def repl(m: re.Match) -> str:
            name = m.group(1)
            frag = resolver.get(name, f"`{name}`" if not name.isidentifier() else name)
            return "(" + sub(frag, depth + 1) + ")" if _PLACEHOLDER.search(frag) else frag

        return _PLACEHOLDER.sub(repl, e)

    from ..functions.macros import expand_macros  # cycle-free local import
    return expand_macros(sub(expr))


@dataclass(frozen=True)
class BaseCol:
    name: str
    dtype: DataType = field(default_factory=IntType)
    #: physical column names this column depends on (for pruning)
    depends_on: tuple[str, ...] = ()

    @property
    def is_derived(self) -> bool:
        return False


@dataclass(frozen=True)
class DimCol(BaseCol):
    """Physical dimension/grouping column on a fact or dim table."""

    #: treat filter comparisons case-insensitively (CaseInsensitive annotation)
    case_insensitive: bool = False
    #: marks the fact's day/partition column (DayColumn annotation)
    is_day_column: bool = False
    #: foreign key: name of the public dimension this column joins to
    foreign_key: Optional[str] = None
    #: physical partition column (PartitionColumn) — drives partition pruning
    is_partition: bool = False
    #: "dim_name.phys_col": this fact column MATERIALIZES that dimension
    #: attribute (an aggregate-join rollup denormalizes the dim column it
    #: grouped by at build time, e.g. customer.c_mktsegment stored on
    #: lineitem_daily_nation). The planner may then serve uses of that
    #: attribute straight from the fact scan — no dim join — even when
    #: the dim itself sits BEFORE the rollup's chain entry point.
    #: Reference analogue: fact/Fact.scala:1385 newRollUp re-declaring
    #: dim columns per rollup. By convention the fact column keeps the
    #: dim's physical column name so decode/render metadata lines up.
    materializes: Optional[str] = None


@dataclass(frozen=True)
class FactCol(BaseCol):
    """Physical metric column with its rollup. When ``expr`` is set the
    rollup aggregates that row-level expression ({ref} placeholders over
    sibling columns) instead of a physical column — e.g.
    ``sum(l_extendedprice * (1 - l_discount))``."""

    rollup: Rollup = field(default_factory=SumRollup)
    expr: str = ""


@dataclass(frozen=True)
class ConstCol(BaseCol):
    value: Any = None


@dataclass(frozen=True)
class DerivedDimCol(BaseCol):
    """Row-level derived expression (pre-aggregation), e.g.
    GET_INTERVAL_DATE({stats_date},'M').

    ``render_expr`` (optional) splits the column into a cheap GROUP
    expression (``expr``) and a presentation step applied AFTER
    aggregation, referencing the grouped value as ``{self}`` — e.g.
    ``expr="date_trunc('hour', {ts})"`` with
    ``render_expr="date_format({self}, 'yyyy-MM-dd HH:mm:ss')"``.
    Heavy aggregations then hash/shuffle an 8-byte timestamp instead of a
    formatted string, and the format runs once per OUTPUT row. The render
    must be injective over ``expr``'s values (a pure formatting bijection),
    otherwise the output could carry duplicate user-visible keys.
    Mirrors Druid's granularity-bucket-then-format split
    (DruidQueryGenerator.scala granularity vs extraction rendering)."""

    expr: str = ""
    render_expr: str = ""

    @property
    def is_derived(self) -> bool:
        return True


@dataclass(frozen=True)
class DerivedFactCol(BaseCol):
    """Post-aggregation expression over sibling aggregated metrics
    ({spend}/{clicks} style; Maha <Engine>CustomRollup,
    RollupExpression.scala:41-66). Evaluated AFTER groupBy.agg, and after
    any outer re-aggregation — never re-aggregated itself."""

    expr: str = ""

    @property
    def is_derived(self) -> bool:
        return True


@dataclass(frozen=True)
class PostResultCol(BaseCol):
    """PostResultFunction.scala:42-182 — computed on final result rows.
    In Spark: an ordinary final-projection expression over final aliases."""

    expr: str = ""

    @property
    def is_derived(self) -> bool:
        return True


def static_mapping_projection(col_sql: str, dtype: DataType) -> str:
    """Render a StaticMapping as a CASE WHEN chain (the reference renders
    DECODE on Oracle / extraction fn on Druid; SURVEY §1.2)."""
    sm = dtype.static_mapping
    assert sm is not None
    from .filters import sql_literal
    branches = " ".join(
        f"WHEN ({col_sql}) = {sql_literal(k)} THEN {sql_literal(v)}"
        for k, v in sm.mapping.items()
    )
    return f"CASE {branches} ELSE {sql_literal(sm.default)} END"
