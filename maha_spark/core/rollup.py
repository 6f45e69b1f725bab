"""Rollup (aggregation) expressions.

Mirrors the reference inventory (maha `core/.../fact/RollupExpression.scala:29-93`)
as Spark aggregate builders. Every rollup knows how to:

* ``agg(col)``      - aggregate a physical column at the fact grain
* ``reagg(col)``    - re-aggregate an already-aggregated column at an outer
                      group-by level (SURVEY §2.4 OGB). Sum-of-sums,
                      max-of-maxes; Average must NOT be averaged again
                      (avg re-agg is handled by keeping sum+count pairs);
                      Noop must not be re-aggregated at all.

CustomRollup (ratio metrics like SUM(spend)/SUM(clicks)) is intentionally
NOT a rollup here: it is a post-aggregation derived expression over other
aggregates (see columns.DerivedFactCol), which guarantees the
"aggregate then divide, never average-of-averages" semantic.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, functions as F
from pyspark.sql.types import DataType


@dataclass(frozen=True)
class Rollup:
    def agg(self, col: Column) -> Column:  # pragma: no cover - abstract
        raise NotImplementedError

    def reagg(self, col: Column) -> Column:
        """Default outer re-aggregation (used after a dim join widens grain)."""
        return self.agg(col)

    #: whether this rollup survives a second-level aggregation losslessly
    reaggregatable = True


@dataclass(frozen=True)
class SumRollup(Rollup):
    def agg(self, col: Column) -> Column:
        return F.sum(col)


@dataclass(frozen=True)
class MaxRollup(Rollup):
    def agg(self, col: Column) -> Column:
        return F.max(col)


@dataclass(frozen=True)
class MinRollup(Rollup):
    def agg(self, col: Column) -> Column:
        return F.min(col)


@dataclass(frozen=True)
class CountRollup(Rollup):
    """COUNT(*) regardless of the named column (RollupExpression.scala:33)."""

    def agg(self, col: Column) -> Column:
        return F.count(F.lit(1))

    def reagg(self, col: Column) -> Column:
        # count-of-rows re-aggregates as sum of partial counts
        return F.sum(col)


def exact_avg(total: Column, count: Column, avg_type: DataType) -> Column:
    """AVG from its sum and count: ``total / count`` cast to
    ``avg_type``, the type Spark's ``avg`` gives the same input. For a
    decimal the cast rounds the exact quotient HALF_UP. Spark's own
    ``avg`` of a decimal narrower than 12 digits is not exact: the
    optimizer rule DecimalAggregates rewrites it into a double average,
    which misses HALF_UP ties in the last digit (an exact mean of
    52532.2545125 comes back as 52532.254512)."""
    return (total / count).cast(avg_type)


@dataclass(frozen=True)
class AverageRollup(Rollup):
    """AVG. Re-aggregation is NOT avg-of-avgs; the planner decomposes an
    average metric into sum+count partials when an outer group-by is
    required and recombines (plans/planner.py). Both forms go through
    ``exact_avg``, so the planner passes AVG's result type for the
    source column."""

    reaggregatable = False

    def agg(self, col: Column, avg_type: DataType) -> Column:
        return exact_avg(F.sum(col), F.count(col), avg_type)

    def reagg(self, col: Column) -> Column:
        raise ValueError("AverageRollup cannot be re-aggregated directly; "
                         "planner must decompose into sum/count partials")


@dataclass(frozen=True)
class NoopRollup(Rollup):
    """Pass-through: value is not re-aggregated (RollupExpression.scala:34).
    At fact grain we surface an arbitrary (first) value; an outer group-by
    keeps first as well — mirrors the reference's 'do not re-aggregate'."""

    reaggregatable = False

    def agg(self, col: Column) -> Column:
        return F.first(col, ignorenulls=True)

    def reagg(self, col: Column) -> Column:
        return F.first(col, ignorenulls=True)


@dataclass(frozen=True)
class FilteredRollup(Rollup):
    """DruidFilteredRollup / DruidFilteredListRollup
    (RollupExpression.scala:71-82): aggregate only rows matching a
    condition -> F.sum(F.when(cond, col)).

    ``condition_sql`` is a Spark SQL boolean expression over physical fact
    columns; ``base`` is the inner aggregation (default sum).
    """

    condition_sql: str = "true"
    base: Rollup = field(default_factory=SumRollup)

    def agg(self, col: Column) -> Column:
        return self.base.agg(F.when(F.expr(self.condition_sql), col))

    def reagg(self, col: Column) -> Column:
        return self.base.reagg(col)


@dataclass(frozen=True)
class CardinalityRollup(Rollup):
    """DruidCardinalityRollup / DruidHyperUniqueRollup / ThetaSketch
    (RollupExpression.scala:83-93) -> approx_count_distinct (HLL++).
    ``exact=True`` gives countDistinct for oracle-verifiable paths."""

    rsd: float = 0.05
    exact: bool = False
    reaggregatable = False

    def agg(self, col: Column) -> Column:
        if self.exact:
            return F.count_distinct(col)
        return F.approx_count_distinct(col, self.rsd)

    def reagg(self, col: Column) -> Column:
        raise ValueError("cardinality cannot be re-aggregated from counts; "
                         "planner must aggregate at final grain directly")


#: default HLL precision shared by every sketch producer (registry
#: rollups, batch materializers, streaming ingest) — hll_union_agg
#: silently downgrades to the SMALLEST lgK it merges, so producers must
#: agree or accuracy quietly degrades
HLL_LG_K = 12


@dataclass(frozen=True)
class HllSketchRollup(Rollup):
    """Mergeable datasketches HLL partial (the Druid hyperUnique ROLLUP
    column: pre-aggregated tables store the sketch BYTES, not a count, so
    distinct estimates re-aggregate at ANY coarser grain — union takes
    the per-register max, so merged register state matches building from
    raw values; estimates are exact-identical while sketches stay in
    sparse mode and may differ by a few counts past it, where the direct
    build can use the HIP estimator the union drops — both stay within
    the sketch's error bound). ``agg`` builds the sketch from raw
    values; ``reagg`` (outer group-by over partials) unions."""

    lg_k: int = HLL_LG_K

    def agg(self, col: Column) -> Column:
        return F.hll_sketch_agg(col, self.lg_k)

    def reagg(self, col: Column) -> Column:
        return F.hll_union_agg(col, True)


@dataclass(frozen=True)
class HllUnionRollup(Rollup):
    """Re-aggregation side of ``HllSketchRollup``: a table storing sketch
    partials merges them with union at any requested grain."""

    def agg(self, col: Column) -> Column:
        return F.hll_union_agg(col, True)


#: fixed-bin histogram defaults shared by every producer (registry
#: columns, batch materializer, streaming ingest) — partials merge
#: bin-by-bin, which is only valid when every producer agrees on
#: (bins, lo, hi), exactly like HLL_LG_K above
HIST_BINS = 50
HIST_LO = 0.0
HIST_HI = 500.0


@dataclass(frozen=True)
class HistogramRollup(Rollup):
    """Mergeable fixed-bin histogram partial — the Druid
    ``approxHistogram`` rollup-column shape re-expressed Spark-first:
    pre-aggregated tables store ``array<bigint>`` bin counts, so
    QUANTILE metrics (p50/p95 latency/value) re-aggregate at ANY coarser
    grain bit-identically to computing them from raw rows (integer
    counts merge losslessly; the quantile extraction
    ``hist_quantile_sql`` is a deterministic function of the merged
    array).

    ``agg`` builds the histogram with ``bins`` parallel conditional SUM
    aggregates inside one array — each is map-side partially aggregated
    (no collect_list, no per-group state beyond ``bins`` longs), so the
    build scales like any other sum partial at 100 TB. ``reagg`` merges
    stored partials bin-by-bin. Values outside [lo, hi) clamp to the
    edge bins (Druid's approxHistogram does the same with its
    lowerLimit/upperLimit).

    Beyond-reference operator (maha exposes no histogram aggregator);
    modeled on the HllSketchRollup pattern above.
    """

    bins: int = HIST_BINS
    lo: float = HIST_LO
    hi: float = HIST_HI

    def _bin(self, col: Column) -> Column:
        w = (self.hi - self.lo) / self.bins
        # clamp on the LONG floor result, cast to int only afterwards:
        # with ANSI off, casting a beyond-2^31 raw bin index to int
        # overflow-wraps, so an extreme outlier could land in an
        # arbitrary bin (even bin 0) instead of the top edge bin
        b = F.floor((col - F.lit(self.lo)) / F.lit(w))
        return (F.least(F.greatest(b, F.lit(0)), F.lit(self.bins - 1))
                .cast("int"))

    def agg(self, col: Column) -> Column:
        b = self._bin(col)
        # exclude NULL and NaN explicitly — a NaN would otherwise cast
        # to bin 0 and silently drag quantiles down (note Spark's
        # nonstandard NaN semantics: NaN = NaN is TRUE, so the SQL
        # x = x idiom does NOT filter NaN here)
        ok = col.isNotNull() & ~F.isnan(col.cast("double"))
        return F.array(*[
            F.sum(F.when(ok & (b == i), F.lit(1))
                  .otherwise(F.lit(0)).cast("bigint"))
            for i in range(self.bins)])

    def reagg(self, col: Column) -> Column:
        return HistogramMergeRollup(bins=self.bins).agg(col)


@dataclass(frozen=True)
class HistogramMergeRollup(Rollup):
    """Re-aggregation side of ``HistogramRollup``: a table storing
    histogram partials merges them bin-by-bin at any requested grain."""

    bins: int = HIST_BINS

    def agg(self, col: Column) -> Column:
        return F.array(*[F.sum(col.getItem(i)) for i in range(self.bins)])


def hist_quantile_sql(ref: str, p: float, bins: int = HIST_BINS,
                      lo: float = HIST_LO, hi: float = HIST_HI) -> str:
    """Quantile-``p`` extraction over a histogram partial as a pure SQL
    expression (for a ``DerivedFactCol`` whose ``{ref}`` placeholder
    resolves to the aggregated histogram array).

    Count-rank semantics: target = ceil(p * total); the reported value
    is the linear interpolation inside the bin where the cumulative
    count crosses the target — ``lo + w * (bin + (target - before) /
    in_bin)`` — every term an exact integer until the final double
    arithmetic, so a DuckDB twin (window cumulative over unnested bins)
    reproduces it bit-for-bit. NULL when the histogram is empty.
    """
    w = (hi - lo) / bins
    tot = f"aggregate({ref}, CAST(0 AS BIGINT), (a, c) -> a + c)"
    target = f"CAST(ceil({p!r} * {tot}) AS BIGINT)"
    pairs = (f"zip_with({ref}, sequence(0, {bins - 1}), "
             f"(c, b) -> named_struct('c', c, 'b', b))")
    zero = "CAST(0 AS BIGINT)"
    init = (f"named_struct('cum', {zero}, 'bin', -1, "
            f"'before', {zero}, 'inbin', {zero})")
    step = (f"(acc, e) -> IF(acc.bin >= 0, acc, "
            f"IF(acc.cum + e.c >= {target}, "
            f"named_struct('cum', acc.cum + e.c, 'bin', e.b, "
            f"'before', acc.cum, 'inbin', e.c), "
            f"named_struct('cum', acc.cum + e.c, 'bin', -1, "
            f"'before', {zero}, 'inbin', {zero})))")
    fold = f"aggregate({pairs}, {init}, {step})"
    return (f"(CASE WHEN {tot} = 0 THEN CAST(NULL AS DOUBLE) ELSE "
            f"{lo!r} + {w!r} * ({fold}.bin + "
            f"CAST({target} - {fold}.before AS DOUBLE) / "
            f"CAST({fold}.inbin AS DOUBLE)) END)")


@dataclass(frozen=True)
class RoundedSumRollup(Rollup):
    """RoundingDoubleSumAggregatorFactory (druid-lookups .../RoundingDoubleSumAggregatorFactory.java)."""

    scale: int = 2

    def agg(self, col: Column) -> Column:
        return F.round(F.sum(col), self.scale)

    def reagg(self, col: Column) -> Column:
        return F.round(F.sum(col), self.scale)
