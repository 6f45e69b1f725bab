"""Rollup (aggregation) expressions.

Mirrors the reference inventory (maha `core/.../fact/RollupExpression.scala:29-93`)
as Spark SQL aggregate renderers. Every rollup renders one aggregate,
``agg(src)``, over the SQL text ``src`` of its source on raw fact rows
(the planner's statement and the rollup materializer both use it). The
planner never re-aggregates a rollup's output: a request that needs an
outer group-by aggregates once, at the final grain, after the dim joins
(``plans/planner.py`` ``_build_join_then_agg``). ``reaggregatable`` says
whether a STORED value of the rollup merges losslessly at a coarser
grain: a pre-aggregated table serves a non-reaggregatable metric only
to requests grouping at its stored grain (``FactTable.serves_grain``).
Stored sketch and histogram partials are merged by their own rollups
(``HllUnionRollup``, ``HistogramMergeRollup``).

CustomRollup (ratio metrics like SUM(spend)/SUM(clicks)) is intentionally
NOT a rollup here: it is a post-aggregation derived expression over other
aggregates (see columns.DerivedFactCol), which guarantees the
"aggregate then divide, never average-of-averages" semantic.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Rollup:
    def agg(self, src: str) -> str:  # pragma: no cover - abstract
        raise NotImplementedError

    #: whether a stored partial of this rollup merges losslessly at a
    #: coarser grain
    reaggregatable = True


@dataclass(frozen=True)
class SumRollup(Rollup):
    def agg(self, src: str) -> str:
        return f"sum({src})"


@dataclass(frozen=True)
class MaxRollup(Rollup):
    def agg(self, src: str) -> str:
        return f"max({src})"


@dataclass(frozen=True)
class MinRollup(Rollup):
    def agg(self, src: str) -> str:
        return f"min({src})"


@dataclass(frozen=True)
class CountRollup(Rollup):
    """COUNT(*) regardless of the named column (RollupExpression.scala:33)."""

    def agg(self, src: str) -> str:
        return "count(1)"


@dataclass(frozen=True)
class AverageRollup(Rollup):
    """AVG from its sum and count: ``sum / count`` cast to ``avg_type``
    (a SQL type name), the type Spark's ``avg`` gives the same source —
    the planner resolves it. For a decimal the cast rounds the exact
    quotient HALF_UP. Spark's own ``avg`` of a decimal narrower than 12
    digits is not exact: the optimizer rule DecimalAggregates rewrites
    it into a double average, which misses HALF_UP ties in the last
    digit (an exact mean of 52532.2545125 comes back as 52532.254512).
    Not reaggregatable — an average of stored averages is not the
    average."""

    reaggregatable = False

    def agg(self, src: str, avg_type: str) -> str:
        return f"CAST((sum({src}) / count({src})) AS {avg_type})"


@dataclass(frozen=True)
class NoopRollup(Rollup):
    """Pass-through: value is not re-aggregated (RollupExpression.scala:34).
    Each group surfaces an arbitrary (first non-null) value."""

    reaggregatable = False

    def agg(self, src: str) -> str:
        return f"first({src}, true)"


@dataclass(frozen=True)
class FilteredRollup(Rollup):
    """DruidFilteredRollup / DruidFilteredListRollup
    (RollupExpression.scala:71-82): aggregate only rows matching a
    condition -> sum(CASE WHEN cond THEN src END).

    ``condition_sql`` is a Spark SQL boolean expression over physical fact
    columns; ``base`` is the inner aggregation (default sum).
    """

    condition_sql: str = "true"
    base: Rollup = field(default_factory=SumRollup)

    def agg(self, src: str) -> str:
        return self.base.agg(f"CASE WHEN ({self.condition_sql}) "
                             f"THEN ({src}) END")


@dataclass(frozen=True)
class CardinalityRollup(Rollup):
    """DruidCardinalityRollup / DruidHyperUniqueRollup / ThetaSketch
    (RollupExpression.scala:83-93) -> approx_count_distinct (HLL++).
    ``exact=True`` gives countDistinct for oracle-verifiable paths."""

    rsd: float = 0.05
    exact: bool = False
    reaggregatable = False

    def agg(self, src: str) -> str:
        if self.exact:
            return f"count(DISTINCT {src})"
        return f"approx_count_distinct({src}, {self.rsd!r}D)"


#: default HLL precision shared by every sketch producer (registry
#: rollups, batch materializers, streaming ingest) — hll_union_agg
#: silently downgrades to the SMALLEST lgK it merges, so producers must
#: agree or accuracy quietly degrades
HLL_LG_K = 12


@dataclass(frozen=True)
class HllSketchRollup(Rollup):
    """Mergeable datasketches HLL partial (the Druid hyperUnique ROLLUP
    column): pre-aggregated tables store the sketch BYTES, so distinct
    estimates re-aggregate at ANY coarser grain within the sketch's
    error bound. ``agg`` builds the sketch from raw values; a table
    storing the sketches merges them with ``HllUnionRollup``."""

    lg_k: int = HLL_LG_K

    def agg(self, src: str) -> str:
        return f"hll_sketch_agg({src}, {self.lg_k})"


@dataclass(frozen=True)
class HllUnionRollup(Rollup):
    """Re-aggregation side of ``HllSketchRollup``: a table storing sketch
    partials merges them with union at any requested grain."""

    def agg(self, src: str) -> str:
        return f"hll_union_agg({src}, true)"


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

    ``agg`` renders the histogram as ``bins`` parallel conditional SUM
    aggregates inside one array, each partially aggregated map-side, so
    the build scales like any sum partial. A table storing the partials
    merges them bin-by-bin with ``HistogramMergeRollup``. Values outside
    [lo, hi) clamp to the edge bins, as Druid's approxHistogram does.
    Beyond-reference operator (maha exposes no histogram aggregator).
    """

    bins: int = HIST_BINS
    lo: float = HIST_LO
    hi: float = HIST_HI

    def agg(self, src: str) -> str:
        w = (self.hi - self.lo) / self.bins
        # clamp on the LONG floor result, cast to int only afterwards:
        # with ANSI off, casting a beyond-2^31 raw bin index to int
        # overflow-wraps, so an extreme outlier could land in an
        # arbitrary bin (even bin 0) instead of the top edge bin
        b = (f"CAST(least(greatest(FLOOR((({src}) - {self.lo!r}D) / "
             f"{w!r}D), 0), {self.bins - 1}) AS INT)")
        # exclude NULL and NaN explicitly — a NaN would otherwise cast
        # to bin 0 and silently drag quantiles down (note Spark's
        # nonstandard NaN semantics: NaN = NaN is TRUE, so the SQL
        # x = x idiom does NOT filter NaN here)
        ok = f"(({src}) IS NOT NULL) AND (NOT isnan(CAST(({src}) AS DOUBLE)))"
        return "array(" + ", ".join(
            f"sum(CAST(CASE WHEN (({ok}) AND ({b} = {i})) THEN 1 ELSE 0 END "
            f"AS BIGINT))" for i in range(self.bins)) + ")"


@dataclass(frozen=True)
class HistogramMergeRollup(Rollup):
    """Re-aggregation side of ``HistogramRollup``: a table storing
    histogram partials merges them bin-by-bin at any requested grain."""

    bins: int = HIST_BINS

    def agg(self, src: str) -> str:
        return "array(" + ", ".join(
            f"sum(({src})[{i}])" for i in range(self.bins)) + ")"


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

    def agg(self, src: str) -> str:
        return f"round(sum({src}), {self.scale})"
