"""Rollup materializer: build the rows of a declared rollup
``FactTable`` (``FactBuilder.newRollUp`` / ``withNewGrain``,
fact/Fact.scala:867,1385) from its cube's base fact, and maintain them.

One builder, ``rollup_frame``, serves every rollup: the contract's
declared tables (``examples/contract.py``) and the advisor's
(``rollup_table_from_recommendation``). It reads everything from the
declaration:

* group keys: the day column truncated to the table's grain under its
  own name, the stored base-fact dims, each stored FK the base lacks
  (``DimCol(foreign_key=...)``: the entry dim's primary key under the
  declared name; chain REBASING re-enters there) and each denormalized
  dim attribute (``DimCol.materializes``). The last two come from one
  build-time LEFT join per base FK (``_chain_frame``); exactly one base
  FK must reach each such dim;
* metric partials: each stored non-derived ``FactCol`` is its base
  column's aggregate as the planner's statement spells it
  (``Planner._agg_sql``: expression, filter and rollup SQL text), so
  build-time partials and query-time aggregation cannot drift;
* a ``dt`` date column for the day-partitioned layout.

``materialize_rollup`` writes the table flat or day-partitioned;
``refresh_rollup`` rewrites a restated day range of the partitioned
layout (self-compacting, and refreshing the table's skipping sidecar).

The advisor's declaration (``rollup_table_from_recommendation``) stores:

* the recommendation's physical fact dims, one aggregate-join FK per
  chain (``{entry}_fk``) and the chain's materialized attributes;
* every base ``FactCol`` whose rollup re-aggregates losslessly from a
  stored partial — Sum, Count (stored as a partial count, re-declared
  SumRollup), Max, Min, RoundedSum on integers, Histogram and Filtered
  (the condition collapses at build; the partial re-declares as the
  base rollup);
* derived dim/fact expressions whose references all resolve to stored
  columns, re-declared verbatim (they recompute over the partials at
  query time, as the contract tables carry ``revenue`` over
  ``disc_price_dec``).

Everything else — Average, Cardinality (exact and approx), Noop, HLL —
is left out of the advised table, so requests needing those metrics
fail column coverage and fall back to the base fact. (The contract
tables store such metrics with explicit grain guards; automating that
is a modeling decision, not a mechanical one.)

Float caveat the contract tables avoid by cents-quantizing: double
partials re-aggregate associatively only up to IEEE rounding, so a
rollup-served SUM can differ from the raw SUM in the last ulps. Quantize
metric columns (as the contract cubes do) when bit-identity matters.

Sub-day safety: a derived dim that extracts sub-day fields from the
day-truncated time column would serve wrong values, so derived dims
referencing the day column are carried only when their expression has
no hour/minute/second extraction (conservative textual check).
"""

from __future__ import annotations

import dataclasses
import os
import re
from types import SimpleNamespace
from typing import Optional

from ..core.columns import (_PLACEHOLDER, DerivedDimCol, DerivedFactCol,
                            DimCol, FactCol)
from ..core.grain import DAILY
from ..core.rollup import (CountRollup, FilteredRollup, MaxRollup,
                           MinRollup, RoundedSumRollup, SumRollup)
from ..registry.cube import FactTable, PublicFact, Registry

__all__ = ["rollup_frame", "materialize_rollup", "refresh_rollup",
           "rollup_table_from_recommendation",
           "materialize_recommendation", "refresh_recommendation",
           "apply_recommendation"]

#: textual guard: derived expressions over the (day-truncated) time
#: column must not extract sub-day fields — the words (any case), or a
#: quoted format/grain literal containing an hour/minute/second/millis
#: token. Format tokens are CASE-SENSITIVE by definition (H/h hour,
#: m minute, s second, S millis — while M is month): catches
#: date_format 'HH', 'HH:mm' and interval grain 'H' without tripping
#: on 'M'/'W'. A false positive merely excludes a column — safe.
_SUB_DAY = re.compile(r"(?i:hour|minute|second)|'[^']*[HhmsS][^']*'")


def _carried_rollup(r, dtype) -> Optional[object]:
    """The rollup a stored partial re-declares with, or None if the
    metric cannot be carried as a lossless partial."""
    from ..core.rollup import HistogramMergeRollup, HistogramRollup
    from ..core.types import IntType
    if isinstance(r, FilteredRollup):
        return _carried_rollup(r.base, dtype)
    if isinstance(r, CountRollup):
        return SumRollup()          # partial counts re-aggregate as SUM
    if isinstance(r, (HistogramRollup, HistogramMergeRollup)):
        # integer bin counts merge losslessly at any coarser grain
        return HistogramMergeRollup(bins=r.bins)
    if isinstance(r, RoundedSumRollup):
        # round(sum(round(partials))) == round(sum(raw)) only when the
        # partials carry no sub-scale residue — integer columns (the
        # contract's cents convention); a double partial loses up to a
        # whole rounding unit per grain group
        if isinstance(dtype, IntType):
            return RoundedSumRollup(scale=r.scale)
        return None
    if type(r) in (MaxRollup, MinRollup, SumRollup):
        return type(r)()
    return None


def _expr_refs(col) -> set[str]:
    refs = set(_PLACEHOLDER.findall(getattr(col, "expr", "") or ""))
    refs |= set(getattr(col, "depends_on", ()) or ())
    refs.discard("self")
    return refs


def rollup_table_from_recommendation(registry: Registry, cube: PublicFact,
                                     rec, name: str) -> FactTable:
    """The ``FactTable`` declaration serving ``rec``'s grain (append it
    to ``cube.tables`` BEFORE building the engine/model). Its rows are
    day-truncated, so it declares the DAILY grain whatever the base's."""
    base = cube.base_table
    day_col = base.day_column
    cols: dict = {}
    # day key: same name (is_day_column carries over)
    cols[day_col] = base.columns[day_col]
    for c in rec.fact_cols:
        cols[c] = base.columns[c]
    for enc in rec.chains:
        if enc.entry_dim is not None:
            entry_t = registry.dimension(enc.entry_dim).table
            cols[enc.suggested_fk] = DimCol(
                enc.suggested_fk,
                entry_t.columns[entry_t.primary_key].dtype,
                foreign_key=enc.entry_dim)
        for dn, _alias, phys in enc.materialized:
            dim_t = registry.dimension(dn).table
            src = dim_t.columns[phys]
            # carry the source column's behavioral flags (notably
            # case_insensitive — planner.resolve reads it off the FACT
            # column, so dropping it would make a covered filter
            # case-sensitive while the raw path isn't). Flags that are
            # positional on the dim table (day/partition/parent-FK)
            # don't transfer to a denormalized fact copy.
            cols[phys] = dataclasses.replace(
                src, materializes=f"{dn}.{phys}", foreign_key=None,
                is_day_column=False, is_partition=False) \
                if isinstance(src, DimCol) else DimCol(
                    phys, src.dtype, materializes=f"{dn}.{phys}")
    # metric partials
    for n, c in base.columns.items():
        if not isinstance(c, FactCol) or isinstance(c, DerivedFactCol):
            continue
        carried = _carried_rollup(c.rollup, c.dtype)
        if carried is not None:
            cols[n] = FactCol(n, c.dtype, rollup=carried)
    # derived declarations whose references all resolve to stored cols
    for n, c in base.columns.items():
        if n in cols or not isinstance(c, (DerivedDimCol, DerivedFactCol)):
            continue
        refs = _expr_refs(c)
        if not refs or not refs <= set(cols):
            continue
        if day_col in refs and (_SUB_DAY.search(c.expr or "")
                                or _SUB_DAY.search(
                                    getattr(c, "render_expr", "") or "")):
            continue                # sub-day extraction over truncated time
        cols[n] = c
    grain = [day_col] + sorted(n for n in cols
                               if n != day_col
                               and isinstance(cols[n], DimCol))
    return FactTable(
        name=name, columns=cols, grain=DAILY, day_column=day_col,
        cost=rec.suggested_cost, partition_columns=["dt"],
        discarded=set(base.columns) - set(cols),
        grain_cols=grain)


def _path_to(registry: Registry, first_dim: str, entry_dim: str) -> list:
    """Ordered dim names from the chain's first dim to the entry dim —
    the registry's canonical BFS (multi-parent snowflake forks pick the
    branch that reaches the entry)."""
    try:
        return registry.find_dimension_path(first_dim, entry_dim)
    except KeyError as e:
        raise ValueError(
            f"no parent-key path from {first_dim} to {entry_dim}") from e


def _chain_frame(binding, registry: Registry, base: FactTable, enc):
    """(join frame keyed by the chain's fact FK) -> the columns this
    encoding stores: ``__join_key`` (first dim's pk, joins the fact's
    FK), the entry dim's pk AS ``suggested_fk``, and the materialized
    attribute columns. Walks the UNION of snowflake branches that carry
    a target dim (forked snowflakes join every needed branch, not just
    one path) with LEFT joins (orphan rows keep NULLs, matching
    query-time left_outer semantics).

    Column-name collisions across dim tables along one path would break
    the accumulated select; TPC-H-style per-table prefixes avoid it, and
    a collision fails loudly at plan time (ambiguous reference)."""
    from pyspark.sql import functions as F
    fk_col = enc.fact_fk_col
    first_dim = base.columns[fk_col].foreign_key
    entry = enc.entry_dim if enc.entry_dim is not None else None
    want = {}
    for dn, _a, phys in enc.materialized:
        want.setdefault(dn, []).append(phys)

    # union tree over EVERY branch that carries a target (the entry dim
    # or a materialized dim): on a forked snowflake a single-path walk
    # would silently drop the other branch's columns — the groupBy would
    # then fail, or worse, bind a same-named fact column
    targets = set(want)
    if entry is not None:
        targets.add(entry)
    # sorted: branch selection and want-emission order must be
    # process-independent (PYTHONHASHSEED) — refresh_recommendation
    # promises bit-identity with the original build across processes
    paths = {tgt: _path_to(registry, first_dim, tgt)
             for tgt in sorted(targets)}
    if not paths:
        paths = {first_dim: [first_dim]}
    children: dict[str, list[str]] = {}
    for p in paths.values():
        for a, b in zip(p, p[1:]):
            lst = children.setdefault(a, [])
            if b not in lst:
                lst.append(b)

    emitted: set[str] = set()       # diamond guard: emit wants once

    def build(dn: str):
        """Frame for dim ``dn``'s subtree, keyed by ``__pk_{dn}``."""
        dim = registry.dimension(dn)
        t = dim.table
        cols = [F.col(t.primary_key).alias(f"__pk_{dn}")]
        if dn not in emitted:
            emitted.add(dn)
            if entry is not None and dn == entry:
                cols.append(F.col(t.primary_key).alias(enc.suggested_fk))
            for phys in sorted(want.get(dn, [])):
                cols.append(F.col(phys))
        branches = []
        for nxt in children.get(dn, []):
            pcol = next(pc for pc, pd in t.parent_keys.items()
                        if pd == nxt)
            branches.append((pcol, nxt))
        acc = binding.table(t.name).select(
            *cols, *[F.col(pc) for pc, _ in branches])
        for pc, nxt in branches:
            pframe = build(nxt)
            acc = acc.join(pframe, acc[pc] == pframe[f"__pk_{nxt}"],
                           "left").drop(f"__pk_{nxt}", pc)
        return acc

    out = build(first_dim).withColumnRenamed(f"__pk_{first_dim}",
                                             "__join_key")
    wanted_phys = {phys for ps in want.values() for phys in ps}
    if entry is not None:
        wanted_phys.add(enc.suggested_fk)
    missing = wanted_phys - set(out.columns)
    if missing:
        raise ValueError(
            f"chain frame for fk {fk_col!r} is missing physical columns "
            f"{sorted(missing)} — dim not reachable from {first_dim!r}")
    return out, fk_col


def _base_fk(registry: Registry, base: FactTable, dim: str) -> str:
    """The one base FK column whose dimension chain reaches ``dim``."""
    fks = []
    for n, c in base.columns.items():
        if isinstance(c, DimCol) and c.foreign_key:
            try:
                registry.find_dimension_path(c.foreign_key, dim)
            except KeyError:
                continue
            fks.append(n)
    if len(fks) != 1:
        raise ValueError(
            f"{len(fks)} foreign keys of {base.name!r} reach dim {dim!r} "
            f"({fks}); a stored dim column needs exactly one")
    return fks[0]


def _chains(registry: Registry, base: FactTable, table: FactTable) -> list:
    """The build-time joins that fill ``table``'s stored dims the base
    lacks, one per base FK, in the shape ``_chain_frame`` reads (a
    ``ChainEncoding`` whose stored FK keeps its declared name)."""
    chains: dict[str, SimpleNamespace] = {}
    for n, c in table.columns.items():
        if not isinstance(c, DimCol) or (n in base.columns
                                         and not c.materializes):
            continue
        dim = c.materializes.split(".", 1)[0] if c.materializes \
            else c.foreign_key
        if dim is None:
            raise ValueError(
                f"stored dim {n!r} of {table.name!r} is not a base column, "
                f"a foreign key or a materialized attribute")
        fk = _base_fk(registry, base, dim)
        ch = chains.setdefault(fk, SimpleNamespace(
            fact_fk_col=fk, entry_dim=None, suggested_fk=None,
            materialized=()))
        if c.materializes:
            ch.materialized += ((dim, None, c.materializes.split(".", 1)[1]),)
        elif ch.entry_dim is None:
            ch.entry_dim, ch.suggested_fk = dim, n
        else:
            raise ValueError(f"{table.name!r} stores two foreign keys "
                             f"through {fk!r}")
    return list(chains.values())


def rollup_frame(spark, binding, registry: Registry, cube: PublicFact,
                 table: FactTable, fact_df=None):
    """The rows of the declared rollup ``table`` at its grain, with the
    ``dt`` date column, built from ``cube``'s base fact (or ``fact_df``,
    a bounded scan of it) — the one builder behind every materialize and
    refresh, so both produce bit-identical rows (see the module
    docstring for what it reads from the declaration)."""
    from pyspark.sql import functions as F

    from ..plans.planner import Planner

    base = cube.base_table
    day = base.day_column
    df = fact_df if fact_df is not None else binding.table(base.name)
    for ch in _chains(registry, base, table):
        jf, fk = _chain_frame(binding, registry, base, ch)
        df = df.join(F.broadcast(jf), df[fk] == jf["__join_key"],
                     "left").drop("__join_key")
    keys = [F.date_trunc(table.grain.trunc_unit, F.col(day)).alias(day)]
    for n, c in table.columns.items():
        if isinstance(c, DimCol) and n != day:
            src = c.materializes.split(".", 1)[1] if c.materializes else n
            keys.append(F.col(src).alias(n))
    planner = Planner(spark, binding)
    aggs = [F.expr(planner._agg_sql(base.columns[n], base)).alias(n)
            for n, c in table.columns.items() if isinstance(c, FactCol)]
    return (df.groupBy(*keys).agg(*aggs)
            .withColumn("dt", F.to_date(F.col(day))))


def materialize_rollup(spark, binding, registry: Registry,
                       cube: PublicFact, table: FactTable, dst_dir: str,
                       partitioned: bool = False) -> str:
    """Write the declared rollup ``table`` under ``dst_dir``.

    ``partitioned=False`` writes flat ``{name}.parquet``;
    ``partitioned=True`` writes the Hive day-partitioned layout
    (``{name}/dt=.../``, one file per day) that ``refresh_rollup``
    maintains incrementally."""
    from pyspark.sql import functions as F

    out = rollup_frame(spark, binding, registry, cube, table)
    if partitioned:
        dst = os.path.join(dst_dir, table.name)
        (out.repartition(F.col("dt")).write.mode("overwrite")
            .partitionBy("dt").parquet(dst))
    else:
        dst = os.path.join(dst_dir, f"{table.name}.parquet")
        out.write.mode("overwrite").parquet(dst)
    return dst


def refresh_rollup(spark, binding, registry: Registry, cube: PublicFact,
                   table: FactTable, dst_dir: str, from_day: str,
                   to_day: str,
                   compact_target_mb: Optional[int] = 256) -> str:
    """Incrementally refresh ``[from_day, to_day]`` (inclusive,
    'YYYY-MM-DD') of the PARTITIONED rollup ``table`` from the raw fact:
    the raw scan is bounded to the restated window (partition-pruned on
    a ``dt``-partitioned raw layout) and only those ``dt=`` directories
    are dynamically overwritten, so late or restated fact data costs the
    window, not the table. Refreshed rows are bit-identical to a full
    rebuild; days outside the window are physically untouched.

    Each refresh cycle also SELF-COMPACTS the table: small files
    accumulated by out-of-band appends (a streaming sink draining into
    the same layout, per-batch incremental loads) are bin-packed back to
    ~``compact_target_mb`` per file via ``compact_day_partitions``. The
    sweep is a pure directory listing when nothing is fragmented —
    already-compact days are never rewritten, so the bit-identical /
    physically-untouched contract above still holds for them. Pass
    ``compact_target_mb=None`` to skip (e.g. while a concurrent reader
    holds file listings).

    When the table carries a data-skipping sidecar
    (``{dst_dir}/_skipidx/{name}/``), the cycle finishes by refreshing
    it for exactly the rewritten days (auto-detected by directory
    mtime) — without this, every refresh would leave the sidecar stale
    and needle queries on the rollup permanently back at the full
    scan."""
    from pyspark.sql import functions as F

    from ..plans.scale import compact_day_partitions, overwrite_day_partitions
    from ..plans.skipping import refresh_skipping_index, table_index_dir

    dst = os.path.join(dst_dir, table.name)
    if not os.path.isdir(dst):
        # refusing beats corrupting: the binding gives a directory
        # precedence over {name}.parquet, so refreshing a flat-layout
        # table would create a partial dt= directory that silently
        # SHADOWS the complete flat file for every subsequent query
        raise FileNotFoundError(
            f"{dst} is not a partitioned rollup directory — materialize "
            f"with partitioned=True before incremental refresh")
    base = cube.base_table
    day_col = base.day_column
    fact = binding.table(base.name)
    fact = fact.filter(
        (F.col(day_col) >= F.to_timestamp(F.lit(from_day)))
        & (F.col(day_col)
           < F.to_timestamp(F.date_add(F.to_date(F.lit(to_day)), 1))))
    if "dt" in fact.columns:
        fact = fact.filter(F.col("dt").between(F.lit(from_day),
                                               F.lit(to_day)))
    overwrite_day_partitions(
        rollup_frame(spark, binding, registry, cube, table, fact), dst)
    if compact_target_mb is not None:
        compact_day_partitions(spark, dst,
                               target_file_mb=compact_target_mb)
    idx_dir = table_index_dir(dst_dir, table.name)
    if os.path.isdir(idx_dir):
        refresh_skipping_index(spark, dst, idx_dir)
    return dst


def materialize_recommendation(spark, binding, registry: Registry,
                               cube: PublicFact, rec, dst_dir: str,
                               name: str, partitioned: bool = False) -> str:
    """``materialize_rollup`` of ``rec``'s declaration."""
    return materialize_rollup(
        spark, binding, registry, cube,
        rollup_table_from_recommendation(registry, cube, rec, name),
        dst_dir, partitioned=partitioned)


def refresh_recommendation(spark, binding, registry: Registry,
                           cube: PublicFact, rec, dst_dir: str, name: str,
                           from_day: str, to_day: str,
                           compact_target_mb: Optional[int] = 256) -> str:
    """``refresh_rollup`` of ``rec``'s declaration — the maintenance
    loop for advisor-built tables."""
    return refresh_rollup(
        spark, binding, registry, cube,
        rollup_table_from_recommendation(registry, cube, rec, name),
        dst_dir, from_day, to_day, compact_target_mb=compact_target_mb)


def apply_recommendation(engine, rec, dst_dir: str, name: str,
                         partitioned: bool = False) -> FactTable:
    """Materialize ``rec`` and register its table on the live cube —
    after this, a fresh model over the same registry serves matching
    requests from the rollup (binding must resolve ``dst_dir``). Pass
    ``partitioned=True`` when the table will be maintained with
    ``refresh_recommendation``."""
    cube = engine.registry.fact(rec.cube)
    table = rollup_table_from_recommendation(engine.registry, cube,
                                             rec, name)
    materialize_rollup(engine.spark, engine.binding, engine.registry, cube,
                       table, dst_dir, partitioned=partitioned)
    cube.tables.append(table)
    return table
