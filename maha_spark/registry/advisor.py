"""Rollup advisor: mine the request-log ledger for aggregate tables
worth materializing.

The reference leaves rollup design to the cube author (fact/Fact.scala
:1385 ``newRollUp`` re-declares columns per hand-written rollup); at
100 TB the question "WHICH rollups?" is answered by the query log.  This
module closes that loop: feed it the ``RequestLogEntry`` stream the
engine already writes (``log/request_log.py``) and it returns ranked
``RollupRecommendation``s — each one a grain the existing machinery can
materialize (``registry/materializer.py``), register
(``FactTable`` + ``DimCol(foreign_key=...)`` / ``materializes=...``)
and serve through the join-aware candidate selection
(``model/request_model.py`` chain rebasing).

Method
------
1. **Re-model each logged request** through the live registry
   (``engine.model(json_request)``) — the advisor sees exactly the
   physical columns, join chains and per-dim attribute usage the
   planner saw, so its coverage math inherits the planner's serving
   rules instead of approximating them.  Requests the rollup path can
   never serve are excluded the same way the planner excludes them:
   ``queryType != groupby``, shifted-timezone, dim-driven; requests a
   registered rollup ALREADY serves (the model selected a non-base
   table) are counted separately, not re-recommended.
2. **Signature per request**: the day key, the grouped/filtered
   physical fact columns, and per join chain the attributes used per
   dimension.  For each chain the advisor picks the cheapest *encoding*
   by enumerating every entry point along the snowflake path: store the
   key of the entry dim (an aggregate-join FK, served by chain
   REBASING) and denormalize the used attributes of any dim shallower
   than the entry (``DimCol.materializes``, the q4 pattern).  The
   estimated row multiplier decides — e.g. nation-key(25) x
   mktsegment(5) beats customer-key(150k) for the q4 shape, which is
   precisely the rollup round 7 hand-built.
3. **Row estimates** are the standard attribute-independence upper
   bound: ``days x Π ndv(col)`` capped at the fact row count, with
   ndvs from one ``approx_count_distinct`` pass per table (HLL — the
   same sketch the serving layer uses).  Upper bound, not truth: the
   advisor reports it as ``est_rows`` and callers should expect the
   materialized table to be smaller (correlated attributes), never
   bigger.
4. **Candidates** are every observed signature plus greedy unions
   (weight-descending; a union survives while its estimate stays under
   ``max_rows_frac`` of the fact).  Score = request coverage x
   (1 - est_rows/fact_rows); ties prefer fewer grain columns.

Driver-side cost: O(log entries) model rebuilds plus one small agg per
referenced table — the logs are the small side by construction; nothing
here scales with the fact.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Iterable, Optional

from ..model.request_model import FACT_DIM, _leaf_filters

__all__ = ["ChainEncoding", "GrainSignature", "RollupRecommendation",
           "recommend_rollups"]


# --------------------------------------------------------------- shapes
@dataclass(frozen=True)
class ChainEncoding:
    """How a rollup serves one join chain.

    ``entry_dim`` None means the chain is fully materialized (no join at
    query time); otherwise the rollup stores ``suggested_fk`` — the
    entry dim's primary key, populated by joining the chain at build
    time — and the planner rebases the chain there.
    """

    fact_fk_col: str
    entry_dim: Optional[str]
    #: (dim name, public alias, dim physical col) denormalized onto the
    #: rollup for dims shallower than the entry point
    materialized: tuple = ()

    @property
    def suggested_fk(self) -> Optional[str]:
        if self.entry_dim is None:
            return None
        return f"{self.entry_dim}_fk"


@dataclass(frozen=True)
class GrainSignature:
    """The rollup-relevant footprint of one logged request."""

    fact_cols: frozenset
    #: fact_fk_col -> {dim name -> frozenset of used public aliases}
    chain_usage: tuple  # tuple of (fk, tuple of (dim, aliases-frozenset))


@dataclass
class RollupRecommendation:
    cube: str
    fact_table: str
    fact_cols: tuple
    chains: tuple  # ChainEncoding per chain
    est_rows: int
    fact_rows: int
    coverage: float          # share of eligible requests served
    n_covered: int
    n_eligible: int
    suggested_cost: int
    base_cost: int

    @property
    def compression(self) -> float:
        return self.est_rows / max(self.fact_rows, 1)

    def describe(self) -> str:
        parts = [f"day + ({', '.join(self.fact_cols)})" if self.fact_cols
                 else "day"]
        for ch in self.chains:
            enc = (f"{ch.suggested_fk} -> {ch.entry_dim}" if ch.entry_dim
                   else "fully materialized")
            if ch.materialized:
                mats = ", ".join(f"{d}.{c}" for d, _a, c in ch.materialized)
                enc += f" + materialize [{mats}]"
            parts.append(f"chain {ch.fact_fk_col}: {enc}")
        return (f"{self.cube}: {' | '.join(parts)} — est {self.est_rows:,} "
                f"rows ({self.compression:.2%} of fact), serves "
                f"{self.n_covered}/{self.n_eligible} eligible requests, "
                f"suggested cost {self.suggested_cost}")


# ---------------------------------------------------------- NDV probing
class _NdvProbe:
    """One approx_count_distinct pass per referenced table, memoized."""

    def __init__(self, spark, binding):
        self.spark = spark
        self.binding = binding
        self._wanted: dict[str, set] = {}
        self._wanted_day: dict[str, set] = {}
        self._got: dict[tuple, int] = {}
        self._rows: dict[str, int] = {}
        #: (raw table, col) -> (rollup table, stored sketch col): ndv
        #: servable by union-merging ALREADY-STORED HLL partials
        self._sketch: dict[tuple[str, str], tuple[str, str]] = {}
        #: audit trail: pairs actually served from stored sketches /
        #: raw-aggregated this resolve (tests pin the no-raw-scan path)
        self.sketch_served: set = set()
        self.raw_probed: set = set()

    def want(self, table: str, col: str) -> None:
        self._wanted.setdefault(table, set()).add(col)

    def want_day(self, table: str, col: str) -> None:
        """Probe the column at DAY grain (``to_date``) — the fact's time
        column may be a timestamp whose raw ndv is per-event, not
        per-day."""
        self._wanted_day.setdefault(table, set()).add(col)

    def offer_sketch(self, table: str, col: str,
                     rollup_table: str, sketch_col: str) -> None:
        """Register that ``(table, col)``'s ndv can be served by
        union-merging the HLL partials stored in
        ``rollup_table.sketch_col`` (no raw-table scan)."""
        self._sketch.setdefault((table, col), (rollup_table, sketch_col))

    def _resolve_from_sketches(self) -> None:
        """Serve wanted ndvs from stored HLL partials first: the rollup
        table holds one sketch per stored group — orders of magnitude
        smaller than the raw fact the advisor would otherwise re-scan in
        its background loop. Union is lossless for HLL registers, so the
        merged estimate equals building the sketch from raw values."""
        from pyspark.sql import functions as F
        by_roll: dict[str, list[tuple[str, str, str]]] = {}
        for table, cols in self._wanted.items():
            for col in sorted(cols):
                off = self._sketch.get((table, col))
                if off is not None:
                    by_roll.setdefault(off[0], []).append(
                        (table, col, off[1]))
        for rt in sorted(by_roll):
            try:
                rdf = self.binding.table(rt)
            except Exception:
                continue        # rollup not materialized here — raw path
            items = [it for it in by_roll[rt]
                     if it[2] in rdf.columns
                     and not _rollup_older_than_base(
                         self.binding, rt, it[0])]
            if not items:
                continue
            row = rdf.agg(*[
                F.hll_sketch_estimate(F.hll_union_agg(sc, True))
                .alias(f"s{i}") for i, (_t, _c, sc) in enumerate(items)
            ]).collect()[0]
            for i, (t, c, _sc) in enumerate(items):
                est = row[f"s{i}"]
                if est is None or int(est) <= 0:
                    # empty rollup / all-NULL sketch column: the union
                    # yields NULL or an empty sketch (estimate 0) —
                    # leave the column wanted so resolve()'s raw path
                    # serves it (a zero from a hollow rollup is not
                    # evidence the fact has no values)
                    continue
                self._got[(t, c)] = int(est)
                self._wanted[t].discard(c)
                self.sketch_served.add((t, c))

    def resolve(self) -> None:
        from pyspark.sql import functions as F
        self._resolve_from_sketches()
        for table in sorted(set(self._wanted) | set(self._wanted_day)):
            cols = self._wanted.get(table, set())
            df = self.binding.table(table)
            # non-physical names (derived/expression columns) can't be
            # probed on the raw parquet; ndv() falls back to the table's
            # row count — the conservative bound (pushes the estimate
            # toward the cap, never under it)
            present = sorted(c for c in cols if c in df.columns)
            day_cols = sorted(c for c in self._wanted_day.get(table, ())
                              if c in df.columns and c not in present)
            aggs = [F.approx_count_distinct(c).alias(f"n{i}")
                    for i, c in enumerate(present)]
            aggs += [F.approx_count_distinct(F.to_date(F.col(c)))
                     .alias(f"d{i}") for i, c in enumerate(day_cols)]
            row = df.agg(*aggs, F.count(F.lit(1)).alias("rows")).collect()[0]
            self.raw_probed.update((table, c) for c in present + day_cols)
            for i, c in enumerate(present):
                self._got[(table, c)] = int(row[f"n{i}"])
            for i, c in enumerate(day_cols):
                self._got[(table, c)] = int(row[f"d{i}"])
            self._rows[table] = int(row["rows"])

    def ndv(self, table: str, col: str) -> int:
        got = self._got.get((table, col))
        if got is None:
            got = self._rows.get(table, 1)
        return max(got, 1)

    @classmethod
    def fixed(cls, rows: dict, ndvs: dict) -> "_NdvProbe":
        """Pre-seeded probe (tests / offline what-if at assumed scale):
        ``rows`` maps table -> row count, ``ndvs`` maps (table, col) ->
        distinct count; unlisted columns fall back to the table's rows."""
        p = cls(None, None)
        p._rows.update(rows)
        p._got.update(ndvs)
        return p

    def rows(self, table: str) -> int:
        return max(self._rows[table], 1)


def _rollup_older_than_base(binding, rollup: str, base: str) -> bool:
    """True when the rollup's on-disk mtime predates the base fact's —
    its stored sketches were built BEFORE the fact's latest write, so
    union-merging them would report the ndv of a stale snapshot with no
    signal. Every engine-maintained fact rewrite bumps the table root
    mtime (``overwrite_day_partitions``), and every rollup refresh bumps
    the rollup's; a fresh rollup therefore reads >= the base. Unknown
    paths (non-filesystem bindings) conservatively read as stale —
    the raw probe is always correct. Note this guards STALENESS, not
    day coverage: a mid-backfill rollup that is newer than the fact but
    covers a partial history is the materializer's contract to finish
    (``refresh_recommendation`` keeps advised tables day-complete)."""
    import os
    if not hasattr(binding, "table_path"):
        return True

    def _mtime(name: str):
        from ..plans.versioning import table_version
        p = binding.table_path(name)
        if p is None:
            return None
        v = table_version(p)
        return None if v < 0 else v
    rm, bm = _mtime(rollup), _mtime(base)
    if rm is None or bm is None:
        return True
    return rm < bm - 1e-6


def _offer_stored_sketches(cube, probe: _NdvProbe) -> None:
    """Register sketch-serving offers for every base-fact column whose
    HLL partial is ALREADY stored in a registered rollup table: the base
    cube declares the builder (``FactCol(rollup=HllSketchRollup(),
    depends_on=(src,))``), a pre-aggregated table storing the same-named
    column as a sketch partial (``HllSketchRollup``/``HllUnionRollup``)
    can serve ``ndv(base, src)`` by union-merge. Offers are lazy —
    ``resolve`` falls back to the raw scan when the rollup table is not
    materialized in this binding."""
    from ..core.columns import FactCol
    from ..core.rollup import HllSketchRollup, HllUnionRollup

    base = cube.base_table
    for name, spec in base.columns.items():
        if not (isinstance(spec, FactCol)
                and isinstance(spec.rollup, HllSketchRollup)):
            continue
        deps = tuple(getattr(spec, "depends_on", ()) or ())
        if len(deps) != 1:
            continue
        for t in cube.tables:
            if t.name == base.name or not t.grain_cols:
                continue
            stored = t.columns.get(name)
            if isinstance(stored, FactCol) and isinstance(
                    stored.rollup, (HllSketchRollup, HllUnionRollup)):
                probe.offer_sketch(base.name, deps[0], t.name, name)


# ------------------------------------------------------------- advisor
def _chain_usage(model) -> list:
    """[(fk, [(dim name, used public aliases)])] — dims in path order."""
    out = []
    for ch in model.chains:
        per_dim = []
        for d in ch.dims:
            aliases = set(ch.projected.get(d.name) or [])
            for f in ch.filters.get(d.name) or []:
                for leaf in _leaf_filters(f):
                    aliases.update(leaf.fields())
            for s in ch.sorts:
                if s.field in d.alias_map():
                    aliases.add(s.field)
            if aliases:
                per_dim.append((d.name, frozenset(sorted(aliases))))
        if per_dim:
            out.append((ch.fact_fk_col, tuple(per_dim)))
    return out


def _physical_refs(table, name: str, day_col: str, out: set,
                   _seen: tuple = ()) -> None:
    """Resolve a grouped/filtered fact column to the PHYSICAL columns a
    rollup must store: derived dims expand to their references (a rollup
    storing the refs re-declares the derived expression verbatim —
    materializer convention), and anything derived purely from the day
    column is implicitly served by the day grain."""
    from ..core.columns import _PLACEHOLDER, DerivedDimCol
    if name == day_col or name in _seen:
        return
    col = table.columns.get(name)
    if isinstance(col, DerivedDimCol):
        for r in _PLACEHOLDER.findall(col.expr):
            _physical_refs(table, r, day_col, out, _seen + (name,))
        return
    out.add(name)


def _signature(model) -> GrainSignature:
    # the public day alias is the rollup's implicit grain key whatever
    # physical/derived column it renders to — never a grain column
    day_col = model.fact_table.day_column
    fact_cols: set = set()
    for p in model.projections:
        if p.kind == FACT_DIM and p.pub_col is not None \
                and p.alias != model.cube.day_alias:
            _physical_refs(model.fact_table, p.pub_col.name, day_col,
                           fact_cols)
    for f in model.fact_filters:
        for leaf in _leaf_filters(f):
            for a in leaf.fields():
                pub = model.cube.col_by_alias(a)
                if pub is not None and a != model.cube.day_alias:
                    _physical_refs(model.fact_table, pub.name, day_col,
                                   fact_cols)
    return GrainSignature(frozenset(fact_cols), tuple(_chain_usage(model)))


def _anc_or_self(registry, dn: str) -> frozenset:
    """``dn`` plus every dimension reachable UP its ``parent_keys``
    edges (all branches of a snowflake fork) — the dims a chain entered
    at ``dn`` can still join to."""
    out = {dn}
    frontier = [dn]
    while frontier:
        d = frontier.pop()
        for parent in registry.dimension(d).table.parent_keys.values():
            if parent not in out:
                out.add(parent)
                frontier.append(parent)
    return frozenset(out)


def _encode_chain(registry, probe, fk: str, per_dim: tuple,
                  first_dim: str) -> tuple:
    """Pick the cheapest entry point for one chain: returns
    (ChainEncoding, row multiplier). Entry candidates are every dim in
    the chain graph's ancestor closure (forked branches included —
    ancestor REACHABILITY, not a linear index, decides what an entry
    can still join: the planner's rebase only works for dims the entry
    reaches). A used dim the entry cannot reach must have all its used
    attributes materialized (ndv product); the entry contributes its
    key cardinality (== dim row count); ``entry=None`` materializes
    everything (always feasible)."""
    used = dict(per_dim)

    def mats_for(unreachable: list) -> Optional[tuple]:
        mult = 1
        mats = []
        for dn in unreachable:
            dim = registry.dimension(dn)
            am = dim.alias_map()
            for a in sorted(used[dn]):
                p = am.get(a)
                if p is None:
                    return None
                mult *= probe.ndv(dim.table.name, p.name)
                mats.append((dn, a, p.name))
        return tuple(mats), mult

    best: Optional[tuple] = None
    for e in sorted(_anc_or_self(registry, first_dim)) + [None]:
        if e is not None:
            reach = _anc_or_self(registry, e)
            # an entry no used dim sits at/beyond is never on the
            # request's chain path (the planner cannot rebase there) —
            # and is anyway equivalent to entry=None
            if not any(dn in reach for dn in used):
                continue
            unreachable = [dn for dn in sorted(used) if dn not in reach]
        else:
            unreachable = sorted(used)
        got = mats_for(unreachable)
        if got is None:
            continue
        mats, mult = got
        if e is not None:
            mult *= probe.rows(registry.dimension(e).table.name)
        enc = ChainEncoding(fk, e, mats)
        if best is None or mult < best[1]:
            best = (enc, mult)
    assert best is not None  # entry=None is always feasible
    return best


def _covers(cand_chains: dict, sig: GrainSignature, registry) -> bool:
    """Candidate chain encodings serve the signature's chain usage —
    by the planner's own rules: a used dim is served by the entry join
    only if the entry REACHES it (ancestor closure), otherwise every
    used attribute must be materialized; and unless the chain is fully
    materialized, at least one used dim must sit at/beyond the entry
    (else the request's chain path never contains the entry and the
    rebase cannot attach)."""
    for fk, per_dim in sig.chain_usage:
        enc = cand_chains.get(fk)
        if enc is None:
            return False
        mat = {(d, a) for d, a, _c in enc.materialized}
        reach = (_anc_or_self(registry, enc.entry_dim)
                 if enc.entry_dim else frozenset())
        any_joined = False
        for dn, aliases in per_dim:
            if dn in reach:
                any_joined = True
                continue
            if not all((dn, a) in mat for a in aliases):
                return False
        if enc.entry_dim is not None and not any_joined:
            return False
    return True


def recommend_rollups(engine, entries: Iterable[Any], *, top_n: int = 3,
                      max_rows_frac: float = 0.5,
                      today=None,
                      probe: Optional[_NdvProbe] = None,
                      exact_grain_probe: bool = False
                      ) -> list[RollupRecommendation]:
    """Rank rollup grains by benefit over the logged workload.

    ``entries``: ``RequestLogEntry`` objects, their ``to_dict()`` forms,
    or raw request-JSON strings. Returns up to ``top_n``
    recommendations, highest ``coverage x (1 - compression)`` first.
    An empty result is meaningful: no grain under ``max_rows_frac`` of
    the fact serves any of the workload (e.g. a tiny fact where even a
    daily grain doesn't compress — the estimate is scale-honest).
    ``probe`` injects a pre-seeded ``_NdvProbe`` (tests / offline what-if
    with assumed cardinalities); default probes the bound tables.
    ``exact_grain_probe=True`` refines independence-rejected candidates
    whose grain is measurable on the fact with one
    ``approx_count_distinct(struct(...))`` pass — this is how rollups
    over high-cardinality keys with heavy row multiplicity (the q2/q11
    TopN-by-part shape) get admitted; costs one fact scan per distinct
    rejected grain.
    """
    registry = engine.registry
    sigs: list[tuple[GrainSignature, Any]] = []
    for e in entries:
        raw = e if isinstance(e, (str, bytes, dict)) else None
        if raw is None:
            raw = getattr(e, "json_request", None)
        elif isinstance(raw, dict) and "json_request" in raw:
            raw = raw["json_request"]
        if not raw:
            continue
        try:
            model = engine.model(raw, today=today)
        except Exception:
            # stale/invalid logged requests (schema drift, removed
            # aliases) must not abort workload mining
            continue
        req = model.request
        if (req.query_type != "groupby" or model.utc_shifted
                or model.is_dim_driven or model.is_dim_only):
            continue
        if model.fact_table.grain_cols:
            # the planner picked a pre-aggregated table (every rollup
            # declares grain_cols — FactTable docstring invariant):
            # already served, nothing to recommend for this request
            continue
        sigs.append((_signature(model), model))
    if not sigs:
        return []

    # a mixed log stream covers several cubes — each cube's physical
    # namespace is mined independently and the rankings merge at the end
    by_cube: dict[str, list] = {}
    for sig, model in sigs:
        by_cube.setdefault(model.cube.name, []).append((sig, model))
    if len(by_cube) > 1:
        out: list[RollupRecommendation] = []
        for cube_sigs in by_cube.values():
            out.extend(_recommend_one_cube(
                engine, cube_sigs, top_n=top_n,
                max_rows_frac=max_rows_frac, probe=probe,
                exact_grain_probe=exact_grain_probe))
        out.sort(key=lambda r: (-r.coverage * (1 - r.compression),
                                len(r.fact_cols) + len(r.chains)))
        return out[:top_n]
    return _recommend_one_cube(engine, sigs, top_n=top_n,
                               max_rows_frac=max_rows_frac, probe=probe,
                               exact_grain_probe=exact_grain_probe)


def _recommend_one_cube(engine, sigs, *, top_n: int, max_rows_frac: float,
                        probe: Optional[_NdvProbe],
                        exact_grain_probe: bool = False
                        ) -> list[RollupRecommendation]:
    registry = engine.registry
    # ---- one NDV pass per referenced table ---------------------------
    m0 = sigs[0][1]
    base = m0.cube.base_table
    # a pre-seeded what-if probe (binding-less, _NdvProbe.fixed) skips
    # live resolution entirely; a LIVE probe passed in for inspection
    # (tests auditing the sketch-vs-raw split) still resolves
    injected = probe is not None and probe.binding is None
    if probe is None:
        probe = _NdvProbe(engine.spark, engine.binding)
    probe.want_day(base.name, base.day_column)
    first_dims: dict[str, str] = {}   # fact fk col -> chain's first dim
    for sig, model in sigs:
        for c in sig.fact_cols:
            probe.want(base.name, c)
        for ch in model.chains:
            first_dims.setdefault(
                ch.fact_fk_col, base.columns[ch.fact_fk_col].foreign_key)
        for fk, per_dim in sig.chain_usage:
            for dn, aliases in per_dim:
                dim = registry.dimension(dn)
                am = dim.alias_map()
                for a in aliases:
                    p = am.get(a)
                    if p is not None:
                        probe.want(dim.table.name, p.name)
    for first in first_dims.values():
        for dn in _anc_or_self(registry, first):
            # entry-key cardinality == dim row count
            dim = registry.dimension(dn)
            probe.want(dim.table.name, dim.table.primary_key)
    if not injected:
        _offer_stored_sketches(m0.cube, probe)
        probe.resolve()
    fact_rows = probe.rows(base.name)
    days = probe.ndv(base.name, base.day_column)

    # ---- weight signatures, build candidates -------------------------
    weights: dict[GrainSignature, int] = {}
    for sig, _m in sigs:
        weights[sig] = weights.get(sig, 0) + 1

    _exact_cache: dict = {}

    def estimate(fact_cols: frozenset, chains: dict) -> int:
        """Attribute-independence UPPER bound, capped at the fact —
        then optionally refined by one exact-ish grain probe.

        The independence bound is blind to two things that make real
        rollups win: correlated attributes, and ROW MULTIPLICITY (a
        high-cardinality key like l_partkey estimates days x ndv ~
        fact_rows even when each (day, key) pair repeats thousands of
        times — exactly the q2/q11 shape the part rollup serves). When
        ``exact_grain_probe`` is on and every chain enters at its
        fact-adjacent dim (so the grain is measurable ON the fact:
        entry key values == the stored fact FK column), one
        ``approx_count_distinct(struct(day, cols...))`` pass measures
        the true pair count — measure, don't guess.

        The refinement is DISABLED under an injected what-if probe:
        measuring the physical bound table while fact_rows/compression
        come from assumed cardinalities would mix two different worlds
        (a ~6k-row test fact scored against an assumed 600M)."""
        mult = days
        for c in fact_cols:
            mult *= probe.ndv(base.name, c)
        for fk, (enc, m) in chains.items():
            mult *= m
        est = min(mult, fact_rows)
        if not exact_grain_probe or injected \
                or est <= max_rows_frac * fact_rows:
            return est          # cheap bound already admits it
        cols = list(fact_cols)
        for fk, (enc, _m) in chains.items():
            if enc.entry_dim is None or enc.materialized:
                return est      # grain not measurable on the fact alone
            if enc.entry_dim != first_dims[fk]:
                return est
            cols.append(fk)     # entry at the fact-adjacent dim: fk col
        key = (frozenset(cols),)
        if key not in _exact_cache:
            from pyspark.sql import functions as F
            df = engine.binding.table(base.name)
            if any(c not in df.columns for c in cols):
                _exact_cache[key] = est
            else:
                _exact_cache[key] = int(df.agg(F.approx_count_distinct(
                    F.struct(F.to_date(F.col(base.day_column)),
                             *[F.col(c) for c in cols]))).collect()[0][0])
        return min(est, _exact_cache[key])

    def encode(sig: GrainSignature) -> dict:
        return {fk: _encode_chain(registry, probe, fk, per_dim,
                                  first_dims[fk])
                for fk, per_dim in sig.chain_usage}

    # candidates: every admissible signature stands alone (the focused
    # rollup), AND a greedy union accumulates heavy-first while its
    # estimate stays under the cap (the consolidated rollup — one table
    # serving the whole admissible workload beats N overlapping ones
    # when the union still compresses)
    cands: list[tuple[frozenset, dict, dict]] = []   # (fact_cols, chains, usage)
    union: Optional[tuple[frozenset, dict, dict]] = None
    for sig in sorted(weights, key=lambda s: -weights[s]):
        sig_usage = {fk: dict(pd) for fk, pd in sig.chain_usage}
        sig_chs = encode(sig)
        if estimate(sig.fact_cols, sig_chs) > max_rows_frac * fact_rows:
            continue
        cands.append((sig.fact_cols, sig_chs, sig_usage))
        if union is None:
            union = (sig.fact_cols, sig_chs,
                     {fk: dict(pd) for fk, pd in sig.chain_usage})
            continue
        fc, _chs, usage = union
        nfc = fc | sig.fact_cols
        nusage = {fk: dict(pd) for fk, pd in usage.items()}
        for fk, per_dim in sig.chain_usage:
            tgt = nusage.setdefault(fk, {})
            for dn, aliases in per_dim:
                tgt[dn] = frozenset(tgt.get(dn, frozenset()) | aliases)
        merged = GrainSignature(
            nfc, tuple((fk, tuple(sorted(pd.items())))
                       for fk, pd in sorted(nusage.items())))
        nchs = encode(merged)
        if estimate(nfc, nchs) <= max_rows_frac * fact_rows:
            union = (nfc, nchs, nusage)
    if union is not None:
        cands.append(union)
    # dedupe identical grains (a lone signature == the union of one)
    seen = set()
    uniq = []
    for fc, chs, usage in cands:
        key = (fc, tuple(sorted((fk, e) for fk, (e, _m) in chs.items())))
        if key not in seen:
            seen.add(key)
            uniq.append((fc, chs, usage))
    cands = uniq

    # ---- score --------------------------------------------------------
    n_eligible = len(sigs)
    out = []
    for fc, chs, _usage in cands:
        covered = sum(w for s, w in weights.items()
                      if s.fact_cols <= fc
                      and _covers({fk: e for fk, (e, _m) in chs.items()},
                                  s, registry))
        est = estimate(fc, chs)
        coverage = covered / n_eligible
        cost = max(1, int(base.cost * est / fact_rows))
        out.append(RollupRecommendation(
            cube=m0.cube.name, fact_table=base.name,
            fact_cols=tuple(sorted(fc)),
            chains=tuple(e for _fk, (e, _m) in sorted(chs.items())),
            est_rows=est, fact_rows=fact_rows,
            coverage=round(coverage, 4), n_covered=covered,
            n_eligible=n_eligible, suggested_cost=cost,
            base_cost=base.cost))
    out.sort(key=lambda r: (-r.coverage * (1 - r.compression),
                            len(r.fact_cols) + len(r.chains)))
    return out[:top_n]
