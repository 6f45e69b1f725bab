"""Skipping-index advisor: mine the request ledger for NEEDLE filters
worth a data-skipping sidecar.

The rollup advisor (``registry/advisor.py``) answers "which AGGREGATE
tables should exist?"; this module answers the sibling layout question
"which COLUMNS deserve a file-level skipping index?"
(``plans/skipping.py``). The signal is the same request-log ledger the
engine already writes: every request whose fact filters include an
eligible point/range/null predicate on a physical column is a needle
the sidecar could have pruned files for — repeated needles on the same
(table, column) rank it.

A request counts toward exactly the (table, column) pairs the planner
would prune on with a sidecar built: ``plans.skipping.request_needles``,
the one eligibility the planner itself asks, so a recommendation is
never something the planner would refuse to prune on.

At 100 TB the loop is: serve traffic -> ledger -> this advisor ->
``build_recommended_indexes`` (one indexing pass per table over the
ranked columns) -> the planner starts pruning those needles on the next
request, no registry or request change. Re-run on a schedule alongside
``refresh_skipping_index``; driver-side cost is O(ledger), nothing here
scans facts.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterable, Optional

__all__ = ["SkippingIndexRecommendation", "recommend_skipping_indexes",
           "build_recommended_indexes", "recommend_zorder"]


@dataclass(frozen=True)
class SkippingIndexRecommendation:
    """One (physical table, physical column) the ledger says to index."""
    table: str
    column: str
    count: int                  # needle filters observed on it
    operators: tuple[str, ...]  # distinct needle shapes seen

    def describe(self) -> str:
        ops = ",".join(self.operators)
        return (f"skipidx {self.table}.{self.column}: {self.count} "
                f"needle filter(s) [{ops}]")


def recommend_skipping_indexes(engine, entries: Iterable[Any], *,
                               top_n: int = 5, min_count: int = 2,
                               today=None
                               ) -> list[SkippingIndexRecommendation]:
    """Rank (table, column) pairs by needle-filter frequency over the
    logged workload.

    ``entries``: ``RequestLogEntry`` objects, their ``to_dict()`` forms,
    or raw request-JSON strings — the same contract as
    ``recommend_rollups``. Each request is re-modeled through the live
    registry so the advisor counts against the PHYSICAL column of the
    table the planner actually selected (a needle served from a rollup
    recommends indexing the rollup, not the raw fact). Requests that no
    longer model (schema drift) are skipped, never fatal.

    ``min_count`` guards against indexing one-off investigations;
    ``top_n`` bounds the build cost downstream.
    """
    from ..plans.skipping import request_needles
    counts: dict[tuple[str, str], list] = {}
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
            # stale/invalid logged requests must not abort mining
            continue
        for n in request_needles(model):
            rec = counts.setdefault((model.fact_table.name, n.column),
                                    [0, set()])
            rec[0] += 1
            rec[1].add(n.operator)
    out = [SkippingIndexRecommendation(t, c, n, tuple(sorted(ops)))
           for (t, c), (n, ops) in counts.items() if n >= min_count]
    out.sort(key=lambda r: (-r.count, r.table, r.column))
    return out[:top_n]


def build_recommended_indexes(spark, base_dir: str,
                              recs: Iterable[SkippingIndexRecommendation],
                              days: Optional[list[str]] = None
                              ) -> dict[str, list[str]]:
    """Apply side: one ``build_skipping_index`` pass per recommended
    table (columns grouped so each table is read once), sidecars under
    the conventional ``{base_dir}/_skipidx/{table}/`` the planner
    probes. Returns ``{table: [sidecar paths]}``. Missing tables are
    skipped (a recommendation can outlive a dropped binding)."""
    from ..plans.binding import ParquetBinding
    from ..plans.skipping import build_skipping_index, table_index_dir
    by_table: dict[str, list[str]] = {}
    for r in recs:
        by_table.setdefault(r.table, []).append(r.column)
    binding = ParquetBinding(spark, base_dir)
    out: dict[str, list[str]] = {}
    for table, cols in by_table.items():
        tdir = binding.table_path(table)
        if tdir is None:
            continue
        out[table] = build_skipping_index(
            spark, tdir, sorted(set(cols)),
            table_index_dir(base_dir, table), days=days)
    return out


def recommend_zorder(recs: Iterable[SkippingIndexRecommendation],
                     max_cols: int = 4) -> dict[str, list[str]]:
    """Tables whose ledger shows needles on MULTIPLE columns should be
    Z-ORDERED on them (``plans/scale.py::zorder_day_partitions``) — a
    sidecar over an unclustered column barely prunes (high per-file ndv
    saturates the Bloom, zone maps span the full range), and a
    single-column sort only serves its leader. Returns
    ``{table: [columns, needle-frequency-ranked]}`` for tables with at
    least two recommended columns, capped at ``max_cols`` (each extra
    dimension costs per-dimension tile resolution: ~F^(1/k) pruning per
    column at F files)."""
    by_table: dict[str, list[SkippingIndexRecommendation]] = {}
    for r in recs:
        by_table.setdefault(r.table, []).append(r)
    out: dict[str, list[str]] = {}
    for t, rs in sorted(by_table.items()):
        if len(rs) >= 2:
            rs.sort(key=lambda r: (-r.count, r.column))
            out[t] = [r.column for r in rs[:max_cols]]
    return out
