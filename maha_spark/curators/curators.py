"""Curators: request-level composite operators
(maha `service/.../curators/`, RequestCoordinator.scala:97-151).

Each curator derives an extra result set from the primary request and is
returned under its own key in the response envelope:

* totalmetrics (TotalMetricsCurator.scala:47-64)  — grand totals of the
  requested metrics with the same filters, no grouping.
* rowcount     (Curator.scala:223-234)            — total row count of the
  unpaginated result.
* drilldown    (DrilldownCurator.scala:99-284)    — re-run grouped by a
  drilldown dimension, top rows by the first requested metric (max 1000).
* timeshift    (TimeShiftCurator.scala:51-115,266-310) — same request over
  the previous period, joined on non-time keys; emits ``<m> Prev`` and
  ``<m> Pct Change`` columns.

All curators are pure DataFrame recipes over the same planner — the
reference's ParRequest parallelism is unnecessary because Spark schedules
the jobs; callers wanting concurrency can submit with a thread pool.
"""

from __future__ import annotations

import copy
import datetime as _dt
from dataclasses import replace
from typing import TYPE_CHECKING, Any

from pyspark.sql import functions as F

from ..core.filters import BetweenFilter
from ..core.grain import MAGIC_TIME_FIELDS
from ..model.request_model import METRIC, RequestModel, build_request_model
from ..output.serializers import to_json_response
from ..request.request import ReportingRequest, SelectField, SortBy

if TYPE_CHECKING:  # pragma: no cover
    from ..engine import MahaSparkEngine

MAX_DRILLDOWN_ROWS = 1000  # DrilldownConfig.scala


def _run_one(engine: "MahaSparkEngine", model: RequestModel,
             name: str, raw_cfg: Any) -> dict[str, Any]:
    cfg = (raw_cfg or {}).get("config", {}) if isinstance(raw_cfg, dict) else {}
    try:
        if name == "totalmetrics":
            return total_metrics(engine, model)
        if name == "rowcount":
            return row_count(engine, model)
        if name == "drilldown":
            return drilldown(engine, model, cfg)
        if name == "timeshift":
            return timeshift(engine, model, cfg)
        return {"error": f"unknown curator {name!r}"}
    except Exception as e:  # curator failure must not fail the request
        return {"error": str(e)}


def run_curators(engine: "MahaSparkEngine", model: RequestModel) -> dict[str, Any]:
    """Run requested curators CONCURRENTLY (the reference runs them as
    non-blocking ParRequests, RequestCoordinator.scala:97-151). Spark
    schedules jobs submitted from multiple threads of one session in
    parallel, so a thread per curator overlaps their cluster work.
    Each runs in a copy of the caller's context, so the caches its
    sub-request allocates land in the request's scope."""
    items = list(model.request.curators.items())
    if len(items) <= 1:
        return {name: _run_one(engine, model, name, cfg)
                for name, cfg in items}
    import contextvars
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=min(4, len(items))) as pool:
        futs = {name: pool.submit(contextvars.copy_context().run,
                                  _run_one, engine, model, name, cfg)
                for name, cfg in items}
        return {name: fut.result() for name, fut in futs.items()}


def _clone_request(req: ReportingRequest, **changes: Any) -> ReportingRequest:
    new = copy.deepcopy(req)
    new.curators = {}
    for k, v in changes.items():
        setattr(new, k, v)
    return new


def total_metrics(engine: "MahaSparkEngine", model: RequestModel) -> dict[str, Any]:
    req = model.request
    metric_fields = [SelectField(field=p.alias) for p in model.projections
                     if p.kind == METRIC]
    if not metric_fields:
        return {"rows": []}
    sub = _clone_request(req, select_fields=metric_fields, sort_by=[],
                         pagination_start_index=0, rows_per_page=-1,
                         include_row_count=False)
    df = engine.dataframe(sub)
    return to_json_response(df, cube=req.cube,
                            metric_aliases={f.field for f in metric_fields})


def row_count(engine: "MahaSparkEngine", model: RequestModel) -> dict[str, Any]:
    req = model.request
    sub = _clone_request(req, pagination_start_index=0, rows_per_page=-1,
                         sort_by=[], include_row_count=False)
    n = engine.dataframe(sub).count()
    return {"rows": [[n]], "header": {"fields": [{"fieldName": "TOTALROWS",
                                                  "fieldType": "CONSTANT"}]}}


def drilldown(engine: "MahaSparkEngine", model: RequestModel,
              cfg: dict[str, Any]) -> dict[str, Any]:
    """DrilldownConfig parity (DrilldownConfig.scala:35-56): dimension,
    mr (capped 1000), enforceFilters (default true — false keeps only
    the mandatory Day window), cube override, and explicit ordering."""
    req = model.request
    dim = cfg.get("dimension") or cfg.get("dim")
    if not dim:
        return {"error": "drilldown requires config.dimension"}
    mr = min(int(cfg.get("mr", MAX_DRILLDOWN_ROWS)), MAX_DRILLDOWN_ROWS)
    metrics = [p.alias for p in model.projections if p.kind == METRIC]
    fields = [SelectField(field=dim)] + [SelectField(field=m) for m in metrics]
    if cfg.get("ordering"):
        sorts = [SortBy(field=s.get("field", ""),
                        order=str(s.get("order", "ASC")).upper())
                 for s in cfg["ordering"]]
    else:
        sorts = [SortBy(field=metrics[0], order="DESC")] if metrics else []
    filters = req.filters
    if not cfg.get("enforceFilters", True):
        day_alias = engine.registry.fact(req.cube).day_alias
        filters = [f for f in filters
                   if getattr(f, "field", None) == day_alias]
    sub = _clone_request(req, select_fields=fields, sort_by=sorts,
                         filters=filters,
                         cube=cfg.get("cube") or req.cube,
                         pagination_start_index=0, rows_per_page=mr,
                         include_row_count=False)
    df = engine.dataframe(sub)
    return to_json_response(df, cube=sub.cube, metric_aliases=set(metrics),
                            max_rows=mr)


def timeshift(engine: "MahaSparkEngine", model: RequestModel,
              cfg: dict[str, Any]) -> dict[str, Any]:
    out = timeshift_frame(engine, model, cfg)
    if isinstance(out, dict):
        return out          # validation error passthrough
    joined, metrics = out
    return to_json_response(joined, cube=model.request.cube,
                            metric_aliases=set(metrics))


def timeshift_frame(engine: "MahaSparkEngine", model: RequestModel,
                    cfg: dict[str, Any]):
    """The combined current/previous frame and its metric aliases —
    split from ``timeshift`` so plan-shape tests can pin the physical
    join (grand-total broadcast BNLJ) before JSON serialization."""
    req = model.request
    day_alias = model.cube.day_alias
    day_f = next((f for f in req.filters
                  if isinstance(f, BetweenFilter) and f.field == day_alias), None)
    if day_f is None:
        return {"error": "timeshift requires a Day between filter"}
    f_d = _dt.date.fromisoformat(str(day_f.from_value)[:10])
    t_d = _dt.date.fromisoformat(str(day_f.to_value)[:10])
    days = (t_d - f_d).days + 1
    shift = int(cfg.get("daysOffset", 0)) or days
    prev_f, prev_t = f_d - _dt.timedelta(days=shift), t_d - _dt.timedelta(days=shift)

    prev_filters = [BetweenFilter(field=day_alias, from_value=prev_f.isoformat(),
                                  to_value=prev_t.isoformat())
                    if f is day_f else f for f in req.filters]
    # Non-time join keys: exclude every time alias, including the cube's
    # own day alias (which need not be spelled "Day" — tpch uses "day").
    #
    # If the request projects the day column, the previous-period rows are
    # joined on it SHIFTED forward by the window length, so day d compares
    # against day d-shift. This deliberately diverges from the reference:
    # TimeShiftCurator.scala:165-166 builds dimensionKeySet from
    # publicFact.dimCols ∩ selectFields, which includes "Day", and the
    # primary-key match at :275-282 uses the UNSHIFTED value — so a
    # Day-projecting request there never matches a previous-window row and
    # every Prev degrades to 0 (the reference's own timeshift tests,
    # RequestCoordinatorTest.scala:448-509, never project Day, so that
    # degenerate edge is untested upstream). Other magic time grains
    # (Week/Month/Hour) stay excluded from the join — PINNED semantics
    # (fuzz battery 7c): a day-count shift does not map month/week
    # buckets onto earlier buckets (windows need not align to bucket
    # boundaries and month lengths vary), so any per-bucket pairing
    # would be arbitrary; instead the previous window contributes its
    # PER-GROUP TOTAL over the remaining non-time keys (with no
    # non-time key at all it collapses to a broadcast 1-row grand
    # total) and each current bucket row compares against that
    # baseline. The reference would instead join on the unshifted
    # month string (TimeShiftCurator.scala:266-288 primary-key match
    # over dimensionKeySet incl. the time alias), which never matches
    # a previous-window row — the same degenerate no-match edge as
    # Day, untested upstream.
    # case-insensitive: cubes alias these lowercase (tpch "month"), and
    # a case-missed month alias would silently fall into the join keys
    # and reproduce the reference's degenerate never-matching join
    time_aliases = {a.lower() for a in MAGIC_TIME_FIELDS} \
        | {day_alias.lower()}
    join_keys = [p.alias for p in model.projections
                 if p.kind != METRIC and p.alias.lower() not in time_aliases]
    day_projected = any(p.kind != METRIC and p.alias == day_alias
                        for p in model.projections)
    metrics = [p.alias for p in model.projections if p.kind == METRIC]
    prev_fields = ([SelectField(field=a) for a in join_keys] +
                   ([SelectField(field=day_alias)] if day_projected else []) +
                   [SelectField(field=m) for m in metrics])
    sub = _clone_request(req, select_fields=prev_fields, filters=prev_filters,
                         sort_by=[], pagination_start_index=0, rows_per_page=-1,
                         include_row_count=False)
    cur = engine.dataframe(req if not req.curators else
                           _clone_request(req, pagination_start_index=0))
    prev = engine.dataframe(sub)
    for m in metrics:
        prev = prev.withColumnRenamed(m, f"{m} Prev")
    join_on = list(join_keys)
    if day_projected:
        from pyspark.sql.types import StringType
        shifted = F.date_add(F.to_date(F.col(f"`{day_alias}`")), shift)
        if isinstance(prev.schema[day_alias].dataType, StringType):
            shifted = F.date_format(shifted, "yyyy-MM-dd")
        prev = prev.withColumn(day_alias, shifted)
        join_on.append(day_alias)
    if join_on:
        joined = cur.join(prev, on=join_on, how="left_outer")
    else:
        # no group keys and no day projected: prev is a 1-row grand
        # total — broadcast it so the plan is a deterministic
        # BroadcastNestedLoopJoin (same as the TOTALROWS/metric-total
        # sites, planner.py) instead of relying on AQE to notice
        joined = cur.crossJoin(F.broadcast(prev))
    for m in metrics:
        c, p = F.col(f"`{m}`"), F.coalesce(F.col(f"`{m} Prev`"), F.lit(0.0))
        joined = joined.withColumn(
            f"{m} Pct Change",
            F.when(p == 0, F.lit(None)).otherwise(
                F.round((c - p) / p * 100.0, 2)))
    # TimeShiftConfig.sortBy (TimeShiftCurator.scala:29): order the
    # combined frame — " Prev" / " Pct Change" columns are sortable too
    sort_cfg = cfg.get("sortBy")
    if isinstance(sort_cfg, dict) and sort_cfg.get("field"):
        col = F.col(f"`{sort_cfg['field']}`")
        joined = joined.orderBy(
            col.desc() if str(sort_cfg.get("order", "ASC")).upper() == "DESC"
            else col.asc())
    return joined, metrics
