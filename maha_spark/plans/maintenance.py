"""One maintenance entry point composing the engine's rewrite
primitives — the nightly/continuous job a 100 TB deployment schedules
instead of wiring each artifact's refresh by hand.

A warehouse serving this engine accretes four kinds of maintained
state, each with its own refresh primitive and each stamped by the
``plans/versioning.py`` contract when rewritten:

1. **advised rollups** — ``registry/materializer.refresh_recommendation``
   re-aggregates a restated day range from the partition-pruned raw
   scan (dynamic partition overwrite, self-compacting, and it refreshes
   the rollup's OWN skipping sidecar when one exists);
2. **data-skipping sidecars** on raw/base tables —
   ``plans/skipping.refresh_skipping_index`` recomputes only stale-day
   file entries; when an engine + request ledger is supplied, the skip
   advisor is consulted first so newly recommended sidecars (including
   the dim-driven driving-FK recommendations that serve page-key
   pruning) are BUILT as part of the cycle, not just refreshed;
3. **streaming frequent-items partial tables** —
   ``streaming/freq.compact_freq_partials`` collapses per-micro-batch
   partials back to one valid PODS'12 partial per day (serve cost and
   bound tightness restored);
4. **persisted ExactSubstr indexes** —
   ``ops/substring.compact_exsub_index`` bin-packs ingest-append files
   and reconciles the doc_id sidecar.

Ordering matters and is fixed: rollups first (they may rewrite the
tables sidecars describe), then sidecar build/refresh (they read the
tables' final bytes), then the append-side compactions (independent of
the cube path). Every step goes through primitives that bump
``_table_version``, so the binding memo, sidecar stale gates, and the
result cache all invalidate exactly once per cycle — no caller-side
cache plumbing.

The cycle's own file I/O (the explicit-sidecar existence gate here,
the freq-compaction swap, the ExactSubstr file-stat probe) routes
through the Hadoop FileSystem gateway, so the rollup and compaction
legs run unchanged on scheme-qualified (``s3a://``-style) artifact
roots — the same portability contract as the version stamps they
advance (pinned over ``file://`` in ``tests/test_maintenance_cycle.py``).
Scope caveat: the skipping-SIDECAR legs (advisor build + explicit
refresh bodies) keep ``plans/skipping.py``'s documented local-FS
driver-side index files; on an object store, point ``skip_base_dir``
/ ``skip_tables`` at a local/NFS working root (per-step isolation
records, rather than aborts on, a sidecar leg that cannot run).

Failure isolation: a nightly job must not let one broken artifact
starve every other artifact's refresh, and the report is what a
scheduler alerts on — so each artifact's step is caught individually
into ``report["errors"]`` (step, artifact, error — its stamp simply
does not advance), INDEPENDENT steps still run, and a single
``MaintenanceCycleError`` carrying the full report re-raises at the
end so an unsupervised invocation still fails loudly.

Each step is also individually idempotent and bit-identical to its
standalone invocation (pinned in ``tests/test_maintenance_cycle.py``):
the cycle adds sequencing, not new semantics.

No reference analogue at this altitude: maha delegates maintenance to
Druid's segment lifecycle (reindex/compact tasks) and external cron;
here the lakehouse artifacts the engine itself introduced need one
composed job (reference: druid ingestion specs are infrastructure,
SURVEY §0).
"""

from __future__ import annotations

from typing import Any, Iterable, Optional

from pyspark.sql import SparkSession

from .versioning import table_version


class MaintenanceCycleError(RuntimeError):
    """One or more cycle steps failed; every OTHER step still ran.
    ``report`` carries what succeeded, what failed, and the post-cycle
    stamps (a failed artifact's stamp is unchanged)."""

    def __init__(self, message: str, report: dict):
        super().__init__(message)
        self.report = report


def run_maintenance_cycle(
        spark: SparkSession, *,
        engine: Any = None,
        rollups: Iterable[dict] = (),
        ledger_entries: Optional[Iterable[Any]] = None,
        skip_base_dir: Optional[str] = None,
        skip_tables: Iterable[tuple[str, str]] = (),
        freq_partials: Iterable[str] = (),
        exsub_indexes: Iterable[str] = (),
        skip_min_count: int = 3,
        compact_target_mb: int = 256) -> dict:
    """Run one full maintenance cycle; returns a report dict.

    ``rollups``: dicts with keys ``cube`` (name or PublicFact), ``rec``
    (RollupRecommendation), ``dst_dir``, ``name``, ``from_day``,
    ``to_day`` — forwarded to ``refresh_recommendation`` (which
    self-compacts and refreshes the rollup's own sidecar). Requires
    ``engine`` (supplies spark/binding/registry).

    ``ledger_entries`` + ``skip_base_dir``: when given, the skip
    advisor mines the ledger (needle filters AND dim-driven page
    traffic) and ``build_recommended_indexes`` builds/refreshes the
    recommended sidecars under ``{skip_base_dir}/_skipidx/``.

    ``skip_tables``: explicit ``(table_dir, index_dir)`` pairs to
    refresh regardless of the advisor (no-ops when already fresh —
    the per-column stale gate reads the table's stamp). A pair whose
    ``index_dir`` does not exist (Hadoop-FS probe, so URI roots are
    checked for real, not silently skipped) is recorded under
    ``report["sidecars"]["_missing"]`` — the report is total, so a
    scheduler can alert on a sidecar that should have existed.

    ``freq_partials`` / ``exsub_indexes``: partial-table and
    ExactSubstr-index directories to compact.

    The report maps each artifact to what happened plus its post-cycle
    ``_table_version``, so a scheduler can alert on a step that ran but
    failed to advance a stamp. Per-artifact failures are isolated: the
    error lands in ``report["errors"]`` (the artifact's stamp does not
    advance), remaining steps still run, and a summary
    ``MaintenanceCycleError`` (carrying the report) raises at the end.
    """
    report: dict[str, Any] = {"rollups": [], "sidecars": {},
                              "freq": {}, "exsub": {}, "versions": {},
                              "errors": []}

    def _step(step: str, artifact: str, fn) -> None:
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            report["errors"].append(
                {"step": step, "artifact": artifact, "error": repr(exc)})

    # -- 1. rollup refresh (stamps via overwrite_day_partitions)
    rollups = list(rollups)
    if rollups and engine is None:
        raise ValueError("rollup refresh needs engine= (binding/registry)")
    for spec in rollups:
        def _refresh(spec=spec):
            from ..registry.materializer import refresh_recommendation
            cube = spec["cube"]
            if isinstance(cube, str):
                cube = engine.registry.fact(cube)
            dst = refresh_recommendation(
                spark, engine.binding, engine.registry, cube, spec["rec"],
                spec["dst_dir"], spec["name"], spec["from_day"],
                spec["to_day"], compact_target_mb=compact_target_mb)
            report["rollups"].append(dst)
            report["versions"][dst] = table_version(dst)
        _step("rollup", str(spec.get("dst_dir", spec.get("name"))),
              _refresh)

    # -- 2. sidecar build/refresh (advisor-recommended, then explicit)
    if ledger_entries is not None and skip_base_dir is not None:
        if engine is None:
            raise ValueError("ledger-mined sidecars need engine=")

        def _advised():
            from ..registry.skip_advisor import (
                build_recommended_indexes, recommend_skipping_indexes)
            recs = recommend_skipping_indexes(engine, ledger_entries,
                                              min_count=skip_min_count)
            built = build_recommended_indexes(spark, skip_base_dir, recs)
            report["sidecars"].update(built)
        _step("sidecar-advised", skip_base_dir, _advised)
    for table_dir, index_dir in skip_tables:
        def _explicit(table_dir=table_dir, index_dir=index_dir):
            from ..ops.common import fs_exists
            from .skipping import refresh_skipping_index
            if fs_exists(spark, index_dir):
                refresh_skipping_index(spark, table_dir, index_dir)
                report["sidecars"].setdefault("_explicit", []).append(
                    index_dir)
            else:
                report["sidecars"].setdefault("_missing", []).append(
                    index_dir)
        _step("sidecar-explicit", index_dir, _explicit)

    # -- 3. frequent-items partial compaction (stamps partials_dir)
    for pdir in freq_partials:
        def _freq(pdir=pdir):
            from ..streaming.freq import compact_freq_partials
            report["freq"][pdir] = compact_freq_partials(spark, pdir)
            report["versions"][pdir] = table_version(pdir)
        _step("freq-compact", pdir, _freq)

    # -- 4. ExactSubstr index compaction (reconciles the doc sidecar,
    #       stamps index_dir; 0 = already compact, left untouched)
    for idx in exsub_indexes:
        def _exsub(idx=idx):
            from ..ops.substring import compact_exsub_index
            report["exsub"][idx] = compact_exsub_index(
                spark, idx, target_file_mb=compact_target_mb)
            report["versions"][idx] = table_version(idx)
        _step("exsub-compact", idx, _exsub)

    if report["errors"]:
        steps = ", ".join(f"{e['step']}({e['artifact']})"
                          for e in report["errors"])
        raise MaintenanceCycleError(
            f"{len(report['errors'])} maintenance step(s) failed: {steps}",
            report)
    return report
