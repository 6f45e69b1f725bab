"""Query result cache with data-version invalidation.

The reference stack serves repeated reporting requests from Druid's
broker/historical result caches (Druid query context ``useResultLevelCache``
/ ``populateResultLevelCache``; maha itself passes the query through and
relies on Druid to cache — DruidQueryGenerator.scala:316 builds the query
context those flags live in). On Spark there is no broker, so the engine
provides the equivalent: an in-process LRU over fully-materialized JSON
envelopes, keyed on the canonical request AND the version of every
physical table the plan can read.

Versioning rides the repo-wide table-version contract
(plans/versioning.py): every engine-maintained rewrite
(``overwrite_day_partitions`` — and through it compaction, incremental
refresh, upsert, delete, Z-order, retention) atomically bumps the table's
``_table_version`` stamp (root mtime is only the local-FS fallback for
never-stamped tables — object stores have no directory mtime), which the
binding's DataFrame cache and the skipping sidecars also key on
(plans/binding.py, plans/skipping.py). The result cache stamps those same
versions INTO the key, so a rewrite changes the key and the next request
recomputes — no explicit invalidation hooks, no staleness window beyond
the version contract itself. External writers that mutate day directories
must call ``bump_table_version`` themselves (the documented
binding/sidecar caller contract; same rule here).

Safety properties:

* **Never wrong, only absent.** A key covers registry name, schema,
  resolved cube revision, the effective request date, the canonical
  request, and one (table, mtime) stamp per physical table of the cube's
  candidate set plus every dim table the request joins. Any input that
  could change the rows changes the key. When a table's path (and thus
  version) cannot be resolved, the request BYPASSES the cache entirely.
* **Bounded.** LRU over entries and estimated bytes; an envelope larger
  than the byte budget is simply not stored.
* **Isolated.** Hits return a deep copy — callers may mutate responses.

At 100 TB this is the difference between a dashboard's refresh storm
re-scanning a rollup and it being served driver-side in microseconds; the
cost is one ``table_version`` probe per touched table per request, the same
altitude as the binding's own invalidation check.
"""

from __future__ import annotations

import copy
import json
import threading
from collections import OrderedDict
from typing import Any, Optional

#: sentinel distinguishing "no entry" from a cached falsy value
_MISS = object()


def model_physical_tables(model) -> list[str]:
    """Every physical table a plan built from ``model`` may read:
    the cube's full fact-candidate set (candidate selection is an
    implementation detail — stamping all candidates keeps the key stable
    across cost-based selection changes and is only ever OVER-inclusive),
    union-view part tables, and each dim table on the request's join
    chains (semi-joins, page-key pushdown, and the multi-engine API-side
    join all derive from these chains)."""
    names: set[str] = set()
    for t in model.cube.tables:
        if t.parts:
            names.update(p.table for p in t.parts)
        else:
            names.add(t.name)
    for ch in model.chains:
        for d in ch.dims:
            names.add(d.table.name)
    return sorted(names)


def table_stamps(binding, tables: list[str]) -> Optional[tuple]:
    """(table, version) per table — the ``_table_version`` stamp when
    present, root mtime as the local-FS fallback — or None when any
    BOUND table's version cannot be resolved, in which case the caller
    bypasses the cache rather than risk serving a stale result.

    A candidate with NO binding path at all (an advised rollup the
    deployment never materialized — the normal state of the fact-
    candidate set) is stamped with a -1.0 "absent" sentinel instead of
    forcing a bypass: its absence is stable cacheable state, and
    ``table_path`` existence-probes per call, so materializing it later
    flips the sentinel to a real version and rotates every key that
    embedded it. (Found by the r12 serving soak: the over-inclusive
    candidate stamping otherwise bypassed the cache on EVERY request of
    a deployment with unmaterialized rollup candidates.)"""
    from ..plans.versioning import table_version

    path_of = getattr(binding, "table_path", None)
    if path_of is None:
        return None
    has_table = getattr(binding, "has_table", None)
    out = []
    for name in tables:
        p = path_of(name)
        if p is None:
            if has_table is not None and has_table(name):
                # path-less but READABLE (override / catalog binding):
                # it can change without any stamp moving — bypass
                return None
            out.append((name, -1.0))
            continue
        v = table_version(p)
        if v < 0:
            return None
        out.append((name, v))
    return tuple(out)


def canonical_request(request: Any) -> Optional[str]:
    """Deterministic string form of the raw request. dict/str/bytes
    requests canonicalize via sorted-keys JSON; already-parsed
    ``ReportingRequest`` objects use their dataclass repr (deterministic
    within a process, which is the cache's entire lifetime). None when
    the payload cannot be canonicalized (caller bypasses)."""
    try:
        if isinstance(request, bytes):
            request = request.decode("utf-8")
        if isinstance(request, str):
            request = json.loads(request)
        if isinstance(request, dict):
            return json.dumps(request, sort_keys=True, default=str)
        return repr(request)
    except Exception:
        return None


class ResultCache:
    """LRU over JSON response envelopes, shared by the concurrent
    requests of one engine: every public method holds one lock, so
    lookups, inserts, evictions and the byte count move together."""

    def __init__(self, max_entries: int = 256,
                 max_bytes: int = 64 * 1024 * 1024):
        self.max_entries = max_entries
        self.max_bytes = max_bytes
        self._data: "OrderedDict[tuple, tuple[dict, int]]" = OrderedDict()
        self._bytes = 0
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0
        self.bypasses = 0
        self.evictions = 0

    # -- key construction ------------------------------------------------
    def key_for(self, model, binding, request: Any, schema: str,
                today, registry_name: str) -> Optional[tuple]:
        """Full cache key, or None when the request cannot be safely
        keyed (unversionable table, uncanonicalizable payload)."""
        canon = canonical_request(request)
        if canon is None:
            return None
        stamps = table_stamps(binding, model_physical_tables(model))
        if stamps is None:
            return None
        import datetime as _dt
        eff_today = (today or _dt.date.today()).isoformat()
        return (registry_name, schema, eff_today,
                model.cube.name, model.cube.revision, canon, stamps)

    # -- storage ---------------------------------------------------------
    def get(self, key: tuple) -> Optional[dict]:
        with self._lock:
            hit = self._data.get(key, _MISS)
            if hit is _MISS:
                self.misses += 1
                return None
            self._data.move_to_end(key)
            self.hits += 1
        return copy.deepcopy(hit[0])

    def bypass(self) -> None:
        """Count a request that could not be keyed."""
        with self._lock:
            self.bypasses += 1

    def put(self, key: tuple, envelope: dict) -> None:
        try:
            nbytes = len(json.dumps(envelope, default=str))
        except Exception:
            return      # unsizeable payloads are not cached
        if nbytes > self.max_bytes:
            return
        envelope = copy.deepcopy(envelope)
        with self._lock:
            old = self._data.pop(key, None)
            if old is not None:
                self._bytes -= old[1]
            self._data[key] = (envelope, nbytes)
            self._bytes += nbytes
            while self._data and (len(self._data) > self.max_entries
                                  or self._bytes > self.max_bytes):
                _, (_, b) = self._data.popitem(last=False)
                self._bytes -= b
                self.evictions += 1

    def clear(self) -> None:
        with self._lock:
            self._data.clear()
            self._bytes = 0

    def stats(self) -> dict[str, int]:
        with self._lock:
            return {"entries": len(self._data), "bytes": self._bytes,
                    "hits": self.hits, "misses": self.misses,
                    "bypasses": self.bypasses, "evictions": self.evictions}
