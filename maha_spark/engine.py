"""MahaSparkEngine: the service facade (maha `service/.../MahaService.scala`).

request JSON -> parse/validate -> RequestModel -> SQL statement ->
execute/serialize, with curators (drilldown / timeshift / totalmetrics /
rowcount) composed into one response
(RequestCoordinator.scala:97-151 semantics).
"""

from __future__ import annotations

import datetime as _dt
import threading
from collections import deque
from typing import Any, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from .core.bucketing import BucketSelector
from .model.request_model import RequestModel, build_request_model
from .ops.common import held_frames, in_scope, scoped_cache
from .output.serializers import to_json_response
from .plans.binding import ParquetBinding, TableBinding
from .plans.planner import Planner
from .registry.cube import Registry
from .request.request import ReportingRequest, parse_request

#: dry-run ledger length: the newest records are kept, older ones drop
DRY_RUN_LOG_MAX = 1000


class MahaSparkEngine:
    def __init__(self, spark: SparkSession, registry: Registry,
                 binding: TableBinding,
                 bucket_selector: Optional["BucketSelector"] = None,
                 request_logger: Optional[Any] = None,
                 registry_name: str = "maha",
                 result_cache: Optional[Any] = None):
        self.spark = spark
        self.registry = registry
        self.binding = binding
        self.planner = Planner(spark, binding)
        self.bucket_selector = bucket_selector
        #: per-request stats sink (reference request-log module; see
        #: maha_spark/log/request_log.py) — logging must never throw into
        #: the serving path, so failures are swallowed by the writer layer
        self.request_logger = request_logger
        self.registry_name = registry_name
        #: dry-run shadow execution ledger (RequestModel.scala:1465-1510:
        #: the dry-run revision's query runs out-of-band, result
        #: discarded) and its still-running shadow threads
        self.dry_run_log: deque[dict[str, Any]] = deque(
            maxlen=DRY_RUN_LOG_MAX)
        self._dry_run_threads: list[threading.Thread] = []
        self._dry_run_lock = threading.Lock()
        #: optional result-level cache (Druid broker result cache parity;
        #: execution/result_cache.py) — keyed on canonical request +
        #: per-table mtime stamps, so the maintenance ops' root-mtime
        #: bumps invalidate it for free
        self.result_cache = result_cache

    # ------------------------------------------------------------------
    def status(self) -> dict[str, Any]:
        """Operational telemetry for a serving operator (REST
        ``/registry/{name}/status``): result-cache hit rates and
        residency, the frames held by open scopes (``scopedCaches``),
        the binding memo's table entries (one per session and table,
        ``bindingCachedTables``), and the Spark storage layer's
        persisted-block count — everything needed to see cache behavior
        without a debugger — and the driver's generated-code compiles
        and their milliseconds so far (``codegenCompiles``,
        ``codegenCompileMs``): a request that compiles nothing reused
        every class an earlier request compiled."""
        from .plans.binding import memoized_tables
        from .session import codegen_stats

        try:
            n_rdds = int(self.spark.sparkContext._jsc
                         .getPersistentRDDs().size())
        except Exception:
            n_rdds = -1
        return {
            "registry": self.registry_name,
            "resultCache": (self.result_cache.stats()
                            if self.result_cache is not None else None),
            "scopedCaches": held_frames(),
            "bindingCachedTables": memoized_tables(),
            "persistedRdds": n_rdds,
            "dryRunsLogged": len(self.dry_run_log),
            **codegen_stats(self.spark),
        }

    # ------------------------------------------------------------------
    def model(self, request: Union[dict, str, bytes, ReportingRequest],
              schema: str = "internal",
              today: Optional[_dt.date] = None,
              user_id: str = "",
              revision: Optional[int] = None) -> RequestModel:
        req = request if isinstance(request, ReportingRequest) else \
            parse_request(request, schema=schema)
        if revision is None and self.bucket_selector is not None:
            sel = self.bucket_selector.select(req.cube, user_id=user_id)
            revision = sel.revision
        return build_request_model(req, self.registry, today=today,
                                   revision=revision,
                                   table_available=self.binding.has_table)

    def dataframe(self, request: Union[dict, str, bytes, ReportingRequest],
                  schema: str = "internal",
                  today: Optional[_dt.date] = None,
                  revision: Optional[int] = None) -> DataFrame:
        return self.planner.build(self.model(request, schema=schema,
                                             today=today, revision=revision))

    def dataframe_with_fallback(
            self, request: Union[dict, str, bytes, ReportingRequest],
            fallback_revision: int,
            schema: str = "internal",
            today: Optional[_dt.date] = None) -> DataFrame:
        """QueryPipelineWithFallback (QueryPipeline.scala:115-151): if the
        primary plan fails to build/execute or returns no rows, re-plan
        against the fallback cube revision."""
        from .request.request import ValidationError
        try:
            # cache (in the caller's scope) before probing so the
            # emptiness check and the caller's consumption share one
            # execution of the plan
            df = scoped_cache(self.dataframe(request, schema=schema,
                                             today=today))
            if df.limit(1).count() > 0:
                return df
            df.unpersist()
        except ValidationError:
            # a malformed request is a 400, not an execution failure —
            # re-planning it against another revision would mask the
            # caller's error (the reference's fallback also fires only on
            # pipeline failure, not on request validation)
            raise
        except Exception:
            pass
        return self.dataframe(request, schema=schema, today=today,
                              revision=fallback_revision)

    # ------------------------------------------------------------------
    @in_scope
    def execute(self, request: Union[dict, str, bytes, ReportingRequest],
                schema: str = "internal",
                today: Optional[_dt.date] = None,
                user_id: str = "",
                revision: Optional[int] = None,
                request_id: Optional[str] = None) -> dict[str, Any]:
        """Full lifecycle incl. curators -> reference JSON envelope.
        Routes through model() so revision A/B bucketing applies on the
        primary execute path exactly as it does for dataframe(). The
        envelope is eager, so the request's own scope releases every
        cache its planner and curators allocated on return."""
        from .curators.curators import run_curators  # cycle-free local import
        from .log.request_log import (build_log_entry, new_request_id,
                                      now_ms, RequestLogEntry)

        raw = request if isinstance(request, str) else ""
        request_id = request_id or new_request_id()
        t0 = now_ms()
        entry: Optional[RequestLogEntry] = None
        req: Optional[ReportingRequest] = None
        try:
            # parse INSIDE the try so malformed/invalid request JSON still
            # reaches the ledger (MahaRequestLogHelper.logFailed covers
            # parse-time failures, not just model-time ones)
            req = request if isinstance(request, ReportingRequest) else \
                parse_request(request, schema=schema)
            sel = None
            if revision is None and self.bucket_selector is not None:
                sel = self.bucket_selector.select(req.cube, user_id=user_id)
                revision = sel.revision
            model = self.model(req, schema=schema, today=today,
                               user_id=user_id, revision=revision)
            entry = build_log_entry(
                model, request_id=request_id, raw_request=raw,
                schema=schema, user_id=user_id,
                registry_name=self.registry_name)
            entry.request_start_time = t0
            if sel is not None and sel.dry_run_revision is not None and \
                    sel.dry_run_revision != model.cube.revision:
                entry.is_dry_run = True
                self._spawn_dry_run(req, schema, today, sel.dry_run_revision)
            # result-level cache (Druid broker result cache parity):
            # debug requests bypass (their envelope's purpose is a fresh
            # plan); everything else keys on the canonical request plus
            # per-table mtime stamps — see execution/result_cache.py for
            # the never-stale argument. The lookup sits AFTER the model
            # build (validation errors must 400 identically hit or miss,
            # the ledger records the request either way) and after the
            # dry-run spawn (A/B shadow coverage is workload-driven).
            # Per-request control rides additionalParameters with
            # Druid's own context-flag names: useResultLevelCache
            # gates reads, populateResultLevelCache gates writes
            # (druid.apache.org query-context semantics; both default
            # true when the engine carries a cache).
            cache_key = None
            cache_populate = False
            if self.result_cache is not None and not req.is_debug:
                from .request.request import _to_bool
                cache_use = _to_bool(req.get_parameter(
                    "useResultLevelCache", True))
                cache_populate = _to_bool(req.get_parameter(
                    "populateResultLevelCache", True))
                if cache_use or cache_populate:
                    cache_key = self.result_cache.key_for(
                        model, self.binding, request, schema, today,
                        self.registry_name)
                if cache_key is None:
                    self.result_cache.bypass()
                elif cache_use:
                    cached = self.result_cache.get(cache_key)
                    if cached is not None:
                        return cached
            df = self.planner.build(model)
            curator_results = run_curators(self, model) if req.curators \
                else None
            debug = None
            if req.is_debug:
                # the reference's debug response carries the generated
                # engine query (QueryPipeline debug output): the rendered
                # SQL text, its bound parameters, and the optimized plan
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                debug = {"requestType": req.request_type,
                         "factTable": model.fact_table.name,
                         "sql": df.statement.text,
                         "parameters": df.statement.params,
                         "plan": plan[:8000]}
            envelope = to_json_response(
                df, cube=req.cube,
                metric_aliases=set(model.metric_aliases),
                max_rows=req.rows_per_page,
                curators=curator_results,
                debug=debug,
            )
            if cache_key is not None and cache_populate:
                self.result_cache.put(cache_key, envelope)
            return envelope
        except Exception as e:
            # parse/validation failures happen before the model (or even
            # the request) exists — log a skeleton record so failed
            # requests still hit the ledger (MahaRequestLogHelper.logFailed
            # semantics). When parsing itself failed, peek the raw payload
            # tolerantly for cube/requestType.
            if entry is None:
                cube, rtype = "", ""
                if req is not None:
                    cube, rtype = req.cube, req.request_type
                else:
                    try:
                        import json as _json
                        peek = request if isinstance(request, dict) else \
                            _json.loads(raw or request)
                        cube = str(peek.get("cube", ""))
                        rtype = str(peek.get("requestType", ""))
                    except Exception:
                        pass
                entry = RequestLogEntry(
                    request_id=request_id, json_request=raw,
                    user_id=user_id, cube=cube, schema=schema,
                    request_type=rtype,
                    registry_name=self.registry_name,
                    request_start_time=t0)
            # client errors (parse/validation) are 400; engine/planner/
            # execution failures — including plan-time ValueErrors from
            # cube-definition bugs — are 500 (GeneralError handling)
            from .request.request import ValidationError
            from .request.sql import SqlParseError
            entry.status = 400 if isinstance(
                e, (ValidationError, SqlParseError)) else 500
            entry.error_message = str(e)[:500]
            raise
        finally:
            if self.request_logger is not None and entry is not None:
                entry.request_end_time = now_ms()
                try:
                    self.request_logger.log(entry)
                except Exception:
                    pass  # the ledger never breaks serving

    # ------------------------------------------------------------------
    def _spawn_dry_run(self, req: ReportingRequest, schema: str,
                       today: Optional[_dt.date], revision: int) -> None:
        """Build + execute the shadow revision's plan out-of-band, in
        its own scope (it outlives the request that spawned it); the
        result is discarded, only status/rows/error are recorded."""
        rec: dict[str, Any] = {"cube": req.cube, "revision": revision,
                               "status": "RUNNING", "rows": -1, "error": ""}
        self.dry_run_log.append(rec)

        @in_scope
        def work() -> None:
            try:
                df = self.dataframe(req, schema=schema, today=today,
                                    revision=revision)
                rec["rows"] = df.count()
                rec["status"] = "COMPLETED"
            except Exception as e:  # shadow failure never affects serving
                rec["status"] = "FAILED"
                rec["error"] = str(e)[:500]

        t = threading.Thread(target=work, daemon=True)
        t.start()
        with self._dry_run_lock:
            self._dry_run_threads = [
                w for w in self._dry_run_threads if w.is_alive()]
            self._dry_run_threads.append(t)

    def wait_for_dry_runs(self, timeout: Optional[float] = None
                          ) -> deque[dict]:
        with self._dry_run_lock:
            threads, self._dry_run_threads = self._dry_run_threads, []
        for t in threads:
            t.join(timeout)
        return self.dry_run_log

    # ------------------------------------------------------------------
    def sql(self, sql_text: str, schema: str = "internal",
            today: Optional[_dt.date] = None) -> DataFrame:
        """SQL SELECT over a cube's public aliases -> DataFrame
        (MahaCalciteSqlParser parity; see request/sql.py for the
        supported subset)."""
        from .request.sql import sql_to_request_json
        req = sql_to_request_json(sql_text, registry=self.registry)
        return self.dataframe(req, schema=schema, today=today)

    def execute_sql(self, sql_text: str, schema: str = "internal",
                    today: Optional[_dt.date] = None) -> dict[str, Any]:
        from .request.sql import sql_to_request_json
        req = sql_to_request_json(sql_text, registry=self.registry)
        return self.execute(req, schema=schema, today=today)

    def domain_json(self) -> dict[str, Any]:
        return self.registry.domain_json()


def engine_for_dir(spark: SparkSession, registry: Registry,
                   base_dir: str,
                   result_cache: Optional[Any] = None) -> MahaSparkEngine:
    return MahaSparkEngine(spark, registry, ParquetBinding(spark, base_dir),
                           result_cache=result_cache)
