"""Async report execution (SURVEY §3.3: worker path).

The reference queues an async ``ReportingRequest`` (job-service), a Kafka
worker executes it, and the result lands as CSV/JSON files with job-status
tracking.  Spark-native equivalent: the same DataFrame plan with a
``df.write`` sink and a job-status ledger.  The ledger is a plain dict
persisted as JSON next to the outputs — on a cluster you would point
``AsyncReportRunner`` at object storage and swap the ledger for a table.

Async requests use the async row cap (100k vs 5k sync,
DruidQueryGenerator.scala:164-166) which the request layer already
enforces via ``request_type``.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import threading
import uuid
from dataclasses import asdict, dataclass, field
from typing import Any, Optional, Union

from ..ops.common import Scope
from ..request.request import ReportingRequest


@dataclass
class ReportJob:
    job_id: str
    cube: str
    status: str = "SUBMITTED"   # SUBMITTED | RUNNING | COMPLETED | FAILED
    output_path: str = ""
    output_format: str = "csv"
    rows: int = -1
    error: str = ""
    submitted_at: str = ""
    finished_at: str = ""
    extra: dict[str, Any] = field(default_factory=dict)


class AsyncReportRunner:
    """Executes reporting requests asynchronously into file sinks."""

    def __init__(self, engine, output_dir: str):
        self.engine = engine
        self.output_dir = output_dir
        self._jobs: dict[str, ReportJob] = {}
        self._lock = threading.Lock()
        os.makedirs(output_dir, exist_ok=True)

    # ------------------------------------------------------------- api
    def submit(self, request: Union[dict, str, bytes, ReportingRequest],
               output_format: str = "csv", schema: str = "internal",
               blocking: bool = True, single_file: bool = True) -> ReportJob:
        job = ReportJob(
            job_id=uuid.uuid4().hex[:16],
            cube=(request.cube if isinstance(request, ReportingRequest)
                  else (request if isinstance(request, dict)
                        else json.loads(request)).get("cube", "?")),
            output_format=output_format,
            submitted_at=_dt.datetime.now(_dt.timezone.utc).isoformat(),
            # per-job, not runner-shared: concurrent submits with different
            # single_file values must not race (False at scale: part files)
            extra={"single_file": single_file},
        )
        job.output_path = os.path.join(self.output_dir, job.job_id)
        with self._lock:
            self._jobs[job.job_id] = job
        if blocking:
            self._run(job, request, schema)
        else:
            t = threading.Thread(target=self._run,
                                 args=(job, request, schema), daemon=True)
            t.start()
        return job

    def status(self, job_id: str) -> Optional[ReportJob]:
        return self._jobs.get(job_id)

    # ----------------------------------------------------------- worker
    def _run(self, job: ReportJob, request: Any, schema: str) -> None:
        job.status = "RUNNING"
        try:
            req = (request if isinstance(request, ReportingRequest)
                   else None)
            if req is None:
                from ..request.request import parse_request
                req = parse_request(request, schema=schema,
                                    request_type="AsyncRequest")
            with Scope() as scope:
                df = scope.cache(self.engine.dataframe(req, schema=schema))
                fmt = job.output_format
                out_df = df.coalesce(1) \
                    if job.extra.get("single_file", True) else df
                writer = out_df.write.mode("overwrite")
                if fmt == "csv":
                    writer.option("header", "true").csv(job.output_path)
                elif fmt == "json":
                    writer.json(job.output_path)
                elif fmt == "parquet":
                    writer.parquet(job.output_path)
                elif fmt == "excel":
                    # ReportFormatType.ExcelFormat (Request.scala:126):
                    # a single driver-written .xlsx (row-capped report
                    # output; rows stream via toLocalIterator)
                    from ..output.serializers import to_excel_bytes
                    path = job.output_path
                    if not path.endswith(".xlsx"):
                        os.makedirs(path, exist_ok=True)
                        path = os.path.join(path, "report.xlsx")
                    with open(path, "wb") as fh:
                        fh.write(to_excel_bytes(df))
                else:
                    raise ValueError(f"unsupported output format {fmt!r}")
                # cached: the count reuses the materialized result instead
                # of executing the whole plan a second time
                job.rows = df.count()
            job.status = "COMPLETED"
        except Exception as e:
            job.status = "FAILED"
            job.error = str(e)[:2000]
        finally:
            job.finished_at = _dt.datetime.now(_dt.timezone.utc).isoformat()
            self._persist(job)

    def _persist(self, job: ReportJob) -> None:
        path = os.path.join(self.output_dir, f"{job.job_id}.status.json")
        with open(path, "w") as f:
            json.dump(asdict(job), f, indent=2)
