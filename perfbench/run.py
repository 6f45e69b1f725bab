#!/usr/bin/env python3
"""maha_spark benchmark: fixed-work, closed-loop workloads through the
public API, with outputs checked against the contract's DuckDB oracles.

    python3 perfbench/run.py --workload cube_adhoc --seed 1 --seconds 20 \\
        --trace 0

Run from the repository root. Workloads:

* ``cube_adhoc``: one client sends unique ad-hoc reporting requests,
  derived from the 23 single-request contract templates, to
  ``MahaSparkEngine.execute`` (request JSON -> envelope); no result
  cache. An op is one request.
* ``pipeline_batch``: one client runs rounds of ``op_curate`` ->
  ``op_dedup_ngram_jaccard`` -> ``op_dedup_incremental`` ->
  ``op_sim_topk``, each into a noop sink followed by
  ``release_scoped_caches()``. An op is one round.

Inputs (tables and the op list) come from ``--seed``; ``--seconds``
sizes the op list. Set-up (session, registry, warm-up passes) is timed as
``setup_s``. The last stdout line is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
run whose calls into each module are wrapped in spans (see spans.py).
Lines before it, prefixed ``#``, repeat the metrics with their units and
record the run conditions (host steal share, load average, JVM GC and
JIT time in the measured phase). Everything the run writes stays under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import procstat  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

#: data shape per workload: TPC-H scale factor, documents, embeddings
DATA = {
    "cube_adhoc": (0.01, 500, 500),
    "pipeline_batch": (0.01, 300, 300),
}
#: a run still going after this many seconds kills its process tree and
#: exits non-zero
DEADLINE_S = 170.0
#: the share of an op's wall time its spans may leave unattributed
UNATTRIBUTED_MAX = 0.10

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms",
              "throughput_ops": "1/s", "cpu_ms_per_op": "ms"}

#: per-layer metric -> unit. A per-op metric is the median over the
#: measured ops in which its layer ran (0 when it never ran); jvm.* are
#: totals over the measured phase
PER_LAYER = {
    "request.parse_ms": "ms", "model.build_ms": "ms",
    "plans.build_ms": "ms", "plans.py4j_calls": "count",
    "spark.plan_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_ms": "ms",
    "spark.task_cpu_ms": "ms", "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB", "spark.skew": "ratio",
    "spark.sched_delay_ms": "ms", "output.envelope_ms": "ms",
    "curators.run_ms": "ms",
    **{f"ops.{op[3:]}.{part}_ms": "ms" for op in workloads.PIPELINE_OPS
       for part in ("build", "run")},
    "ops.release_ms": "ms", "ops.scoped_caches_released": "count",
    "ops.persisted_rdds": "count", "jvm.gc_ms": "ms", "jvm.jit_ms": "ms",
    "trace.op_wall_ms": "ms", "trace.unattributed_share": "ratio",
}


def _kill(pids: list[int]) -> None:
    for pid in pids:
        if pid != os.getpid():
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def _start_watchdog() -> None:
    def expire() -> None:
        print(f"perfbench: run exceeded {DEADLINE_S:.0f} s, stopping",
              file=sys.stderr)
        _kill(procstat.tree_pids(os.getpid()))
        os._exit(3)
    t = threading.Timer(DEADLINE_S, expire)
    t.daemon = True
    t.start()


def _prepare_env(trace: bool) -> str:
    """Point every file the run writes into ``WORK``; returns the event
    log directory (traced runs only write there)."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # both JVMs spark-submit starts (its launcher and the driver) keep
    # their temp files here and write no perf-data file under /tmp
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        opts = os.environ.get(var, "")
        os.environ[var] = (
            f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip())
    log_dir = os.path.join(tmp, "eventlog")
    if trace:
        os.makedirs(log_dir)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell")
    return log_dir


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and the JVM's Python workers, and wait
    until each process has ended."""
    from pyspark import SparkContext
    pids = [p for p in procstat.tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    end = time.monotonic() + 20
    while any(_alive(p) for p in pids) and time.monotonic() < end:
        time.sleep(0.1)
    _kill([p for p in pids if _alive(p)])


class Run:
    """One benchmark run: set-up, measured phase, checks, report."""

    def __init__(self, args: argparse.Namespace, log_dir: str):
        self.args = args
        self.workload = args.workload
        self.log_dir = log_dir
        sf, n_docs, n_vecs = DATA[self.workload]
        self.data_dir = os.path.join(
            WORK, "data", f"sf{sf}-d{n_docs}-v{n_vecs}-s{args.seed}")
        self.tracer = spans.Tracer() if args.trace else None
        self.walls: list[float] = []        # measured op wall times, s
        self.roots: list[spans.Span] = []   # traced: one root span per op
        self.op_counts: list[dict[str, float]] = []  # traced pipeline
        self.errors: list[str] = []
        self.attempted = 0
        self.checks: dict[str, str] = {}    # output -> mismatch ('' = ok)
        self.digests: dict[str, object] = {"checked": {}, "measured": []}
        self.per_op: list[dict[str, float]] = []  # traced: layer values

    def _op(self, name: str, fn, *args):
        """Run one op, counting it; returns None when it raised."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # a failed op is counted, the run goes on
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None

    def _timed(self, name: str, fn, *args):
        t0 = time.perf_counter()
        if self.tracer is None:
            out = self._op(name, fn, *args)
        else:
            with self.tracer.span("op") as root:
                out = self._op(name, fn, *args)
            self.roots.append(root)
        self.walls.append(time.perf_counter() - t0)
        return out

    def _span(self, name: str):
        return nullcontext() if self.tracer is None else \
            self.tracer.span(name)

    # ---------------------------------------------------------- workloads
    def cube_adhoc(self, spark):
        """Warm up on the canonical templates; returns (their envelopes,
        to check, and the measured loop)."""
        from maha_spark.engine import engine_for_dir
        from maha_spark.examples.contract import (build_contract_registry,
                                                  ensure_udfs)
        templates = workloads.load_templates()
        warm, measured = workloads.cube_adhoc_ops(
            self.args.seed, self.args.seconds, templates)
        ensure_udfs(spark)
        engine = engine_for_dir(spark, build_contract_registry(),
                                self.data_dir)
        canonical = {op.template: self._op(op.template, engine.execute,
                                           op.text) for op in warm}

        def measure() -> None:
            for op in measured:
                env = self._timed(op.template, engine.execute, op.text)
                self.digests["measured"].append(check.digest(env))
        return canonical, measure

    def pipeline_batch(self, spark):
        """Warm up on one round whose outputs are collected for the
        check; returns (those outputs, the measured loop)."""
        from maha_spark.ops import entry_queries
        from maha_spark.ops.common import release_scoped_caches
        entries = entry_queries()
        outputs = {}
        for name in workloads.PIPELINE_OPS:
            outputs[name] = self._op(name, lambda n=name: entries[n](
                spark, self.data_dir).toPandas())
            release_scoped_caches()

        def one_round() -> None:
            released = 0
            for name in workloads.PIPELINE_OPS:
                short = name[len("op_"):]
                with self._span(f"ops.{short}.build"):
                    df = entries[name](spark, self.data_dir)
                with self._span(f"ops.{short}.run"):
                    df.write.format("noop").mode("overwrite").save()
                with self._span("ops.release"):
                    released += release_scoped_caches()
            if self.tracer is not None:
                self.op_counts.append({
                    "ops.scoped_caches_released": float(released),
                    "ops.persisted_rdds": float(
                        spark.sparkContext._jsc.getPersistentRDDs().size()),
                })

        def measure() -> None:
            for r in range(workloads.pipeline_rounds(self.args.seconds)):
                self._timed(f"round{r}", one_round)
        return outputs, measure

    # --------------------------------------------------------------- main
    def execute(self) -> dict:
        sf, n_docs, n_vecs = DATA[self.workload]
        datagen.write_dataset(self.data_dir, self.args.seed, sf, n_docs,
                              n_vecs)
        t_setup = time.perf_counter()
        sys.path.insert(0, ROOT)
        from maha_spark.session import get_spark
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        me = os.getpid()
        try:
            outputs, measure = getattr(self, self.workload)(spark)
            if self.tracer is not None:
                self.tracer.install(spark)
            setup_s = time.perf_counter() - t_setup
            gc0, jit0 = spans.jvm_times_ms(spark)
            cpu0, host0 = procstat.tree_cpu_s(me), procstat.host_cpu_times()
            t0 = time.perf_counter()
            measure()
            wall = time.perf_counter() - t0
            cpu1, host1 = procstat.tree_cpu_s(me), procstat.host_cpu_times()
            gc1, jit1 = spans.jvm_times_ms(spark)
            rss_mb = procstat.tree_rss_peak_mb(me)
            if self.tracer is not None:
                self.tracer.uninstall()
        finally:
            _stop_spark(spark)

        t_check = time.perf_counter()
        self._check(outputs)
        check_s = time.perf_counter() - t_check
        n = len(self.walls)
        walls_ms = [w * 1000.0 for w in self.walls]
        tail = stats.tail_percentile(n)
        return {
            "e2e": {
                "setup_s": setup_s,
                "latency_p50_ms": stats.median(walls_ms),
                "throughput_ops": n / wall,
                "cpu_ms_per_op": (cpu1 - cpu0) * 1000.0 / n,
            },
            "conditions": {
                "nproc": procstat.ncpus(),
                "steal_share": round(procstat.steal_share(host0, host1), 4),
                "loadavg": procstat.loadavg(),
                "jvm_gc_ms": gc1 - gc0,
                "jvm_jit_ms": jit1 - jit0,
                "measured_wall_s": round(wall, 3),
                "check_s": round(check_s, 3),
                "rss_peak_mb": rss_mb,
                "ops": n,
                "tail": None if tail is None else
                {"p": tail, "ms": stats.percentile(walls_ms, tail)},
            },
            "layers": (self._layers(gc1 - gc0, jit1 - jit0)
                       if self.tracer is not None else {}),
        }

    def _check(self, outputs: dict) -> None:
        oracle = check.Oracle(self.data_dir)
        try:
            for name, out in sorted(outputs.items()):
                self.attempted += 1
                if out is None:
                    self.checks[name] = "no output (the op raised)"
                    continue
                if self.workload == "cube_adhoc":
                    self.checks[name] = oracle.compare_envelope(name, out)
                else:
                    self.checks[name] = oracle.compare_frame(name, out)
                    out = out.to_dict(orient="split")
                self.digests["checked"][name] = check.digest(out)
        finally:
            oracle.close()

    def _layers(self, gc_ms: float, jit_ms: float) -> dict[str, float]:
        jobs, stages = spans.read_event_log(self.log_dir)
        per_op: list[dict[str, float]] = []
        counts = self.op_counts or [{}] * len(self.roots)
        for root, extra in zip(self.roots, counts):
            m = {f"{k}_ms": v for k, v in
                 spans.layer_self_ms(self.tracer, root).items()}
            m.update(spans.spark_metrics(jobs, stages, root.wall0,
                                         root.wall1))
            builds = [s.py4j for s in self.tracer.descendants(root)
                      if s.name == "plans.build"]
            if builds:
                m["plans.py4j_calls"] = float(sum(builds))
            m["trace.op_wall_ms"] = root.ms
            m["trace.unattributed_share"] = m.pop("op_ms") / root.ms
            m.update(extra)
            per_op.append(m)
        self.per_op = per_op
        out = {}
        for name in PER_LAYER:
            vals = [m[name] for m in per_op if name in m]
            out[name] = stats.median(vals) if vals else 0.0
        out["jvm.gc_ms"], out["jvm.jit_ms"] = gc_ms, jit_ms
        return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("maha_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    _start_watchdog()
    run = Run(args, _prepare_env(bool(args.trace)))
    res = run.execute()

    bad = {k: v for k, v in run.checks.items() if v}
    failed = len(run.errors) + len(bad)
    cond = res["conditions"]
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace} "
          f"nproc {cond['nproc']} ops {cond['ops']} "
          f"checks {len(run.checks)}")
    for name, unit in END_TO_END.items():
        print(f"# {name} {res['e2e'][name]:.4f} {unit}")
    print(f"# rss_peak_mb {cond['rss_peak_mb']:.4f} MB")
    if cond["tail"]:
        print(f"# latency_p{cond['tail']['p']}_ms {cond['tail']['ms']:.4f} "
              f"ms (n={cond['ops']})")
    print(f"# error_rate {failed / run.attempted:.4f} ratio "
          f"({failed} of {run.attempted})")
    for err in run.errors:
        print(f"# error {err}")
    for name, why in bad.items():
        print(f"# mismatch {name}: {why}")
    print("# conditions " + json.dumps(cond))
    if args.trace:
        print(f"# unattributed share "
              f"{res['layers']['trace.unattributed_share']:.4f} "
              f"(stated limit {UNATTRIBUTED_MAX})")
        metrics = {n: {"value": res["layers"][n], "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": res["e2e"][n], "unit": u}
                   for n, u in END_TO_END.items()}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-"
                           f"t{args.trace}-{time.time_ns()}.json"), "w") as f:
        json.dump({"args": vars(args), **res, "checks": run.checks,
                   "errors": run.errors, "digests": run.digests,
                   "per_op": run.per_op}, f,
                  indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
