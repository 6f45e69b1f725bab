"""Serving soak probe (round 12): ONE long-lived session interleaving
hundreds of cube requests (result cache ON), repeated streaming drains,
and a composed maintenance cycle, sampling per-block wall times and
``engine.status()`` residency counters throughout.

Why: the r11 state-store aging find (per-drain time drifting 3.4 s ->
26 s across a 12-query session until ``unload_state_stores`` was added)
showed that long-lived-session pathologies are REAL and invisible to
per-entry benches, which tear the session down between entries. This
probe is the regression harness for that class of bug: any counter that
grows without bound or any per-block/per-drain time that trends up
across the soak is a leak.

Findings (both fixed + pinned in-round):
1. the result cache BYPASSED all 384 executes — unmaterialized rollup
   candidates had no stamp, so ``table_stamps`` refused to key
   (fix: absent-candidate sentinel, ``execution/result_cache.py``;
   pin: ``test_result_cache.py::test_unmaterialized_rollup_candidates
   _do_not_bypass``). With the fix: 12 misses / 372 hits, ~12 ms per
   cached request.
2. ``persistedRdds`` grew +2 across the maintenance cycle — the
   rewrite primitives' localCheckpoint blocks outlived their writes
   (fix: ``ops/common.in_scope`` on the compaction/upsert/delete/
   reconcile primitives + one scope per streaming micro-batch; pin:
   ``test_maintenance_cycle.py::test_maintenance_rewrites_release_
   their_checkpoints``).

Usage: python tools/bench_probes/soak_r12.py [sf_dir] [out_json]
Writes tools/bench_probes/soak_r12.json by default.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, REPO)

#: 12 distinct single-request contract entries — a realistic dashboard
#: working set: repeats hit the result cache, the mix keeps planner,
#: join, rollup-serving, and dim-driven paths all warm
REQUEST_NAMES = [
    "q1_pricing_summary", "q2_topn_parts", "q4_nation_revenue_by_segment",
    "q5_region_rollup", "q6_dim_driven_orders", "q7_order_status_decode",
    "q8_filtered_rollup", "q12_filter_ops", "q18_semi_join",
    "q19_row_count", "q20_monthly_rollup", "q28_banding",
]
BLOCKS = 8
REPEATS_PER_BLOCK = 4          # 12 requests x 4 = 48 executes per block
DRAIN_AFTER_BLOCKS = (2, 5)    # two drains after each of these blocks
MAINTENANCE_AFTER_BLOCK = 4


def _stage_maintenance_artifacts(spark, work: str):
    """Freq partials + a fragmented ExactSubstr index for the cycle."""
    from maha_spark.core.freqitems import freq_items_partial
    from maha_spark.ops import substring

    pdir = os.path.join(work, "freq_partials")
    for bid, vals in enumerate([[1, 1, 2], [1, 3, 3, 3]]):
        rows = [(dt.date(2024, 1, 1), str(v)) for v in vals]
        df = spark.createDataFrame(rows, "day date, user_id string")
        (freq_items_partial(df, ["day"], "user_id")
         .write.parquet(os.path.join(pdir, f"batch_id={bid}")))

    def _docs(rows):
        return spark.createDataFrame(
            [(i, t, "en", "synthetic", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long")

    def _text(tag):
        return " ".join(f"{tag}{i}" for i in range(substring.EXSUB_L + 2))

    idx = os.path.join(work, "exsub_idx")
    substring.materialize_exsub_index(spark, _docs([(0, _text("base"))]),
                                      idx)
    for i in range(1, 9):
        substring.update_exsub_index(spark, idx,
                                     _docs([(i, _text(f"b{i}x"))]),
                                     assume_new=True)
    return pdir, idx


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else \
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_path = sys.argv[2] if len(sys.argv) > 2 else \
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "soak_r12.json")

    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import (QUERIES,
                                              build_contract_registry,
                                              ensure_udfs)
    from maha_spark.execution.result_cache import ResultCache
    from maha_spark.plans.maintenance import run_maintenance_cycle
    from maha_spark.session import get_spark
    from maha_spark.streaming.hourly import streaming_hourly

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("maha-soak-r12", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    ensure_udfs(spark)
    eng = engine_for_dir(spark, build_contract_registry(), sf_dir,
                         result_cache=ResultCache())
    reqs = [QUERIES[n]["request"] for n in REQUEST_NAMES]

    work = tempfile.mkdtemp(prefix="maha-soak-")
    pdir, idx = _stage_maintenance_artifacts(spark, work)

    report = {"sf_dir": sf_dir, "blocks": [], "drains": [],
              "status": [], "maintenance_sec": None}
    try:
        for block in range(1, BLOCKS + 1):
            t0 = time.time()
            rows = 0
            for _ in range(REPEATS_PER_BLOCK):
                for req in reqs:
                    env = eng.execute(req)
                    rows += len(env["rows"])
            report["blocks"].append(
                {"block": block, "sec": round(time.time() - t0, 3),
                 "executes": REPEATS_PER_BLOCK * len(reqs), "rows": rows})
            st = eng.status()
            st["block"] = block
            report["status"].append(st)
            if block in DRAIN_AFTER_BLOCKS:
                for d in range(2):
                    t0 = time.time()
                    n = streaming_hourly(spark, sf_dir).count()
                    report["drains"].append(
                        {"after_block": block, "n": d,
                         "sec": round(time.time() - t0, 3), "rows": n})
            if block == MAINTENANCE_AFTER_BLOCK:
                t0 = time.time()
                run_maintenance_cycle(spark, freq_partials=[pdir],
                                      exsub_indexes=[idx],
                                      compact_target_mb=64)
                report["maintenance_sec"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    blocks = [b["sec"] for b in report["blocks"]]
    drains = [d["sec"] for d in report["drains"]]
    # steady state = blocks after the first (plan/code caches warm);
    # flat means the last block is within noise of the steady median
    steady = sorted(blocks[1:])
    median = steady[len(steady) // 2]
    report["summary"] = {
        "block_first": blocks[0], "block_median_steady": median,
        "block_last": blocks[-1],
        "block_last_over_median": round(blocks[-1] / median, 3),
        "drain_first": drains[0] if drains else None,
        "drain_last": drains[-1] if drains else None,
        "drain_last_over_first": (round(drains[-1] / drains[0], 3)
                                  if drains else None),
        "total_executes": sum(b["executes"] for b in report["blocks"]),
    }
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report["summary"]))
    spark.stop()


if __name__ == "__main__":
    main()
