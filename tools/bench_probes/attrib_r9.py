#!/usr/bin/env python
"""Round-9 attribution of the r7->r8 lower-tier ratio drift
(128x 0.159->0.181, 256x 0.175->0.203, 512x 0.198->0.210).

Hypotheses: (a) v6->v7 layout rebuild, (b) run-to-run machine variance
— specifically the DuckDB denominator, which on this layout is
file-open-overhead-bound and swings with page-cache state (bench.py
header), (c) a real Spark plan regression.

Evidence already on disk: the mid-round-8 committed BENCH_DETAIL
(git 8f480aa) measured 0.174 / 0.228 / 0.208 on the SAME code as r7's
0.159 / 0.175 / 0.198 — straddling both committed rounds, which alone
bounds run-to-run spread at ~+/-0.03. This probe makes that
quantitative: R independent ratio measurements per tier on the PINNED
v7 layout in one session (fresh DuckDB connection per run; Spark warm
after run 1, matching the bench's warm-pass protocol), plus a fresh
3-pass 2048x measurement for the q6 dim-driven watch item (the r8
VERDICT's 0.54<->0.63 wobble).

Reads the existing .bench-scaled-*v7 layouts (run bench.py first).
Writes tools/bench_probes/attrib_r9.json and prints it.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, REPO)

MULTS = tuple(int(s) for s in
              os.environ.get("ATTRIB_MULTS", "128,256,512").split(","))
RUNS = int(os.environ.get("ATTRIB_RUNS", "4"))
DEEP_MULT = int(os.environ.get("ATTRIB_DEEP_MULT", "2048"))
DEEP_PASSES = int(os.environ.get("ATTRIB_DEEP_PASSES", "3"))


def _load(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    bench = _load("bench", os.path.join(REPO, "bench.py"))
    entry = _load("entry", os.path.join(REPO, "__spark_entry__.py"))

    from maha_spark.examples import contract as _contract
    from maha_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("attrib-r9", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    queries, oracles = entry.queries(), entry.oracle_sql()
    # r9 rotation: q3/q11 are off-contract — same implementation/oracle
    for n in bench.SCALED_QUERIES:
        if n not in queries and n in _contract.OFFCONTRACT_QUERIES:
            queries[n] = (lambda nm: lambda sp, d:
                          _contract.run_query(sp, d, nm))(n)
            oracles[n] = _contract.OFFCONTRACT_QUERIES[n]["sql"]
    s_names = [n for n in bench.SCALED_QUERIES if n in queries]

    def one_run(sdir, passes=1):
        sp = bench.time_spark(queries, s_names, spark, sdir, passes=passes)
        con = bench.duck_connect(sdir)
        du = bench.time_duckdb(oracles, s_names, con, passes=passes)
        con.close()
        spt = sum(v for v in sp.values() if v > 0)
        dut = sum(v for v in du.values() if v > 0)
        return {"spark_total": round(spt, 4), "duck_total": round(dut, 4),
                "ratio": round(spt / dut, 4) if dut else None,
                "spark": sp, "duck": du}

    out = {"cpus": cpus, "runs_per_tier": RUNS, "tiers": {}}
    for mult in MULTS:
        sdir = os.path.join(
            REPO, f".bench-scaled-sf0.1x{mult}v7")
        if not os.path.exists(os.path.join(sdir, "_READY")):
            out["tiers"][str(mult)] = {"error": "layout missing"}
            continue
        # warm pass (cache build + JIT), untimed
        for n in s_names:
            try:
                queries[n](spark, sdir).write.format("noop") \
                    .mode("overwrite").save()
            except Exception:
                pass
        runs = [one_run(sdir) for _ in range(RUNS)]
        ratios = [r["ratio"] for r in runs]
        out["tiers"][str(mult)] = {
            "ratios": ratios,
            "ratio_min": min(ratios), "ratio_max": max(ratios),
            "ratio_spread": round(max(ratios) - min(ratios), 4),
            "spark_totals": [r["spark_total"] for r in runs],
            "duck_totals": [r["duck_total"] for r in runs],
            "spark_cv": round(statistics.pstdev(
                [r["spark_total"] for r in runs])
                / statistics.mean([r["spark_total"] for r in runs]), 4),
            "duck_cv": round(statistics.pstdev(
                [r["duck_total"] for r in runs])
                / statistics.mean([r["duck_total"] for r in runs]), 4),
            "committed": {"r7": None, "r8": None},
            "runs": runs,
        }
        # drop this tier's caches before the next (bench protocol)
        from maha_spark.ops import common as _oc
        from maha_spark.plans.binding import forget_tables
        forget_tables()
        _oc.release_scoped_caches()
        spark.catalog.clearCache()

    # committed round points for direct comparison
    for rnd, fname in (("r7", "BENCH_r07.json"), ("r8", "BENCH_r08.json")):
        try:
            trend = json.load(open(os.path.join(REPO, fname)))[
                "parsed"]["scaled_trend"]
            for m, ratio in trend:
                t = out["tiers"].get(str(m))
                if t and "committed" in t:
                    t["committed"][rnd] = ratio
        except Exception:
            pass

    # deep tier: fresh q6 measurement (the 0.54<->0.63 watch item)
    deep_dir = os.path.join(REPO, f".bench-scaled-sf0.1x{DEEP_MULT}v7")
    if os.path.exists(os.path.join(deep_dir, "_READY")):
        for n in s_names:
            try:
                queries[n](spark, deep_dir).write.format("noop") \
                    .mode("overwrite").save()
            except Exception:
                pass
        deep = one_run(deep_dir, passes=DEEP_PASSES)
        deep["ratio_per_query"] = {
            n: round(deep["spark"][n] / deep["duck"][n], 3)
            for n in s_names
            if deep["spark"].get(n, 0) > 0 and deep["duck"].get(n, 0) > 0}
        out["deep"] = {"mult": DEEP_MULT, "passes": DEEP_PASSES, **deep}

    path = os.path.join(REPO, "tools", "bench_probes", "attrib_r9.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "tiers"}
                     | {"tiers": {m: {kk: vv for kk, vv in t.items()
                                      if kk != "runs"}
                                  for m, t in out["tiers"].items()}},
                     indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
