"""r10 probe: dim-driven q6 with the l_orderkey skipping sidecar
(page-key pruning) vs the same layout with the sidecar removed, vs
DuckDB — the attack on the q6 raw-scan-parity floor the r9 attribution
accepted. Run: python tools/bench_probes/q6_skip_r10.py [mult]"""

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from maha_spark.session import get_spark  # noqa: E402


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 512
    spark = get_spark("q6probe", master=f"local[{bench.CPUS}]",
                      shuffle_partitions=bench.CPUS)
    d = bench.ensure_scaled_dir(spark, bench.SF_DIR, mult)
    from maha_spark.examples import contract

    name = "q6_dim_driven_orders"
    out: dict = {"mult": mult, "dir": d}

    def run(tag: str, passes: int = 3) -> list[float]:
        times = []
        for _ in range(passes):
            t0 = time.perf_counter()
            contract.run_query(spark, d, name).collect()
            times.append(round(time.perf_counter() - t0, 4))
        out[tag] = times
        return times

    idx = os.path.join(d, "_skipidx")
    aside = idx + ".aside"
    shutil.move(idx, aside)
    try:
        run("without_sidecar", passes=4)
    finally:
        shutil.move(aside, idx)
    run("with_sidecar", passes=4)

    duck = bench.duck_connect(d)
    sql = contract.QUERIES[name]["sql"]
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        duck.execute(sql).fetchall()
        times.append(round(time.perf_counter() - t0, 4))
    out["duckdb"] = times

    best = min(out["with_sidecar"])
    out["ratio_with"] = round(best / min(out["duckdb"]), 4)
    out["ratio_without"] = round(
        min(out["without_sidecar"]) / min(out["duckdb"]), 4)
    path = os.path.join(REPO, "tools", "bench_probes",
                        f"q6_skip_r10_{mult}x.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
