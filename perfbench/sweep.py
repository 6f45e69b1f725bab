#!/usr/bin/env python3
"""Run the benchmark once per seed and report each end-to-end metric's
median, quartiles and quartile spread, with every run's steal share.

    python3 perfbench/sweep.py --workload cube_adhoc --seeds 1-10 \\
        [--seconds 16] [--trace 0] [--out FILE]

Run from the repository root; runs are sequential. The spread is
(Q3 - Q1) / median with the quartiles of ``statistics.quantiles``; it is
printed beside the bound ``BENCHMARK.json`` gives the metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    elapsed = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    cond = next((json.loads(line[len("# conditions "):]) for line in lines
                 if line.startswith("# conditions ")), {})
    return {"seed": seed, "elapsed_s": round(elapsed, 1),
            "result": json.loads(lines[-1]), "conditions": cond}


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": stats.median(vals), "q1": q1, "q3": q3,
                     "spread": stats.quartile_spread(vals),
                     "bound": bounds.get(name), "values": vals}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in _seeds(args.seeds):
        r = run_once(args.workload, seed, seconds, args.trace)
        runs.append(r)
        res = r["result"]
        print(f"seed {seed}: {r['elapsed_s']} s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} steal="
              f"{r['conditions'].get('steal_share')} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in
                  res["metrics"].items()), flush=True)
    summary = summarize(runs, bounds) if len(runs) > 1 else {}
    for name, s in summary.items():
        bound = "-" if s["bound"] is None else f"{s['bound']:.3f}"
        print(f"{name:>18}: median {s['median']:.4g} q1 {s['q1']:.4g} "
              f"q3 {s['q3']:.4g} spread {s['spread']:.4f} bound {bound}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds,
                       "trace": args.trace, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
