"""Janino compiles per request value variant.

Usage: python tools/codegen_probe.py <sf_dir> [--variants N] [template ...]

For each single-request cube template of the contract (default: all of
them), runs the template once through ``engine.execute`` (compiling its
classes), then ``N`` variants that differ from it only in their values:
variant ``i`` moves every day window's start ``i`` days later and adds
``i`` to every numeric filter value. Spark caches compiled classes by
their source text, so a variant whose generated code carries no value
compiles nothing new. Prints, per template, the Janino compiles and
compile milliseconds each variant added, read from the counters
``/status`` reports (``maha_spark.session.codegen_stats``), then one JSON
line with the median compiles per variant over all templates.
``sf_dir`` holds the contract's tables (``lineitem.parquet``, ...).
"""

from __future__ import annotations

import argparse
import copy
import datetime as dt
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def vary_filters(filters: list[dict], i: int) -> None:
    for f in filters:
        vary_filters(f.get("filterExpressions", []), i)
        if f.get("operator") == "between" and f.get("field") == "day":
            start = dt.date.fromisoformat(f["from"]) + dt.timedelta(days=i)
            f["from"] = start.isoformat()
        value = f.get("value")
        if isinstance(value, (int, float)) and not isinstance(value, bool):
            f["value"] = value + i


def variant(request: dict, i: int) -> dict:
    """``request`` with its values moved by ``i`` (see the module doc)."""
    req = copy.deepcopy(request)
    vary_filters(req.get("filterExpressions", []), i)
    return req


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--variants", type=int, default=3)
    ap.add_argument("templates", nargs="*")
    args = ap.parse_intermixed_args()

    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import (QUERIES,
                                              build_contract_registry,
                                              ensure_udfs)
    from maha_spark.session import codegen_stats, get_spark

    spark = get_spark("codegen-probe")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_udfs(spark)
    engine = engine_for_dir(spark, build_contract_registry(),
                            args.sf_dir)
    names = args.templates or sorted(
        n for n, q in QUERIES.items() if "request" in q)
    per_variant: list[int] = []
    try:
        for name in names:
            request = QUERIES[name]["request"]
            engine.execute(json.dumps(request))
            compiles, ms = [], []
            for i in range(1, args.variants + 1):
                before = codegen_stats(spark)
                engine.execute(json.dumps(variant(request, i)))
                after = codegen_stats(spark)
                compiles.append(after["codegenCompiles"]
                                - before["codegenCompiles"])
                ms.append(round(after["codegenCompileMs"]
                                - before["codegenCompileMs"], 1))
            per_variant.extend(compiles)
            print(f"{name:32s} compiles {compiles}  compile_ms {ms}")
    finally:
        spark.stop()
    print(json.dumps({
        "templates": len(names), "variants": args.variants,
        "median_compiles_per_variant": statistics.median(per_variant),
        "mean_compiles_per_variant": round(statistics.fmean(per_variant),
                                           2)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
