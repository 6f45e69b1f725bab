"""Capture ``.explain("formatted")`` for declared contract entries.

Usage: python tools/capture_plans.py <out_dir> <suffix> [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each entry (default: every
entry in ``__spark_entry__.queries()``).  Streaming entries are skipped —
their plan is the micro-batch engine's, not a stable DataFrame plan.

Plans are written normalized: expression ids (``#123L``), ``plan_id=``
values and the per-process dedup index path (``maha-dedup-idx-*``)
differ between two runs of the same code, so they are replaced by fixed
tokens and two captures of one commit are byte-identical — ``diff``
shows plan changes only.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_VOLATILE = (
    (re.compile(r"maha-dedup-idx-[^/\s,\])]+"), "maha-dedup-idx-TMP"),
    (re.compile(r"#[0-9]+L?"), "#N"),
    (re.compile(r"plan_id=[0-9]+"), "plan_id=N"),
)


def normalize(plan: str) -> str:
    for pattern, token in _VOLATILE:
        plan = pattern.sub(token, plan)
    return plan


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)
    import __spark_entry__ as entry
    from maha_spark.session import get_spark

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name.startswith("op_stream"):
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(normalize(plan))
        print("wrote", name)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
