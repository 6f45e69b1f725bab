"""Capture ``.explain("formatted")`` for declared contract entries.

Usage: python tools/capture_plans.py <out_dir> <suffix> [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each entry (default: every
entry in ``__spark_entry__.queries()``).  Streaming entries are skipped —
their plan is the micro-batch engine's, not a stable DataFrame plan.

Plans are written normalized: expression ids (``#123L``), ``plan_id=``
values and the per-process dedup index path (``maha-dedup-idx-*``)
differ between two runs of the same code, so they are replaced by fixed
tokens and two captures of one commit are byte-identical — ``diff``
shows plan changes only. Each entry runs in its own ``Scope``: its warm
threads finish before the plan is formatted (the formatted plan prints
the adaptive plans of the caches they materialize), and its caches are
released after, so no entry's plan depends on what an earlier entry
cached or on which of two concurrent jobs finished first.

A cube entry (a frame the planner built) also gets
``<out_dir>/<query>_<suffix>.sql``: its rendered SQL statement, with the
per-process view-name suffixes normalized, followed by its bound
parameters as JSON, so the statement text can be diffed too.
"""

from __future__ import annotations

import json
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

#: view names carry the table version and a per-process counter
#: (``plans/binding.py``, ``ops/common.Scope.view``)
_VIEW_NAMES = (
    (re.compile(r"__v[0-9_]+_[0-9]+`"), "__vN`"),
    (re.compile(r"maha_scope_view_[0-9]+"), "maha_scope_view_N"),
)


def normalize(plan: str, patterns=_VOLATILE) -> str:
    for pattern, token in patterns:
        plan = pattern.sub(token, plan)
    return plan


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)
    import __spark_entry__ as entry
    from maha_spark.ops.common import Scope
    from maha_spark.session import get_spark

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name.startswith("op_stream"):
            continue
        df = None
        with Scope() as scope:
            try:
                df = fn(spark, SF_DIR)
                scope.join()
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
            except Exception as e:  # noqa: BLE001
                plan = f"ERROR {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(normalize(plan))
        statement = getattr(df, "statement", None)
        if statement is not None:
            with open(os.path.join(out_dir, f"{name}_{suffix}.sql"),
                      "w") as f:
                f.write(normalize(statement.text, _VIEW_NAMES) + "\n"
                        + json.dumps(statement.params, default=str) + "\n")
        print("wrote", name)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
