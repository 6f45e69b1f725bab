"""Seeded operation lists for the benchmark's workloads.

Each list is a pure function of ``(seed, seconds)``: it is made before
any session starts and is the same on every run and every commit.
``seconds`` sizes the list (whole passes or rounds), so a run ends when
its list is done, not when a clock runs out.
"""

from __future__ import annotations

import copy
import datetime as dt
import json
import os
import random
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))

#: measured on a 4-core host with the repo's defaults: one early pass of
#: the 23 cube templates at sf0.01, and one early pipeline round over 300
#: documents
CUBE_PASS_S = 9.0
PIPELINE_ROUND_S = 7.0

#: the pipeline round, in order; each is a ``maha_spark.ops`` entry
PIPELINE_OPS = ("op_curate", "op_dedup_ngram_jaccard",
                "op_dedup_incremental", "op_sim_topk")

#: the day span each cube's data covers (see datagen)
CUBE_DAYS = {
    "tpch": (dt.date(1995, 1, 1), dt.date(2001, 11, 4)),
    "tpch_union": (dt.date(1995, 1, 1), dt.date(2001, 11, 4)),
    "events_cube": (dt.date(2024, 1, 1), dt.date(2024, 1, 30)),
}

#: ad-hoc variants of these templates also ask for one curator, so the
#: curator layer is exercised in every pass
CURATED = {"q5_region_rollup": "totalmetrics", "q20_monthly_rollup": "rowcount"}

PAGE_SIZES = (10, 15, 25, 50)
PAGE_STARTS = (0, 5, 10, 20)


@dataclass(frozen=True)
class CubeOp:
    template: str
    request: dict

    @property
    def text(self) -> str:
        return json.dumps(self.request, sort_keys=True)


def load_templates() -> dict[str, dict]:
    """The 23 single-request cube templates of the contract, frozen here
    so the op lists do not move when the program changes."""
    with open(os.path.join(HERE, "templates.json")) as f:
        return json.load(f)


def _day_filter(req: dict) -> dict | None:
    for f in req.get("filterExpressions", []):
        if f.get("field") == "day" and f.get("operator") == "between":
            return f
    return None


def vary(template: dict, rng: random.Random) -> dict:
    """One ad-hoc request derived from a template: a day window of 50% to
    100% of the template's window (clipped to the data), and, where the
    template sorts or pages, a flipped sort order and another page."""
    req = copy.deepcopy(template)
    day = _day_filter(req)
    if day is not None:
        lo_data, hi_data = CUBE_DAYS[req["cube"]]
        lo = max(dt.date.fromisoformat(day["from"]), lo_data)
        hi = min(dt.date.fromisoformat(day["to"]), hi_data)
        span = (hi - lo).days
        length = max(1, round(span * rng.uniform(0.5, 1.0)))
        start = lo + dt.timedelta(days=rng.randint(0, span - length))
        day["from"] = start.isoformat()
        day["to"] = (start + dt.timedelta(days=length)).isoformat()
    if req.get("sortBy") and rng.random() < 0.5:
        first = req["sortBy"][0]
        first["order"] = "ASC" if first.get("order") == "DESC" else "DESC"
    if "rowsPerPage" in req:
        req["rowsPerPage"] = rng.choice(PAGE_SIZES)
        req["paginationStartIndex"] = rng.choice(PAGE_STARTS)
    return req


class CubeStream:
    """Unique ad-hoc requests, one pass at a time: every pass holds each
    template exactly once, in a seeded order, so every pass asks for the
    same mix of work."""

    def __init__(self, seed: int, templates: dict[str, dict]):
        self.rng = random.Random(f"cube_adhoc/{seed}")
        self.templates = templates
        self.seen = {json.dumps(t, sort_keys=True) for t in
                     templates.values()}

    def _variant(self, name: str) -> CubeOp:
        for _ in range(1000):
            req = vary(self.templates[name], self.rng)
            if name in CURATED:
                req["curators"] = {CURATED[name]: {}}
            op = CubeOp(name, req)
            if op.text not in self.seen:
                self.seen.add(op.text)
                return op
        raise RuntimeError(f"no unique variant left for {name}")

    def next_pass(self) -> list[CubeOp]:
        names = sorted(self.templates)
        self.rng.shuffle(names)
        return [self._variant(n) for n in names]


def passes_for(seconds: float, per_pass_s: float) -> int:
    return max(1, round(seconds / per_pass_s))


def cube_adhoc_ops(seed: int, seconds: float,
                   templates: dict[str, dict] | None = None
                   ) -> tuple[list[CubeOp], list[CubeOp]]:
    """(warm-up ops, measured ops). The warm-up is the canonical
    templates, whose envelopes are checked against the oracle; the
    measured list is whole passes of variants, all distinct and none
    equal to a template."""
    templates = templates or load_templates()
    stream = CubeStream(seed, templates)
    warm = [CubeOp(n, copy.deepcopy(t)) for n, t in sorted(templates.items())]
    measured: list[CubeOp] = []
    for _ in range(passes_for(seconds, CUBE_PASS_S)):
        measured.extend(stream.next_pass())
    return warm, measured


def pipeline_rounds(seconds: float) -> int:
    return passes_for(seconds, PIPELINE_ROUND_S)
