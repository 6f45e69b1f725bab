"""The benchmark's inputs are a pure function of the seed, and every
generated request is one the engine accepts."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import workloads  # noqa: E402


def _texts(ops):
    return [op.text for op in ops]


def test_cube_ops_repeat_for_a_seed():
    a = workloads.cube_adhoc_ops(7, 16)
    b = workloads.cube_adhoc_ops(7, 16)
    assert _texts(a[0]) == _texts(b[0])
    assert _texts(a[1]) == _texts(b[1])


def test_cube_ops_differ_across_seeds():
    assert _texts(workloads.cube_adhoc_ops(1, 16)[1]) != \
        _texts(workloads.cube_adhoc_ops(2, 16)[1])


def test_cube_passes_hold_every_template_once_and_are_unique():
    templates = workloads.load_templates()
    warm, measured = workloads.cube_adhoc_ops(3, 16, templates)
    assert [op.request for op in warm] == \
        [templates[n] for n in sorted(templates)]
    n = len(templates)
    assert len(measured) == n * workloads.passes_for(
        16, workloads.CUBE_PASS_S)
    for i in range(0, len(measured), n):
        assert sorted(op.template for op in measured[i:i + n]) == \
            sorted(templates)
    texts = _texts(warm) + _texts(measured)
    assert len(set(texts)) == len(texts)


def test_list_length_follows_seconds_only():
    assert workloads.passes_for(16, 8.0) == 2
    assert workloads.passes_for(1, 8.0) == 1
    assert workloads.pipeline_rounds(16) == \
        workloads.passes_for(16, workloads.PIPELINE_ROUND_S)


def test_variant_windows_stay_inside_the_data():
    _, measured = workloads.cube_adhoc_ops(5, 40)
    for op in measured:
        day = workloads._day_filter(op.request)
        if day is None:
            continue
        lo, hi = workloads.CUBE_DAYS[op.request["cube"]]
        assert lo.isoformat() <= day["from"] <= day["to"] <= hi.isoformat()


def test_tables_repeat_for_a_seed_and_differ_across_seeds():
    a = datagen.build_tables(1, 0.001, 50, 20)
    b = datagen.build_tables(1, 0.001, 50, 20)
    c = datagen.build_tables(2, 0.001, 50, 20)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_documents_hold_near_duplicates():
    docs = datagen.build_tables(4, 0.001, 400, 10)["documents"]
    texts = docs.column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert dups and all(t[:-4] in texts for t in dups)


@pytest.mark.parametrize("seed", range(1, 11))
def test_every_variant_builds_a_request_model(seed):
    """Each generated request passes the engine's validation, so no
    benchmark op fails for a reason of its own making."""
    sys.path.insert(0, ROOT)
    from maha_spark.examples.contract import build_contract_registry
    from maha_spark.model.request_model import build_request_model
    from maha_spark.request.request import parse_request
    registry = build_contract_registry()
    warm, measured = workloads.cube_adhoc_ops(seed, 16)
    for op in warm + measured:
        build_request_model(parse_request(op.text), registry)
