"""End-to-end composed maintenance (plans/maintenance.py): ONE entry
point runs rollup refresh -> sidecar build/refresh -> frequent-items
compaction -> ExactSubstr index compaction on a day restatement, under
the ``_table_version`` stamp contract. Pins:

1. the restated rollup days are restored bit-identically to the full
   build, read back THROUGH the binding (so the stamp, not luck,
   invalidates the DataFrame memo);
2. the ledger-mined sidecar leg builds the dim-driven driving-FK
   sidecar (q6-shaped traffic -> lineitem.l_orderkey) as part of the
   cycle;
3. the compacted freq-partials table serves the same mass/items as the
   uncompacted one, and equals a STANDALONE compaction of an identical
   copy;
4. the compacted ExactSubstr index holds the same window-row multiset
   as before compaction, in fewer files, with the doc sidecar
   reconciled;
5. every rewritten artifact's ``_table_version`` advanced (the report
   exposes the post-cycle stamps for scheduler alerting);
6. the rewrite primitives release their checkpoints once the write
   commits.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys

import pytest

# the soak-style cycle pins share one module fixture that alone costs
# ~25 s: slow tail, excluded from the default run (see pyproject.toml)
slow = pytest.mark.slow

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.core.freqitems import freq_items_partial  # noqa: E402
from maha_spark.engine import engine_for_dir  # noqa: E402
from maha_spark.examples.contract import build_contract_registry  # noqa: E402
from maha_spark.ops import substring  # noqa: E402
from maha_spark.plans.maintenance import (MaintenanceCycleError,  # noqa: E402
                                          run_maintenance_cycle)
from maha_spark.plans.versioning import table_version  # noqa: E402
from maha_spark.registry.advisor import (_NdvProbe,  # noqa: E402
                                         recommend_rollups)
from maha_spark.registry.materializer import (  # noqa: E402
    materialize_recommendation)
from maha_spark.streaming.freq import compact_freq_partials  # noqa: E402

SRC = "/root/testdata/sf0.001"


def _req(fields):
    return json.dumps({
        "cube": "tpch",
        "selectFields": [{"field": f} for f in fields],
        "filterExpressions": [{"field": "day", "operator": "between",
                               "from": "1995-01-01", "to": "2001-12-31"}]})


DIM_DRIVEN = json.dumps({
    "cube": "tpch",
    "selectFields": [{"field": "order_key"}, {"field": "order_priority"},
                     {"field": "revenue"}],
    "filterExpressions": [{"field": "day", "operator": "between",
                           "from": "1995-01-01", "to": "2002-12-31"}],
    "sortBy": [{"field": "order_priority", "order": "ASC"}],
    "forceDimensionDriven": True,
    "rowsPerPage": 25,
})


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")


def _text(tag):
    return " ".join(f"{tag}{i}" for i in range(substring.EXSUB_L + 2))


def _stage_exsub(spark, idx):
    substring.materialize_exsub_index(
        spark, _docs(spark, [(0, _text("base"))]), idx)
    for i in range(1, 9):
        substring.update_exsub_index(
            spark, idx, _docs(spark, [(i, _text(f"b{i}x"))]),
            assume_new=True)


def _freq_events(spark, vals):
    return spark.createDataFrame(
        [(dt.date(2024, 1, 1), str(v)) for v in vals],
        "day date, user_id string")


def _rows(spark, path):
    df = spark.read.parquet(path)
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()),
                  key=lambda r: tuple((v is None, str(v)) for v in r))


@pytest.fixture(scope="module")
def cycle(spark, tmp_path_factory):
    """Stage all four artifact kinds, restate a rollup day, run ONE
    run_maintenance_cycle, and hand the results to the pins."""
    work = str(tmp_path_factory.mktemp("mcycle"))
    for t in os.listdir(SRC):
        os.symlink(os.path.join(SRC, t), os.path.join(work, t))
    reg = build_contract_registry()
    eng = engine_for_dir(spark, reg, work)

    # ---- rollup: advisor rec, materialized partitioned, then restated
    logs = ([_req(["nation_name", "revenue"])] * 5
            + [_req(["nation_name", "market_segment", "revenue"])] * 3)
    probe = _NdvProbe.fixed(
        rows={"lineitem": 600_000_000, "orders": 150_000_000,
              "customer": 15_000_000, "nation": 25, "region": 5},
        ndvs={("lineitem", "l_shipdate"): 2500,
              ("customer", "c_mktsegment"): 5,
              ("nation", "n_name"): 25, ("region", "r_name"): 5})
    rec = recommend_rollups(eng, logs, top_n=3, probe=probe)[0]
    cube = reg.fact("tpch")
    roll = materialize_recommendation(spark, eng.binding, reg, cube, rec,
                                      work, "mroll", partitioned=True)
    full = _rows(spark, roll)
    days = sorted(f.split("=", 1)[1] for f in os.listdir(roll)
                  if f.startswith("dt="))
    lo, hi = days[2], days[3]
    shutil.rmtree(os.path.join(roll, f"dt={lo}"))        # lost day
    victim = os.path.join(roll, f"dt={hi}")              # truncated day
    for f in os.listdir(victim):
        os.unlink(os.path.join(victim, f))
    roll_v0 = table_version(roll)

    # ---- freq partials: two streamed batches + an identical copy for
    # the standalone-compaction bit-identity pin
    pdir = os.path.join(work, "freq_partials")
    for bid, vals in enumerate([[1, 1, 2], [1, 3, 3, 3]]):
        (freq_items_partial(_freq_events(spark, vals), ["day"], "user_id")
         .write.parquet(os.path.join(pdir, f"batch_id={bid}")))
    pcopy = pdir + "_copy"
    shutil.copytree(pdir, pcopy)
    freq_v0 = table_version(pdir)

    # ---- exsub index: materialize + 8 fragmenting appends
    idx = os.path.join(work, "exsub_idx")
    _stage_exsub(spark, idx)
    wpath = substring._windows_path(idx)
    files_before = len([f for f in os.listdir(wpath)
                        if f.endswith(".parquet")])
    windows_before = _rows(spark, wpath)
    idx_v0 = table_version(idx)

    report = run_maintenance_cycle(
        spark, engine=eng,
        rollups=[{"cube": "tpch", "rec": rec, "dst_dir": work,
                  "name": "mroll", "from_day": lo, "to_day": hi}],
        ledger_entries=[DIM_DRIVEN] * 3, skip_base_dir=work,
        freq_partials=[pdir], exsub_indexes=[idx],
        compact_target_mb=64)
    return {"work": work, "eng": eng, "roll": roll, "full": full,
            "pdir": pdir, "pcopy": pcopy, "idx": idx,
            "files_before": files_before,
            "windows_before": windows_before, "report": report,
            "v0": {"roll": roll_v0, "freq": freq_v0, "idx": idx_v0}}


@slow
def test_rollup_restored_bit_identical_through_binding(spark, cycle):
    assert _rows(spark, cycle["roll"]) == cycle["full"]
    # through the binding: the memo is keyed on _table_version, so this
    # only sees the restored rows because the refresh bumped the stamp
    bound = cycle["eng"].binding.table("mroll")
    assert bound.count() == len(cycle["full"])


@slow
def test_dim_driven_sidecar_built_by_cycle(cycle):
    report = cycle["report"]
    assert "lineitem" in report["sidecars"]
    built = report["sidecars"]["lineitem"]
    assert built and all(os.path.exists(p) for p in built)
    assert any("l_orderkey" in p for p in built)


@slow
def test_freq_compaction_matches_standalone(spark, cycle):
    got = spark.read.parquet(cycle["pdir"]).select("day", "freq_items")
    # standalone compaction of the identical copy
    compact_freq_partials(spark, cycle["pcopy"])
    want = spark.read.parquet(cycle["pcopy"]).select("day", "freq_items")
    assert sorted(map(str, got.collect())) == sorted(map(str,
                                                         want.collect()))
    assert cycle["report"]["freq"][cycle["pdir"]] >= 1
    total = sum(r.freq_items.total for r in got.collect())
    assert total == 7


@slow
def test_exsub_compaction_row_multiset_unchanged(spark, cycle):
    wpath = substring._windows_path(cycle["idx"])
    files_after = len([f for f in os.listdir(wpath)
                       if f.endswith(".parquet")])
    assert cycle["report"]["exsub"][cycle["idx"]] > 0
    assert files_after < cycle["files_before"]
    assert _rows(spark, wpath) == cycle["windows_before"]
    # doc sidecar reconciled == distinct windows doc_ids
    side = {r.doc_id for r in spark.read.parquet(
        substring._docs_path(cycle["idx"])).collect()}
    assert side == set(range(9))


@slow
def test_every_rewritten_artifact_stamp_advanced(cycle):
    rep, v0 = cycle["report"], cycle["v0"]
    assert rep["versions"][cycle["roll"]] > max(v0["roll"], 0.0)
    assert rep["versions"][cycle["pdir"]] > max(v0["freq"], 0.0)
    assert rep["versions"][cycle["idx"]] > max(v0["idx"], 0.0)


def test_maintenance_rewrites_release_their_checkpoints(spark, tmp_path):
    """The rewrite primitives checkpoint their survivor rows, and those
    blocks are dead once the write commits — persisted RDDs must not
    grow across a compaction, or a nightly cycle in a long-lived
    serving session accretes them forever."""
    from maha_spark.plans.scale import compact_day_partitions

    def persisted_ids():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return set(m.keySet().toArray())

    idx = str(tmp_path / "exsub_idx")
    _stage_exsub(spark, idx)
    # day-partitioned table with many intentionally tiny files per day
    # (written per-day so overwrite's day-shuffle can't pre-coalesce)
    tbl = str(tmp_path / "days")
    for d in (1, 2):
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(200)], "k int, v double")
        df.repartition(5).write.parquet(tbl + f"/dt=2024-01-0{d}")

    before = persisted_ids()
    assert substring.compact_exsub_index(spark, idx,
                                         target_file_mb=64) > 0
    substring.reconcile_exsub_sidecar(spark, idx)
    days = compact_day_partitions(spark, tbl, target_file_mb=64)
    assert days == ["2024-01-01", "2024-01-02"]   # really compacted
    assert spark.read.parquet(tbl).count() == 400
    assert persisted_ids() == before


# ---------------------------------- file:// roots and step isolation
def _stage_freq(spark, pdir):
    for bid, vals in enumerate([[1, 1, 2], [1, 3, 3, 3]]):
        rows = [(dt.date(2024, 1, 1), str(v)) for v in vals]
        df = spark.createDataFrame(rows, "day date, user_id string")
        (freq_items_partial(df, ["day"], "user_id")
         .write.parquet(pdir.rstrip("/") + f"/batch_id={bid}"))


@pytest.mark.slow
def test_maintenance_cycle_over_file_uri(spark, tmp_path):
    """One full cycle with every artifact root spelled as a file://
    URI, against a plain-path control staged identically: compacted
    artifacts bit-identical, stamps advanced through the URI spelling,
    and the missing explicit sidecar recorded in the (total) report."""
    froot = str(tmp_path / "uri")
    lroot = str(tmp_path / "local")
    os.makedirs(froot), os.makedirs(lroot)
    pdir_u = "file://" + froot + "/freq_partials"
    pdir_l = lroot + "/freq_partials"
    idx_u = "file://" + froot + "/exsub_idx"
    idx_l = lroot + "/exsub_idx"
    _stage_freq(spark, pdir_u), _stage_freq(spark, pdir_l)
    _stage_exsub(spark, idx_u), _stage_exsub(spark, idx_l)
    fv0, iv0 = table_version(pdir_u), table_version(idx_u)

    missing = "file://" + froot + "/no_such_sidecar"
    report = run_maintenance_cycle(
        spark,
        skip_tables=[(froot, missing)],
        freq_partials=[pdir_u], exsub_indexes=[idx_u],
        compact_target_mb=64)
    control = run_maintenance_cycle(
        spark, freq_partials=[pdir_l], exsub_indexes=[idx_l],
        compact_target_mb=64)

    # bit-identical artifacts across the two spellings
    assert _rows(spark, pdir_u) == _rows(spark, pdir_l)
    assert (_rows(spark, substring._windows_path(idx_u))
            == _rows(spark, substring._windows_path(idx_l)))
    assert report["freq"][pdir_u] == control["freq"][pdir_l] >= 1
    assert report["exsub"][idx_u] == control["exsub"][idx_l] > 0
    # stamps advanced, visible through the URI spelling
    assert report["versions"][pdir_u] > max(fv0, 0.0)
    assert report["versions"][idx_u] > max(iv0, 0.0)
    # the nonexistent explicit sidecar is reported, not silently dropped
    assert report["sidecars"]["_missing"] == [missing]
    assert report["errors"] == []


def test_maintenance_cycle_isolates_step_failures(spark, engine,
                                                  tmp_path, monkeypatch):
    """A failing rollup refresh must not starve the compaction legs:
    the freq table still compacts, the report carries (step, artifact,
    error), and the summary MaintenanceCycleError re-raises with the
    report attached."""
    import maha_spark.registry.materializer as mat

    def _boom(*a, **k):
        raise RuntimeError("disk full")
    monkeypatch.setattr(mat, "refresh_recommendation", _boom)

    pdir = str(tmp_path / "freq_partials")
    _stage_freq(spark, pdir)
    with pytest.raises(MaintenanceCycleError) as ei:
        run_maintenance_cycle(
            spark, engine=engine,
            rollups=[{"cube": object(), "rec": None,
                      "dst_dir": str(tmp_path / "roll"), "name": "r",
                      "from_day": "2024-01-01", "to_day": "2024-01-02"}],
            freq_partials=[pdir])
    report = ei.value.report
    assert len(report["errors"]) == 1
    err = report["errors"][0]
    assert err["step"] == "rollup" and "disk full" in err["error"]
    # the independent compaction leg still ran and stamped
    assert report["freq"][pdir] >= 1
    assert report["versions"][pdir] > 0
