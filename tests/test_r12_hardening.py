"""Round-12 hardening pins:

1. the Hadoop FileSystem gateway is CACHED per (app, scheme,
   authority) — the binding memo probes ``table_version`` on every
   table access, so URI-rooted serving must not pay a JVM
   newInstance+close round-trip per request per table;
2. stamp bumps use a writer-unique tmp + overwrite-capable rename —
   concurrent bumpers can never interleave into one tmp file, nothing
   leaks, and every read during a hammer parses as a full float;
3. ``_parquet_ts_max`` only trusts footer maxima that decode to NAIVE
   datetimes — int64 or tz-aware TIMESTAMP columns engage the Spark
   scan fallback instead of corrupting sentinel arithmetic;
4. the composed maintenance cycle runs end-to-end over ``file://``
   roots (the one scheme the sandbox can serve): freq compaction and
   ExactSubstr compaction produce artifacts bit-identical to the
   plain-path run, every stamp advances, and a missing explicit
   sidecar is RECORDED, not silently dropped;
5. per-step error isolation: one failing rollup refresh does not
   starve the independent compaction steps, the report carries the
   error, and a summary ``MaintenanceCycleError`` still raises.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.core.freqitems import freq_items_partial  # noqa: E402
from maha_spark.ops import substring  # noqa: E402
from maha_spark.plans import versioning  # noqa: E402
from maha_spark.plans.maintenance import (MaintenanceCycleError,  # noqa: E402
                                          run_maintenance_cycle)
from maha_spark.plans.versioning import (bump_table_version,  # noqa: E402
                                         table_version)


# ------------------------------------------------ cached FS gateway
def test_fs_gateway_cached_per_scheme_authority(spark, tmp_path):
    """A second version probe reuses the SAME FileSystem instance —
    no new JVM newInstance per probe (the r11 per-probe create+close
    was a per-request tax on URI-rooted serving)."""
    d = tmp_path / "tbl"
    d.mkdir()
    uri = "file://" + str(d)
    versioning._FS_CACHE.clear()
    assert bump_table_version(uri) > 0
    assert len(versioning._FS_CACHE) == 1
    fs1, _ = versioning._hadoop_fs(uri)
    for _ in range(5):
        table_version(uri)
    fs2, _ = versioning._hadoop_fs(uri)
    assert fs1 is fs2
    assert len(versioning._FS_CACHE) == 1
    # a different path under the same (scheme, authority) shares it
    fs3, _ = versioning._hadoop_fs("file://" + str(tmp_path))
    assert fs3 is fs1 and len(versioning._FS_CACHE) == 1


# --------------------------------------------- atomic stamp bumps
def test_concurrent_uri_bumpers_leave_valid_stamp(spark, tmp_path):
    """Hammer one table root from several threads through the URI
    path while a reader polls: every read parses as a complete float
    (writer-unique tmps + overwrite rename — no partial stamp, no
    delete-to-rename hole), and no ``.tmp`` debris survives."""
    d = tmp_path / "tbl"
    d.mkdir()
    uri = "file://" + str(d)
    assert bump_table_version(uri) > 0
    errors: list[str] = []
    stop = threading.Event()

    def _bump():
        for _ in range(15):
            if bump_table_version(uri) <= 0:
                errors.append("bump failed")

    def _read():
        while not stop.is_set():
            v = table_version(uri)
            if not (isinstance(v, float) and v > 0):
                errors.append(f"bad read: {v!r}")

    threads = [threading.Thread(target=_bump) for _ in range(3)]
    reader = threading.Thread(target=_read)
    reader.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    reader.join()
    assert not errors, errors[:5]
    # the final stamp is a complete value both spellings agree on
    assert table_version(uri) == table_version(str(d)) > 0
    leftovers = [f for f in os.listdir(d) if f.endswith(".tmp")]
    assert not leftovers, leftovers


def test_posix_bump_tmp_is_writer_unique(tmp_path):
    """The plain-path bump also names its tmp uniquely (version+pid):
    the fixed '.tmp' spelling let two concurrent local bumpers
    interleave writes into one file."""
    d = tmp_path / "tbl"
    d.mkdir()
    p1 = versioning._tmp_stamp_path(str(d), 1.5)
    p2 = versioning._tmp_stamp_path(str(d), 2.5)
    assert p1 != p2
    assert os.path.basename(p1).startswith("_table_version.")
    v = bump_table_version(str(d))
    assert v > 0
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")]


# ------------------------------------- footer-stat sentinel guard
def _write_parquet(path, arr, name="ts"):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({name: arr}), path)


def test_parquet_ts_max_accepts_only_naive_datetimes(tmp_path):
    import pyarrow as pa

    from maha_spark.streaming.hourly import _parquet_ts_max

    naive = str(tmp_path / "naive.parquet")
    _write_parquet(naive, pa.array(
        [dt.datetime(2024, 1, 1, 5), dt.datetime(2024, 1, 2, 7)],
        type=pa.timestamp("us")))
    assert _parquet_ts_max(naive) == dt.datetime(2024, 1, 2, 7)

    aware = str(tmp_path / "aware.parquet")
    _write_parquet(aware, pa.array(
        [dt.datetime(2024, 1, 1, 5, tzinfo=dt.timezone.utc)],
        type=pa.timestamp("us", tz="UTC")))
    assert _parquet_ts_max(aware) is None  # strftime would drop +00:00

    ints = str(tmp_path / "ints.parquet")
    _write_parquet(ints, pa.array([1704067200], type=pa.int64()))
    assert _parquet_ts_max(ints) is None   # int + timedelta raises


# ----------------------------------- maintenance cycle over file://
def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")


def _text(tag):
    return " ".join(f"{tag}{i}" for i in range(substring.EXSUB_L + 2))


def _stage_freq(spark, pdir):
    for bid, vals in enumerate([[1, 1, 2], [1, 3, 3, 3]]):
        rows = [(dt.date(2024, 1, 1), str(v)) for v in vals]
        df = spark.createDataFrame(rows, "day date, user_id string")
        (freq_items_partial(df, ["day"], "user_id")
         .write.parquet(pdir.rstrip("/") + f"/batch_id={bid}"))


def _stage_exsub(spark, idx):
    substring.materialize_exsub_index(
        spark, _docs(spark, [(0, _text("base"))]), idx)
    for i in range(1, 9):
        substring.update_exsub_index(
            spark, idx, _docs(spark, [(i, _text(f"b{i}x"))]),
            assume_new=True)


def _rows(spark, path):
    df = spark.read.parquet(path)
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()),
                  key=lambda r: tuple((v is None, str(v)) for v in r))


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
