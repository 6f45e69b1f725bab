"""Explicit table-version stamps (``plans/versioning.py``) — the
object-store-safe invalidation contract behind the binding DataFrame
memo, the skipping sidecar staleness gate, and the result-level cache.

The stamp-only tests shim out POSIX directory mtime entirely
(``getmtime`` raises, ``utime`` raises — the S3/ABFS/GCS shape) and
assert every layer still invalidates through the ``_table_version``
stamp alone."""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.plans import versioning  # noqa: E402
from maha_spark.plans.scale import overwrite_day_partitions  # noqa: E402
from maha_spark.plans.versioning import (VERSION_FILE,  # noqa: E402
                                         bump_table_version, table_version)


def _mk_table(spark, path, mod=0):
    rows = [(i, f"2000-01-0{1 + i % 3}", i * 10 + mod) for i in range(30)]
    df = spark.createDataFrame(rows, "id INT, dt STRING, v INT")
    overwrite_day_partitions(df, path)


# ------------------------------------------------- stamp mechanics
def test_stamp_written_and_monotonic(spark, tmp_path):
    t = str(tmp_path / "t1")
    _mk_table(spark, t)
    assert os.path.exists(os.path.join(t, VERSION_FILE))
    v1 = table_version(t)
    assert v1 > 0
    _mk_table(spark, t, mod=1)
    v2 = table_version(t)
    assert v2 > v1
    # explicit bump strictly increases even with a frozen clock
    v3 = bump_table_version(t)
    v4 = bump_table_version(t)
    assert table_version(t) == v4 > v3 > v2


def test_fallback_to_mtime_and_missing_path(tmp_path):
    plain = str(tmp_path / "never_stamped")
    os.makedirs(plain)
    assert table_version(plain) == os.path.getmtime(plain)
    assert table_version(str(tmp_path / "nope")) == -1.0
    assert bump_table_version(str(tmp_path / "nope")) == -1.0


def test_stamp_not_visible_to_parquet_readers(spark, tmp_path):
    """The underscore-prefixed stamp must never be read as data."""
    t = str(tmp_path / "t2")
    _mk_table(spark, t)
    assert spark.read.parquet(t).count() == 30
    import duckdb
    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{t}/*/*.parquet')").fetchone()
    assert n[0] == 30


# ------------------------------------------------- mtime-less storage shim
def _shim_mtimeless(monkeypatch, root: str) -> None:
    """Make every path under ``root`` behave like an object store:
    no directory mtime, no utime."""
    real_getmtime = os.path.getmtime
    real_utime = os.utime

    def fake_getmtime(p):
        if str(p).startswith(root):
            raise OSError("no mtime on object storage")
        return real_getmtime(p)

    def fake_utime(p, *a, **kw):
        if str(p).startswith(root):
            raise OSError("no utime on object storage")
        return real_utime(p, *a, **kw)

    monkeypatch.setattr(os.path, "getmtime", fake_getmtime)
    monkeypatch.setattr(os, "utime", fake_utime)


def test_stamp_only_version_advances_without_mtime(spark, tmp_path,
                                                   monkeypatch):
    t = str(tmp_path / "t3")
    _mk_table(spark, t)
    _shim_mtimeless(monkeypatch, str(tmp_path))
    v1 = table_version(t)
    assert v1 > 0                      # served from the stamp alone
    _mk_table(spark, t, mod=2)
    assert table_version(t) > v1


def test_binding_cache_invalidates_on_stamp_only_storage(spark, tmp_path,
                                                         monkeypatch):
    """The binding DataFrame memo must drop its entry after a rewrite
    even when the table root has no mtime."""
    from maha_spark.plans.binding import ParquetBinding
    base = str(tmp_path)
    t = os.path.join(base, "facts")
    _mk_table(spark, t)
    _shim_mtimeless(monkeypatch, base)
    b = ParquetBinding(spark, base)
    before = b.table("facts").agg({"v": "sum"}).collect()[0][0]
    _mk_table(spark, t, mod=7)   # +7 on each of 30 rows
    after = b.table("facts").agg({"v": "sum"}).collect()[0][0]
    assert after == before + 30 * 7


def test_result_cache_stamps_on_stamp_only_storage(spark, tmp_path,
                                                   monkeypatch):
    """table_stamps must change across a rewrite with mtime shimmed out
    (stamp carries the version). An ABSENT table (no binding path, not
    readable) stamps as the stable -1.0 sentinel — its absence is
    cacheable state; a READABLE path-less table still forces a bypass
    (it can change without any stamp moving)."""
    from maha_spark.execution.result_cache import table_stamps

    base = str(tmp_path)
    t = os.path.join(base, "facts")
    _mk_table(spark, t)

    class _B:
        def table_path(self, name):
            return t if name == "facts" else None

    _shim_mtimeless(monkeypatch, base)
    s1 = table_stamps(_B(), ["facts"])
    _mk_table(spark, t, mod=3)
    s2 = table_stamps(_B(), ["facts"])
    assert s1 and s2 and s1 != s2
    # absent candidate (e.g. a never-materialized advised rollup):
    # stable sentinel, not a bypass
    assert table_stamps(_B(), ["missing"]) == (("missing", -1.0),)

    class _BReadable(_B):
        def has_table(self, name):
            return True

    # readable but path-less (catalog/override binding): bypass
    assert table_stamps(_BReadable(), ["missing"]) is None


def test_skipping_staleness_on_stamp_only_storage(spark, tmp_path,
                                                  monkeypatch):
    """The sidecar freshness gate must read stale after a rewrite (and
    fresh after a refresh) with no mtime available anywhere under the
    table — pure stamp-driven."""
    from maha_spark.plans.skipping import (build_skipping_index,
                                           index_stale,
                                           refresh_skipping_index)
    base = str(tmp_path)
    t = os.path.join(base, "facts")
    idx = os.path.join(base, "idx")
    _mk_table(spark, t)
    build_skipping_index(spark, t, ["id"], idx)
    assert not index_stale(t, idx, "id")
    _shim_mtimeless(monkeypatch, base)
    _mk_table(spark, t, mod=5)
    assert index_stale(t, idx, "id")
    # explicit days: the portable refresh path (no dir-mtime scan)
    refresh_skipping_index(spark, t, idx,
                           days=["2000-01-01", "2000-01-02", "2000-01-03"])
    assert not index_stale(t, idx, "id")


# ------------------------------------------- Hadoop-FS helpers on URIs
def test_fs_helpers_raise_on_a_uri_without_filesystem(spark, tmp_path,
                                                      monkeypatch):
    """A scheme-qualified path whose FileSystem fails raises: only
    scheme-less paths fall back to local I/O. (A local ``exists`` would
    read False for a remote table, and a local ``touch`` would create
    ``nosuchfs:/...`` under the working directory.)"""
    from maha_spark.ops.common import (fs_delete, fs_exists, fs_list_files,
                                       fs_rename, fs_rmtree, fs_touch)
    monkeypatch.chdir(tmp_path)
    uri = "nosuchfs://bucket/tbl"
    for call in (lambda: fs_exists(spark, uri),
                 lambda: fs_touch(spark, uri + "/_pending"),
                 lambda: fs_list_files(spark, uri),
                 lambda: fs_rename(spark, uri, uri + "_new"),
                 lambda: fs_rmtree(spark, uri),
                 lambda: fs_delete(spark, uri + "/_pending")):
        with pytest.raises(Exception, match="nosuchfs"):
            call()
    assert os.listdir(tmp_path) == []
    # a scheme-less path still works through the same helpers
    marker = str(tmp_path / "d" / "_pending")
    fs_touch(spark, marker)
    assert fs_exists(spark, marker)
    fs_delete(spark, marker)
    assert not fs_exists(spark, marker)


# -------------------------------------------------- stamps over URIs
def test_table_version_stamp_roundtrip_over_uri(spark, tmp_path):
    """Scheme-qualified table roots route stamp I/O through the Hadoop
    FileSystem API — pinned over file:// (the one scheme the sandbox
    can serve), where the POSIX spelling of the same directory must see
    the stamp the URI spelling wrote."""
    d = tmp_path / "tbl"
    d.mkdir()
    uri = "file://" + str(d)
    v1 = bump_table_version(uri)
    assert v1 > 0
    assert abs(table_version(uri) - v1) < 1e-9
    v2 = bump_table_version(uri)
    assert v2 > v1
    # same stamp file, read through plain local I/O
    assert abs(table_version(str(d)) - v2) < 1e-9
    # and a local bump is visible through the URI spelling
    v3 = bump_table_version(str(d))
    assert v3 > v2 and abs(table_version(uri) - v3) < 1e-9


def test_table_version_uri_missing_root(spark, tmp_path):
    uri = "file://" + str(tmp_path / "nope")
    assert table_version(uri) == -1.0
    assert bump_table_version(uri) == -1.0


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
