"""The binding's table memo (plans/binding.py): one locked entry per
(session, path) holding the table version, its frame and its shared view.

Pins what concurrent requests rely on: racing first readers share one
entry, a statement rendered against a handed-out view still analyzes
after the table is rewritten, a rewrite is read through a fresh cache,
and ``forget_tables`` drops views as well as frames."""

from __future__ import annotations

import os
import shutil
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.plans.binding import (  # noqa: E402
    ParquetBinding, forget_tables, memoized_tables)
from maha_spark.plans.versioning import bump_table_version  # noqa: E402

NATION = "/root/testdata/sf0.001/nation.parquet"


def _run_threads(n: int, fn) -> list[BaseException]:
    """Run ``fn(i)`` on ``n`` threads released together; return what
    they raised."""
    gate = threading.Barrier(n)
    errors: list[BaseException] = []

    def body(i: int) -> None:
        gate.wait()
        try:
            fn(i)
        except BaseException as e:  # noqa: BLE001 - collected for the assert
            errors.append(e)

    threads = [threading.Thread(target=body, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    return errors


def _shared_views(spark, name: str) -> list[str]:
    return [t.name for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith(f"{name}__v")]


def test_cold_start_threads_share_one_entry(spark, tmp_path):
    """Four threads make the first access to a cold table and each runs
    a statement over its view: every statement succeeds and all four
    got the same view (the losers adopted the winner's entry)."""
    for rnd in range(3):
        d = str(tmp_path / f"cold{rnd}")
        os.makedirs(d)
        shutil.copy(NATION, os.path.join(d, "nation.parquet"))
        views: dict[int, str] = {}

        def query(i: int) -> None:
            v = ParquetBinding(spark, d).view("nation")
            views[i] = v.name
            assert spark.sql(f"SELECT count(*) FROM `{v.name}`").collect() \
                == [(25,)]

        errors = _run_threads(4, query)
        assert not errors, errors
        assert len(set(views.values())) == 1
        assert ParquetBinding(spark, d).table("nation").storageLevel.useMemory
        forget_tables(os.path.join(d, "nation.parquet"))


def test_statements_survive_concurrent_rewrites(spark, tmp_path):
    """Four threads run statements for 10 s while another bumps the
    table's version every 100 ms. No statement fails; afterwards at most
    two shared views of the table are registered, and a real rewrite is
    read through the memo (the stale cache is not served)."""
    import pyarrow.parquet as pq

    d = str(tmp_path)
    tdir = os.path.join(d, "rw_nation")
    os.makedirs(tdir)
    nation = pq.read_table(NATION)
    pq.write_table(nation, os.path.join(tdir, "part-0.parquet"))
    done = threading.Event()
    ran = [0] * 4

    def query(i: int) -> None:
        if i == 4:
            try:
                while not done.wait(0.1):
                    bump_table_version(tdir)
            finally:
                done.set()
            return
        try:
            while not done.is_set():
                v = ParquetBinding(spark, d).view("rw_nation")
                got = spark.sql(
                    f"SELECT count(*) FROM `{v.name}`").collect()
                assert got == [(25,)]
                ran[i] += 1
        finally:
            done.set()

    stop = threading.Timer(10.0, done.set)
    stop.start()
    errors = _run_threads(5, query)
    stop.cancel()
    assert not errors, errors[:3]
    assert all(ran), ran
    assert len(_shared_views(spark, "rw_nation")) <= 2

    pq.write_table(nation.slice(0, 5), os.path.join(tdir, "part-0.parquet"))
    bump_table_version(tdir)
    b = ParquetBinding(spark, d)
    assert b.table("rw_nation").count() == 5
    assert b.table("rw_nation").storageLevel.useMemory
    v = b.view("rw_nation")
    assert spark.sql(f"SELECT count(*) FROM `{v.name}`").collect() == [(5,)]
    assert len(_shared_views(spark, "rw_nation")) <= 2
    forget_tables(tdir)


def test_replaced_view_lives_one_replacement(spark, tmp_path):
    """A handed-out view still analyzes after one replacement of its
    entry and is dropped at the next one."""
    d = str(tmp_path)
    tdir = os.path.join(d, "gen_nation")
    os.makedirs(tdir)
    shutil.copy(NATION, os.path.join(tdir, "part-0.parquet"))
    b = ParquetBinding(spark, d)
    v1 = b.view("gen_nation")
    bump_table_version(tdir)
    v2 = b.view("gen_nation")
    assert v2.name != v1.name
    assert spark.sql(f"SELECT count(*) FROM `{v1.name}`").collect() == [(25,)]
    bump_table_version(tdir)
    v3 = b.view("gen_nation")
    assert not spark.catalog.tableExists(v1.name)
    assert spark.catalog.tableExists(v2.name)
    assert set(_shared_views(spark, "gen_nation")) == {v2.name, v3.name}
    forget_tables(tdir)


def test_forget_tables_drops_views_and_frames(spark, tmp_path):
    """``forget_tables`` drops the named entries' views and unpersists
    their frames; the next access builds a new entry."""
    d = str(tmp_path)
    path = os.path.join(d, "nation.parquet")
    shutil.copy(NATION, path)
    b = ParquetBinding(spark, d)
    v = b.view("nation")
    df = b.table("nation")
    assert df.storageLevel.useMemory
    n = memoized_tables()
    assert forget_tables(path) == 1
    assert memoized_tables() == n - 1
    assert not spark.catalog.tableExists(v.name)
    assert not df.storageLevel.useMemory
    assert forget_tables(path) == 0
    assert b.view("nation").name != v.name
    forget_tables(path)
