"""Stream-maintained frequent-items partials (``streaming/freq.py``):
per-batch appended partials serve valid [lb, ub] bounds at every
instant (mergeable-summaries property), degrade to EXACT when nothing
is dropped, and compact back to one partial per day."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from maha_spark.core.freqitems import (freq_items_partial,  # noqa: E402
                                       freq_topk_serve, merge_freq_partials)
from maha_spark.streaming.freq import (compact_freq_partials,  # noqa: E402
                                       streaming_freq_partials)

SRC = "/root/testdata/sf0.001"


def _events(spark):
    return (spark.read.parquet(os.path.join(SRC, "events.parquet"))
            .withColumn("ts", F.col("ts").cast("timestamp_ntz")))


def _feed(spark, tmp_path, parts=3):
    """Write the events table as `parts` ordered feed files."""
    ev = _events(spark)
    feed = str(tmp_path / "feed")
    for i in range(parts):
        b = ev.filter(F.expr(f"pmod(event_id, {parts}) = {i}"))
        d = os.path.join(feed, f"f{i}")
        b.coalesce(1).write.parquet(d)
        for f in glob.glob(os.path.join(d, "*.parquet")):
            shutil.move(f, os.path.join(feed, f"{i:02d}.parquet"))
        shutil.rmtree(d)
    return feed, ev


def _exact(ev):
    return {(str(r.day), str(r.v)): r.c
            for r in (ev.withColumn("day", F.to_date("ts"))
                      .filter(F.col("user_id").isNotNull())
                      .groupBy("day",
                               F.col("user_id").cast("string").alias("v"))
                      .agg(F.count(F.lit(1)).alias("c"))).collect()}


def _kth_count(exact, k):
    """k-th largest TRUE count per day: ``guaranteed`` promises
    membership in SOME valid top-k (ties may be broken either way), so
    the sound assertion is truth >= this threshold, not membership in
    one specific tie-broken set."""
    by_day: dict = {}
    for (d, v), c in exact.items():
        by_day.setdefault(d, []).append(c)
    return {d: sorted(cs, reverse=True)[min(k, len(cs)) - 1]
            for d, cs in by_day.items()}


def test_streamed_partials_serve_valid_bounds(spark, tmp_path):
    feed, ev = _feed(spark, tmp_path)
    pdir = str(tmp_path / "partials")
    streaming_freq_partials(spark, feed, pdir, str(tmp_path / "ckpt"),
                            k=4)   # small k': residual paths exercised
    served = freq_topk_serve(spark.read.parquet(pdir), ["day"], k=4)
    rows = served.collect()
    assert rows
    exact = _exact(ev)
    kth = _kth_count(exact, 4)
    for r in rows:
        truth = exact[(str(r.day), r.value)]
        assert r.count_lb <= truth <= r.count_ub, (r, truth)
        if r.guaranteed:
            assert truth >= kth[str(r.day)], r


def test_streamed_partials_exact_when_nothing_dropped(spark, tmp_path):
    """k' above every batch's per-day cardinality: every partial is
    lossless, so the streamed serve equals the exact top-k (lb == ub ==
    exact counts, everything guaranteed)."""
    feed, ev = _feed(spark, tmp_path)
    pdir = str(tmp_path / "partials")
    streaming_freq_partials(spark, feed, pdir, str(tmp_path / "ckpt"),
                            k=100000)
    served = freq_topk_serve(spark.read.parquet(pdir), ["day"], k=5)
    exact = _exact(ev)
    for r in served.collect():
        truth = exact[(str(r.day), r.value)]
        assert r.count_lb == r.count_ub == truth
        assert r.guaranteed


def test_merge_exact_partials_equals_oneshot(spark, tmp_path):
    """Merging lossless per-batch partials reproduces the one-shot
    build bit-for-bit when k covers the merged cardinality."""
    ev = _events(spark).withColumn("day", F.to_date("ts"))
    a = ev.filter("pmod(event_id, 2) = 0")
    b = ev.filter("pmod(event_id, 2) = 1")
    big = 100000
    parts = (freq_items_partial(a, ["day"], "user_id", k=big)
             .unionByName(freq_items_partial(b, ["day"], "user_id",
                                             k=big)))
    merged = merge_freq_partials(parts, ["day"], k=big)
    oneshot = freq_items_partial(ev, ["day"], "user_id", k=big)
    key = lambda df: sorted(
        (str(r.day), sorted(r.freq_items.items.items()),
         r.freq_items.others_total, r.freq_items.others_max,
         r.freq_items.total) for r in df.collect())
    assert key(merged) == key(oneshot)


def test_compaction_keeps_bounds_valid_and_shrinks(spark, tmp_path):
    feed, ev = _feed(spark, tmp_path)
    pdir = str(tmp_path / "partials")
    streaming_freq_partials(spark, feed, pdir, str(tmp_path / "ckpt"),
                            k=4)
    before_rows = spark.read.parquet(pdir).count()
    n_days = (ev.select(F.to_date("ts").alias("d")).distinct().count())
    n = compact_freq_partials(spark, pdir, k=4)
    # at most two rows per day (kept slice + residual slice)
    assert n_days <= n <= 2 * n_days < before_rows
    served = freq_topk_serve(spark.read.parquet(pdir), ["day"], k=4)
    exact = _exact(ev)
    kth = _kth_count(exact, 4)
    for r in served.collect():
        truth = exact[(str(r.day), r.value)]
        assert r.count_lb <= truth <= r.count_ub, (r, truth)
        if r.guaranteed:
            assert truth >= kth[str(r.day)], r


def test_replay_from_fresh_checkpoint_is_identical_before_compaction(
        spark, tmp_path):
    feed, ev = _feed(spark, tmp_path)
    pdir = str(tmp_path / "partials")
    streaming_freq_partials(spark, feed, pdir, str(tmp_path / "ck1"), k=4)
    snap = sorted(
        (str(r.day), r.batch_id, sorted(r.freq_items.items.items()),
         r.freq_items.total)
        for r in spark.read.parquet(pdir).collect())
    streaming_freq_partials(spark, feed, pdir, str(tmp_path / "ck2"), k=4)
    again = sorted(
        (str(r.day), r.batch_id, sorted(r.freq_items.items.items()),
         r.freq_items.total)
        for r in spark.read.parquet(pdir).collect())
    assert again == snap


# ------------------------------------------- compaction crash safety
def _freq_events(spark, vals):
    return spark.createDataFrame(
        [(dt.date(2024, 1, 1), str(v)) for v in vals],
        "day date, user_id string")


def test_compact_freq_partials_crash_swap_recovers(spark, tmp_path,
                                                   monkeypatch):
    """A crash between the source remove and the temp-dir rename leaves
    the complete merged table in ``.compact-tmp``; the next call
    finishes the swap before doing anything else and the serve sees the
    full mass."""
    pdir = str(tmp_path / "partials")
    for bid, vals in enumerate([[1, 1, 2], [1, 3, 3, 3]]):
        (freq_items_partial(_freq_events(spark, vals), ["day"], "user_id")
         .write.parquet(os.path.join(pdir, f"batch_id={bid}")))

    # the swap is routed through the Hadoop-FS gateway since the r12
    # object-store work (ops.common.fs_rename), so THAT is the seam to
    # sever — an os.rename patch no longer intercepts the rename
    def boom(_spark, src, dst):
        raise OSError("simulated crash before rename")

    from maha_spark.ops import common as ops_common
    monkeypatch.setattr(ops_common, "fs_rename", boom)
    with pytest.raises(OSError, match="simulated crash"):
        compact_freq_partials(spark, pdir)
    monkeypatch.undo()

    assert not os.path.isdir(pdir)          # the torn state
    assert os.path.isdir(pdir + ".compact-tmp")
    n = compact_freq_partials(spark, pdir)  # self-heals, then compacts
    assert n >= 1 and not os.path.isdir(pdir + ".compact-tmp")
    out = spark.read.parquet(pdir).select("day", "freq_items").collect()
    total = sum(r.freq_items.total for r in out)
    assert total == 7                        # no event lost or doubled
    items = {}
    for r in out:
        for k, v in r.freq_items["items"].items():
            items[k] = items.get(k, 0) + v
    assert items == {"1": 3, "2": 1, "3": 3}


def test_compact_freq_partials_crash_before_write_keeps_source(
        spark, tmp_path, monkeypatch):
    """A failure while writing the merged temp table leaves the source
    untouched; the stale temp dir is cleared on the next call."""
    pdir = str(tmp_path / "p2")
    (freq_items_partial(_freq_events(spark, [5, 5]), ["day"], "user_id")
     .write.parquet(os.path.join(pdir, "batch_id=0")))
    os.makedirs(pdir + ".compact-tmp/garbage")  # stale prior attempt
    n = compact_freq_partials(spark, pdir)
    assert n == 1
    out = spark.read.parquet(pdir).collect()
    assert sum(r.freq_items.total for r in out) == 2


def test_merge_preserves_residual_only_grain(spark):
    """A grain whose input partials all carry EMPTY items maps used to
    be dropped by the inner join (its others mass vanished); the merge
    must be total-preserving for any structurally valid partial."""
    schema = ("day date, freq_items struct<items:map<string,bigint>,"
              "others_total:bigint,others_max:bigint,total:bigint>")
    rows = [
        (dt.date(2024, 1, 1), ({}, 100, 10, 100)),       # residual-only
        (dt.date(2024, 1, 1), ({}, 40, 7, 40)),          # residual-only
        (dt.date(2024, 1, 2), ({"a": 5}, 0, 0, 5)),      # normal grain
    ]
    out = (merge_freq_partials(spark.createDataFrame(rows, schema),
                               ["day"])
           .collect())
    d1 = [r for r in out if r.day == dt.date(2024, 1, 1)]
    assert len(d1) == 1                       # one residual row, no kept
    p = d1[0].freq_items
    assert p["items"] == {} and p.total == 140
    assert p.others_total == 140 and p.others_max == 17  # 0 + (10 + 7)
    d2 = [r for r in out if r.day == dt.date(2024, 1, 2)]
    assert len(d2) == 1 and d2[0].freq_items["items"] == {"a": 5}
    assert d2[0].freq_items.total == 5
