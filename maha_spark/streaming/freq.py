"""Stream-maintained frequent-items partials — the TopN-dashboard
rollup column kept fresh by ingest, not by nightly rebuilds.

``core/freqitems.py`` defines the mergeable partial (Agarwal et al.,
"Mergeable Summaries", PODS'12) and a serve whose bounds hold over ANY
set of partial rows per grain. That mergeability is what makes the
streaming maintainer trivial and exactly-correct: each micro-batch
appends its OWN per-day partial rows, and the serve simply merges more,
smaller partials — valid [lb, ub] bounds and guarantee flags at every
instant, no read-modify-write of previously landed state. The trade is
serve cost (∝ partial rows touched) and bound tightness, both restored
by the compaction job (``merge_freq_partials`` collapses a day's
accumulated batch partials into one).

Idempotence follows the repo's streaming-maintenance pattern
(``ops/incremental.py``, ``ops/substring.py``): each batch's partials
land under ``batch_id=N`` via per-batch OVERWRITE, so a replayed batch
rewrites its own directory identically and never double-counts.

No reference analogue at this altitude: maha delegates frequent-items
to Druid's datasketches extension and never maintains it engine-side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.freqitems import FREQ_K, freq_items_partial, merge_freq_partials
from ..ops.common import drain
from .hourly import EVENT_SCHEMA


def streaming_freq_partials(spark: SparkSession, events_dir: str,
                            partials_dir: str, ckpt_dir: str,
                            value_col: str = "user_id",
                            k: int = FREQ_K,
                            max_files_per_trigger: int = 1) -> None:
    """Drain an events feed micro-batch by micro-batch, appending each
    batch's per-day frequent-items partials (exact within the batch —
    the build groups exactly before keeping top-k'). State lives in the
    partials table, not the streaming state store."""
    def _fold(batch: DataFrame, batch_id: int) -> None:
        days = batch.withColumn("day", F.to_date("ts"))
        part = freq_items_partial(days, ["day"], value_col, k=k)
        (part.write.mode("overwrite")
         .parquet(os.path.join(partials_dir, f"batch_id={batch_id}")))

    drain(spark, EVENT_SCHEMA, events_dir, ckpt_dir, _fold,
          max_files_per_trigger)


def compact_freq_partials(spark: SparkSession, partials_dir: str,
                          k: int = FREQ_K) -> int:
    """Collapse the accumulated per-batch partials into one partial per
    day (PODS'12 merge — bounds stay valid, only looser than a one-shot
    build, and the serve touches one row per day again). The merged rows
    land under the reserved ``batch_id=-1`` directory so the layout
    stays uniform for a RESUMED stream (its checkpoint keeps counting
    forward). A replay from a FRESH checkpoint is only identity-safe
    before compaction — afterwards the recreated batch partials would
    double-count events already folded into ``batch_id=-1`` (documented
    contract; the checkpointed resume path is always safe).

    Crash safety (the versioning.py temp-then-rename pattern, not
    lineage): the merged rows are fully written to a sibling
    ``.compact-tmp`` directory FIRST — a durable parquet write, so no
    step ever depends on recomputing lineage from the source it is
    about to delete — then the old table is removed and the temp
    directory renamed into place. A failure before the write completes
    leaves the source untouched (the stale temp dir is cleared on the
    next call); a failure between the remove and the rename leaves the
    complete merged table in the temp dir, and the next call finishes
    the swap before doing anything else. Returns the merged row count.

    All existence/remove/swap I/O routes through the Hadoop FileSystem
    gateway (``ops/common.fs_*``), so the compaction the maintenance
    cycle schedules actually runs on ``s3a://``-style partial-table
    roots, not just local/NFS paths — the same portability contract as
    the ``plans/versioning.py`` stamps it bumps.
    """
    from ..ops.common import fs_exists, fs_rename, fs_rmtree
    tmp = partials_dir.rstrip("/") + ".compact-tmp"
    if fs_exists(spark, tmp) and not fs_exists(spark, partials_dir):
        # a prior call crashed between the remove and the rename; the
        # temp dir holds the complete merged table — finish the swap
        fs_rename(spark, tmp, partials_dir)
    fs_rmtree(spark, tmp)
    src = spark.read.parquet(partials_dir)
    (merge_freq_partials(src.select("day", "freq_items"), ["day"], k=k)
     .write.mode("overwrite")
     .parquet(tmp.rstrip("/") + "/batch_id=-1"))
    n = spark.read.parquet(tmp).count()
    fs_rmtree(spark, partials_dir)
    fs_rename(spark, tmp, partials_dir)
    # engine-maintained rewrite -> stamp (plans/versioning contract)
    from ..plans.versioning import bump_table_version
    bump_table_version(partials_dir)
    return n
