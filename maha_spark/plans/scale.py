"""Scale utilities: skew-salted joins and bucketed (co-located) tables.

The cube planner's default posture is to let AQE handle skew
(`spark.sql.adaptive.skewJoin.enabled`, session.py) and to broadcast
small dims. These helpers cover the two cases that need explicit
treatment on a 1000-executor cluster:

* a shuffle join where ONE key holds a large fraction of the fact rows
  (AQE splits oversized partitions post-shuffle, but pre-salting bounds
  the partition before any data moves), and
* repeated large-fact-to-large-fact joins on a stable key, where writing
  both sides bucketed by that key makes every subsequent join
  exchange-free (co-located, no shuffle at read time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..ops.common import current_scope, in_scope


def salted_join(fact: DataFrame, dim: DataFrame, key: str,
                n_salt: int = 8, how: str = "left") -> DataFrame:
    """Join ``fact`` to ``dim`` on ``key`` with an explicit salt: the fact
    side gets a deterministic per-row salt in [0, n_salt) and the dim side
    is replicated once per salt value, so the shuffle key becomes
    (key, salt) and no single hot key can exceed 1/n_salt of its rows in
    one partition.

    The salt is ``pmod(hash(all fact columns), n_salt)`` — deterministic
    (re-runs produce identical plans/results), no RNG. Dim replication
    multiplies the SMALLER side by n_salt, the standard trade for bounding
    the larger side's partition size.
    """
    fact_s = fact.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in fact.columns]),
                         F.lit(n_salt)))
    dim_s = (dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))))
    out = fact_s.join(dim_s, [key, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(df: DataFrame, table_name: str, key: str,
                   buckets: int = 32, sort: bool = True,
                   mode: str = "overwrite") -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) catalog table.

    Both sides of a recurring join written with the same (key, buckets)
    join WITHOUT any Exchange: Spark plans a sort-merge join directly on
    the co-located buckets. This is the parquet-warehouse equivalent of
    the reference's pre-partitioned Druid segments.
    """
    w = df.write.mode(mode).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table_name)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  key: str, how: str = "inner") -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


def partition_fact(spark: SparkSession, src_parquet: str, dst_dir: str,
                   day_col: str, partition_col: str = "dt") -> None:
    """Rewrite a fact parquet file as a Hive-partitioned directory keyed
    by ``DATE(day_col)`` — the 100 TB storage layout
    (``.../dt=YYYY-MM-DD/part-*.parquet``).

    Pairs with ``FactTable.partition_columns=["dt"]``: the planner then
    emits the mandatory Day Between bound as a PartitionFilter, so a
    one-week query over a three-year table opens seven directories
    instead of enumerating every file's row-group statistics.
    """
    import os
    from .binding import ParquetBinding
    df = ParquetBinding(
        spark, os.path.dirname(src_parquet))._read_parquet(src_parquet)
    (df.withColumn(partition_col, F.to_date(F.col(day_col)))
       .write.mode("overwrite").partitionBy(partition_col).parquet(dst_dir))


def overwrite_day_partitions(df: DataFrame, dst_dir: str,
                             partition_col: str = "dt",
                             max_records_per_file: int | None = None,
                             sort_within: list | None = None) -> None:
    """Write ``df`` into a Hive day-partitioned parquet directory,
    replacing ONLY the ``partition_col`` values present in ``df`` (Spark's
    dynamic partition-overwrite, scoped to this write via the writer
    option — no session-level conf mutation).

    This is the incremental-maintenance primitive for materialized
    rollups: at 100 TB a nightly full rebuild re-aggregates the whole
    fact, while late-arriving or restated data touches a handful of days
    — recompute just those days from the (partition-pruned) raw scan and
    swap their directories atomically-per-partition.

    Caveat (dynamic-overwrite semantics): a partition value with NO rows
    in ``df`` is left untouched, so a day whose source rows were deleted
    outright keeps its stale directory — drop the ``dt=`` directory
    explicitly for full-day deletions. Reference parity:
    maha's Druid facts get this for free from segment replacement
    (reindexing a day replaces that segment, `DruidQueryExecutor` serves
    whatever segments exist); on a parquet warehouse the dynamic
    overwrite is the equivalent.
    """
    import os

    # co-locate each day before the write: without this every task emits
    # a file into every dt= directory it holds rows for (days x tasks
    # tiny files); hash-repartitioned on the partition column, each day
    # lands wholly in one task -> one file per directory (or, with
    # max_records_per_file set, ceil(day_rows / cap) files — the writer
    # rolls to a new file per cap records WITHIN the task). With
    # sort_within, rows are sorted inside each task BEFORE the write, so
    # the per-cap file roll cuts the day into CONSECUTIVE ranges of the
    # sort key — the clustering hook zorder_day_partitions builds on.
    # The partition column LEADS the sort: FileFormatWriter requires
    # task rows ordered by the partition columns and would otherwise
    # insert its own (unstable) sort by them, silently destroying the
    # clustering order.
    out = df.repartition(F.col(partition_col))
    if sort_within:
        out = out.sortWithinPartitions(F.col(partition_col), *sort_within)
    writer = (out.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic"))
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.partitionBy(partition_col).parquet(dst_dir)
    # a rewrite scoped inside EXISTING dt= subdirectories changes no
    # root-level metadata by itself, but the binding's DataFrame memo,
    # the skipping sidecars, and the result cache all key on the table
    # VERSION — stamp it here (atomic _table_version file; object-store
    # safe, with an mtime bump as the local-FS courtesy) so EVERY
    # caller gets cache invalidation, not just wrappers that remember to
    from .versioning import bump_table_version
    bump_table_version(dst_dir)


@in_scope
def compact_day_partitions(spark: SparkSession, dst_dir: str,
                           partition_col: str = "dt",
                           target_file_mb: int = 256,
                           min_files: int = 2) -> list[str]:
    """Bin-pack the small files inside a Hive day-partitioned table back
    into files of ~``target_file_mb`` each (a day of B bytes is rewritten
    into ~ceil(B / target_file_mb) files via the writer's per-task
    records-per-file cap), bit-identically (row multiset per day
    unchanged; only the file layout changes).

    The 100 TB maintenance job this automates: streaming appends and
    per-batch incremental refreshes accumulate many small files per
    ``dt=`` directory, and a scan's split planning degrades to
    open-cost-dominated work (the same failure mode
    ``ensure_scaled_dir`` documents). Only days with at least
    ``min_files`` files AND whose bytes fit in fewer files than they
    currently have are rewritten — already-compact days are left
    physically untouched (their directory mtimes prove it in the test).

    Per-day rewrite via ``overwrite_day_partitions`` keeps the swap
    atomic-per-partition and bumps the table version stamp exactly once
    so binding caches invalidate. Returns the list of compacted day values.
    """
    import math
    import os

    days: list[str] = []
    sel_bytes = 0
    for d in sorted(os.listdir(dst_dir)):
        if not d.startswith(f"{partition_col}="):
            continue
        p = os.path.join(dst_dir, d)
        files = [os.path.join(p, f) for f in os.listdir(p)
                 if f.endswith(".parquet")]
        if len(files) < min_files:
            continue
        total = sum(os.path.getsize(f) for f in files)
        want = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
        if want >= len(files):
            continue
        days.append(d.split("=", 1)[1])
        sel_bytes += total

    if not days:
        return []
    # one job for ALL days needing compaction: read them (partition-
    # pruned) and MATERIALIZE via a scope checkpoint BEFORE the overwrite —
    # the write deletes the very files this read consumes, and without
    # the checkpoint that is only safe because overwrite_day_partitions
    # happens to shuffle (repartition) and dynamic overwrite defers
    # deletion to commit; the checkpoint makes the decoupling explicit
    # instead of an accident of the downstream plan.
    df = current_scope().checkpoint(
        spark.read.parquet(dst_dir)
        .filter(F.col(partition_col).isin(days)))
    # honor target_file_mb per day: the per-task writer rolls to a new
    # file every max_records_per_file rows, so a day of B bytes lands in
    # ~ceil(B / target) files instead of collapsing into one oversized
    # file. Bytes/row is estimated over the selected days (compressed
    # parquet bytes — close enough for a file-COUNT target).
    n_rows = df.count()
    cap = None
    if n_rows > 0 and sel_bytes > 0:
        per_row = sel_bytes / n_rows
        cap = max(1, math.ceil(target_file_mb * 1024 * 1024 / per_row))
    overwrite_day_partitions(df, dst_dir, partition_col=partition_col,
                             max_records_per_file=cap)
    return days

def zorder_expr(df: DataFrame, cols: list[str], zbits: int = 6,
                sample: DataFrame | None = None):
    """A Z-value (Morton order) Column over ``cols``: each column is
    reduced to a ``2^zbits``-bin id, and the bin ids' bits are
    interleaved so sorting by the result clusters rows that are close in
    EVERY listed dimension — the multi-column locality a single-column
    sort cannot give (sorting by A scatters B).

    Bin assignment per column type:

    * numeric / date-like: APPROX-QUANTILE boundaries (equi-depth bins,
      skew-robust — equi-width bins would put most rows of a zipfian
      column in one bin), so files get narrow [min,max] zone-map ranges
      on the column: both range and equality needles prune.
    * everything else (strings, binaries): hash bins — no meaningful
      order to preserve, but co-locating equal values still concentrates
      each value in few files, which the Bloom sidecar turns into
      equality pruning.

    The bin lookup is ``cardinality(filter(boundaries, b -> b <= v))``
    over a LITERAL sorted boundary array — O(2^zbits) pure-codegen ops
    per row per column, which is why ``zbits`` defaults to 6 (64 bins:
    at file-level granularity a day rarely holds more than ~100 files,
    so 64 bins per dimension already separates them). NULLs sort to bin
    0. ``sample`` (default ``df``) is what quantiles are estimated on —
    pass a pre-materialized frame to avoid recomputing lineage."""
    from pyspark.sql.types import (ByteType, DateType, DecimalType,
                                   DoubleType, FloatType, IntegerType,
                                   LongType, ShortType, TimestampNTZType,
                                   TimestampType)
    bins = 1 << zbits
    src = sample if sample is not None else df
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(
            f"z-order columns {missing} not in frame {sorted(dtypes)}")
    numeric = (ByteType, ShortType, IntegerType, LongType, FloatType,
               DoubleType, DecimalType)
    datelike = (DateType, TimestampType, TimestampNTZType)

    bin_exprs = []
    quant_cols = [c for c in cols
                  if isinstance(dtypes[c], numeric + datelike)]
    bounds: dict[str, list[float]] = {}
    if quant_cols:
        probs = [i / bins for i in range(1, bins)]
        num_src = src.select(*[
            F.col(c).cast("double").alias(c) if isinstance(
                dtypes[c], numeric)
            # date/timestamp: epoch seconds keeps order
            else F.col(c).cast("timestamp").cast("double").alias(c)
            for c in quant_cols])
        qs = num_src.approxQuantile(quant_cols, probs, 0.01)
        for c, q in zip(quant_cols, qs):
            bounds[c] = sorted(set(q))   # dedup collapsed boundaries
    for c in cols:
        if c in bounds and bounds[c]:
            v = (F.col(c).cast("double") if isinstance(dtypes[c], numeric)
                 else F.col(c).cast("timestamp").cast("double"))
            barr = F.array(*[F.lit(float(b)) for b in bounds[c]])
            bin_c = F.when(v.isNull(), F.lit(0)).otherwise(
                F.size(F.filter(barr, lambda b: b <= v)))
        elif not isinstance(dtypes[c], numeric + datelike):
            bin_c = F.when(F.col(c).isNull(), F.lit(0)).otherwise(
                F.pmod(F.hash(F.col(c)), F.lit(bins)))
        else:       # constant column (no distinct boundaries): bin 0
            bin_c = F.lit(0)
        bin_exprs.append(bin_c.cast("long"))

    # interleave: bit b of column j lands at position b*k + j
    k = len(cols)
    z = F.lit(0).cast("long")
    for b in range(zbits):
        for j, bin_c in enumerate(bin_exprs):
            bit = F.shiftright(bin_c, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * k + j)
    return z


@in_scope
def zorder_day_partitions(spark: SparkSession, dst_dir: str,
                          cols: list[str], partition_col: str = "dt",
                          target_file_mb: float = 256, zbits: int = 6,
                          days: list[str] | None = None) -> list[str]:
    """Rewrite the day partitions of a Hive day-partitioned table with
    rows Z-ORDERED on ``cols`` — the lakehouse clustering maintenance
    job (Delta ``OPTIMIZE ZORDER BY`` shape): within each ``dt=``
    directory, files become tiles of the multi-column space, so the
    data-skipping sidecar (``plans/skipping.py``) prunes needle queries
    on ANY of the listed columns, not just a single sort leader.

    Bit-identical per day (row multiset unchanged; only order and file
    boundaries move). ``days=None`` rewrites every day; pass the churned
    days for the incremental shape. Day directories are the rewrite
    unit, so the swap is atomic-per-partition and the table version
    stamp bump invalidates binding caches — the sidecar then reads stale until
    ``refresh_skipping_index`` runs (callers should chain it; the
    planner's staleness gate keeps results correct either way).

    Mechanics: one quantile pass to fix the bin boundaries, then one
    shuffle (repartition by day) + in-task sort by the z-value + size-
    capped write — the writer's per-cap file roll cuts each sorted day
    into consecutive z-ranges. Cost is one read + one write of the
    selected days, same as compaction."""
    import math
    import os

    sel = []
    sel_bytes = 0
    for d in sorted(os.listdir(dst_dir)):
        if not d.startswith(f"{partition_col}="):
            continue
        val = d.split("=", 1)[1]
        if days is not None and val not in days:
            continue
        p = os.path.join(dst_dir, d)
        sel_bytes += sum(os.path.getsize(os.path.join(p, f))
                         for f in os.listdir(p) if f.endswith(".parquet"))
        sel.append(val)
    if not sel:
        return []
    src = spark.read.parquet(dst_dir)
    unknown = [c for c in cols if c not in src.columns]
    if unknown:
        # refuse BEFORE the checkpointed read pays for the whole table
        raise ValueError(
            f"z-order columns {unknown} not in {sorted(src.columns)}")
    # materialize BEFORE the overwrite: the write deletes the files this
    # read consumes (same decoupling as compact_day_partitions)
    df = current_scope().checkpoint(
        src.filter(F.col(partition_col).isin(sel)))
    n_rows = df.count()
    cap = None
    if n_rows > 0 and sel_bytes > 0:
        per_row = sel_bytes / n_rows
        cap = max(1, math.ceil(target_file_mb * 1024 * 1024 / per_row))
    z = zorder_expr(df, cols, zbits=zbits)
    overwrite_day_partitions(df, dst_dir, partition_col=partition_col,
                             max_records_per_file=cap, sort_within=[z])
    return sel


def _refuse_null_keys(df: DataFrame, join_keys: list[str],
                      what: str) -> None:
    """Upsert/delete match with SQL equality, where NULL never equals
    NULL — a NULL-keyed delta row would silently INSERT a duplicate and
    a NULL-keyed tombstone would delete nothing. Refuse up front."""
    cond = None
    for k in join_keys:
        c = F.col(k).isNull()
        cond = c if cond is None else (cond | c)
    if df.filter(cond).limit(1).count() > 0:
        raise ValueError(
            f"{what} contains NULL in a match key {join_keys} — NULL "
            f"never matches under join equality, so the row could not "
            f"replace/delete anything")


@in_scope
def upsert_day_partitions(spark: SparkSession, delta: DataFrame,
                          dst_dir: str, keys: list[str],
                          partition_col: str = "dt",
                          max_records_per_file: int | None = None
                          ) -> list[str]:
    """Keyed upsert into a Hive day-partitioned table (the lakehouse
    ``MERGE INTO`` shape): rows of ``delta`` REPLACE existing rows with
    the same ``(partition_col, *keys)`` and INSERT otherwise — the
    late-correction maintenance primitive for when restating a whole
    day (``overwrite_day_partitions``) is too blunt.

    Scale contract: only the days PRESENT in the delta are read
    (partition-pruned) and rewritten (dynamic overwrite, atomic per
    partition); the delta is broadcast into the anti-join — it is the
    small side by definition of a correction batch. Cost ∝ the touched
    days, never the table.

    Semantics notes:

    * The match key IMPLICITLY includes ``partition_col``: a key whose
      day changed is an INSERT in the new day, and the OLD day's row
      survives unless the delta restates it (or the caller deletes it).
      This is the standard day-partitioned trade — matching on the key
      alone would require scanning every day to find the old row.
    * The delta must be UNIQUE per match key (two versions of the same
      row in one batch is an upstream bug with no defined winner) —
      violations raise ``ValueError`` before anything is written.
    * New days (and a not-yet-existing table) are pure inserts.

    Returns the list of day values written. Sidecar indexes over the
    table read stale after this (the version stamp bumps) — chain
    ``refresh_skipping_index`` like the other rewrite primitives."""
    import os

    join_keys = [partition_col] + [k for k in keys if k != partition_col]
    # pay the delta's lineage ONCE: everything below (validation aggs,
    # days collect, anti-join, union, write) reads the checkpointed rows
    scope = current_scope()
    delta = scope.checkpoint(delta)
    n = delta.count()
    if n == 0:
        return []
    if delta.select(*join_keys).distinct().count() != n:
        raise ValueError(
            f"delta is not unique per match key {join_keys} — two "
            f"versions of one row in a batch have no defined winner")
    _refuse_null_keys(delta, join_keys, "delta")
    days = sorted(str(r[0]) for r in
                  delta.select(partition_col).distinct().collect())
    if os.path.isdir(dst_dir):
        existing = (spark.read.parquet(dst_dir)
                    .filter(F.col(partition_col).isin(days)))
        missing = [c for c in existing.columns if c not in delta.columns]
        if missing:
            raise ValueError(f"delta lacks table columns {missing}")
        survivors = existing.join(
            F.broadcast(delta.select(*join_keys).distinct()),
            join_keys, "left_anti")
        out = survivors.unionByName(delta.select(*existing.columns))
    else:
        out = delta
    # materialize BEFORE the overwrite (the write deletes the files the
    # survivor read consumes — same decoupling as compaction/zorder)
    out = scope.checkpoint(out)
    overwrite_day_partitions(out, dst_dir, partition_col=partition_col,
                             max_records_per_file=max_records_per_file)
    return days

@in_scope
def delete_from_day_partitions(spark: SparkSession, tombstones: DataFrame,
                               dst_dir: str, keys: list[str],
                               partition_col: str = "dt",
                               max_records_per_file: int | None = None
                               ) -> list[str]:
    """Row-level delete from a Hive day-partitioned table: rows matching
    a ``(partition_col, *keys)`` tombstone are removed — the third leg
    of the maintenance CRUD set (restate = ``overwrite_day_partitions``,
    update/insert = ``upsert_day_partitions``, delete = this). The
    GDPR-erasure / retraction shape.

    Same scale contract as upsert: only the tombstones' days are read
    (partition-pruned) and rewritten (dynamic overwrite, atomic per
    partition) with the tombstone set broadcast into the anti-join; and
    the same day-scoped semantics — the tombstone must name the row's
    day (finding a key without its day would scan every day).

    A day whose rows are ALL deleted cannot be expressed by dynamic
    overwrite (no rows to write = directory untouched), so fully-emptied
    days have their ``dt=`` directories REMOVED explicitly here — the
    one rewrite primitive that deletes directories. Returns the list of
    day values touched (rewritten or removed)."""
    import os
    import shutil

    join_keys = [partition_col] + [k for k in keys if k != partition_col]
    scope = current_scope()
    tombstones = scope.checkpoint(tombstones.select(*join_keys))
    if not os.path.isdir(dst_dir) or tombstones.count() == 0:
        return []
    _refuse_null_keys(tombstones, join_keys, "tombstones")
    days = sorted(str(r[0]) for r in
                  tombstones.select(partition_col).distinct().collect())
    existing = (spark.read.parquet(dst_dir)
                .filter(F.col(partition_col).isin(days)))
    survivors = scope.checkpoint(existing.join(
        F.broadcast(tombstones.select(*join_keys).distinct()),
        join_keys, "left_anti"))
    # split surviving days (rewrite) from emptied days (remove the dir)
    alive = {str(r[0]) for r in
             survivors.select(partition_col).distinct().collect()}
    if alive:
        overwrite_day_partitions(
            survivors, dst_dir, partition_col=partition_col,
            max_records_per_file=max_records_per_file)
    for day in days:
        if day not in alive:
            shutil.rmtree(
                os.path.join(dst_dir, f"{partition_col}={day}"),
                ignore_errors=True)
    if days != sorted(alive & set(days)) and os.path.isdir(dst_dir):
        # dir removals also invalidate caches (version stamp)
        from .versioning import bump_table_version
        bump_table_version(dst_dir)
    return days

def expire_day_partitions(dst_dir: str, before_day: str,
                          partition_col: str = "dt") -> list[str]:
    """Retention: drop every ``dt=`` directory strictly OLDER than
    ``before_day`` ('YYYY-MM-DD') — the TTL job that pairs with the
    mandatory request-side day bounds (``max_days_window`` /
    ``max_days_lookback`` caps in the request model mean expired days
    are unreachable by queries before they are unreadable on disk).

    Pure directory removal — no Spark job, no data read; lexicographic
    comparison is correct for the zero-padded ISO day format the layout
    uses. Bumps the table version stamp so binding caches and skipping
    sidecars invalidate (sidecar carry-over purges the dead days on the
    next ``refresh_skipping_index``). Returns the dropped day values."""
    import os
    import shutil

    if not os.path.isdir(dst_dir):
        return []
    dropped = []
    for d in sorted(os.listdir(dst_dir)):
        if not d.startswith(f"{partition_col}="):
            continue
        day = d.split("=", 1)[1]
        if day < before_day:
            shutil.rmtree(os.path.join(dst_dir, d), ignore_errors=True)
            dropped.append(day)
    if dropped:
        from .versioning import bump_table_version
        bump_table_version(dst_dir)
    return dropped
