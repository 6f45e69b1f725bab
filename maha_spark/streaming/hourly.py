"""Structured Streaming ingestion: events -> hourly-grain rollup.

Net-new relative to the reference (Maha has no streaming; SURVEY.md §2.9):
the same hourly cube the batch planner serves (``events_cube``) fed by a
``readStream`` with watermarked tumbling windows.

Scale design: file-source streaming with ``availableNow`` processes the
backlog in bounded micro-batches; the windowed aggregation is a standard
partial-agg + state-store pattern that scales with
``spark.sql.shuffle.partitions``.  Late events beyond the 1h watermark are
dropped (the correctness test feeds a single file = single micro-batch, so
watermarking cannot drop rows and the result equals the batch answer).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
    TimestampNTZType,
)

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampNTZType()),  # naive micros (testdata layout)
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def hourly_stream(spark: SparkSession, events_dir: str,
                  glob: str | None = None, with_sketch: bool = False,
                  with_hist: bool = False) -> DataFrame:
    """readStream -> watermark -> 1h tumbling window aggregation.

    ``events_dir`` must be a directory (Spark file-source requirement);
    ``glob`` optionally restricts which files in it are ingested.
    """
    # Watermarks require TIMESTAMP; with the session pinned to UTC the
    # NTZ->TIMESTAMP cast is the identity instant (tz-free boundaries).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = (spark.readStream
              .schema(EVENT_SCHEMA)
              .format("parquet"))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(events_dir)
    ev = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    aggs = [F.count(F.lit(1)).alias("event_count"),
            F.sum(F.col("value").cast("decimal(8,5)")).alias("value_dec")]
    outs = [F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss")
             .alias("hour"),
            "event_type", "event_count",
            F.col("value_dec").cast("double").alias("total_value")]
    if with_sketch:
        # mergeable HLL partial computed AT INGEST (Druid computes
        # hyperUnique sketches the same way) — the streamed rollup can
        # then serve approx distincts at any grain via hll_union_agg
        from ..core.rollup import HLL_LG_K
        aggs.append(F.hll_sketch_agg("user_id", HLL_LG_K)
                     .alias("user_hll"))
        outs.append("user_hll")
    if with_hist:
        # mergeable fixed-bin histogram partial at ingest — the SAME
        # builder as the batch materializer and the base cube column
        # (core/rollup.py HistogramRollup), so streamed quantile
        # partials are bit-identical to the batch rollup's
        from ..core.rollup import HistogramRollup
        aggs.append(F.expr(HistogramRollup().agg("value"))
                    .alias("value_hist"))
        outs.append("value_hist")
    return (ev
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"),
                     F.col("event_type"))
            .agg(*aggs)
            .select(*outs))


class bounded_shuffle:
    """Temporarily bound ``spark.sql.shuffle.partitions`` for a streaming
    drain. One state-store instance (plus, for stateful Pandas ops, one
    Python worker round) spins up per shuffle partition per micro-batch; at
    harness scale that instancing dominates the drain. A production stream
    sizes the setting to executor-cores x executors instead — this only
    ever LOWERS it, and restores the caller's value on exit so batch
    queries in the same session keep their parallelism.
    """

    def __init__(self, spark: SparkSession, cap: int = 8):
        self.spark, self.cap, self.saved = spark, cap, None

    def __enter__(self):
        cur = int(self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
        if cur > self.cap:
            self.saved = cur
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.cap))
        return self

    def __exit__(self, *exc):
        if self.saved is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions",
                                str(self.saved))
        return False


# ---------------------------------------------------------------- scale path
def drain_append(spark: SparkSession, events_dir: str, out_dir: str,
                 ckpt_dir: str, glob: str | None = None,
                 with_sketch: bool = False,
                 with_hist: bool = False) -> None:
    """One availableNow drain of the backlog into a parquet APPEND sink.

    This is the production shape: finalized windows (watermark passed the
    window end) are written exactly-once to files; open windows stay in
    the state store (checkpointed) until a later drain closes them. No
    driver-side state, any number of restarts — the checkpoint carries
    source offsets + window state + sink commit log.
    """
    agg = hourly_stream(spark, events_dir, glob=glob,
                        with_sketch=with_sketch, with_hist=with_hist)
    q = (agg.writeStream
         .format("parquet")
         .outputMode("append")
         .option("path", out_dir)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def write_sentinel(spark: SparkSession, input_dir: str,
                   ts) -> None:
    """Append a single far-future flush event to the input directory: the
    next drain advances the watermark past every real window, closing and
    emitting them all. The sentinel's own window stays open and is never
    emitted, so the file output equals the batch answer exactly.

    ``ts`` is a naive ``datetime`` (EVENT_SCHEMA stores TIMESTAMP_NTZ).

    Built from ``range(1)`` + literals, NOT ``createDataFrame(rows)``:
    local-rows DataFrames serialize through a Python-RDD stage whose
    worker spin-up costs ~4 s per write — pure-JVM literals write the
    same one-row file in ~0.2 s.
    """
    from pyspark.sql import functions as F
    sent = spark.range(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(ts.strftime("%Y-%m-%d %H:%M:%S"))
         .cast("timestamp_ntz").alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("").alias("props"))
    sent.coalesce(1).write.mode("append").parquet(input_dir)


def unload_state_stores(spark: SparkSession) -> None:
    """Unload every loaded state-store provider and stop the store
    maintenance task (they reload lazily from the checkpoint on the
    next streaming query — correctness is unaffected).

    A long-lived session that runs MANY distinct streaming queries
    (the bench harness, a serving session with ad-hoc drains)
    accumulates one provider per (query, state partition); their
    snapshot-maintenance work grows with every drain and measurably
    drags later queries (drain wall time degraded 3.4s -> 26s over a
    12-query session in the round-11 probe; with per-drain unloads it
    holds ~2s flat). The streaming-twin pytest suites pin bit-identity
    across drains, so the unload is pure lifecycle hygiene — for state
    stores, what a released ``ops/common.Scope`` is for storage
    blocks. Do not
    call it while another streaming query is mid-batch (its providers
    would reload from the checkpoint on the next batch — correct but
    paying a re-read)."""
    try:
        jvm = spark._jvm
        jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass    # plain-Python unit contexts / API drift: advisory only


def _parquet_ts_max(path: str, col: str = "ts"):
    """Max of a timestamp column from the parquet FOOTER row-group
    statistics — a metadata read, replacing a whole Spark job in the
    sentinel-placement step (the sentinel only needs any instant past
    the last real event, and footer maxima are exact uppers).

    Returns None — engaging the caller's Spark-scan fallback — unless
    every row group's max decodes to a NAIVE ``datetime.datetime``: a
    plain-int64 or tz-aware TIMESTAMP logical type would otherwise
    raise on the caller's ``max_ts + timedelta`` arithmetic (int) or
    silently drop its offset under ``strftime`` (aware), potentially
    placing the sentinel BEFORE the last real event."""
    import datetime as _dt
    try:
        import pyarrow.parquet as pq
        pf = pq.ParquetFile(path)
        idx = pf.schema_arrow.get_field_index(col)
        best = None
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            if (not isinstance(st.max, _dt.datetime)
                    or st.max.tzinfo is not None):
                return None
            best = st.max if best is None else max(best, st.max)
        return best
    except Exception:
        return None


def streaming_hourly(spark: SparkSession, sf_dir: str,
                     with_sketch: bool = False,
                     with_hist: bool = False) -> DataFrame:
    """Correctness entry for the APPEND-mode file-sink path: stage the
    events backlog, drain it, flush the tail windows with a sentinel
    batch, and read back the parquet output. Exercises multi-batch
    ingestion + watermark advancement across drains.
    """
    import os
    import shutil

    work = tempfile.mkdtemp(prefix="maha-stream-")
    input_dir = os.path.join(work, "input")
    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(input_dir)
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(input_dir, "batch1.parquet"))

    import datetime as _dt
    max_ts = _parquet_ts_max(os.path.join(input_dir, "batch1.parquet"))
    if max_ts is None:
        # footer statistics absent — fall back to the scan
        max_ts = (spark.read
                  .parquet(os.path.join(input_dir, "batch1.parquet"))
                  .agg(F.max("ts")).collect()[0][0])
    write_sentinel(spark, input_dir, max_ts + _dt.timedelta(hours=3))
    # cap=4: the 100k-row harness agg is trivial; per-micro-batch cost
    # is state-store instancing + sink files, both ∝ shuffle partitions
    with bounded_shuffle(spark, cap=4):
        # ONE drain: the data batch leaves every window in state (the
        # watermark is still 0 while it runs); the trailing no-data
        # micro-batch availableNow schedules after the watermark jumps to
        # sentinel-1h then evicts + emits every finalized window. One
        # query startup instead of two (state store + sink committer init
        # dominate the harness drain). Cross-DRAIN watermark advancement
        # stays pinned by test_streaming_append_sink_drops_late_rows.
        drain_append(spark, input_dir, out_dir, ckpt,
                     with_sketch=with_sketch, with_hist=with_hist)
    # one-shot harness: this query never runs another batch, so drop
    # its providers + maintenance work before the caller's next query
    unload_state_stores(spark)

    out_schema = ("hour string, event_type string, "
                  "event_count long, total_value double")
    if with_sketch:
        out_schema += ", user_hll binary"
    if with_hist:
        out_schema += ", value_hist array<bigint>"
    return spark.read.schema(out_schema).parquet(out_dir)


def streaming_hourly_oracle() -> str:
    return """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type,
               COUNT(*) AS event_count,
               CAST(SUM(CAST(value AS DECIMAL(8,5))) AS DOUBLE)
                   AS total_value
        FROM events GROUP BY 1, 2
    """
