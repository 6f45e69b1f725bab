"""SparkSession helper with scale-aware defaults.

Local tests run on local[N]; the same config keys are what you would tune
on a 1000-executor cluster (AQE on, partition sizing, broadcast threshold).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "maha-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # Python workers import maha_spark BY NAME (cloudpickle serializes
    # the pandas-UDF closures' module functions by reference), so the
    # package root must be importable ON THE WORKER, not just in the
    # driver's sys.path. A driver launched from outside the repo (sys.
    # path.insert without PYTHONPATH) would otherwise fail every UDF op
    # with ModuleNotFoundError. Local-mode workers inherit this process
    # env; on a real cluster the package ships as a wheel/--py-files and
    # this is a no-op.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root)
    # JIT code-cache sizing (driver JVM; must be in the env BEFORE the
    # gateway launches — same mechanism as the PYTHONPATH export above).
    # The engine's workload is many heterogeneous generated-code queries:
    # with the JVM default (240 MB, segmented), the profiled-nmethods
    # segment fills and HotSpot starts flushing warm methods, which then
    # recompile on the next query — measured 779 s of accumulated JIT
    # time across one 48-entry contract pass, with every op paying
    # multi-second re-warmup. 512 MB holds the whole working set (peak
    # observed use ~115 MB per segment). No-op if the caller already
    # sized it or the JVM is up (r12 optimization round, guide §1/§7).
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if "ReservedCodeCacheSize" not in opts:
        os.environ["SPARK_SUBMIT_OPTS"] = (
            f"{opts} -XX:ReservedCodeCacheSize=512m".strip())
    builder = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # static conf, applies at first-session JVM init: the 100-entry
        # default LRU over compiled codegen classes thrashes under the
        # contract's ~50 multi-stage queries — identical generated
        # source was re-janino-compiled and re-JITed per entry (one-pass
        # contract sweep measured 365 s -> 150 s from this alone; the
        # cached classes are a few MB of metaspace). Cluster-safe: the
        # same thrash hits any long-lived serving driver.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # guide §3.1/§9 baseline: let the planner pick shuffled-hash
        # join when its size conditions hold instead of defaulting to
        # sort-merge — skips both sort legs on the mid-size joins the
        # 64 MB broadcast threshold doesn't catch (cluster-plausible:
        # the planner still requires the build side to fit per
        # partition). Interleaved A/B r13 (4 rounds each, same
        # session): op_curate 3.52-3.91 s vs 4.07-4.25 s — every pair
        # in favor; no entry slower (probe in OPTIMIZATION_r13.md).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # /tmp may be reaped by the host while long benchmarks run, which
        # kills shuffle files mid-query; keep block-manager dirs local
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS",
                               os.path.join(os.path.dirname(
                                   os.path.dirname(os.path.abspath(__file__))),
                                   ".spark-tmp")))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # The committed jar (maha_spark/jvm/src, built by tools/build_jvm.sh)
    # holds two independent pieces.
    #
    # mahaspark.sql.MahaSparkExtensions: value-free whole-stage codegen.
    # Spark's Literal.doGenCode writes date, timestamp and numeric values
    # into the generated Java, and compiled classes are cached by source
    # text, so an ad-hoc request that differs from an earlier one only in
    # its day window or filter values would compile ~3 new classes with
    # Janino (~18 ms each) and run them cold. The extension's physical rule
    # makes comparison and IN-list literals inside FilterExec conditions
    # read their value from the class's references[] instead, so such a
    # request reuses the compiled classes. Scans keep their plain
    # literals (pushdown, partition and cached-batch pruning match on
    # them): the one compile a new value still costs is the small
    # cached-batch stats predicate. Plans print and compare unchanged.
    #
    # mahaspark.fs.FastLocalFileSystem (r13, guide §7.3): Hadoop's
    # default file:// stack costs one .crc sidecar file AND one
    # fork+exec'd chmod per created file/dir when libhadoop is absent
    # (always, in a pip-installed PySpark). On hosts with supervised
    # process spawn (~85 ms per exec measured here) a dynamic-partition
    # write of a few thousand files serializes into MINUTES of chmod
    # execs, and every streaming-checkpoint metadata file pays the same
    # tax (driver thread dumps showed executor tasks parked in
    # Shell.runCommand <- RawLocalFileSystem.setPermission). It no-ops
    # setPermission and skips the checksum layer; only the "file" scheme
    # is remapped (MAHA_SPARK_NO_FASTLOCALFS turns that off) — cluster
    # schemes (hdfs/s3a/abfs) are untouched, so this is pure local-
    # deployment hygiene, not a bench special case.
    builder = builder.config("spark.sql.extensions",
                             "mahaspark.sql.MahaSparkExtensions")
    jvm_jar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "jvm", "maha-spark.jar")
    if os.path.exists(jvm_jar):
        builder = (
            builder
            .config("spark.driver.extraClassPath", jvm_jar)
            .config("spark.executor.extraClassPath", jvm_jar))
        if not os.environ.get("MAHA_SPARK_NO_FASTLOCALFS"):
            builder = (
                builder
                .config("spark.hadoop.fs.file.impl",
                        "mahaspark.fs.FastLocalFileSystem")
                .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
                        "mahaspark.fs.FastLocalFs"))
    return builder.getOrCreate()


def codegen_stats(spark: SparkSession) -> dict[str, float]:
    """Janino compiles of generated code in this driver JVM so far, and
    their total milliseconds: Spark's own ``CodegenMetrics`` compilation
    histogram count and ``CodeGenerator.compileTime``. A compiled class
    is cached by its source text, so a cache hit counts nothing."""
    jvm = spark._jvm
    compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME().getCount())
    nanos = (jvm.org.apache.spark.sql.catalyst.expressions.codegen
             .CodeGenerator.compileTime())
    return {"codegenCompiles": int(compiles),
            "codegenCompileMs": round(nanos / 1e6, 1)}
