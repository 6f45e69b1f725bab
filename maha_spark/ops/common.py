"""Shared primitives for the data-pipeline operators (dedup / similarity /
text analysis), and the one lifecycle of the Spark storage they hold.

Determinism contract with the DuckDB oracle: every hash is derived from
``md5`` hex (identical across engines), integer math stays below 2^63
(no overflow), and float expressions are written with identical
association order on both sides so IEEE results are bit-equal.

Storage lifecycle: a :class:`Scope` owns the caches, eager local
checkpoints, temp views and warm threads created while it is current,
and releases only those. The current scope is a ``ContextVar``, so
threads never see each other's. ``MahaSparkEngine.execute`` opens one
per request (its curator threads run in the request's context), as do
the dry-run shadow thread and the async report worker; ``@in_scope``
opens one per maintenance rewrite; ``drain`` one per stream
micro-batch. Library
callers outside any scope (an op called directly, bench harnesses) use
the root scope and call ``release_scoped_caches()`` once they have
consumed the op's lazily returned plan.
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import os
import threading
from typing import Callable, Optional
from urllib.parse import urlparse

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

#: prime modulus for minhash permutations (fits 32 bits)
MINHASH_P = 2147483647
#: rolling-hash modulus
ROLL_P = 1000000007


class Scope:
    """Owner of the Spark storage one unit of work allocates.
    ``with Scope():`` makes it current in this context and releases it
    on exit. The pipeline ops return LAZY plans over their caches, so
    they cannot unpersist them; the scope that consumes the plan does."""

    def __init__(self) -> None:
        self._lock = threading.Lock()  # a scope is shared by threads
        self._held: list[Callable[[], None]] = []  # unpersist callbacks
        self._views: list[tuple[SparkSession, str]] = []
        self._threads: list[threading.Thread] = []

    def _hold(self, unpersist: Callable[[], None]) -> None:
        with self._lock:
            self._held.append(unpersist)

    def cache(self, df: DataFrame) -> DataFrame:
        """``df.cache()``, unpersisted (blocking) on release. A plan
        Spark's CacheManager already holds (another scope's cache, a
        binding's table) is one shared entry: this scope neither
        re-caches nor releases it, so its owner's frame stays cached."""
        with _CACHE_LOCK:
            if df.storageLevel != StorageLevel.NONE:
                return df
            df = df.cache()
        self._hold(lambda: df.unpersist(True))
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager ``localCheckpoint``, which decouples a read from a
        write to the same files. Its blocks sit below the SQL
        CacheManager, so release unpersists the checkpoint RDD (the
        analyzed plan's ``LogicalRDD``) by id."""
        df = df.localCheckpoint(eager=True)
        rid = df._jdf.queryExecution().analyzed().rdd().id()
        jsc = df.sparkSession.sparkContext._jsc

        def unpersist() -> None:
            rdd = jsc.getPersistentRDDs().get(rid)
            if rdd is not None:
                rdd.unpersist()
        self._hold(unpersist)
        return df

    def view(self, df: DataFrame) -> str:
        """Register ``df`` as a temp view under a fresh name, dropped on
        release; returns the name."""
        name = f"maha_scope_view_{next(_VIEW_IDS)}"
        df.createOrReplaceTempView(name)
        with self._lock:
            self._views.append((df.sparkSession, name))
        return name

    def spawn(self, spark: SparkSession,
              fn: Callable[[], None]) -> threading.Thread:
        """Run ``fn`` on a daemon thread carrying this context (scope,
        and ``spark``'s job tags and local properties); release joins it
        first."""
        ctx = contextvars.copy_context()
        t = threading.Thread(
            target=inheritable_thread_target(spark)(lambda: ctx.run(fn)),
            daemon=True)
        with self._lock:
            self._threads.append(t)
        t.start()
        return t

    def held(self) -> int:
        """Frames (caches and checkpoints) held now."""
        return len(self._held)

    def join(self) -> None:
        """Wait for the threads this scope has spawned so far."""
        with self._lock:
            threads, self._threads = self._threads, []
        for t in threads:
            t.join()

    def release(self) -> int:
        """Join the spawned threads, drop the views, then unpersist every
        held frame; returns how many frames."""
        self.join()
        with self._lock:
            held, self._held = self._held, []
            views, self._views = self._views, []
        for spark, name in views:
            drop_view(spark, name)
        for unpersist in reversed(held):
            unpersist()
        return len(held)

    def __enter__(self) -> "Scope":
        self._token = _CURRENT.set(self)
        _OPEN.add(self)
        return self

    def __exit__(self, *exc) -> None:
        _CURRENT.reset(self._token)
        _OPEN.discard(self)
        self.release()


#: makes a scope's CacheManager lookup and its ``cache()`` one step
_CACHE_LOCK = threading.Lock()
_VIEW_IDS = itertools.count()
_ROOT = Scope()
_CURRENT = contextvars.ContextVar("maha_spark_scope", default=_ROOT)
#: the root and every open scope, for ``held_frames`` telemetry
_OPEN: set[Scope] = {_ROOT}


def drop_view(spark: SparkSession, name: str) -> None:
    """Drop temp view ``name`` from the session catalog only.
    ``spark.catalog.dropTempView`` also uncaches every cached plan equal
    to the view's, which would unpersist a frame another scope or the
    binding still holds."""
    spark._jsparkSession.sessionState().catalog().dropTempView(name)


def current_scope() -> Scope:
    """The innermost open scope of this context, else the root scope."""
    return _CURRENT.get()


def held_frames() -> int:
    """Frames held by the root and every open scope."""
    return sum(s.held() for s in list(_OPEN))


def in_scope(fn):
    """Run each call of ``fn`` in a fresh :class:`Scope` — for work that
    has consumed what it allocates by the time it returns; never for a
    function returning a DataFrame over the scope's blocks."""
    @functools.wraps(fn)
    def wrap(*args, **kwargs):
        with Scope():
            return fn(*args, **kwargs)
    return wrap


def scoped_cache(df: DataFrame) -> DataFrame:
    """Cache ``df`` in the current scope."""
    return current_scope().cache(df)


def release_scoped_caches() -> int:
    """Release the current scope; returns how many frames it held."""
    return current_scope().release()


def warm(df: DataFrame) -> threading.Thread:
    """Materialize ``df`` (a scoped cache) on a thread of the current
    scope while the caller's driver runs other jobs; a failed warm only
    means a later cache miss recomputes."""
    def run() -> None:
        try:
            df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 — cache miss just recomputes
            pass
    return current_scope().spawn(df.sparkSession, run)


def drain(spark: SparkSession, schema, src_dir: str, ckpt_dir: str,
          fold: Callable[[DataFrame, int], None],
          max_files_per_trigger: int = 1) -> None:
    """Drain a parquet file feed to completion (``availableNow``),
    running ``fold(batch, batch_id)`` for each micro-batch in its own
    :class:`Scope`, so an arbitrarily long drain holds a bounded block
    set. The checkpoint only tracks source progress."""
    def run(batch: DataFrame, batch_id: int) -> None:
        with Scope():
            fold(batch, batch_id)

    (spark.readStream.schema(schema).format("parquet")
     .option("maxFilesPerTrigger", max_files_per_trigger)
     .load(src_dir)
     .writeStream
     .foreachBatch(run)
     .option("checkpointLocation", ckpt_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def fold_new_docs(batch: DataFrame, batch_id: int,
                  seen: Optional[DataFrame], out_dir: str,
                  emit: Callable[[DataFrame], DataFrame],
                  append: Callable[[DataFrame], None]) -> None:
    """One replay-safe index fold of a document micro-batch: anti-join
    the ``seen`` (already indexed) doc ids; checkpoint the fresh rows
    BEFORE any write, since ``append`` mutates the table they were
    anti-joined against; a replay whose docs are all indexed is a no-op
    (its earlier output stays); else OVERWRITE ``emit``'s rows to
    ``out_dir/batch_id=N`` BEFORE the ``append`` — a crash between the
    two replays the batch with its docs still unindexed, and the
    recomputed rows overwrite the same directory identically."""
    fresh = batch if seen is None else batch.join(seen, "doc_id",
                                                  "left_anti")
    fresh = current_scope().checkpoint(fresh)
    if not fresh.limit(1).count():
        return
    (emit(fresh).withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .parquet(os.path.join(out_dir, f"batch_id={batch_id}")))
    append(fresh)


def _hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the JVM gateway."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _on_fs(spark: SparkSession, path: str, hadoop: Callable, local: Callable):
    """``hadoop(fs, jpath)`` through the Hadoop FileSystem API — correct
    on HDFS/S3A/ABFS/GCS. Only a scheme-less path falls back to
    ``local()`` (plain-Python unit contexts have no JVM gateway); on a
    URI the error propagates, since a local answer about ``s3a://...``
    is wrong (an ``exists`` reading False would let a bootstrap branch
    clobber the remote table with an empty one)."""
    try:
        fs, jpath = _hadoop_fs(spark, path)
        return hadoop(fs, jpath)
    except Exception:
        if urlparse(path).scheme:
            raise
        return local()


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe."""
    return _on_fs(spark, path, lambda fs, p: bool(fs.exists(p)),
                  lambda: os.path.exists(path))


def fs_touch(spark: SparkSession, path: str) -> None:
    """Create (or truncate) an empty marker file — the in-progress
    sentinel the index-maintenance paths use to detect a crash between
    two non-atomic writes."""
    def local() -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w"):
            pass
    _on_fs(spark, path, lambda fs, p: fs.create(p, True).close(), local)


def fs_list_files(spark: SparkSession, path: str,
                  suffix: str = ".parquet") -> list[tuple[str, int]]:
    """(path, byte size) of every direct child file with ``suffix`` —
    the file-stat probe compaction sizing needs; empty when ``path`` is
    absent."""
    def hadoop(fs, jpath) -> list:
        if not fs.exists(jpath):
            return []
        return [(path.rstrip("/") + "/" + st.getPath().getName(),
                 st.getLen()) for st in fs.listStatus(jpath)
                if st.isFile() and st.getPath().getName().endswith(suffix)]

    def local() -> list:
        try:
            return [(os.path.join(path, f),
                     os.path.getsize(os.path.join(path, f)))
                    for f in os.listdir(path) if f.endswith(suffix)]
        except OSError:
            return []
    return _on_fs(spark, path, hadoop, local)


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Move a file or directory (dst must not exist) — the
    temp-then-rename swap step for maintenance rewrites."""
    def local() -> bool:
        try:
            os.rename(src, dst)
            return True
        except OSError:
            return False
    return _on_fs(spark, src, lambda fs, p: bool(fs.rename(
        p, spark._jvm.org.apache.hadoop.fs.Path(dst))), local)


def fs_rmtree(spark: SparkSession, path: str) -> None:
    """Recursively remove a directory tree (no-op when absent)."""
    import shutil
    _on_fs(spark, path, lambda fs, p: fs.delete(p, True),
           lambda: shutil.rmtree(path, ignore_errors=True))


def fs_delete(spark: SparkSession, path: str) -> None:
    """Remove a marker file (no-op when absent)."""
    def local() -> None:
        try:
            os.remove(path)
        except OSError:
            pass
    _on_fs(spark, path, lambda fs, p: fs.delete(p, False), local)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table via the engine's binding (nanos-timestamp safe,
    optionally cached).

    The corpus tables ship as a single small parquet file, which Spark
    scans as ONE partition — and the pipeline ops do expression-heavy
    per-row work (md5 minhash permutations, bigram explode), so a
    1-partition scan serializes the whole op on one core (measured 2.5x
    end-to-end on ngram-jaccard at sf0.1). Fan the rows out to the
    session's parallelism first; at real scale the input is already
    many-filed and this is a no-op.
    """
    from ..plans.binding import ParquetBinding
    df = ParquetBinding(spark, sf_dir).table(name)
    if name in ("documents", "embeddings"):
        par = spark.sparkContext.defaultParallelism
        # file count bounds the scan parallelism; len(inputFiles()) avoids
        # the DataFrame->Python-RDD conversion a getNumPartitions probe pays
        if len(df.inputFiles()) < par:
            df = df.repartition(par)
    return df


def words_sql(text: str = "text") -> str:
    """Whitespace tokenization (Spark spelling)."""
    return f"split(trim({text}), '\\\\s+')"


def duck_words_sql(text: str = "text") -> str:
    """Whitespace tokenization (DuckDB spelling)."""
    return f"string_split_regex(trim({text}), '\\s+')"


def h28_sql(expr: str) -> str:
    """First 7 md5 hex chars as an integer (< 2^28) — Spark spelling."""
    return f"CAST(conv(substr(md5({expr}), 1, 7), 16, 10) AS BIGINT)"


def duck_h28_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 7))::BIGINT"


def h32_sql(expr: str) -> str:
    """First 8 md5 hex chars as an integer (< 2^32) — Spark spelling."""
    return f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def duck_h32_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def h60_sql(expr: str) -> str:
    """First 15 md5 hex chars as an integer (< 2^60) — Spark spelling.

    The wide variant for EXHAUSTIVE window hashing (every k-gram position,
    ``ops/substring.py``): a 32-bit space sees birthday collisions from
    ~2^16 distinct windows — guaranteed false "duplicates" at corpus
    scale — while 60 bits holds ~2^30 windows at the same risk, and the
    value still fits BIGINT with headroom for arithmetic."""
    return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def duck_h60_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def dot64_sql(a: str, b: str, one_based: bool, cast: str) -> str:
    """Explicit 64-term dot product with strictly left-to-right addition.

    Both engines evaluate ``+`` left-associatively, so writing the sum out
    term-by-term (instead of an engine-specific list_dot_product /
    aggregate fold) makes the IEEE result bit-identical.
    """
    lo = 1 if one_based else 0
    terms = [
        f"CAST({a}[{i}] AS {cast}) * CAST({b}[{i}] AS {cast})"
        for i in range(lo, lo + 64)
    ]
    return "(" + " + ".join(terms) + ")"


def dot_fold_sql(a: str, b: str, cast: str = "DOUBLE") -> str:
    """Left-fold dot product (Spark side only).

    Semantically identical to ``dot64_sql``'s explicit left-associated
    64-term sum — ``aggregate`` folds strictly left-to-right, and
    ``0.0 + t0 == t0`` in IEEE — but the generated code is O(1) instead of
    O(dims). The inline form, repeated across LSH planes/tables in one
    projection, overflowed janino's 64 KB method limit and dropped the
    whole stage to interpreted evaluation.
    """
    return (f"aggregate(zip_with({a}, {b}, (p, q) -> "
            f"CAST(p AS {cast}) * CAST(q AS {cast})), "
            f"CAST(0 AS {cast}), (acc, t) -> acc + t)")
