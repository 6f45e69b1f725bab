"""Physical table binding: physical table name -> DataFrame, and the
temp view the planner's SQL statement reads it through.

The reference binds facts/dims to engines (Druid/Oracle/...); here a
binding maps a physical name to a Spark DataFrame — by default parquet
files under a base directory (the driver's testdata layout), but any
DataFrame source (Delta, JDBC, a registered temp view) can be bound.

``ParquetBinding`` reads through one memo shared by every binding of a
session: one entry per (session, table path) holds the table version
(plans/versioning.py), the frame — cached when the size gates pass —
and a temp view named with the version. Concurrent requests share each
entry; a rewrite plus ``bump_table_version`` installs a new one (the
engine's own rewrites bump the version; external writers must call it
themselves). ``forget_tables`` drops entries.
"""

from __future__ import annotations

import itertools
import os
import re
import threading
from typing import Callable, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession


class View(NamedTuple):
    """A temp view over a bound table: its name, its column names, and
    whether it is shared across requests (named per table version)
    rather than owned by the current request's scope."""
    name: str
    columns: tuple[str, ...]
    shared: bool


class TableBinding:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._overrides: dict[str, Callable[[], DataFrame]] = {}

    def bind(self, name: str, loader: Callable[[], DataFrame]) -> None:
        self._overrides[name] = loader

    def table(self, name: str) -> DataFrame:
        if name in self._overrides:
            return self._overrides[name]()
        raise KeyError(f"no binding for table {name!r}")

    def view(self, name: str) -> View:
        """A view over ``table(name)``. Frames this binding does not
        memoize get a view the current ``ops.common.Scope`` drops on
        release."""
        from ..ops.common import current_scope
        df = self.table(name)
        return View(current_scope().view(df), tuple(df.columns), False)

    def has_table(self, name: str) -> bool:
        """Availability probe for candidate selection: a registered
        rollup whose physical table is not materialized here must not be
        selected."""
        return name in self._overrides


class _Entry(NamedTuple):
    """One memoized table version: the frame (cached when the size
    gates pass), its shared view, and the view of the entry it replaced
    (none or one), which in-flight statements may still name."""
    version: float
    frame: DataFrame
    view: View
    prior_views: tuple[str, ...]


# (session, path) -> the table's current entry. Module-level so it
# outlives the short-lived ParquetBinding instances load_table and the
# contract create per call. _LOCK covers lookups, installs and retires
# only; the parquet read and the size gates run outside it.
_MEMO: dict[tuple[SparkSession, str], _Entry] = {}
_LOCK = threading.Lock()
_VIEW_IDS = itertools.count()


def _memo_entry(spark: SparkSession, path: str, name: str,
                read: Callable[[str], DataFrame]) -> _Entry:
    """The entry for the current version of the table at ``path``.

    A hit is one version probe (plans/versioning.py) and one lookup.
    Versions only grow, so an entry at least as new as the probe is
    current; racing readers of one version adopt whichever entry is
    installed first and never cache their own frame. Installing a new
    version retires the old entry once: its frame is unpersisted before
    the new one is cached (Spark's CacheManager matches plans by path,
    so a stale cache would serve the rewritten table), and its view
    lives until this entry is itself replaced."""
    from ..ops.common import drop_view
    from .versioning import table_version
    key = (spark, path)
    version = table_version(path)
    with _LOCK:
        hit = _MEMO.get(key)
    if hit is not None and hit.version >= version:
        return hit
    # memoize even when not caching: the frame's resolved FileIndex
    # makes partition discovery over a 2500-directory dt layout run once
    # per table version, not once per query
    df = read(path)
    cache = _should_cache(path)
    with _LOCK:
        old = _MEMO.get(key)
        if old is not None and old.version >= version:
            return old
        if old is not None:
            old.frame.unpersist()
            for v in old.prior_views:
                drop_view(spark, v)
        if cache:
            df = df.cache()
        vname = re.sub(r"\W", "_", f"{name}__v{version:.6f}")
        view = View(f"{vname}_{next(_VIEW_IDS)}", tuple(df.columns), True)
        df.createOrReplaceTempView(view.name)
        entry = _MEMO[key] = _Entry(version, df, view,
                                    (old.view.name,) if old else ())
    return entry


def forget_tables(*paths: str) -> int:
    """Drop the memo entries of ``paths`` (every entry when none are
    named) in every session: unpersist their frames and drop their
    views. Returns how many entries were dropped."""
    from ..ops.common import drop_view
    with _LOCK:
        gone = [(k[0], _MEMO.pop(k)) for k in list(_MEMO)
                if not paths or k[1] in paths]
    for spark, e in gone:
        e.frame.unpersist(blocking=True)
        for v in (e.view.name, *e.prior_views):
            drop_view(spark, v)
    return len(gone)


def memoized_tables() -> int:
    """Entries in the memo (one per session and table)."""
    return len(_MEMO)


#: on-disk bytes ceiling for auto-caching a bound table (one of TWO
#: gates — see CACHE_MAX_ROWS_DEFAULT for the row-count gate). Dims and
#: small tables stay hot; an unbounded fact is NEVER cached by default —
#: at cluster scale caching a 100 TB scan would evict/thrash the whole
#: storage pool. Raise/lower via MAHA_SPARK_CACHE_MAX_BYTES; caching
#: itself stays env-gated on MAHA_SPARK_CACHE.
CACHE_MAX_BYTES_DEFAULT = 2 << 30


def _files(path: str) -> list[str]:
    """``path`` itself when it is a file, else every file under it.
    os.walk does not follow directory links (bench layouts symlink
    FILES, whose sizes still resolve; directory links risk cycles)."""
    if os.path.isfile(path):
        return [path]
    return [os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs]


def _size(f: str) -> int:
    try:
        return os.path.getsize(f)
    except OSError:
        return 0


def _path_bytes(path: str) -> int:
    """Total on-disk bytes of a parquet file or directory tree (cheap
    metadata walk; no data read)."""
    return sum(map(_size, _files(path)))


#: row-count ceiling for auto-caching. Spark's in-memory columnar cache
#: scans at ~60-100 Mrows/s locally vs ~300 Mrows/s marginal for the
#: vectorized parquet reader — the cache only wins while the parquet
#: scan's FIXED cost (file opens / task setup on a 2500-file dt layout)
#: dominates, i.e. while the rows a query actually SCANS stay under
#: ~110M at 32 cores (measured: tools/bench_probes/attrib_r6.json — a
#: full-table agg at 154M rows runs 2.05 s cached vs 1.20 s off
#: parquet; at 307M, 4.9 s vs 1.9 s). Requests here always carry a
#: mandatory Day window, so a query scans a FRACTION of the table: the
#: measured crossover for the windowed cube-query mix is ~230M table
#: rows (at 154M the cached run is 1.1 s faster in aggregate, at 307M
#: 1.1 s slower), and the default sits just under it. Disk bytes alone
#: CANNOT gate this: repetitive data RLE/dict-encodes ~100x, so 307M
#: rows hide behind 131 MB on disk. Size to per-executor storage memory
#: on a real cluster via MAHA_SPARK_CACHE_MAX_ROWS.
CACHE_MAX_ROWS_DEFAULT = 200_000_000

#: footer-sample size for the row estimate: first/last plus evenly
#: spaced files bound the metadata reads on a 2500-file layout
_ROWS_SAMPLE_FILES = 8


def _est_rows(path: str) -> int:
    """Estimated row count of a parquet file/tree: exact footer
    ``num_rows`` summed over a bounded sample of files, extrapolated by
    on-disk bytes (footers only — no data pages are read). Exact for a
    single file; on a multi-file tree the rows-per-byte of the sample is
    applied to the total tree size. Unreadable/non-parquet paths
    estimate 0 (the disk-bytes gate still applies)."""
    # extrapolate over parquet bytes only — _SUCCESS/metadata files must
    # not inflate the denominator's total
    files = [path] if os.path.isfile(path) else sorted(
        f for f in _files(path) if f.endswith(".parquet"))
    total_bytes = sum(map(_size, files))
    full = len(files) <= _ROWS_SAMPLE_FILES
    if not full:
        step = (len(files) - 1) / (_ROWS_SAMPLE_FILES - 1)
        files = [files[round(i * step)] for i in range(_ROWS_SAMPLE_FILES)]
    rows = sampled_bytes = 0
    try:
        import pyarrow.parquet as pq
        for f in files:
            rows += pq.ParquetFile(f).metadata.num_rows
            sampled_bytes += os.path.getsize(f)
    except Exception:
        rows = 0  # fall back to the disk-bytes gate alone
    if rows and not full and sampled_bytes:
        rows = int(rows / sampled_bytes * total_bytes)
    return rows


def _should_cache(path: str) -> bool:
    """The size gates, walked once per memo miss (a new session, path
    or table version)."""
    return (os.environ.get("MAHA_SPARK_CACHE", "1") == "1"
            and _path_bytes(path) <= int(os.environ.get(
                "MAHA_SPARK_CACHE_MAX_BYTES", CACHE_MAX_BYTES_DEFAULT))
            and _est_rows(path) <= int(os.environ.get(
                "MAHA_SPARK_CACHE_MAX_ROWS", CACHE_MAX_ROWS_DEFAULT)))


class ParquetBinding(TableBinding):
    """Reads ``{base_dir}/{name}.parquet``; falls back to a catalog table."""

    def __init__(self, spark: SparkSession, base_dir: str):
        super().__init__(spark)
        self.base_dir = base_dir

    def view(self, name: str) -> View:
        path = None if name in self._overrides else self.table_path(name)
        if path is None:
            return super().view(name)
        return _memo_entry(self.spark, path, name, self._read_parquet).view

    def table(self, name: str) -> DataFrame:
        if name in self._overrides:
            return self._overrides[name]()
        path = self.table_path(name)
        if path is None:
            return self.spark.table(name)
        return _memo_entry(self.spark, path, name, self._read_parquet).frame

    def table_path(self, name: str) -> Optional[str]:
        """On-disk location of ``name`` under this binding's layout
        rules — partitioned directory first (the 100 TB shape: read with
        partition discovery, so the planner's day bound becomes a
        PartitionFilter), flat ``{name}.parquet`` second — or None
        when neither exists (catalog tables have no path). THE single
        place that encodes the layout convention: the memo, the
        planner's sidecar probe and the advisor's freshness gate
        resolve through here instead of re-implementing it."""
        pdir = os.path.join(self.base_dir, name)
        if os.path.isdir(pdir):
            return pdir
        path = os.path.join(self.base_dir, f"{name}.parquet")
        if os.path.exists(path):
            return path
        return None

    def has_table(self, name: str) -> bool:
        if name in self._overrides:
            return True
        if self.table_path(name) is not None:
            return True
        try:
            return self.spark.catalog.tableExists(name)
        except Exception:
            return False

    def table_pruned(self, name: str, files: list[str]) -> DataFrame:
        """Read only ``files`` of table ``name`` — a data-skipping
        pruned leaf list (plans/skipping.py) — through the same
        timestamp normalization as ``table()``. ``basePath`` keeps
        ``dt=`` partition columns intact when the table is a
        partitioned directory. Deliberately uncached: a needle read is
        a different (and much smaller) file set per value."""
        paths = [f[len("file:"):] if f.startswith("file:") else f
                 for f in files]
        pdir = os.path.join(self.base_dir, name)
        reader = self.spark.read
        if os.path.isdir(pdir):
            reader = reader.option("basePath", pdir)
        return self._read_normalized(reader, paths)

    def _read_normalized(self, reader, paths: list[str]) -> DataFrame:
        # Canonical timestamp dtype is TIMESTAMP_NTZ (naive wall clock —
        # what DuckDB and the testdata parquet store).  Two non-NTZ shapes
        # get normalized so every downstream expression sees one dtype
        # regardless of the session's parquet-inference config:
        #  * TIMESTAMP(NANOS) parquet: Spark rejects it outright
        #    (PARQUET_TYPE_ILLEGAL); read as long nanos -> micros -> NTZ.
        #  * TIMESTAMP (ltz) columns (inferTimestampNTZ disabled): cast.
        # Shared by the full-table and pruned-file read paths so a fix
        # to either shape can never silently miss one of them.
        from pyspark.sql import functions as F
        ns_cols = _nano_timestamp_cols(paths[0]) if paths else []
        if ns_cols:
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong",
                                "true")
        df = reader.parquet(*paths)
        for c in ns_cols:
            df = df.withColumn(
                c, F.timestamp_micros((F.col(c) / 1000).cast("long"))
                    .cast("timestamp_ntz"))
        return normalize_timestamps(df)

    def _read_parquet(self, path: str) -> DataFrame:
        return self._read_normalized(self.spark.read, [path])


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP (ltz) column to the engine-canonical
    TIMESTAMP_NTZ so downstream date logic sees one dtype regardless of
    source format or session inference config."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp_ntz"))
    return df


class FormatBinding(TableBinding):
    """Reads ``{base_dir}/{name}.{ext}`` in any Spark batch source format
    (csv / json / orc / parquet / avro...), with the same canonical
    timestamp normalization as ParquetBinding.

    Reference parity: maha routes each physical table to an
    engine-specific executor (``core/.../query/QueryExecutor.scala:21``
    ``trait QueryExecutor { def engine: Engine }`` with Druid / Oracle /
    Presto / Hive / Postgres / Bigquery implementations); here every
    "engine" collapses to a Spark DataSource format — pass ``options``
    for format specifics (csv headers, json schemas) and ``schema`` to
    skip inference (the scale path: schema inference reads the data
    twice).
    """

    def __init__(self, spark: SparkSession, base_dir: str,
                 fmt: str = "parquet", ext: Optional[str] = None,
                 options: Optional[dict] = None, schema=None):
        super().__init__(spark)
        self.base_dir = base_dir
        self.fmt = fmt
        self.ext = ext or fmt
        self.options = dict(options or {})
        self.schema = schema

    def has_table(self, name: str) -> bool:
        return name in self._overrides or os.path.exists(
            os.path.join(self.base_dir, f"{name}.{self.ext}"))

    def table(self, name: str) -> DataFrame:
        if name in self._overrides:
            return self._overrides[name]()
        path = os.path.join(self.base_dir, f"{name}.{self.ext}")
        reader = self.spark.read.format(self.fmt).options(**self.options)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return normalize_timestamps(reader.load(path))


def _nano_timestamp_cols(path: str) -> list[str]:
    try:
        import pyarrow.parquet as pq
        schema = pq.read_schema(path)
    except Exception:
        return []
    import pyarrow as pa
    return [f.name for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]
