"""File-level data-skipping index: per-file zone maps (min/max) plus a
Bloom filter per column, stored as a small parquet sidecar — the
standard lakehouse trick (Delta data skipping, Iceberg/Hudi column
stats, ClickHouse skip indexes) for NEEDLE queries over columns the
``dt=`` partitioning cannot prune.

Why this exists at 100 TB: the fact layout is day-partitioned, so Day
bounds prune directories for free (``plans/scale.py``), but a point
lookup on a non-partition column (``user_id = X`` across two years —
the audit/abuse-investigation shape) still opens every file in the
window. Parquet's own row-group stats only help AFTER a file is opened;
on ~10^5 files the planning+open cost dominates. A sidecar with one row
per (file, column) lets the driver shrink the file list BEFORE the scan
— the same file-planning step Spark already does against the Hive
partition tree, extended with value-level stats.

Design constraints honored:

* **No false negatives.** Zone maps are exact bounds; the Bloom filter
  only ever says "definitely absent" or "maybe present". A file is
  dropped only when the value is outside [min, max] OR any of its
  ``hashes`` bit positions is unset. Equality of ``needle_scan`` with
  the full-table filter is therefore guaranteed, and pinned in tests.
* **Mergeable, partition-incremental build.** The index is built with
  one grouped aggregation per column over ``_metadata.file_path`` — the
  Bloom bitset is OR-merged per 64-bit word (``bit_or`` of
  ``shiftleft``), pure codegen, no ``collect_set`` of per-file value
  sets (whose state would scale with per-file ndv). ``days=`` rebuilds
  only the restated ``dt=`` directories — the same incremental contract
  as ``refresh_rollup`` — and the sidecar swap is atomic per
  column file.
* **Driver-side probe is O(index).** The sidecar has one row per
  (file, column): ~10^5-10^6 rows at 100 TB — the probe is a filter +
  collect of FILE PATHS, the exact shape of normal file planning, not
  of data.

Bloom sizing: with ``bits`` per file and ``hashes`` probes, the
false-positive rate for a file holding n distinct values is
``(1 - e^(-hashes*n/bits))^hashes`` — at the 4096/5 defaults, ~2% for
n=400, so mis-kept files cost a bounded extra open, never correctness.

Hashing is md5-derived (identical in Spark SQL and Python's hashlib),
so the driver-side probe computes the same positions the build stored
without a JVM round-trip. Index integer/string/date columns — types
whose Python ``str(value)`` matches Spark's ``CAST(v AS STRING)``;
floats are deliberately out of scope (representation-sensitive, and a
float equality needle is a smell anyway).

One policy decides every prune: ``request_needles`` (which conjuncts of
a request may prune) and ``prune_needles`` (which files they keep). The
planner, ``needle_scan`` and the skip advisor
(``registry/skip_advisor.py``) ask these two instead of re-stating
them.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import threading
from typing import Any, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.columns import DimCol
from ..core.filters import (BetweenFilter, EqualityFilter, GreaterThanFilter,
                            InFilter, IsNullFilter, LessThanFilter)
from ..core.types import DateType, IntType, StrType

#: defaults shared by build and probe — both sides must agree, exactly
#: like HLL_LG_K for sketch partials (core/rollup.py)
SKIP_BITS = 4096
SKIP_HASHES = 5


def _pos_py(value: Any, i: int, bits: int) -> int:
    """Bit position i for a value: first 8 md5 hex chars of ``value:i``
    as an int, mod ``bits`` — the exact Python twin of the build's SQL
    spelling (md5 of CAST(v AS STRING) || ':' || i). NULLs contribute
    no position (the zone map's null_count covers IS NULL probes)."""
    h = hashlib.md5(f"{value}:{i}".encode()).hexdigest()
    return int(h[:8], 16) % bits


def _index_path(index_dir: str, col: str) -> str:
    return os.path.join(index_dir, f"skip_{col}.parquet")


def table_index_dir(base_dir: str, table: str) -> str:
    """Conventional sidecar location the PLANNER probes: a maintenance
    job that builds indexes under ``{data_dir}/_skipidx/{table}/`` makes
    every engine request with a needle (``request_needles``) on an
    indexed column prune its fact scan automatically."""
    return os.path.join(base_dir, "_skipidx", table)


def _mtime_path(index_dir: str, col: str) -> str:
    return os.path.join(index_dir, f"skip_{col}.srcmtime")


def _record_src_mtime(index_dir: str, col: str, mtime: float) -> None:
    """Freshness is recorded PER COLUMN (a partial-column rebuild must
    not mark other columns' sidecars fresh) with the mtime observed
    BEFORE the build read its source snapshot (a rewrite landing
    mid-build leaves the record older than the root, correctly
    reading as stale)."""
    try:
        with open(_mtime_path(index_dir, col), "w") as f:
            f.write(repr(mtime))
    except OSError:
        pass


def _built_mtime(index_dir: str, col: str) -> Optional[float]:
    """The source-root mtime snapshot recorded when ``col``'s sidecar was
    built, or None when absent/unreadable."""
    try:
        with open(_mtime_path(index_dir, col)) as f:
            return float(f.read().strip())
    except (OSError, ValueError):
        return None


def index_stale(table_dir: str, index_dir: str, col: str) -> bool:
    """True when the table has been rewritten since ``col``'s sidecar
    was built — a stale index can FALSE-NEGATIVE (a restated day's new
    files are unknown to it), so stale means fall back to the full
    scan, never prune. Detection is the table VERSION
    (plans/versioning.py: the explicit ``_table_version`` stamp every
    engine-maintained rewrite bumps — ``overwrite_day_partitions`` and
    through it compaction, ``refresh_rollup``, the
    materializers — with root mtime as the local-FS fallback; object
    stores have no directory mtime, the stamp is the portable
    contract). External writers that mutate day directories without
    bumping the version must refresh the index (or call
    ``bump_table_version``) themselves — the same caller contract the
    binding's DataFrame cache documents."""
    from .versioning import table_version

    built = _built_mtime(index_dir, col)
    if built is None:
        return True     # no/unreadable record: never trust the sidecar
    v = table_version(table_dir)
    return v < 0 or v > built + 1e-6


def build_skipping_index(spark: SparkSession, table_dir: str,
                         cols: list[str], index_dir: str,
                         bits: int = SKIP_BITS,
                         hashes: int = SKIP_HASHES,
                         days: Optional[list[str]] = None) -> list[str]:
    """Build (or incrementally refresh) the sidecar for ``cols`` over the
    parquet table at ``table_dir``. Returns the sidecar paths.

    One pass per column: rows -> (file, word, bitmask) via a literal
    hash-index explode (Generate-safe: the exploded sequence is a
    literal, the md5 is evaluated post-explode), ``bit_or`` per word,
    then one row per file carrying the zone map and the bitset as a
    word map. With ``days``, only files under the restated ``dt=``
    directories are re-indexed and other files' rows are carried over —
    the sidecar swap stays atomic per column (write tmp, rename).
    """
    from .versioning import table_version

    os.makedirs(index_dir, exist_ok=True)
    # freshness snapshot BEFORE the source read: a rewrite landing
    # mid-build leaves the recorded version older than the table's, so
    # the sidecar correctly reads as stale afterwards
    src_mtime = max(table_version(table_dir), 0.0)
    # ONE read handle: the days filter derives from it, so the param-
    # mismatch full-rebuild path reuses the same file listing instead of
    # paying a second InMemoryFileIndex over ~10^5 files
    full_src = spark.read.parquet(table_dir)
    src = full_src.filter(F.col("dt").isin(days)) if days is not None \
        else full_src
    out_paths = []
    for col in cols:
        path = _index_path(index_dir, col)
        col_days = days
        if days is not None and os.path.exists(path) \
                and not _sidecar_params_match(path, bits, hashes):
            # the existing sidecar was built with different bits/hashes:
            # unioning carried-over rows with this build's would mix
            # parameters the probe cannot safely test — rebuild this
            # column FULLY at the new parameters instead
            col_days = None
        source = src if col_days is not None else full_src
        # _metadata.file_path, NOT input_file_name(): a cached copy of
        # the table (the binding caches small tables) would be
        # substituted for the plain read by Spark's cache manager, and
        # input_file_name() is EMPTY on InMemoryRelation rows — the
        # metadata column cannot be served from such a cache, so the
        # build always sees real file paths
        base = (source.select(F.col("_metadata.file_path").alias("file"),
                              F.col(col).alias("v"))
                .withColumn("dt_dir", F.element_at(
                    F.split(F.col("file"), "/"), -2)))
        zones = (base.groupBy("file", "dt_dir")
                 .agg(F.min("v").alias("v_min"),
                      F.max("v").alias("v_max"),
                      F.count(F.lit(1)).alias("n_rows"),
                      F.sum(F.when(F.col("v").isNull(), 1)
                            .otherwise(0)).alias("null_count")))
        # Generate-safe: explode a LITERAL hash-index sequence and
        # compute the single md5 in the Project AFTER the Generate —
        # exploding an array of computed md5 expressions would inline
        # them into GenerateExec and re-evaluate all `hashes` hashes per
        # emitted row (the explode-inlining trap pinned in
        # tests/test_plan_shape.py). Hash DISTINCT (file, value) pairs,
        # not rows: the Bloom is an OR of per-value masks, so the
        # bitset is bit-identical while the md5 work drops from
        # O(rows x hashes) to O(per-file ndv x hashes) — on a
        # row-multiplied fact (duplicate-heavy at any scale) that is
        # the difference between the index build costing a multiple of
        # the table scan and costing barely more than the zone-map pass
        words = (base.filter(F.col("v").isNotNull())
                 .select("file", "v").distinct()
                 .selectExpr("file", "v",
                             f"explode(sequence(0, {hashes - 1})) AS hi")
                 .selectExpr(
                     "file",
                     "CAST(conv(substr(md5(concat(CAST(v AS STRING), "
                     f"':', CAST(hi AS STRING))), 1, 8), 16, 10) "
                     f"AS BIGINT) % {bits} AS pos")
                 .selectExpr("file", "CAST(pos DIV 64 AS INT) AS word",
                             "shiftleft(CAST(1 AS BIGINT), "
                             "CAST(pos % 64 AS INT)) AS mask")
                 .groupBy("file", "word")
                 .agg(F.expr("bit_or(mask)").alias("bits"))
                 .groupBy("file")
                 .agg(F.map_from_entries(
                     F.collect_list(F.struct("word", "bits")))
                     .alias("bloom")))
        idx = (zones.join(words, "file", "left_outer")
               .withColumn("bits_m", F.lit(bits))
               .withColumn("hashes", F.lit(hashes)))
        if col_days is not None and os.path.exists(path):
            # a restated day's directory is rewritten wholesale (file
            # names change), so carry-over is keyed on the dt= DIRECTORY
            # not the file name — stale rows for replaced files would
            # otherwise keep dead paths in the index forever. Carried
            # rows are additionally restricted to directories still ON
            # DISK: a full-day deletion (the overwrite_day_partitions
            # caveat) removes the dt= dir without restating it, and a
            # kept row for a dead path would make the pruned scan read
            # a nonexistent file
            live = [d for d in os.listdir(table_dir)
                    if d.startswith("dt=")] \
                if os.path.isdir(table_dir) else []
            prev = spark.read.parquet(path)
            keep = prev.filter(
                ~F.col("dt_dir").isin([f"dt={d}" for d in col_days])
                & F.col("dt_dir").isin(live))
            idx = keep.unionByName(idx)
        tmp = path + ".tmp"
        idx.coalesce(1).write.mode("overwrite").parquet(tmp)
        import shutil
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        # in-process probes must not serve the replaced sidecar even on
        # filesystems whose mtime granularity can't distinguish two
        # rebuilds in one tick
        with _SIDECAR_LOCK:
            _SIDECAR_CACHE.pop(path, None)
        _record_src_mtime(index_dir, col, src_mtime)
        out_paths.append(path)
    return out_paths


def _sidecar_params(path: str) -> Optional[tuple[int, int]]:
    """The single (bits, hashes) every row of the sidecar was built
    with, or None when rows mix parameters / the sidecar is unreadable
    / it is empty — callers must then rebuild fully, never union."""
    try:
        import pyarrow.parquet as pq
        t = pq.read_table(path, columns=["bits_m", "hashes"])
        pairs = set(zip(t.column("bits_m").to_pylist(),
                        t.column("hashes").to_pylist()))
    except Exception:
        return None
    if len(pairs) != 1:
        return None
    b, h = next(iter(pairs))
    return int(b), int(h)


def _sidecar_params_match(path: str, bits: int, hashes: int) -> bool:
    """True when every row of the existing sidecar was built with
    exactly (bits, hashes) — the precondition for unioning carried-over
    rows with a new incremental build."""
    return _sidecar_params(path) == (bits, hashes)


def index_file_count(index_dir: str, col: str) -> Optional[int]:
    """Number of files the sidecar indexes for ``col`` (footer-only
    metadata read), or None when no index exists — callers compare a
    prune result against it to skip no-benefit pruning (a low-
    selectivity needle that keeps every file should use the normal,
    cacheable scan)."""
    path = _index_path(index_dir, col)
    hit = _SIDECAR_CACHE.get(path)
    if hit is not None:
        try:
            if os.stat(path).st_mtime_ns == hit[0]:
                # the probe just loaded (and memoized) the whole sidecar
                # — its row count is free; don't re-parse footers on the
                # hot per-request planning path
                return len(hit[1]["file"])
        except OSError:
            return None
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq
    files = [os.path.join(path, f) for f in os.listdir(path)
             if f.endswith(".parquet")] if os.path.isdir(path) else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


#: memoized sidecar tables keyed by path -> (mtime, pydict). A needle
#: workload probes the same sidecar on every request; re-parsing the
#: parquet per request is pure waste, and the atomic rename that swaps
#: a rebuilt sidecar moves the path's mtime, which invalidates here.
#: Entry cap is deliberately SMALL: at 10^6 indexed files one decoded
#: sidecar (bloom word maps included) can run to ~1 GB of driver heap —
#: resident copies, not the per-probe transient, are what the cap
#: bounds. FIFO eviction; a hot workload probes few distinct sidecars.
#: _SIDECAR_LOCK makes each eviction and insert one step for concurrent
#: planners.
_SIDECAR_CACHE: dict[str, tuple[float, dict]] = {}
_SIDECAR_CACHE_MAX = 16
_SIDECAR_LOCK = threading.Lock()


def _load_sidecar(path: str) -> Optional[dict]:
    if not os.path.exists(path):
        return None
    try:
        # nanosecond mtime: two rebuilds inside a coarse-mtime window
        # must not serve the first rebuild's rows (build_skipping_index
        # also busts this cache explicitly after its rename)
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        return None
    hit = _SIDECAR_CACHE.get(path)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    import pyarrow.parquet as pq
    cols = pq.read_table(path).to_pydict()
    # Bloom positions are mod bits_m with `hashes` probes — BOTH stored
    # per row. Rows with mixed parameters (an incremental rebuild run
    # with different bits/hashes unioned with carried-over rows) would
    # be tested at the wrong positions and could false-negative;
    # validate ONCE at load (cached) and let probes abstain.
    cols["_mixed_params"] = len(
        set(zip(cols.get("bits_m", ()), cols.get("hashes", ())))) > 1
    with _SIDECAR_LOCK:
        _SIDECAR_CACHE.pop(path, None)
        if len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_MAX:
            del _SIDECAR_CACHE[next(iter(_SIDECAR_CACHE))]
        _SIDECAR_CACHE[path] = (mtime, cols)
    return cols


def _is_nan(x) -> bool:
    return isinstance(x, float) and x != x


def prune_files(spark: SparkSession, index_dir: str, col: str,
                value: Any) -> Optional[list[str]]:
    """File paths that MAY contain ``col = value`` per the sidecar, or
    None when no index exists for the column (caller falls back to the
    full scan). Guaranteed superset of the files that DO contain it.

    The probe is DRIVER-SIDE pyarrow, not a Spark job: the sidecar has
    one row per (file, column) by construction, so even a 100 TB
    layout's index is ~10^5-10^6 rows — milliseconds to scan in-process,
    while a Spark job would pay scheduler+stage overhead per needle (it
    measurably LOST to the plain filter at small scale). This is the
    same altitude as Spark's own driver-side partition pruning: file
    planning happens on the driver, data processing on executors.
    (``spark`` is kept in the signature for API stability; the probe
    does not use it.)"""
    return prune_files_any(spark, index_dir, col, [value])


def prune_files_any(spark: SparkSession, index_dir: str, col: str,
                    values: list[Any]) -> Optional[list[str]]:
    """Union of ``prune_files`` over an IN-list, reading the sidecar
    ONCE (per-value re-reads would multiply the driver-side planning
    cost by the list length)."""
    cols = _load_sidecar(_index_path(index_dir, col))
    if cols is None or cols["_mixed_params"]:
        # mixed bits/hashes rows cannot be probed safely — fall back to
        # the full scan until a consistent rebuild lands
        return None
    if not cols["file"] or not values:
        return []
    bits_m, hashes = int(cols["bits_m"][0]), int(cols["hashes"][0])
    pos = {v: [_pos_py(v, i, bits_m) for i in range(hashes)]
           for v in values}
    out: list[str] = []
    for i, f in enumerate(cols["file"]):
        v_min, v_max = cols["v_min"][i], cols["v_max"][i]
        if v_min is None:
            continue
        bloom = None
        for v in values:
            try:
                # NaN bounds abstain: Spark orders NaN ABOVE every
                # double (a file holding one NaN gets v_max = NaN),
                # while every Python NaN comparison is False — trusting
                # the interval test would drop files that DO contain
                # real values. The Bloom check below still prunes.
                if not (_is_nan(v_min) or _is_nan(v_max)
                        or _is_nan(v)) and not (v_min <= v <= v_max):
                    continue
            except TypeError:
                # cross-type needle (e.g. "13" against an int column):
                # the zone map can't decide, but the Bloom check below
                # still can — str(13) and "13" hash identically — and
                # keeping the file is always the safe (superset)
                # direction
                pass
            if bloom is None:
                bloom = dict(cols["bloom"][i] or ())
            # stored words are signed int64; Python's sign extension
            # makes bit 63 read correctly without normalization
            if all((bloom.get(p // 64, 0) or 0) >> (p % 64) & 1
                   for p in pos[v]):
                out.append(f)
                break
    return out


def prune_files_range(spark: SparkSession, index_dir: str, col: str,
                      lo: Any = None, hi: Any = None,
                      lo_inclusive: bool = True,
                      hi_inclusive: bool = True) -> Optional[list[str]]:
    """Zone-map pruning for RANGE needles (``>``, ``<``, ``between``):
    a file survives when its [v_min, v_max] interval intersects the
    probe range. All-null files are dropped (range predicates are
    null-false); cross-type comparisons abstain (keep — the safe
    superset direction). Same driver-side pyarrow altitude as
    ``prune_files``; the Bloom filter plays no part here."""
    cols = _load_sidecar(_index_path(index_dir, col))
    if cols is None:
        return None
    import operator
    lo_op = operator.ge if lo_inclusive else operator.gt
    hi_op = operator.le if hi_inclusive else operator.lt
    out: list[str] = []
    for i, f in enumerate(cols["file"]):
        v_min, v_max = cols["v_min"][i], cols["v_max"][i]
        if v_min is None:
            continue
        if _is_nan(v_min) or _is_nan(v_max) or _is_nan(lo) or _is_nan(hi):
            # NaN bounds/probes abstain: Spark orders NaN above every
            # double (so `col > 1000` MATCHES a NaN row), while Python
            # NaN comparisons are all False — the interval test would
            # false-negative. Keep the file.
            out.append(f)
            continue
        try:
            if lo is not None and not lo_op(v_max, lo):
                continue
            if hi is not None and not hi_op(v_min, hi):
                continue
        except TypeError:
            pass        # cross-type probe: abstain, keep the file
        out.append(f)
    return out


def prune_files_null(spark: SparkSession, index_dir: str,
                     col: str) -> Optional[list[str]]:
    """Files that may contain NULL ``col`` values (``IS NULL`` needles):
    the sidecar's exact per-file null_count makes this lossless."""
    cols = _load_sidecar(_index_path(index_dir, col))
    if cols is None:
        return None
    return [f for i, f in enumerate(cols["file"])
            if (cols["null_count"][i] or 0) > 0]


# ------------------------------------------------------------- policy

#: operator of the dim-driven page-key needle
PAGE_KEYS = "dim-driven-page"

#: sentinel for _canon_needle: the needle's string form may not match
#: Spark's CAST(stored AS STRING) — never prune on it
_SKIP = object()


def _canon_supported(dtype) -> bool:
    """Dtypes whose equality/IN needles canonicalize (``_canon_needle``):
    int, string, date. Everything else (decimals, timestamps) abstains,
    so only range/null needles prune on such a column."""
    return isinstance(dtype, (IntType, StrType, DateType))


def _canon_needle(dtype, value):
    """Canonicalize an equality/IN needle so ``str(value)`` matches the
    string Spark's CAST(stored AS STRING) produced at Bloom-build time —
    a mismatch would prune files that DO contain the value. Int columns
    take ints, integral floats and digit strings; string columns only
    strings ('013' = 13 compares numerically, invisible to the Bloom);
    date columns date objects and 'YYYY-M-D' strings. Anything else is
    the _SKIP sentinel."""
    if isinstance(dtype, IntType):
        if isinstance(value, bool):
            return _SKIP
        if isinstance(value, int):
            return value
        if isinstance(value, float) and value.is_integer():
            return int(value)
        if isinstance(value, str):
            try:
                return int(value, 10)
            except ValueError:
                return _SKIP
        return _SKIP
    if isinstance(dtype, StrType):
        return value if isinstance(value, str) else _SKIP
    if isinstance(dtype, DateType):
        if isinstance(value, _dt.datetime):    # before date: subclass
            return _SKIP
        if isinstance(value, _dt.date):
            return value
        if isinstance(value, str):
            try:
                return _dt.datetime.strptime(value, "%Y-%m-%d").date()
            except ValueError:
                return _SKIP
        return _SKIP
    return _SKIP


def _canon_values(dtype, values) -> Optional[tuple]:
    """The canonical needles, or None when any may hash off the stored
    form (the whole needle abstains)."""
    canon = tuple(_canon_needle(dtype, v) for v in values)
    return None if any(c is _SKIP for c in canon) else canon


class Needle(NamedTuple):
    """One conjunct the sidecar of ``column`` may prune on.
    ``operator`` is the request filter's (``=``, ``in``, ``>``, ``<``,
    ``between``, ``isnull``) or PAGE_KEYS. ``values``: the canonical
    ``=``/IN values or page keys; a range's bound(s) in operator order;
    None for page keys not collected yet (such a needle never prunes)."""
    column: str
    operator: str
    values: Optional[tuple] = ()


def _eligible(table, name: Optional[str]) -> Optional[DimCol]:
    """The column ``name`` when its sidecar may prune: a plain stored
    DimCol — no derived expression or static mapping (their values
    differ from the stored bytes), not case-insensitive (the index
    hashes exact values), not the day or a partition column (directory
    pruning serves those)."""
    col = table.columns.get(name) if name else None
    if not isinstance(col, DimCol) or col.case_insensitive \
            or col.dtype.has_static_mapping or col.is_day_column \
            or name in table.partition_columns:
        return None
    return col


def _filter_needle(name: str, col: DimCol, f) -> Optional[Needle]:
    """The needle of one fact filter on an eligible column, or None for
    a shape no sidecar serves or a value that may hash off the stored
    form."""
    if isinstance(f, (EqualityFilter, InFilter)):
        canon = _canon_values(col.dtype, (f.value,) if isinstance(
            f, EqualityFilter) else f.values)
        return None if canon is None else Needle(name, f.operator, canon)
    if isinstance(f, (GreaterThanFilter, LessThanFilter)):
        return Needle(name, f.operator, (f.value,))
    if isinstance(f, BetweenFilter):
        return Needle(name, f.operator, (f.from_value, f.to_value))
    if isinstance(f, IsNullFilter):
        return Needle(name, f.operator)
    return None


def request_needles(model, page_keys: Optional[list] = None
                    ) -> list[Needle]:
    """The conjuncts of ``model`` a sidecar of its fact table may prune
    on — what the planner prunes with and the advisor counts.

    None at all for a request that reads no single physical fact (a
    dim-only request, a union-view fact) or one in a shifted timezone
    (its filters are LOCAL-day expressions over stored UTC values the
    sidecar never saw — it abstains, as rollup serving does). Otherwise
    one needle per ``=``/IN/``>``/``<``/between/IS NULL fact filter on
    an eligible column (top-level filters are conjunctive; an Or
    combinator never matches a column), plus, on a dim-driven request
    whose dim side is paginated to a bounded page, the driving fk's
    PAGE_KEYS needle: ``page_keys`` are the page's collected key values,
    None before the collect."""
    table = model.fact_table
    if model.is_dim_only or table.parts or model.timezone \
            or model.utc_shifted:
        return []
    out = []
    for f in model.fact_filters:
        pub = model.cube.col_by_alias(f.field) \
            if hasattr(f, "field") else None
        name = pub.name if pub is not None else getattr(f, "field", None)
        col = _eligible(table, name)
        needle = _filter_needle(name, col, f) if col is not None else None
        if needle is not None:
            out.append(needle)
    if model.is_dim_driven and not model.request_distinct \
            and model.max_rows >= 0:
        fk = model.chains[0].fact_fk_col
        col = _eligible(table, fk)
        if col is not None and _canon_supported(col.dtype):
            keys = None if page_keys is None else _canon_values(
                col.dtype, [v for v in page_keys if v is not None])
            if page_keys is None or keys:
                out.append(Needle(fk, PAGE_KEYS, keys))
    return out


def sidecar_fresh(index_dir: str, table_dir: str, col: str) -> bool:
    """True when ``col`` has a sidecar built since the table's last
    rewrite (``index_stale``) — the only kind that may prune."""
    return os.path.exists(_index_path(index_dir, col)) \
        and not index_stale(table_dir, index_dir, col)


def _probe(index_dir: str, n: Needle) -> Optional[list[str]]:
    """The files one needle keeps, through its sidecar algorithm's probe
    (None = no sidecar)."""
    if n.operator == ">":
        return prune_files_range(None, index_dir, n.column,
                                 lo=n.values[0], lo_inclusive=False)
    if n.operator == "<":
        return prune_files_range(None, index_dir, n.column,
                                 hi=n.values[0], hi_inclusive=False)
    if n.operator == "between":
        return prune_files_range(None, index_dir, n.column,
                                 lo=n.values[0], hi=n.values[1])
    if n.operator == "isnull":
        return prune_files_null(None, index_dir, n.column)
    return prune_files_any(None, index_dir, n.column, list(n.values))


def prune_needles(index_dir: str, table_dir: str,
                  needles: list[Needle]) -> Optional[list[str]]:
    """The files of the table at ``table_dir`` a conjunction of needles
    keeps: None = read the whole table, [] = the sidecars prove the
    conjunction unsatisfiable, else the sorted kept files.

    Only fresh sidecars prune (a stale one may miss a rewrite's files);
    per-needle keep sets intersect. When at least half the files
    survive, pruning loses: an N-root-path read lists each root
    separately and loses to the one-root (cacheable) scan — None."""
    kept_sets: list[set[str]] = []
    totals: list[int] = []
    for n in needles:
        if n.values is None \
                or not sidecar_fresh(index_dir, table_dir, n.column):
            continue
        files = _probe(index_dir, n)
        if files is None:
            continue
        kept_sets.append(set(files))
        total = index_file_count(index_dir, n.column)
        if total is not None:
            totals.append(total)
    if not kept_sets:
        return None
    kept = set.intersection(*kept_sets)
    if not kept:
        return []
    if totals and len(kept) * 2 >= min(totals):
        return None
    return sorted(kept)


def needle_scan(spark: SparkSession, table_dir: str, index_dir: str,
                col: str, value: Any) -> DataFrame:
    """``SELECT * FROM table WHERE col = value`` over the files
    ``prune_needles`` keeps for the needle. Identical rows to the full
    scan (no false negatives by construction); the residual filter still
    applies because surviving files may be Bloom false positives.

    When the index proves the value absent, the full table is read under
    ``WHERE false`` — a footer-only plan with the correct schema."""
    files = prune_needles(index_dir, table_dir, [Needle(col, "=", (value,))])
    if not files:
        return spark.read.parquet(table_dir).filter(
            F.lit(False) if files == [] else F.col(col) == F.lit(value))
    # basePath keeps directory-derived partition columns (dt=) intact
    # when reading an explicit leaf-file list; a FLAT single-file table
    # has no directory-derived columns and basePath rejects non-dirs.
    # Schema is inferred from the KEPT files only — resolving the full
    # table for its schema would re-list ~10^5 files per needle, the
    # exact cost the index exists to avoid.
    reader = spark.read
    if os.path.isdir(table_dir):
        reader = reader.option("basePath", table_dir)
    return (reader.parquet(*files)
            .filter(F.col(col) == F.lit(value)))


def indexed_columns(index_dir: str) -> list[str]:
    """Columns carrying a sidecar under ``index_dir`` — the maintenance
    loop rediscovers what to refresh from the directory itself instead
    of requiring callers to re-state the column list every cycle."""
    if not os.path.isdir(index_dir):
        return []
    return sorted(f[len("skip_"):-len(".parquet")]
                  for f in os.listdir(index_dir)
                  if f.startswith("skip_") and f.endswith(".parquet"))


def refresh_skipping_index(spark: SparkSession, table_dir: str,
                           index_dir: str,
                           days: Optional[list[str]] = None) -> list[str]:
    """Incrementally refresh EVERY existing sidecar for the table — the
    maintenance twin of ``build_skipping_index`` that the day-partition
    upkeep jobs (incremental rollup refresh, compaction, streaming-append
    drains) call after rewriting data.

    With ``days=None`` the changed set is AUTO-DETECTED per column: a
    ``dt=`` directory whose mtime is newer than that column's recorded
    build snapshot was rewritten since the sidecar was built (every
    engine-maintained rewrite creates/replaces files inside the day
    directory, which bumps its mtime) and gets re-indexed; untouched
    days carry over. A full-day DELETION leaves no directory to detect —
    those are caught by diffing the sidecar's ``dt_dir`` set against
    disk, and the rebuild's carry-over purges the dead rows (kept rows
    for dead paths would make a pruned scan read nonexistent files). A
    column with NO stale days and no deletions only has its freshness
    record re-stamped (the table-root mtime moves on every rewrite even
    when this column's days all carried over).

    Returns the refreshed sidecar paths. At 100 TB this is the contract
    that keeps needle queries fast forever: each cycle re-indexes only
    the restated days (cost ∝ churn, not table size), and the planner's
    staleness gate guarantees correctness in the window between a
    rewrite and the next refresh (falls back to the full scan, never
    prunes on a stale sidecar)."""
    cols = indexed_columns(index_dir)
    if not cols or not os.path.isdir(table_dir):
        return []
    day_dirs = [d for d in os.listdir(table_dir) if d.startswith("dt=")]
    if not day_dirs:
        # flat (non-partitioned) table: no per-day increments possible —
        # full rebuild of every sidecar, each at ITS OWN stored sizing
        # (a maintenance refresh must not downgrade a custom-sized
        # Bloom back to the defaults)
        out = []
        flat_groups: dict[Optional[tuple[int, int]], list[str]] = {}
        for col in cols:
            flat_groups.setdefault(
                _sidecar_params(_index_path(index_dir, col)),
                []).append(col)
        for params, gcols in flat_groups.items():
            kw = {"bits": params[0], "hashes": params[1]} \
                if params is not None else {}
            out.extend(build_skipping_index(
                spark, table_dir, gcols, index_dir, **kw))
        return out
    out: list[str] = []
    live = set(day_dirs)
    # table-version snapshot taken BEFORE the day-dir scan: a rewrite
    # landing mid-refresh bumps the version past this value, so a
    # re-stamp below can never mark that rewrite indexed (the same
    # ordering build_skipping_index uses for its own freshness record)
    from .versioning import table_version as _tv
    _v = _tv(table_dir)
    root_snapshot = _v if _v >= 0 else None
    # group columns by (stored sizing, changed-day set): sidecars built
    # together share a snapshot, so the common case is ONE build call
    # (and one source read) covering every column, AT EACH COLUMN'S OWN
    # stored (bits, hashes) — a refresh must not downgrade a
    # custom-sized Bloom to the defaults. Days key None = full rebuild;
    # a tuple (possibly EMPTY — pure-deletion case) = days-scoped
    # rebuild whose carry-over purges dead dt_dirs.
    groups: dict[tuple[Optional[tuple[int, int]],
                       Optional[tuple[str, ...]]], list[str]] = {}
    for col in cols:
        params = _sidecar_params(_index_path(index_dir, col))
        built = _built_mtime(index_dir, col)
        if built is None or params is None:
            # never built / unreadable record / MIXED parameters: the
            # carried-over rows cannot be trusted — FULL rebuild even
            # under an explicit days scope. A mixed sidecar (params
            # None) rebuilds at the defaults, HEALING the probe's
            # otherwise-permanent full-scan abstention on a table whose
            # days never change again.
            groups.setdefault((params, None), []).append(col)
            continue
        if days is not None:
            changed = sorted(days)
        else:
            # changed-day detection via per-day-dir mtimes is the
            # LOCAL-FS convenience path (object stores have no dir
            # mtime — pass explicit `days` there, which every engine
            # rewrite primitive returns). The 1e-3 slack errs toward
            # re-indexing: stamp versions can run up to 1ms ahead of
            # the wall clock (versioning.py), and re-indexing an
            # unchanged day is idempotent cost while missing a changed
            # one would freeze a false-fresh sidecar
            changed = []
            for d in day_dirs:
                try:
                    if os.path.getmtime(
                            os.path.join(table_dir, d)) > built - 1e-3:
                        changed.append(d.split("=", 1)[1])
                except OSError:
                    continue    # raced a deletion: carry-over drops it
            changed = sorted(changed)
        if not changed and not _sidecar_dead_dirs(index_dir, col, live):
            # nothing to re-index and no dead rows — the root mtime
            # moved (the rewrite that triggered this refresh), so just
            # re-stamp freshness and the planner keeps pruning
            if root_snapshot is None:
                continue
            _record_src_mtime(index_dir, col, root_snapshot)
            out.append(_index_path(index_dir, col))
            continue
        groups.setdefault((params, tuple(changed)), []).append(col)
    for (params, key), group_cols in groups.items():
        kw = {"bits": params[0], "hashes": params[1]} \
            if params is not None else {}
        out.extend(build_skipping_index(
            spark, table_dir, group_cols, index_dir,
            days=list(key) if key is not None else None, **kw))
    return out


def _sidecar_dead_dirs(index_dir: str, col: str, live: set[str]) -> bool:
    """True when ``col``'s sidecar holds rows for a ``dt=`` directory no
    longer on disk (a full-day deletion). Driver-side pyarrow read of
    the one small dt_dir column."""
    path = _index_path(index_dir, col)
    if not os.path.exists(path):
        return False
    import pyarrow.parquet as pq
    dirs = set(pq.read_table(path, columns=["dt_dir"])
               .column("dt_dir").to_pylist())
    return bool(dirs - live - {None})
