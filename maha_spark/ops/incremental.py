"""Incremental near-duplicate detection: dedup a NEW document batch
against a persisted corpus index without re-LSHing the corpus.

The batch kernel (``dedup.dedup_minhash_lsh``) recomputes shingles,
signatures, and bucket rows for every document on every run — fine for a
one-shot sweep, wrong for the production crawl-ingest loop where a daily
batch arrives against a corpus that is orders of magnitude larger. The
incremental flow persists the two reusable artifacts once:

* ``dedup_bands``    — (doc_id, band, key): the LSH bucket rows
  (12 bands x 2 rows over k=24 minhash permutations, identical
  construction to the batch kernel via ``dedup.lsh_band_frame``);
* ``dedup_shingles`` — (doc_id, sh): the raw shingle sets used for exact
  Jaccard verification. Raw strings, not re-hashed values, so the
  verified jaccard is bit-identical to the batch kernel's (the 28-bit
  candidate hashes can birthday-collide within a document; verification
  must not inherit that).

Each new batch then computes its OWN bands/shingles (cost proportional
to the batch), joins bands against the index for new-vs-corpus
candidates plus a self-join for new-vs-new, verifies exactly, and
appends its rows to the index for the next batch.

Scale: the band join is keyed on (band, key) — at warehouse scale the
index is written bucketed on that key (``plans/scale.write_bucketed``)
so the corpus side never reshuffles; the shingle store is only ever
joined on candidate doc_ids (a candidate-sized shuffle, never a corpus
scan). Restating an index day (re-crawled documents) is the
``plans/scale.overwrite_day_partitions`` pattern — append assumes
doc_ids are new; a re-crawled doc_id must be restated, not re-appended.

Reference parity: the reference has no incremental dedup (its dedup
surface is the druid-lookups dimension refresh); this is a net-new
§2.12 training-data operator, verified against the batch kernel in
tests/test_dedup_incremental.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .dedup import lsh_band_frame, lsh_shingle_frame, verified_jaccard_pairs

BANDS_TABLE = "dedup_bands"
SHINGLES_TABLE = "dedup_shingles"
#: On-disk index format version. v2 = the r12 band-key change (md5 hex
#: string -> packed bigint slots): a v1 index joined against v2 batch
#: bands casts string-vs-bigint, silently nulling every new-vs-corpus
#: candidate, and an append would write mixed-schema parquet into the
#: same directory. The marker file makes the mismatch fail FAST with a
#: rebuild instruction instead. It is written LAST during a rebuild, so
#: it doubles as the completion marker: a crash between the two table
#: writes leaves no marker and readers re-materialize instead of
#: trusting a half-built directory.
INDEX_FORMAT = "v2-longkey"
FORMAT_MARKER = "_MAHA_INDEX_FORMAT"


def check_index_format(index_dir: str) -> None:
    """Fail fast when ``index_dir`` holds an index whose band-key format
    predates :data:`INDEX_FORMAT` (or whose rebuild never completed)."""
    if not os.path.exists(os.path.join(index_dir, BANDS_TABLE)):
        return  # no index yet — callers materialize on demand
    marker = os.path.join(index_dir, FORMAT_MARKER)
    found = None
    if os.path.exists(marker):
        with open(marker) as f:
            found = f.read().strip()
    if found != INDEX_FORMAT:
        raise ValueError(
            f"dedup index at {index_dir} is format {found!r}, this code "
            f"requires {INDEX_FORMAT!r} (band keys are packed bigints "
            "since r12; a missing marker also means an interrupted "
            "rebuild). Rebuild it: materialize_dedup_index(spark, "
            "corpus_docs, index_dir).")


def materialize_dedup_index(spark: SparkSession, docs: DataFrame,
                            dst_dir: str) -> str:
    """Build the corpus index under ``dst_dir`` (full rebuild).

    The shingle table is written FIRST and the band build reads it back
    from parquet: bands are a pure function of ``(doc_id, sh)``, so this
    is bit-identical to deriving both from the live frame while paying
    the tokenize+shingle+md5 chain once instead of twice — and the
    second pass is a columnar scan of exactly the two columns the
    minhash needs (r12; guide §1.2 "don't compute things twice")."""
    marker = os.path.join(dst_dir, FORMAT_MARKER)
    if os.path.exists(marker):
        os.remove(marker)  # rebuild in progress: no marker until done
    sh_path = os.path.join(dst_dir, SHINGLES_TABLE)
    lsh_shingle_frame(docs).write.mode("overwrite").parquet(sh_path)
    (lsh_band_frame(spark.read.parquet(sh_path))
     .write.mode("overwrite")
     .parquet(os.path.join(dst_dir, BANDS_TABLE)))
    os.makedirs(dst_dir, exist_ok=True)
    with open(marker, "w") as f:  # completion + format marker, LAST
        f.write(INDEX_FORMAT)
    return dst_dir


def update_dedup_index(spark: SparkSession, index_dir: str,
                       new_docs: DataFrame,
                       assume_new: bool = False) -> None:
    """Fold a new batch's rows into the index (append). The batch's
    doc_ids must be new to the corpus — restate re-crawled ids via the
    day-partition overwrite pattern instead of re-appending (stale + new
    band rows for one doc would emit contradictory pairs downstream).

    The contract is ENFORCED: a left-semi probe of the batch ids against
    the stored bands (column-pruned to doc_id — footer-cheap) raises
    ``ValueError`` on any collision. ``assume_new=True`` skips the probe
    for the warehouse fast path where ingest already guarantees fresh
    ids (e.g. ids minted from the crawl partition)."""
    check_index_format(index_dir)
    if not assume_new:
        dup = (new_docs.select("doc_id").distinct()
               .join(spark.read.parquet(
                         os.path.join(index_dir, BANDS_TABLE))
                     .select("doc_id"),
                     "doc_id", "left_semi")
               .limit(5).collect())
        if dup:
            ids = sorted(r.doc_id for r in dup)
            raise ValueError(
                f"update_dedup_index: doc_ids already indexed: {ids} — "
                "restate re-crawled ids (overwrite their partitions) "
                "instead of re-appending, or pass assume_new=True only "
                "when ingest guarantees fresh ids")
    base = lsh_shingle_frame(new_docs)
    (lsh_band_frame(base).write.mode("append")
     .parquet(os.path.join(index_dir, BANDS_TABLE)))
    (base.write.mode("append")
     .parquet(os.path.join(index_dir, SHINGLES_TABLE)))


def dedup_incremental(spark: SparkSession, index_dir: str,
                      new_docs: DataFrame,
                      _batch_frames: tuple[DataFrame, DataFrame] | None
                      = None) -> DataFrame:
    """Near-dup pairs (a_id, b_id, jaccard >= 0.8) touching the new
    batch: new-vs-corpus plus new-vs-new, exactly the subset of the
    batch kernel's answer over (corpus + batch) in which at least one
    side is new (corpus-internal pairs were already found when the
    corpus was indexed). Pairs are canonicalized a_id < b_id.

    ``_batch_frames`` (private) lets a caller that already built —
    and possibly pre-warmed — the batch's ``(shingle, band)`` frames
    pass them in instead of rebuilding; they MUST be exactly
    ``lsh_shingle_frame(new_docs)`` / ``lsh_band_frame`` of it (see
    ``dedup_incremental_op``'s overlap of the batch warm with the
    index build)."""
    from pyspark.sql import functions as F

    from .common import scoped_cache

    check_index_format(index_dir)
    # the batch-side frames are consumed repeatedly (shingles: the
    # unified verification source + the band build; bands: both sides of
    # the new-vs-new self-join plus the new-vs-corpus probe), and both
    # are md5-heavy — cache them so the chains evaluate once per batch.
    # Batch-sized by construction (the crawl drop), so the blocks are
    # bounded; lifecycle-tracked via scoped_cache (r12, guide §1.2).
    if _batch_frames is not None:
        base_new, bands_new = _batch_frames
    else:
        base_new = scoped_cache(lsh_shingle_frame(new_docs))
        bands_new = scoped_cache(lsh_band_frame(base_new))
    idx_bands = spark.read.parquet(os.path.join(index_dir, BANDS_TABLE))
    idx_sh = spark.read.parquet(os.path.join(index_dir, SHINGLES_TABLE))

    nn = (bands_new.selectExpr("band", "key", "doc_id AS a_id")
          .join(bands_new.selectExpr("band", "key", "doc_id AS b_id"),
                ["band", "key"])
          .filter("a_id < b_id"))
    nc = (bands_new.selectExpr("band", "key", "doc_id AS n_id")
          .join(idx_bands.selectExpr("band", "key", "doc_id AS c_id"),
                ["band", "key"])
          .filter("n_id <> c_id")
          .select(F.least("n_id", "c_id").alias("a_id"),
                  F.greatest("n_id", "c_id").alias("b_id")))
    cand = (nn.select("a_id", "b_id").unionByName(nc).distinct())
    # one shingle source covering both sides; a re-crawled id prefers the
    # batch's (newer) shingles
    all_sh = base_new.unionByName(
        idx_sh.join(base_new.select("doc_id"), "doc_id", "left_anti"))
    return verified_jaccard_pairs(cand, all_sh, all_sh)


# ------------------------------------------------------- ANN (IVF) index
CENTROIDS_TABLE = "ann_centroids"
CELLS_TABLE = "ann_cells"


def materialize_ann_index(spark: SparkSession, emb: DataFrame,
                          dst_dir: str,
                          centroids: DataFrame | None = None) -> str:
    """Build a persisted IVF index under ``dst_dir``: ``ann_centroids``
    (cell, centroid — ``IVF_CELLS`` rows) and ``ann_cells`` (cell,
    vec_id, embedding — the inverted lists). Pass ``centroids`` to
    assign against a pre-trained codebook instead of training on ``emb``
    (the rebuild-for-verification path in tests)."""
    from .similarity import ivf_cells, ivf_centroids

    cents = centroids if centroids is not None else ivf_centroids(emb)
    cdst = os.path.join(dst_dir, CENTROIDS_TABLE)
    cents.write.mode("overwrite").parquet(cdst)
    # re-read so assignment uses the STORED doubles — float round-trips
    # must not make the persisted index diverge from later appends
    stored = spark.read.parquet(cdst)
    ivf_cells(emb, stored).write.mode("overwrite").parquet(
        os.path.join(dst_dir, CELLS_TABLE))
    return dst_dir


def ann_index_append(spark: SparkSession, index_dir: str,
                     new_emb: DataFrame) -> None:
    """Fold new vectors into the inverted lists against the FROZEN stored
    centroids — FAISS ``add`` semantics: appends never retrain the
    codebook, so existing cell assignments (and any cached search plans
    over them) stay valid. Retrain + rebuild via
    ``materialize_ann_index`` when drift accumulates (the standard IVF
    operational trade; recall on appended data degrades only as its
    distribution drifts from the training corpus)."""
    from .similarity import ivf_cells

    cents = spark.read.parquet(os.path.join(index_dir, CENTROIDS_TABLE))
    (ivf_cells(new_emb, cents).write.mode("append")
     .parquet(os.path.join(index_dir, CELLS_TABLE)))


def ann_index_topk(spark: SparkSession, index_dir: str,
                   queries: DataFrame) -> DataFrame:
    """Approximate top-k neighbors of ``queries`` (vec_id, embedding)
    from the persisted inverted lists — the same IVF candidate, exact
    cosine and rank code as the in-memory ``IVF`` index spec
    (``similarity.ann_topk``)."""
    from .similarity import exact_topk, ivf_candidates

    return exact_topk(ivf_candidates(
        queries,
        spark.read.parquet(os.path.join(index_dir, CENTROIDS_TABLE)),
        spark.read.parquet(os.path.join(index_dir, CELLS_TABLE))))


# ------------------------------------------------- driver-contract entry
#: the contract wrapper's corpus/batch split (batch = doc_id % MOD == 0,
#: mirroring the benchmark split convention in ops/contamination.py)
BATCH_MOD = 5


def dedup_incremental_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: index the corpus split (doc_id %
    BATCH_MOD != 0) into a scratch directory, then dedup the held-out
    batch against it. Self-contained per invocation (the index is
    rebuilt under a per-sf scratch path) so the driver can hash-check
    the WHOLE incremental flow — build, band join, exact verification —
    against the all-pairs DuckDB oracle restricted to new-side pairs."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    from .common import load_table

    docs = load_table(spark, sf_dir, "documents")
    # per-process scratch: two concurrent driver runs over the same
    # dataset must not overwrite each other's index mid-read (the
    # returned plan references these files lazily — so removal is
    # deferred to interpreter exit, after every plan over it has run)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    idx = os.path.join(tempfile.gettempdir(),
                       f"maha-dedup-idx-{tag}-{os.getpid()}")
    atexit.register(shutil.rmtree, idx, ignore_errors=True)
    # prune stale per-PID copies left by crashed/killed siblings: a live
    # PID's dir is never touched, a dead (or impossible) PID's dir is
    # unreferenced; an age floor catches PID-recycled leftovers, and
    # /tmp being world-writable means a garbage suffix must never crash
    # this contract entry (OverflowError from pid > pid_t included)
    import time
    for d in os.listdir(tempfile.gettempdir()):
        if not d.startswith("maha-dedup-idx-"):
            continue
        path = os.path.join(tempfile.gettempdir(), d)
        pid = d.rsplit("-", 1)[-1]
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        stale = False
        try:
            os.kill(int(pid), 0)
            # kill succeeded: SOME process owns the pid. It may be the
            # living creator (whose lazy plans still read these files —
            # never prune) or an unrelated recycler — indistinguishable,
            # so err on keeping the dir.
        except (ProcessLookupError, OverflowError, ValueError):
            stale = True        # no such process / not a possible pid
        except PermissionError:
            # another USER's process holds the pid — our same-user
            # creator is gone (its dirs are same-user), so this is a
            # recycled pid; an age floor guards against rare same-pid
            # same-window races (table_version = the stamp contract's
            # one read API; these scratch dirs are never stamped, so it
            # resolves to the mtime fallback, and a vanished dir's -1.0
            # marks it stale for the no-op rmtree)
            from ..plans.versioning import table_version
            stale = table_version(path) < time.time() - 7 * 86400
        if stale:
            shutil.rmtree(path, ignore_errors=True)
    # Overlap the batch-side shingle/band cache build with the corpus
    # index writes (guide §2.6 "overlap independent jobs"): the two
    # job sets share no inputs beyond the source scan, and the index
    # build's write tails leave cores idle that the batch warm
    # back-fills. The warmed frames are handed to dedup_incremental
    # via its private _batch_frames contract (identical construction,
    # so results are bit-identical to the serial path).
    import threading

    from .common import scoped_cache

    batch = docs.filter(f"doc_id % {BATCH_MOD} = 0")
    base_new = scoped_cache(lsh_shingle_frame(batch))
    bands_new = scoped_cache(lsh_band_frame(base_new))

    def _warm() -> None:
        try:
            # materializes bands_new AND (through it) base_new's blocks
            bands_new.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 — cache miss just recomputes
            pass

    try:
        from pyspark import inheritable_thread_target
        warm = threading.Thread(
            target=inheritable_thread_target(_warm), daemon=True)
    except ImportError:  # pragma: no cover - very old pyspark
        warm = threading.Thread(target=_warm, daemon=True)
    warm.start()
    try:
        materialize_dedup_index(
            spark, docs.filter(f"doc_id % {BATCH_MOD} != 0"), idx)
    finally:
        warm.join()
    return (dedup_incremental(spark, idx, batch,
                              _batch_frames=(base_new, bands_new))
            .orderBy("a_id", "b_id"))


def dedup_incremental_oracle() -> str:
    from .dedup import dedup_minhash_lsh_oracle
    return f"""
        WITH pairs AS ({dedup_minhash_lsh_oracle()})
        SELECT a_id, b_id, jaccard FROM pairs
        WHERE a_id % {BATCH_MOD} = 0 OR b_id % {BATCH_MOD} = 0
        ORDER BY a_id, b_id
    """


# -------------------------------------------- streaming index maintenance
def streaming_dedup_incremental(spark: SparkSession, docs_dir: str,
                                index_dir: str, pairs_dir: str,
                                ckpt_dir: str,
                                max_files_per_trigger: int = 1) -> None:
    """Continuous crawl-ingest near-dup maintenance: drain the document
    feed micro-batch by micro-batch, emitting each batch's near-dup
    pairs (new-vs-corpus + new-vs-new, via ``dedup_incremental``) and
    folding the batch into the persisted LSH index — the streaming twin
    of the batch incremental flow, processing files in arrival order so
    the emitted pair set is EXACTLY what repeated batch calls would
    produce (test-pinned).

    Idempotence under replays (foreachBatch re-invokes a batch after a
    failure; the parquet sink is not transactional):

    * pairs land in ``pairs_dir/batch_id=N`` via per-batch OVERWRITE,
      and pairs are written BEFORE the index append — a crash between
      the two replays the batch with its docs still absent from the
      index, so the recomputed pairs overwrite the same directory
      (identical rows) and the append then lands once;
    * a batch whose doc_ids are ALL already indexed (a replay of a fully
      committed batch — e.g. a sink-committed drain re-run from a fresh
      checkpoint) is a pure no-op: its previously-emitted pairs are left
      in place, nothing is appended. A HALF-appended batch (bands
      landed, crash before shingles) is the one non-idempotent window;
      restate those ids via the overwrite pattern, as the append
      contract documents.

    ``max_files_per_trigger=1`` mirrors daily-drop ingest (one file ~ one
    crawl partition); raise it when the feed is many small files. State
    lives in the INDEX, not the streaming state store — the checkpoint
    only tracks source progress, so state size is index-bound, not
    Spark-state-bound, and the index stays queryable/bucketable by every
    batch consumer."""
    from pyspark.sql import functions as F

    from .dedup import DOC_SCHEMA

    def _fold(batch: DataFrame, batch_id: int) -> None:
        from .common import persistent_rdd_ids, release_new_persistent_rdds
        s = batch.sparkSession
        before = persistent_rdd_ids(s)
        try:
            bands_path = os.path.join(index_dir, BANDS_TABLE)
            if os.path.exists(bands_path):
                check_index_format(index_dir)  # fail fast on v1 index
                seen = (s.read.parquet(bands_path)
                        .select("doc_id").distinct())
                fresh = batch.join(seen, "doc_id", "left_anti")
            else:
                materialize_dedup_index(s, batch.limit(0), index_dir)
                fresh = batch
            # localCheckpoint: `fresh` is consumed three times (pairs
            # kernel twice through dedup_incremental's branches, then
            # the index append) and anti-joins against the very table
            # the append mutates — materialize BEFORE writing, the
            # compaction rule (plans/scale.py)
            fresh = fresh.localCheckpoint(eager=True)
            if not fresh.limit(1).count():
                return  # fully-committed replay: keep its pairs, no-op
            pairs = dedup_incremental(s, index_dir, fresh)
            (pairs.withColumn("batch_id", F.lit(batch_id))
             .write.mode("overwrite")
             .parquet(os.path.join(pairs_dir, f"batch_id={batch_id}")))
            update_dedup_index(s, index_dir, fresh, assume_new=True)
        finally:
            # one checkpoint per micro-batch would otherwise accrete
            # for the stream's whole life (the substring fold's rule)
            release_new_persistent_rdds(s, before)

    q = (spark.readStream.schema(DOC_SCHEMA).format("parquet")
         .option("maxFilesPerTrigger", max_files_per_trigger)
         .load(docs_dir)
         .writeStream
         .foreachBatch(_fold)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
