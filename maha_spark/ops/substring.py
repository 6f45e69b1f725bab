"""Exact-substring duplicate spans — exhaustive verbatim-passage
detection and keep-first removal (Lee, Ippolito, Nystrom, Zhang, Eck,
Callison-Burch, Carlini: "Deduplicating Training Data Makes Language
Models Better", ACL'22 — the ExactSubstr dedup).

Relation to the winnowing family (``ops/winnow.py``): winnowing SAMPLES
~2/(w+1) of the k-gram windows (a fingerprint signature scored by
containment — a similarity measure), while ExactSubstr keeps EVERY
window, so it finds each individual duplicated passage exactly, merges
overlapping hits into maximal spans, and can therefore *remove* the
duplicate text rather than merely flag document pairs.  The paper's
suffix-array formulation is a shared-memory algorithm; the distributed
re-expression here is the standard window-hash equivalent: a length-L
word window appears more than once in the corpus iff its hash value
occurs at more than one (doc, pos) — a groupBy, not a suffix sort.

Pipeline (all whole-stage codegen, no self-join, no window aggregate on
the hash key):

1. hash every L-word window per document (``transform`` over an index
   ``sequence`` — per-row codegen, zero shuffle);
2. Generate-safe explode to ``(doc_id, pos, h)``;
3. corpus-wide occurrence count per hash via ``groupBy("h")`` — MAP-SIDE
   COMBINED partial aggregation, so a pathologically duplicated window
   (web boilerplate repeated 10^8 times) arrives at the reduce side
   pre-collapsed to one row per map task — joined back to the window
   stream on ``h`` (an ordinary shuffle join, which AQE's skew handling
   CAN split; the Window-aggregate formulation this replaced could
   not: WindowExec sorts every row of a hot key into one task and has
   no partial aggregation). Windows with >= 2 occurrences are
   duplicates — *within-document* repeats count, matching the paper's
   "appears more than once in the corpus";
4. merge each document's duplicated windows into maximal spans
   (gaps-and-islands over a per-document window — keyed on ``doc_id``,
   bounded by a single document's word count, never by corpus-wide
   duplication): windows at ``pos`` cover words ``[pos, pos+L-1]``;
   runs whose covered ranges overlap or touch collapse to one span.

100 TB judgment: rows stay LINEAR in corpus token count end-to-end —
there is no candidate-pair join, so the boilerplate/hot-bucket failure
mode of the signature family cannot occur here (a window duplicated N
times contributes N rows, never N^2).  The occurrence side of the join
is one row per distinct hash (vocabulary-bounded); the probe side's hot
keys split under AQE skew-join.  The join-back recomputes the window
explode (two source scans instead of one) — the deliberate price of
replacing the unsplittable WindowExec; at scale a second columnar scan
is cheap, a single 10^8-row sort task is fatal.

Hash width: 60 bits (``h60_sql``), not the 32 bits the sampled
winnowing signatures use — exhaustive windowing hashes EVERY position,
so a 32-bit space would produce guaranteed birthday false-duplicates
beyond ~2^16 distinct windows; 2^60 pushes that past 2^30 windows.
A false positive removes a non-duplicated span (quality loss, not
correctness loss); callers needing certainty can re-verify surviving
spans against the raw k-grams.

No reference analogue: the reference engine (yahoo/maha) has no corpus
dedup surface; this op belongs to the training-data-pipeline axis of
the brief, next to ``ops/winnow.py`` and ``ops/dedup.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .common import (current_scope, drain, duck_h60_sql, duck_words_sql,
                     fold_new_docs, fs_delete, fs_exists, fs_touch,
                     h60_sql, in_scope, load_table, scoped_cache,
                     words_sql)

#: duplicated-window length in words — the minimum verbatim run the
#: detector reports (the paper uses 50 BPE tokens at web scale; the
#: module default matches winnowing's guarantee threshold w+k-1 = 8 so
#: the two detectors are comparable on the same corpus)
EXSUB_L = 8

#: above this many DISTINCT window hashes in one ingest batch, the
#: incremental probe stops broadcasting the batch hash set and falls
#: back to a shuffle semi-join — a broadcast scales with batch token
#: count and would otherwise hit the driver / 8 GB broadcast ceiling on
#: an oversized batch (2M 8-byte hashes ~ 16 MB, comfortably under it)
EXSUB_BROADCAST_HASH_LIMIT = 2_000_000


def _window_hashes(docs: DataFrame, length: int) -> DataFrame:
    """``(doc_id, pos, h)`` — one row per L-word window (1-based word
    index). Documents shorter than ``length`` words emit nothing.

    The explode follows the Generate-safe pattern: the generator
    iterates a cheap ``sequence(1, size(hs))`` while the computed ``hs``
    array passes through the Generate as requiredChildOutput (evaluated
    once per input row), and the element is projected after."""
    gram = f"concat_ws(' ', slice(w, i, {length}))"
    return (docs.selectExpr("doc_id", f"{words_sql()} AS w")
            .filter(f"size(w) >= {length}")
            .selectExpr(
                "doc_id",
                f"transform(sequence(1, size(w) - {length} + 1), "
                f"i -> {h60_sql(gram)}) AS hs")
            .selectExpr("doc_id", "hs",
                        "explode(sequence(1, size(hs))) AS pos")
            .selectExpr("doc_id", "pos", "hs[pos - 1] AS h"))


def _merge_spans(dup: DataFrame, length: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated window positions
    ``(doc_id, pos)`` into maximal spans: a window extends the current
    span iff its covered range ``[pos, pos+L-1]`` overlaps or touches
    the previous window's range — i.e. ``pos - prev_pos <= L``."""
    seq = Window.partitionBy("doc_id").orderBy("pos")
    return (dup
            .withColumn("prev", F.lag("pos").over(seq))
            .withColumn(
                "new_span",
                F.when(F.col("prev").isNull() |
                       (F.col("pos") - F.col("prev") > length), 1)
                .otherwise(0))
            .withColumn("island", F.sum("new_span").over(
                seq.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("doc_id", "island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + F.lit(length - 1)).alias("span_end"),
                 F.count(F.lit(1)).alias("n_windows"))
            .drop("island"))


def exact_substring_spans_frame(docs: DataFrame,
                                length: int = EXSUB_L) -> DataFrame:
    """Maximal duplicated spans: ``(doc_id, span_start, span_end,
    n_windows)`` — 1-based inclusive WORD indexes of every maximal run
    of text whose length->L windows all appear elsewhere in the corpus
    (or again in the same document), plus how many duplicated windows
    the span merged. All-integer output (hash-stable across engines).

    The occurrence count is a map-side-combined ``groupBy("h")``
    semi-joined back to the window stream — never a window aggregate on
    ``h`` (see module docstring: a hot hash would pin the whole corpus'
    duplicated boilerplate into one WindowExec sort task).
    """
    # the window stream feeds the occurrence count AND the semi-join
    # probe — uncached, the md5-per-window hash chain (the op's dominant
    # per-row cost) evaluated twice over the corpus (r12, guide §1.2;
    # same recipe as the minhash base frame). Released with the
    # current scope; MEMORY_AND_DISK spills at scale.
    wh = scoped_cache(_window_hashes(docs, length))
    dup_h = (wh.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
             .filter("occ >= 2").select("h"))
    dup = wh.join(dup_h, "h", "left_semi").select("doc_id", "pos")
    return _merge_spans(dup, length).orderBy("doc_id", "span_start")


def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: duplicated spans over the ``documents``
    table at the module default window length."""
    return exact_substring_spans_frame(
        load_table(spark, sf_dir, "documents"))


def exact_substring_spans_oracle(length: int = EXSUB_L) -> str:
    """DuckDB twin of ``exact_substring_spans`` over the ``documents``
    view: 1-based inclusive list slices (``w[i:i+L-1]`` == Spark
    ``slice(w, i, L)``), exclusive-end ``range`` == Spark ``sequence``,
    the same md5-derived 60-bit hash, and the same window-function
    islands — all-integer output, bit-equal."""
    gram = f"array_to_string(w[i:i+{length}-1], ' ')"
    return f"""
        WITH wd AS (
            SELECT doc_id, {duck_words_sql()} AS w FROM documents
        ),
        g AS (
            SELECT doc_id,
                   list_transform(range(1, len(w) - {length} + 2),
                                  i -> {duck_h60_sql(gram)}) AS hs
            FROM wd WHERE len(w) >= {length}
        ),
        e AS (
            SELECT doc_id, pos, hs[pos] AS h
            FROM (SELECT doc_id, hs,
                         unnest(range(1, len(hs) + 1)) AS pos FROM g)
        ),
        dup AS (
            SELECT doc_id, pos
            FROM (SELECT doc_id, pos,
                         count(*) OVER (PARTITION BY h) AS occ FROM e)
            WHERE occ >= 2
        ),
        flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos - lag(pos) OVER w > {length}
                        THEN 1 ELSE 0 END AS new_span
            FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        isl AS (
            SELECT doc_id, pos,
                   sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM flagged
        )
        SELECT doc_id,
               min(pos) AS span_start,
               max(pos) + {length - 1} AS span_end,
               count(*) AS n_windows
        FROM isl GROUP BY doc_id, island
        ORDER BY doc_id, span_start
    """


def exact_substring_dedup_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry / driver-contract entry (``(spark, sf_dir)`` signature
    family): keep-first removal over the ``documents`` table at the
    module defaults, doc_id-ordered for the hash compare."""
    return (exact_substring_dedup(load_table(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


def exact_substring_dedup(docs: DataFrame,
                          length: int = EXSUB_L) -> DataFrame:
    """Keep-first ExactSubstr removal: ``(doc_id, clean_text,
    n_words, removed_words)`` with every duplicated window occurrence
    CUT except the corpus-first one per window value (minimum
    ``(doc_id, pos)`` — the deterministic spelling of the paper's
    "remove all but one occurrence").

    Mechanics: the per-hash keep decision is a map-side-combinable
    ``groupBy("h").agg(count, min(struct(doc_id, pos)))`` joined back to
    the window stream — "rank >= 2" is exactly "not the per-hash
    (doc_id, pos) minimum", so no ``row_number`` window over the
    skew-prone hash key exists in the plan (struct ``min`` compares
    field-by-field, i.e. the same (doc_id, pos) lexicographic order the
    rank used). Doomed windows merge into removal spans exactly like
    the detection frame, then the text is rebuilt with an index-aware
    ``filter`` lambda over the word array against the (per-document,
    bounded) span list — per-row codegen, no UDF. Rows stay linear
    throughout; the span list joined back to a document is bounded by
    its own word count.

    Note the non-transitive subtlety the paper accepts: cutting a span
    from a LATER document can split text that would have formed a longer
    duplicated run with a third document — removal is one-shot, not
    iterated to a fixed point (identical to the reference
    implementation's single pass).
    """
    # cached for the same two-consumer reason as the detection frame
    # (keep-decision groupBy + the join back probe)
    wh = scoped_cache(_window_hashes(docs, length))
    firsts = (wh.groupBy("h")
              .agg(F.count(F.lit(1)).alias("occ"),
                   F.min(F.struct("doc_id", "pos")).alias("keep"))
              .filter("occ >= 2")
              .select("h", "keep"))
    doomed = (wh.join(firsts, "h")
              .filter("doc_id <> keep.doc_id OR pos <> keep.pos")
              .select("doc_id", "pos"))
    seq = Window.partitionBy("doc_id").orderBy("pos")
    spans = (doomed
             .withColumn("prev", F.lag("pos").over(seq))
             .withColumn(
                 "new_span",
                 F.when(F.col("prev").isNull() |
                        (F.col("pos") - F.col("prev") > length), 1)
                 .otherwise(0))
             .withColumn("island", F.sum("new_span").over(
                 seq.rowsBetween(Window.unboundedPreceding, 0)))
             .groupBy("doc_id", "island")
             .agg(F.min("pos").alias("s"),
                  (F.max("pos") + F.lit(length - 1)).alias("e"))
             .groupBy("doc_id")
             .agg(F.sort_array(F.collect_list(F.struct("s", "e")))
                  .alias("spans")))
    return (docs.selectExpr("doc_id", f"{words_sql()} AS w")
            .join(spans, "doc_id", "left")
            .selectExpr(
                "doc_id", "w",
                "coalesce(spans, array()) AS spans")
            .selectExpr(
                "doc_id",
                # i is 0-based; word index i+1 is removed when some span
                # [s, e] covers it
                "filter(w, (x, i) -> NOT exists(spans, "
                "p -> i + 1 >= p.s AND i + 1 <= p.e)) AS kept",
                "size(w) AS n_words")
            .selectExpr(
                "doc_id",
                "concat_ws(' ', kept) AS clean_text",
                "n_words",
                "n_words - size(kept) AS removed_words"))


def exact_substring_dedup_oracle(length: int = EXSUB_L) -> str:
    """DuckDB twin of ``exact_substring_dedup_op``: the detection CTEs
    composed with the keep-first rank (``row_number`` over
    ``(doc_id, pos)`` per hash — DuckDB runs single-node, so the window
    spelling is fine THERE), doomed windows expanded to covered word
    indexes, and the text rebuilt by position — all-deterministic
    integer + string output, bit-equal."""
    gram = f"array_to_string(w[i:i+{length}-1], ' ')"
    return f"""
        WITH wd AS (
            SELECT doc_id, {duck_words_sql()} AS w FROM documents
        ),
        g AS (
            SELECT doc_id,
                   list_transform(range(1, len(w) - {length} + 2),
                                  i -> {duck_h60_sql(gram)}) AS hs
            FROM wd WHERE len(w) >= {length}
        ),
        e AS (
            SELECT doc_id, pos, hs[pos] AS h
            FROM (SELECT doc_id, hs,
                         unnest(range(1, len(hs) + 1)) AS pos FROM g)
        ),
        doomed AS (
            SELECT doc_id, pos
            FROM (SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY h
                             ORDER BY doc_id, pos) AS rn,
                         count(*) OVER (PARTITION BY h) AS occ
                  FROM e)
            WHERE occ >= 2 AND rn >= 2
        ),
        cut AS (
            SELECT DISTINCT doc_id, pos + j AS wi
            FROM doomed, unnest(range(0, {length})) AS t(j)
        ),
        tok AS (
            SELECT doc_id, w[i] AS word, i
            FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
                  FROM wd)
        ),
        kept AS (
            SELECT t.doc_id, t.word, t.i
            FROM tok t LEFT JOIN cut c
                   ON t.doc_id = c.doc_id AND t.i = c.wi
            WHERE c.wi IS NULL
        )
        SELECT wd.doc_id,
               coalesce(string_agg(k.word, ' ' ORDER BY k.i), '')
                   AS clean_text,
               CAST(len(wd.w) AS INT) AS n_words,
               CAST(len(wd.w) - count(k.word) AS INT) AS removed_words
        FROM wd LEFT JOIN kept k ON wd.doc_id = k.doc_id
        GROUP BY wd.doc_id, len(wd.w)
        ORDER BY wd.doc_id
    """


# --------------------------------------------------------------------
# incremental ExactSubstr: persisted window-hash index for crawl ingest
# (the batch twin of ops/incremental.py's persisted LSH index — dedupe
# each arriving batch against the corpus-so-far without re-scanning it)
# --------------------------------------------------------------------
WINDOWS_TABLE = "exsub_windows"
#: doc_id sidecar — the DISTINCT doc_ids present in the windows table,
#: persisted so the per-batch append-contract probe reads O(documents)
#: rows instead of the corpus-TOKEN-sized doc_id column of the index
DOCS_TABLE = "exsub_docs"


def _windows_path(index_dir: str) -> str:
    return os.path.join(index_dir, WINDOWS_TABLE)


def _docs_path(index_dir: str) -> str:
    return os.path.join(index_dir, DOCS_TABLE)


def _pending_path(index_dir: str) -> str:
    """In-progress marker for the windows→sidecar append pair: present
    only between the two writes of one ``update_exsub_index`` call, so
    its survival into the NEXT call proves a crash left the sidecar one
    batch behind (underscore prefix = invisible to parquet readers,
    same convention as ``_table_version``)."""
    return os.path.join(index_dir, "_exsub_pending")


def _seen_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """Distinct indexed doc_ids: the O(documents) sidecar when present,
    else derived from the windows table (pre-sidecar index layouts)."""
    if fs_exists(spark, _docs_path(index_dir)):
        return spark.read.parquet(_docs_path(index_dir)).select("doc_id")
    return (spark.read.parquet(_windows_path(index_dir))
            .select("doc_id").distinct())


@in_scope
def reconcile_exsub_sidecar(spark: SparkSession, index_dir: str) -> None:
    """Rebuild the doc_id sidecar from the windows table (one
    single-column index scan). Run at ingest-stream (re)start: a crash
    between the windows append and the sidecar append leaves the
    sidecar one batch behind, and reconciling first restores the
    invariant ``sidecar == distinct(windows.doc_id)`` — which is what
    makes the streaming fold's replay idempotent (a replayed batch
    whose windows already landed is filtered out by the reconciled
    sidecar instead of double-appending)."""
    ids = current_scope().checkpoint(
        spark.read.parquet(_windows_path(index_dir))
        .select("doc_id").distinct())
    ids.write.mode("overwrite").parquet(_docs_path(index_dir))
    # the invariant now holds — clear any crash marker a torn
    # update_exsub_index left behind
    fs_delete(spark, _pending_path(index_dir))


def materialize_exsub_index(spark: SparkSession, docs: DataFrame,
                            dst_dir: str, length: int = EXSUB_L) -> str:
    """Build the corpus window-hash index under ``dst_dir`` (full
    rebuild): every ``(doc_id, pos, h)`` window row, stored columnar,
    plus the distinct-doc_id sidecar the append probe reads.

    Linear in corpus token count — the same volume the one-shot
    detector shuffles, persisted once so each ingest batch pays only
    its own size. At warehouse scale, store it bucketed/partitioned by
    ``pmod(h, N)`` so the per-batch probe prunes to the batch's hash
    buckets; the probe below already column-prunes to ``h``."""
    (_window_hashes(docs, length).write.mode("overwrite")
     .parquet(_windows_path(dst_dir)))
    # derive the sidecar from the WRITTEN index (one single-column
    # columnar scan) rather than a second corpus pass
    reconcile_exsub_sidecar(spark, dst_dir)
    return dst_dir


def update_exsub_index(spark: SparkSession, index_dir: str,
                       new_docs: DataFrame, length: int = EXSUB_L,
                       assume_new: bool = False) -> None:
    """Fold a new batch's window rows into the index (append). The
    batch's doc_ids must be new to the corpus — same enforced append
    contract as ``ops/incremental.py``: stale + new window rows for one
    re-crawled id would double-count its windows as "duplicates".
    The probe semi-joins the batch ids against the O(documents)
    ``exsub_docs`` sidecar — never the corpus-token-sized windows
    column; ``assume_new=True`` skips it when ingest mints fresh ids by
    construction.

    Self-healing (batch path, not only the streaming bootstrap): the
    two appends (windows THEN sidecar) are bracketed by an
    ``_exsub_pending`` marker, so a crash between them leaves the
    marker behind and the NEXT call reconciles the sidecar from the
    windows table before trusting it — a retried batch is then loudly
    rejected by the probe (its ids are already in the reconciled
    sidecar) instead of silently double-counting its windows. The same
    pre-flight reconcile runs when the windows table exists but the
    sidecar does not (a pre-sidecar index layout): appending only this
    batch's ids would CREATE an incomplete sidecar whose probe passes
    previously indexed doc_ids. Steady-state overhead is two existence
    probes — the O(index) reconcile runs only after an actual crash or
    a layout upgrade."""
    win_exists = fs_exists(spark, _windows_path(index_dir))
    if win_exists and (fs_exists(spark, _pending_path(index_dir))
                       or not fs_exists(spark, _docs_path(index_dir))):
        reconcile_exsub_sidecar(spark, index_dir)
    if not assume_new:
        dup = (new_docs.select("doc_id").distinct()
               .join(_seen_docs(spark, index_dir), "doc_id", "left_semi")
               .limit(5).collect())
        if dup:
            ids = sorted(r.doc_id for r in dup)
            raise ValueError(
                f"update_exsub_index: doc_ids already indexed: {ids} — "
                "restate re-crawled ids instead of re-appending, or "
                "pass assume_new=True only when ingest guarantees "
                "fresh ids")
    fs_touch(spark, _pending_path(index_dir))
    (_window_hashes(new_docs, length).write.mode("append")
     .parquet(_windows_path(index_dir)))
    (_window_hashes(new_docs, length).select("doc_id").distinct()
     .write.mode("append").parquet(_docs_path(index_dir)))
    fs_delete(spark, _pending_path(index_dir))


def exsub_incremental(spark: SparkSession, index_dir: str,
                      new_docs: DataFrame, length: int = EXSUB_L,
                      broadcast_hash_limit: int =
                      EXSUB_BROADCAST_HASH_LIMIT) -> DataFrame:
    """Duplicated spans WITHIN the new batch's documents, measured
    against (corpus index + the batch itself): a batch window is
    duplicated iff it occurs >= 2 times in the batch or at least once
    in the index. Exactly the one-shot detector's answer over
    (corpus + batch) restricted to batch doc_ids (bit-identity pinned
    in ``tests/test_ops_substring.py``) — corpus-internal spans were
    already reported when the corpus was indexed.

    Scale shape: the batch's distinct hash set probes the index with a
    left-semi join — BROADCAST while the set stays under
    ``broadcast_hash_limit`` distinct hashes (one index scan filtered
    executor-side, never a shuffle of the index), falling back to a
    shuffle semi-join above it so an oversized ingest batch degrades to
    a plan instead of a driver-memory / broadcast-cap failure. The
    batch-internal occurrence count is a map-side-combined
    ``groupBy("h")`` joined back (no WindowExec on the hash key — same
    de-skew as the one-shot detector). Per-batch cost is O(batch) + one
    pruned index read, independent of corpus size.
    """
    bw = scoped_cache(_window_hashes(new_docs, length))
    probe = bw.select("h").distinct()
    small = probe.count() <= broadcast_hash_limit
    hits = (spark.read.parquet(_windows_path(index_dir))
            .select("h")
            .join(F.broadcast(probe) if small else probe, "h", "left_semi")
            .distinct()
            .withColumn("in_idx", F.lit(1)))
    occ = bw.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    if small:
        # both per-hash sides are bounded by the batch's distinct-hash
        # count — broadcast so the window stream never shuffles
        hits, occ = F.broadcast(hits), F.broadcast(occ)
    dup = (bw
           .join(occ, "h")
           .join(hits, "h", "left")
           .filter("occ >= 2 OR in_idx IS NOT NULL")
           .select("doc_id", "pos"))
    return _merge_spans(dup, length).orderBy("doc_id", "span_start")


def streaming_exsub_incremental(spark: SparkSession, docs_dir: str,
                                index_dir: str, spans_dir: str,
                                ckpt_dir: str, length: int = EXSUB_L,
                                max_files_per_trigger: int = 1) -> None:
    """Continuous crawl-ingest ExactSubstr maintenance: drain the
    document feed micro-batch by micro-batch, emitting each batch's
    duplicated spans (vs corpus-so-far + the batch itself, via
    ``exsub_incremental``) and folding the batch's window rows into the
    persisted index — the streaming twin of the batch incremental flow,
    with the replay-safe fold order of ``ops/common.fold_new_docs``
    (spans overwrite ``spans_dir/batch_id=N`` before the index append;
    a fully indexed replay is a no-op). The sidecar is reconciled
    against the windows table at stream start, so a crash between the
    windows and sidecar appends cannot leak a double-append through a
    stale sidecar.

    State lives in the INDEX (linear in corpus tokens), not the
    streaming state store — the checkpoint only tracks source progress.
    """
    from .dedup import DOC_SCHEMA

    if fs_exists(spark, _windows_path(index_dir)):
        reconcile_exsub_sidecar(spark, index_dir)

    def _fold(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        if fs_exists(s, _windows_path(index_dir)):
            seen = _seen_docs(s, index_dir)
        else:
            materialize_exsub_index(s, batch.limit(0), index_dir,
                                    length=length)
            seen = None
        fold_new_docs(
            batch, batch_id, seen, spans_dir,
            emit=lambda fresh: exsub_incremental(s, index_dir, fresh,
                                                 length=length),
            append=lambda fresh: update_exsub_index(
                s, index_dir, fresh, length=length, assume_new=True))

    drain(spark, DOC_SCHEMA, docs_dir, ckpt_dir, _fold,
          max_files_per_trigger)


@in_scope
def compact_exsub_index(spark: SparkSession, index_dir: str,
                        target_file_mb: int = 256,
                        min_files: int = 8) -> int:
    """Bin-pack the window-hash index's files: streaming/batch appends
    leave one small file per ingest batch, and the per-batch probe's
    index scan degrades to open-cost-dominated work — the same failure
    mode ``compact_day_partitions`` fixes for day-partitioned tables,
    for the index's flat layout. Row multiset unchanged (bit-identical
    probe results); returns the new file count, or 0 if the index was
    already compact (< ``min_files`` files — left physically untouched).
    The doc_id sidecar (also append-accreting, but O(documents) small)
    is collapsed to one distinct file whenever the windows compact.

    The rewrite reads and replaces the same directory, so rows are
    MATERIALIZED first (a scope checkpoint — the standard decoupling,
    plans/scale.py) and the file-count target derives from on-disk
    bytes, like the day-partition compactor."""
    import math

    from .common import fs_list_files

    # Hadoop-FS file stats, so the maintenance cycle's compaction leg
    # works on scheme-qualified (s3a://-style) index roots too
    path = _windows_path(index_dir)
    files = fs_list_files(spark, path, ".parquet")
    if len(files) < min_files:
        return 0
    total = sum(size for _, size in files)
    want = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    if want >= len(files):
        return 0
    df = current_scope().checkpoint(spark.read.parquet(path))
    df.repartition(want).write.mode("overwrite").parquet(path)
    reconcile_exsub_sidecar(spark, index_dir)
    # engine-maintained rewrite -> stamp (plans/versioning contract)
    from ..plans.versioning import bump_table_version
    bump_table_version(index_dir)
    return want


@in_scope
def remove_docs_from_exsub_index(spark: SparkSession, index_dir: str,
                                 doc_ids: DataFrame) -> None:
    """Erase documents from the window-hash index (the GDPR-erasure /
    retraction leg, the flat-index twin of
    ``plans/scale.py::delete_from_day_partitions``): all window rows of
    the tombstoned ``doc_id``s are removed via a broadcast anti-join —
    the tombstone set is small by definition of an erasure batch — and
    the survivors rewrite the index in place (materialized first). The
    doc_id sidecar is rewritten the same way so the erased ids pass a
    later re-ingest's append-contract probe.

    After removal the erased documents' text no longer influences ANY
    future batch's duplicate detection; re-ingesting a removed id later
    is a legitimate fresh append (the append-contract probe will pass).
    """
    tomb = F.broadcast(doc_ids.select("doc_id").distinct())
    scope = current_scope()
    survivors = scope.checkpoint(
        spark.read.parquet(_windows_path(index_dir))
        .join(tomb, "doc_id", "left_anti"))
    survivors.write.mode("overwrite").parquet(_windows_path(index_dir))
    if fs_exists(spark, _docs_path(index_dir)):
        kept = scope.checkpoint(
            spark.read.parquet(_docs_path(index_dir))
            .join(tomb, "doc_id", "left_anti"))
        kept.write.mode("overwrite").parquet(_docs_path(index_dir))
