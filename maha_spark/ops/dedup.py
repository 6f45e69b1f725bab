"""Deduplication operators over the ``documents`` table.

Scale-first designs:

- ``dedup_signatures``: exact content hash, order-insensitive wordset
  fingerprint and simhash per document, each with its family's keeper —
  map-side-combined hash-groupBys, no pairwise work.
- ``dedup_minhash_lsh``: shingle -> minhash signature (k=24) -> banded
  bucket join (b=12, r=2) -> exact-Jaccard verification of candidates.
  Work is proportional to bucket collisions, never all-pairs.  The DuckDB
  oracle computes the exact all-pairs answer; banding at r=2,b=12 has a
  false-negative probability of ~2e-9 at the 0.8 threshold, so the two
  agree.
- ``dedup_simhash`` / ``dedup_simhash_pairs``: 32-bit simhash; pair search
  partitions the fingerprint into 4 byte-chunks — any pair within hamming
  distance 3 shares at least one exact chunk (pigeonhole), so the banded
  join provably finds every qualifying pair.

All hashes derive from md5 hex (engine-portable, see common.py) except
the LSH band key, which is an injective integer packing of the two
minhash slots — a pure bucket identity never seen by any output or
oracle (see ``lsh_band_frame``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .common import (
    MINHASH_P, duck_h32_sql, duck_words_sql, h28_sql, h32_sql,
    load_table, scoped_cache, words_sql,
)

# minhash parameters: k = BANDS * ROWS signatures
BANDS = 12
ROWS = 2
JACCARD_T = 0.8
SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4
HAMMING_T = 3  # < SIMHASH_CHUNKS so the chunk join is lossless
#: bridge graphs at or under this many edges (~32 MB of longs) finish
#: with a driver-side union-find; larger graphs iterate distributed
LOCAL_CC_MAX_EDGES = 2_000_000


# -------------------------------------------------------- minhash LSH
def _shingles_spark(words: str) -> str:
    """Distinct word 3-gram shingles (order-sensitive)."""
    return (f"array_distinct(transform(sequence(1, size({words}) - 2), "
            f"i -> concat_ws(' ', {words}[i-1], {words}[i], {words}[i+1])))")


def _shingles_duck(words: str) -> str:
    return (f"list_distinct(list_transform(range(1, len({words}) - 1), "
            f"i -> {words}[i] || ' ' || {words}[i+1] || ' ' || {words}[i+2]))")


def _minhash_sig_spark(hs: str) -> list[str]:
    # permutation i over PRE-HASHED shingles: (h * (2i+1) + 7919*i) mod P;
    # products < 2^34. Hashing once and permuting integers k times (instead
    # of re-running md5 inside every permutation) cuts the dominant cost by
    # the number of permutations.
    return [
        (f"array_min(transform({hs}, h -> (h * {2 * i + 1} "
         f"+ {7919 * i}) % {MINHASH_P}))")
        for i in range(BANDS * ROWS)
    ]


def lsh_shingle_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): each document's distinct word-3-gram shingle set —
    the exact-verification payload of the MinHash pipeline (shared with
    the incremental index, ``ops/incremental.py``)."""
    return (docs
            .selectExpr("doc_id", f"{words_sql()} AS w")
            # Spark's sequence(1, n) DESCENDS for n < 1 instead of
            # returning empty (DuckDB's range is empty) — guard short
            # docs first
            .filter("size(w) >= 3")
            .selectExpr("doc_id", f"{_shingles_spark('w')} AS sh"))


def lsh_band_frame(base: DataFrame) -> DataFrame:
    """(doc_id, band, key): the flat LSH bucket rows — (band, key) is the
    candidate-join key and the storable index shape.

    Explodes literal band INDICES; the signature array passes THROUGH the
    Generate (required child output — evaluated once per input row) and
    each band key is derived post-explode from its own two slots.
    Exploding an array of computed band structs re-evaluated the whole
    24-permutation signature once per emitted band (see ops/text.py
    gram_rows_spark for the GenerateExec inlining mechanics).

    Band-key choice (r12, guide §2.3 "narrower types"): the band key is
    INTERNAL to candidate generation (never in any output, oracle, or
    readable contract), and two documents share a bucket exactly iff
    their two band slots are equal — so the key is the INJECTIVE slot
    packing ``slot0 * P + slot1`` (slots < P < 2^31, product < 2^62)
    instead of ``md5(concat_ws(...))``: candidate buckets are provably
    identical (md5 equality on distinct inputs differs only via
    collisions, which could only ADD verify-filtered candidates), 12
    md5 calls per document disappear, and the band join shuffles one
    8-byte long instead of a 32-char hex string per row. The persisted
    index (``ops/incremental.py``) stores the new key type; append ==
    rebuild bit-identity is preserved (both sides derive from this one
    function). The per-shingle PRE-hash stays md5-derived ``h28``: the
    minhash VALUES feed the banding probability, and swapping that hash
    re-rolls which near-threshold true pairs share a band (measured at
    sf0.1: an xxhash64 variant missed 2 of 256 jaccard>=0.8 pairs) —
    candidate RECALL, not just cost, depends on it."""
    hashed = base.selectExpr(
        "doc_id", f"transform(sh, s -> {h28_sql('s')}) AS hs")
    sigs = hashed.selectExpr(
        "doc_id", f"array({', '.join(_minhash_sig_spark('hs'))}) AS mhs")
    return (sigs
            .selectExpr("doc_id", "mhs",
                        f"explode(sequence(0, {BANDS - 1})) AS band")
            .selectExpr(
                "doc_id", "band",
                f"mhs[band * {ROWS}] * CAST({MINHASH_P} AS BIGINT) "
                f"+ mhs[band * {ROWS} + 1] AS key"))


def verified_jaccard_pairs(cand: DataFrame, sets: DataFrame,
                           threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (a_id, b_id) pairs against
    one (doc_id, sh) set source: pairs with ``round(|a∩b| / |a∪b|, 6) >=
    threshold``. Candidates must be id-deduped BEFORE this: a banded
    join multiplies pairs up to 12x and shuffling the (large) set arrays
    through that would dominate the run. ``array_intersect`` is a native
    codegen'd builtin; the two plain equi-joins on doc_id let AQE
    broadcast while the set side fits and fall back to a keyed shuffle
    join at scale (no forced broadcast of the corpus)."""
    cand = (cand
            .join(sets.selectExpr("doc_id AS a_id", "sh AS a_sh"), "a_id")
            .join(sets.selectExpr("doc_id AS b_id", "sh AS b_sh"), "b_id"))
    inter = "size(array_intersect(a_sh, b_sh))"
    jac = f"CAST({inter} AS DOUBLE) / (size(a_sh) + size(b_sh) - {inter})"
    return (cand.selectExpr("a_id", "b_id", f"round({jac}, 6) AS jaccard")
            .filter(f"jaccard >= {threshold}"))


def cap_hot_buckets(bands: DataFrame, cap: int,
                    keys: tuple[str, ...] = ("band", "key")) -> DataFrame:
    """Drop LSH bucket rows whose bucket holds more than ``cap``
    documents BEFORE the candidate self-join — the hot-bucket guard.

    A boilerplate-heavy corpus (identical license headers, cookie
    banners) puts N documents into one (band, key) bucket and the
    self-join emits N^2/2 candidate pairs before the exact verify; at
    100 TB a single hot band is a straggler task that can OOM. One
    per-bucket count over the join key bounds that: a bucket
    contributes at most cap^2/2 candidates.

    Callers that need over-cap buckets REPRESENTED rather than dropped
    pair this with ``hot_bucket_chain_links`` (a spanning chain of the
    bucket, N-1 rows) — ``dedup_minhash_lsh`` does.

    An uncached ``bands`` frame is cached defensively (see
    ``_with_bucket_count``): the count and the probe must see the SAME
    rows even for nondeterministic inputs.
    """
    from pyspark.sql import functions as F
    return (_with_bucket_count(bands, keys)
            .filter(F.col("__bn") <= cap).drop("__bn"))


def _with_bucket_count(bands: DataFrame,
                       keys: tuple[str, ...]) -> DataFrame:
    """Band frame + per-bucket document count ``__bn`` (idempotent —
    a frame already carrying ``__bn`` passes through so the guard and
    the chain-link path can SHARE one cached counted frame instead of
    re-evaluating the md5-heavy minhash twice).

    The count is a map-side-combined ``groupBy(keys)`` joined back —
    NOT ``count().over(Window.partitionBy(keys))``: a window has no
    partial aggregation and AQE cannot skew-split WindowExec, so the
    guard itself would have to materialize every row of the hot bucket
    it exists to defuse in ONE sort task. The aggregate reduces each
    map task's contribution to one row per local bucket before the
    shuffle, and the join back is an equi-join AQE can skew-split
    (same de-skew recipe as ``ops/substring.py``'s occurrence counts).

    ``bands`` is evaluated on BOTH join sides, so an uncached frame is
    cached defensively here: a nondeterministic input (sampled or
    rand()-salted band builds) could otherwise produce ``__bn`` counts
    inconsistent with the probe rows — rows wrongly kept or dropped by
    the public ``cap_hot_buckets`` / ``hot_bucket_chain_links`` — where
    the old single-pass window could not diverge. Already-cached
    callers (``dedup_minhash_lsh``) pass through unchanged; the cache
    is lifecycle-tracked via ``scoped_cache``, and evaluating the
    md5-heavy band expressions once instead of twice is a win for
    deterministic callers too."""
    from pyspark.sql import functions as F
    if "__bn" in bands.columns:
        return bands
    if not bands.is_cached:
        bands = scoped_cache(bands)
    counts = bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bn"))
    return bands.join(counts, list(keys))


def hot_bucket_chain_links(bands: DataFrame, cap: int,
                           keys: tuple[str, ...] = ("band", "key")
                           ) -> DataFrame:
    """Candidate (a_id, b_id) links for the OVER-cap buckets
    ``cap_hot_buckets`` removed: per hot bucket, consecutive doc_ids in
    sorted order — a SPANNING CHAIN of N-1 rows instead of the N^2/2
    all-pairs enumeration. Every member of a boilerplate family still
    appears in CANDIDATE pairs (links between near-identical neighbors
    then verify — an identical-text family connects completely; a
    sub-threshold consecutive pair drops its link), while the work
    stays linear in bucket size.

    Residual skew cost (deliberate): the ``lag`` needs each hot
    bucket's rows in doc_id ORDER, so every over-cap bucket is one
    WindowExec sort task holding that bucket's rows. Unlike the count
    this cannot be map-side combined — but it only ever RUNS on the
    over-cap buckets the ``__bn`` aggregate already identified (the
    under-cap torrent never reaches it), the carried payload is the
    narrow (keys, doc_id) projection, and the output is N-1 links. A
    10^8-copy family is one ~GB-scale sort task here versus the 10^16
    candidate pairs it replaces."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    wo = Window.partitionBy(*keys).orderBy("doc_id")
    return (_with_bucket_count(bands, keys)
            .filter(F.col("__bn") > cap)
            .withColumn("__prev", F.lag("doc_id").over(wo))
            .filter(F.col("__prev").isNotNull())
            .select(F.col("__prev").alias("a_id"),
                    F.col("doc_id").alias("b_id")))


# no-op at harness scale (max observed bucket: 19 docs at sf0.1); at
# corpus scale it bounds any bucket's candidate fan-out to cap^2/2
LSH_MAX_BUCKET_DOCS = 500


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str,
                      max_bucket_docs: int = LSH_MAX_BUCKET_DOCS
                      ) -> DataFrame:
    """MinHash-LSH near-dup pairs with the hot-bucket guard.

    Cap semantics (documented, data-dependent vs the exhaustive
    all-pairs oracle): buckets holding more than ``max_bucket_docs``
    documents contribute a verified SPANNING CHAIN of their sorted
    members (N-1 linear links via ``hot_bucket_chain_links``) instead
    of the N^2/2 all-pairs enumeration — every member of a duplicate
    family larger than the cap still appears in candidate pairs, and
    links between near-identical neighbors verify (an identical-text
    boilerplate family connects completely at jaccard 1.0; a looser
    family's chain can break where consecutive members fall below the
    threshold, leaving connectivity to the other bands), but the pair
    LIST is not exhaustive (exhaustive quadratic pair lists for such families
    belong on the clustering path, where ``dedup_clusters`` represents
    the family as one cluster). On corpora where no bucket exceeds the
    cap — including the driver's oracle-checked fixtures — the output
    is exactly the all-pairs answer."""
    docs = load_table(spark, sf_dir, "documents")
    # the shingle frame feeds the band build AND both verify joins —
    # uncached, each verify side re-ran the tokenize+shingle chain from
    # the source (two extra corpus passes; the same miss
    # dedup_incremental fixed r12, guide §1.2)
    base = scoped_cache(lsh_shingle_frame(docs))
    # the band frame feeds BOTH sides of the bucket-count join (the
    # groupBy and the probe), so cache it — the md5-heavy minhash
    # permutations evaluate once; then ONE cached counted frame feeds
    # the guard (both self-join branches) AND the hot-bucket chain path
    # (measured 2.3x on this op when the branches shared nothing)
    counted = scoped_cache(_with_bucket_count(
        scoped_cache(lsh_band_frame(base)), ("band", "key")))
    bands = cap_hot_buckets(counted, max_bucket_docs)
    a = bands.selectExpr("band", "key", "doc_id AS a_id")
    b = bands.selectExpr("band", "key", "doc_id AS b_id")
    cand = (a.join(b, ["band", "key"]).filter("a_id < b_id")
            .select("a_id", "b_id")
            .unionByName(hot_bucket_chain_links(counted,
                                                max_bucket_docs))
            .distinct())
    return verified_jaccard_pairs(cand, base, JACCARD_T)


def dedup_minhash_lsh_oracle() -> str:
    w, dw = "w", _shingles_duck("w")
    inter = "len(list_intersect(a.sh, b.sh))"
    jac = (f"CAST({inter} AS DOUBLE) / "
           f"(len(a.sh) + len(b.sh) - {inter})")
    return f"""
        WITH s AS (
            SELECT doc_id, {dw} AS sh
            FROM (SELECT doc_id, {duck_words_sql()} AS {w} FROM documents)
            WHERE len({w}) >= 3
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round({jac}, 6) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE round({jac}, 6) >= {JACCARD_T}
    """


# ----------------------------------------------- n-gram Jaccard (exact)
NGRAM_JACCARD_T = 0.7


def _bigrams_duck(words: str) -> str:
    return (f"list_distinct(list_transform(range(1, len({words})), "
            f"i -> {words}[i] || ' ' || {words}[i+1]))")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-bigram Jaccard pairs >= t via AllPairs/PPJoin prefix
    filtering (Bayardo et al., WWW'07): order tokens globally by ascending
    document frequency; two sets with J >= t must share a token within the
    first ``|g| - ceil(t*|g|) + 1`` rarest tokens, so joining on prefix
    tokens only is LOSSLESS while candidate counts stay near-linear.

    100 TB path: the only all-to-all operation is the equi-join on prefix
    tokens (a shuffle keyed by rare tokens — bounded fan-out by
    construction); no cross join anywhere. The DuckDB oracle computes the
    exact all-pairs answer, which must match exactly.

    Verification detail (r12, guide §2.3 "narrower types"): every
    stage past document frequency runs on INTEGER token ids, not token
    strings. Ids are injective and deterministic without any global
    rank: ``tid = row_number within pmod(xxhash64(tok), 1024) * 1024 +
    bucket`` — a window over evenly hashed VOCABULARY buckets (each
    partition sorts vocab/1024 entries; no single-partition window, no
    driver probe). Prefix filtering is lossless for ANY consistent
    total token order, and ``(df, tid)`` is one, so the surviving pair
    set is provably the same as with the old ``(df, tok)`` order; the
    jaccard values depend only on set sizes. The win: the per-doc
    collect shuffles 8-byte longs instead of bigram strings, the
    candidate equi-join keys on a long, and the exact verify
    intersects long arrays (no per-pair string hashing — measured
    2.6x on the verify stage).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    wdf = (docs.selectExpr("doc_id", f"{words_sql()} AS w")
           .filter("size(w) >= 2"))
    # consumed twice (document-frequency agg + the order join); cache the
    # exploded tokens so the split/bigram chain runs once. Bigrams are
    # built AFTER the position explode (w passes through the Generate);
    # the distinct() reproduces the array_distinct semantics of the
    # per-doc bigram set.
    toks = scoped_cache(
        wdf.selectExpr("doc_id", "w",
                       "explode(sequence(1, size(w) - 1)) AS i")
        .selectExpr("doc_id", "concat_ws(' ', w[i-1], w[i]) AS tok")
        .distinct())
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ids = (dfreq
           .withColumn("b", F.expr("pmod(xxhash64(tok), 1024)"))
           .withColumn("r", F.row_number().over(
               Window.partitionBy("b").orderBy("tok")))
           .selectExpr("tok", "df", "r * 1024 + b AS tid"))
    # Per-doc token arrays sorted by the global (ascending df, tid)
    # order — sorted locally after one keyed join; two keyed shuffles
    # total (df groupBy + per-doc collect), which is the minimum and
    # survives a web-scale vocabulary unchanged.
    sorted_sets = scoped_cache(
        toks.join(ids, "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(
            F.collect_list(F.struct("df", "tid"))).alias("st"))
        .selectExpr("doc_id",
                    "transform(st, s -> s.tid) AS toks"))
    prefix = sorted_sets.selectExpr(
        "doc_id", "size(toks) AS n",
        f"slice(toks, 1, size(toks) - CAST(ceil({NGRAM_JACCARD_T} * "
        f"size(toks)) AS INT) + 1) AS pref")
    ex = prefix.selectExpr("doc_id", "n",
                           "posexplode(pref) AS (pos0, tok)")
    a = ex.selectExpr("tok", "doc_id AS a_id", "n AS a_n", "pos0 + 1 AS a_pos")
    b = ex.selectExpr("tok", "doc_id AS b_id", "n AS b_n", "pos0 + 1 AS b_pos")
    # PPJoin position filter (lossless): common tokens all sit at positions
    # >= the first match, so inter <= 1 + min(na-i, nb-k); J >= t needs
    # inter >= t/(1+t) * (na+nb)
    alpha = f"({NGRAM_JACCARD_T} / (1 + {NGRAM_JACCARD_T}) * (a_n + b_n))"
    cand = (a.join(b, "tok")
            .filter("a_id < b_id")
            .filter(f"1 + least(a_n - a_pos, b_n - b_pos) >= {alpha}")
            .select("a_id", "b_id")
            .distinct())
    return verified_jaccard_pairs(
        cand, sorted_sets.selectExpr("doc_id", "toks AS sh"),
        NGRAM_JACCARD_T)


def dedup_ngram_jaccard_oracle() -> str:
    inter = "len(list_intersect(a.g, b.g))"
    jac = f"CAST({inter} AS DOUBLE) / (len(a.g) + len(b.g) - {inter})"
    return f"""
        WITH s AS (
            SELECT doc_id, {_bigrams_duck('w')} AS g
            FROM (SELECT doc_id, {duck_words_sql()} AS w FROM documents)
            WHERE len(w) >= 2
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, round({jac}, 6) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE round({jac}, 6) >= {NGRAM_JACCARD_T}
    """


# ----------------------------------------- embedding-cosine near-dup
EMBED_COS_T = 0.95


def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate assignment over the embedding column: every vector
    maps to the smallest vec_id in its cosine-similarity neighborhood
    (1-hop keeper rule — deterministic, no iteration). Vectors with no
    neighbor above the threshold keep themselves.

    Cluster-safe: neighborhoods come from the exact block-partitioned
    kernel (similarity.cos_neighbor_stats — shuffle keyed by block pair,
    partial stats merged by one groupBy(vec_id), nothing collected to
    the driver).
    """
    from .similarity import cos_neighbor_stats
    emb = load_table(spark, sf_dir, "embeddings")
    return (cos_neighbor_stats(emb, EMBED_COS_T)
            .selectExpr(
                "vec_id",
                "least(vec_id, min_nb) AS keeper_id",
                "n_near",
                "CAST(least(vec_id, min_nb) != vec_id AS INT) AS is_dup"))


def dedup_embed_cosine_oracle() -> str:
    from .similarity import _cos_sql
    cos = _cos_sql("a.embedding", "b.embedding", one_based=True)
    return f"""
        WITH near AS (
            SELECT a.vec_id AS a_id, MIN(b.vec_id) AS min_nb,
                   COUNT(*) AS n_near
            FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
            WHERE round({cos}, 6) >= {EMBED_COS_T}
            GROUP BY a.vec_id
        )
        SELECT e.vec_id,
               LEAST(e.vec_id, COALESCE(n.min_nb, e.vec_id)) AS keeper_id,
               COALESCE(n.n_near, 0) AS n_near,
               CAST(LEAST(e.vec_id, COALESCE(n.min_nb, e.vec_id))
                    != e.vec_id AS INT) AS is_dup
        FROM embeddings e LEFT JOIN near n ON e.vec_id = n.a_id
    """


# ------------------------------------------------------------ simhash
def _simhash_expr_spark(hw: str) -> str:
    # hash each distinct word ONCE into ``hw``, then run the 32 per-bit
    # majority votes over the integer array (md5 is ~all the cost)
    bit_sums = [
        (f"(CASE WHEN aggregate({hw}, 0, (acc, h) -> acc + "
         f"(CASE WHEN (h div {1 << bit}) % 2 = 1 "
         f"THEN 1 ELSE -1 END)) > 0 THEN CAST({1 << bit} AS BIGINT) "
         f"ELSE CAST(0 AS BIGINT) END)")
        for bit in range(SIMHASH_BITS)
    ]
    return "(" + " + ".join(bit_sums) + ")"


def _simhash_expr_duck(dw: str) -> str:
    bit_sums = [
        (f"(CASE WHEN list_sum(list_transform({dw}, x -> "
         f"CASE WHEN ({duck_h32_sql('x')} // {1 << bit}) % 2 = 1 "
         f"THEN 1 ELSE -1 END)) > 0 THEN {1 << bit}::BIGINT "
         f"ELSE 0::BIGINT END)")
        for bit in range(SIMHASH_BITS)
    ]
    return "(" + " + ".join(bit_sums) + ")"


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs
            .selectExpr("doc_id",
                        f"array_distinct({words_sql()}) AS dw")
            .selectExpr("doc_id",
                        f"transform(dw, x -> {h32_sql('x')}) AS hw")
            .selectExpr("doc_id",
                        f"{_simhash_expr_spark('hw')} AS simhash"))


def dedup_simhash_oracle() -> str:
    return f"""
        SELECT doc_id, {_simhash_expr_duck('dw')} AS simhash
        FROM (SELECT doc_id, list_distinct({duck_words_sql()}) AS dw
              FROM documents)
    """


# ------------------------------------------------------ streaming dedup
DOC_SCHEMA = ("doc_id long, text string, lang string, source string, "
              "n_chars long")


def streaming_dedup_df(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming exact dedup: drop any document whose content hash was
    already seen in ANY earlier micro-batch (first occurrence wins).

    ``dropDuplicates`` on a streaming frame keeps the seen-key set in the
    checkpointed state store, partitioned by the hash — the streaming twin
    of ``dedup_signatures``' exact-hash family, and the shape an ingest
    pipeline uses to dedupe a continuous document feed. State grows with
    distinct keys; bound it with ``dropDuplicatesWithinWatermark`` when
    the feed has event time (the test corpus has none).
    """
    raw = (spark.readStream.schema(DOC_SCHEMA).format("parquet")
           .load(docs_dir))
    return (raw.selectExpr("doc_id", "md5(text) AS content_hash",
                           "lang", "source", "n_chars")
            .dropDuplicates(["content_hash"]))


def streaming_dedup(spark: SparkSession, docs_dir: str, out_dir: str,
                    ckpt_dir: str) -> None:
    """One availableNow drain of the document backlog through the
    stateful dedup into an append parquet sink (exactly-once via the sink
    commit log + checkpointed seen-key state)."""
    q = (streaming_dedup_df(spark, docs_dir).writeStream
         .format("parquet")
         .outputMode("append")
         .option("path", out_dir)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def dedup_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document signature table: exact content hash, order-insensitive
    wordset fingerprint, and 32-bit simhash, each with its group's keeper
    (min doc_id) and duplicate count.

    One driver-contract entry covering the three signature families
    (exact content hash, wordset fingerprint, simhash) in a single pass.

    Scale shape: signature computation is pure codegen; the
    keeper/count columns are map-side-combined ``groupBy(fingerprint)``
    aggregates joined back — NOT ``min/count().over(Window.partitionBy(
    fingerprint))``. A fingerprint IS the duplicate-family key, so it
    is skewed by construction (a boilerplate document duplicated 10^8
    times is one fingerprint), and a window on it would materialize the
    whole family — fingerprint payloads included — in ONE unsplittable
    sort task (no partial aggregation; AQE cannot skew-split
    WindowExec). The aggregate emits one row per (map task, local
    fingerprint) before the shuffle and the join back is
    AQE-skew-splittable — bit-identical outputs, the same de-skew as
    ``ops/substring.py`` (plan-pinned: no WindowExec on either
    fingerprint, ``tests/test_ops_dedup_plans.py``). The signature
    frame feeds both aggregates and the probe side, so it is
    scoped-cached (narrow: doc_id + three fingerprints).
    """
    return dedup_signatures_frame(load_table(spark, sf_dir, "documents"))


def dedup_signatures_frame(docs: DataFrame) -> DataFrame:
    """Signature table over any (doc_id, text) frame — see
    ``dedup_signatures`` for semantics and the de-skew scale shape."""
    from pyspark.sql import functions as F
    ws_fp = f"md5(array_join(array_sort(array_distinct({words_sql()})), ' '))"
    sig = (docs
           .selectExpr("doc_id",
                       "md5(text) AS content_hash",
                       f"{ws_fp} AS wordset_fp",
                       f"array_distinct({words_sql()}) AS dw")
           .selectExpr("doc_id", "content_hash", "wordset_fp",
                       f"transform(dw, x -> {h32_sql('x')}) AS hw")
           .selectExpr("doc_id", "content_hash", "wordset_fp",
                       f"{_simhash_expr_spark('hw')} AS simhash"))
    sig = scoped_cache(sig)
    ex = (sig.groupBy("content_hash")
          .agg(F.min("doc_id").alias("exact_keeper"),
               F.count(F.lit(1)).alias("exact_dups")))
    ws = (sig.groupBy("wordset_fp")
          .agg(F.min("doc_id").alias("wordset_keeper"),
               F.count(F.lit(1)).alias("wordset_dups")))
    return (sig.join(ex, "content_hash").join(ws, "wordset_fp")
            .select("doc_id", "content_hash", "wordset_fp", "simhash",
                    "exact_keeper", "exact_dups",
                    "wordset_keeper", "wordset_dups"))


def dedup_signatures_oracle() -> str:
    return f"""
        SELECT doc_id, content_hash, wordset_fp, simhash,
               MIN(doc_id) OVER (PARTITION BY content_hash) AS exact_keeper,
               COUNT(*) OVER (PARTITION BY content_hash) AS exact_dups,
               MIN(doc_id) OVER (PARTITION BY wordset_fp) AS wordset_keeper,
               COUNT(*) OVER (PARTITION BY wordset_fp) AS wordset_dups
        FROM (
            SELECT doc_id, md5(text) AS content_hash,
                   md5(array_to_string(list_sort(list_distinct(
                       {duck_words_sql()})), ' ')) AS wordset_fp,
                   {_simhash_expr_duck('dw')} AS simhash
            FROM (SELECT doc_id, text,
                         list_distinct({duck_words_sql()}) AS dw
                  FROM documents)
        )
    """


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All doc pairs within hamming <= HAMMING_T, via the pigeonhole
    chunk join run between DISTINCT simhash VALUES (the ``dedup_clusters``
    value collapse), then expanded back to documents.

    This is the hot-bucket guard for the simhash join, and unlike a
    bucket cap it is LOSSLESS: a boilerplate family of N near-identical
    documents collapses to a handful of distinct fingerprints, so the
    (c, v) chunk buckets hold distinct VALUES (bounded by fingerprint
    diversity) instead of N document rows — candidate work no longer
    scales with family size. The quadratic doc-level expansion survives
    only where it IS the answer (a value pair's doc pairs are all true
    hamming matches; same-value families are all hamming-0 pairs).
    Output is bit-identical to the direct doc-level join: hamming <= 3
    with 4 chunks pigeonholes every qualifying VALUE pair into at least
    one shared chunk, and same-value pairs are hamming 0 by definition.
    """
    sh = dedup_simhash(spark, sf_dir).select("doc_id", "simhash")
    sh = scoped_cache(sh)  # consumed by the chunk join + 3 expansions
    vals = sh.select("simhash").distinct()
    # literal chunk indices explode; simhash passes through the Generate
    # and each chunk value is sliced out post-explode (see ops/text.py
    # gram_rows_spark for the GenerateExec inlining mechanics)
    chunks = (vals.selectExpr("simhash",
                              f"explode(sequence(0, {SIMHASH_CHUNKS - 1})) "
                              f"AS c")
              .selectExpr(
                  "simhash",
                  "named_struct('c', c, 'v', (simhash div "
                  "shiftleft(CAST(1 AS BIGINT), 8 * c)) % 256) AS ck"))
    va = chunks.selectExpr("ck", "simhash AS a_sh")
    vb = chunks.selectExpr("ck", "simhash AS b_sh")
    vpairs = (va.join(vb, "ck").filter("a_sh < b_sh")
              .selectExpr("a_sh", "b_sh",
                          "bit_count(a_sh ^ b_sh) AS hamming")
              .filter(f"hamming <= {HAMMING_T}")
              .distinct())
    # cross-value doc pairs: each unordered doc pair appears exactly once
    # (its value pair is unique under a_sh < b_sh) — least/greatest
    # restores the a_id < b_id output contract
    cross = (vpairs
             .join(sh.selectExpr("simhash AS a_sh", "doc_id AS x"), "a_sh")
             .join(sh.selectExpr("simhash AS b_sh", "doc_id AS y"), "b_sh")
             .selectExpr("least(x, y) AS a_id", "greatest(x, y) AS b_id",
                         "hamming"))
    # same-value doc pairs are hamming 0
    same = (sh.selectExpr("simhash", "doc_id AS a_id")
            .join(sh.selectExpr("simhash", "doc_id AS b_id"), "simhash")
            .filter("a_id < b_id")
            .selectExpr("a_id", "b_id", "CAST(0 AS INT) AS hamming"))
    return cross.unionByName(same)


def dedup_simhash_pairs_oracle() -> str:
    return f"""
        WITH s AS ({dedup_simhash_oracle()})
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_T}
    """


# ------------------------------------------------------------- clustering
# one value-graph shuffle partition per this many distinct simhash values;
# the pigeonhole self-join fans each value out SIMHASH_CHUNKS times, so a
# partition holds ~8x this many probe rows — comfortably in-memory
CC_VALUES_PER_PARTITION = 1_000_000


def cc_shuffle_cap(spark: SparkSession, n_values: int) -> int:
    """Shuffle-partition cap for the distinct-simhash-value graph:
    ``max(8, min(n_values / CC_VALUES_PER_PARTITION, defaultParallelism))``
    — note the FLOOR WINS over the ceiling on <8-core sessions (8 small
    tasks queue harmlessly; under-splitting a big graph does not). The
    floor keeps the harness-scale graph (thousands of values) off
    200-task stages whose launch overhead dominates; the data-derived
    middle keeps 100 TB corpora (billions of values) from funneling into
    8 partitions; the parallelism ceiling stops over-splitting past the
    cluster's cores."""
    derived = n_values // CC_VALUES_PER_PARTITION
    return max(8, min(derived, spark.sparkContext.defaultParallelism))


def _ckpt(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Truncate lineage for iterative algorithms. ``localCheckpoint`` is
    the right default for a single-JVM harness, but executor-LOCAL
    checkpoints die with their executor — on a real cluster (dynamic
    allocation, spot nodes) a lost executor mid-iteration fails the job
    unrecoverably. Pass ``reliable=True`` (after
    ``spark.sparkContext.setCheckpointDir(...)`` to a durable FS) to use
    the fault-tolerant ``checkpoint()`` instead."""
    return df.checkpoint() if reliable else df.localCheckpoint()


def _min_label_cc(edges: DataFrame, max_iters: int,
                  reliable_checkpoint: bool = False) -> DataFrame:
    """Connected components over a SYMMETRIC localCheckpoint'ed edge
    frame: (doc_id, label=component min) for every incident vertex.

    Min-label propagation with pointer jumping to a fixed point; each
    iteration is keyed joins + one groupBy-min (Hash-to-Min, Rastogi et
    al., ICDE'13), and distance-to-minimum halves per round. Per-round
    ``localCheckpoint`` truncates the otherwise-exponential lineage
    (neighbor + jump + carry branches), the standard iterative-graph
    pattern (GraphX/Pregel do the same). The convergence probe is a 1-row
    count, not a data collect. Deterministic: the fixed point is unique.
    """
    from pyspark.sql import functions as F
    labels = _ckpt(edges.select("u").distinct()
                   .selectExpr("u AS doc_id", "u AS label"),
                   reliable_checkpoint)
    for _ in range(max_iters):
        neigh = (edges.join(labels.selectExpr("doc_id AS v", "label"), "v")
                 .selectExpr("u AS doc_id", "label",
                             "CAST(NULL AS BIGINT) AS old"))
        jump = (labels.selectExpr("doc_id", "label AS j")
                .join(labels.selectExpr("doc_id AS j", "label"), "j")
                .selectExpr("doc_id", "label",
                            "CAST(NULL AS BIGINT) AS old"))
        # the previous label rides along as ``old`` so convergence reads
        # off the SAME aggregated (checkpointed) frame — no extra join
        new_full = _ckpt(labels.selectExpr("doc_id", "label", "label AS old")
                         .unionByName(neigh).unionByName(jump)
                         .groupBy("doc_id")
                         .agg(F.min("label").alias("label"),
                              F.min("old").alias("old")),
                         reliable_checkpoint)
        changed = new_full.filter("label < old").limit(1).count()
        labels = new_full.select("doc_id", "label")
        if changed == 0:
            break
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str,
                   max_iters: int = 25,
                   reliable_checkpoint: bool = False,
                   ordered: bool = True) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the simhash
    near-dup graph, each document labeled with its component's minimum
    doc_id (the canonical keeper) plus the component size.

    This is the step that turns near-dup detection into dedup decisions
    (keep one doc per cluster). Near-dup graphs are CLIQUE-heavy — a
    k-member duplicate family shares one simhash and contributes ~k^2
    pairs (measured at sf0.1: 5000 docs -> 2949 DISTINCT simhashes, one
    339-doc family alone = 115k pairs) — so the doc-level pair list is
    quadratic in family size. Connectivity, however, depends ONLY on the
    simhash VALUE (hamming is a function of the two values; equal values
    are trivially connected at hamming 0), so:

    1. VALUE COLLAPSE: groupBy simhash -> (value, rep=min doc_id). The
       rep of the component-minimum doc's value IS the component minimum
       (any smaller doc sharing that value would itself be the minimum),
       so min-labels over reps equal min-labels over docs.
    2. The pigeonhole chunk join runs between DISTINCT VALUES only —
       identical-value families generate zero candidate pairs, and the
       hamming filter runs BEFORE the pair distinct.
    3. STAR CONTRACTION + the tiny bridge-graph min-label loop
       (``_min_label_cc``) label the reps; docs rejoin through their
       simhash value (one broadcast-size join), singleton values keep
       ``label = rep``. Cluster sizes aggregate at the VALUE level too
       (sum of per-value doc counts carried from the collapse — r12,
       guide §2.3 "aggregate before you shuffle"; the old doc-level
       ``groupBy(label)`` re-evaluated the corpus-size label join just
       to count rows the collapse had already counted). The corpus-size
       frame is touched exactly twice: once to compute simhash, once
       for the single final label+size join.

    ``reliable_checkpoint=True`` switches lineage truncation to
    fault-tolerant ``checkpoint()`` for cluster deployments (see
    ``_ckpt``).
    """
    from pyspark.sql import functions as F

    def pin(df: DataFrame) -> DataFrame:
        """Materialization pin for multiply-consumed frames. Default:
        a lifecycle-tracked cache — LAZY, so it adds no eager driver
        job (the r12 job-count audit found the four eager
        localCheckpoints + the sizing count here serialized ~6 driver
        round-trips per call, the dominant cost of this op — and of
        ``op_curate``, which runs it again — at harness scale; a lost
        executor just recomputes from lineage). ``reliable_checkpoint``
        deployments keep the durable ``checkpoint()``."""
        return _ckpt(df, True) if reliable_checkpoint else scoped_cache(df)

    # one pass computes simhash per doc; pinned so the value collapse
    # and the final label join both re-read instead of re-hashing
    sh = pin(dedup_simhash(spark, sf_dir).select("doc_id", "simhash"))
    # pinned: the chunk explode AND the final label join both re-read
    # it. The collapse carries the per-value doc count so cluster sizes
    # never need a second corpus-level aggregation.
    vals = pin(sh.groupBy("simhash").agg(
        F.min("doc_id").alias("rep"),
        F.count(F.lit(1)).alias("vcnt")))

    # pigeonhole chunk join between DISTINCT simhash values (lossless for
    # hamming <= HAMMING_T with SIMHASH_CHUNKS > HAMMING_T differing
    # chunks). The value-level graph is orders of magnitude smaller than
    # the corpus; AQE partition coalescing (on by default in the session)
    # sizes its post-shuffle stages from the data — the r11 shape
    # additionally pre-counted the distinct values (one eager driver job)
    # to cap spark.sql.shuffle.partitions by hand, which duplicated what
    # AQE already does (``cc_shuffle_cap`` stays public for deployments
    # that run with AQE off).
    chunks = (vals.selectExpr(
                  "simhash", "rep",
                  f"explode(sequence(0, {SIMHASH_CHUNKS - 1})) AS c")
              .selectExpr(
                  "simhash", "rep",
                  "named_struct('c', c, 'v', (simhash div "
                  "shiftleft(CAST(1 AS BIGINT), 8 * c)) % 256) AS ck"))
    a = chunks.selectExpr("ck", "rep AS u", "simhash AS ush")
    b = chunks.selectExpr("ck", "rep AS v", "simhash AS vsh")
    edges_dir = (a.join(b, "ck").filter("u < v")
                 .filter(f"bit_count(ush ^ vsh) <= {HAMMING_T}")
                 .select("u", "v").distinct())
    pairs = pin(edges_dir)
    # the mirrored edge view stays LAZY: both consumers re-read the
    # pinned pairs, cheaper than materializing the 2x edge list
    edges = (pairs.selectExpr("u", "v")
             .unionByName(pairs.selectExpr("v AS u", "u AS v")))

    # star contraction: min over each vertex's neighborhood (+ itself).
    # Pinned (r13): it is consumed three times — both sides of the
    # bridge-graph build AND the final rep_labels join — and each
    # consumer otherwise re-runs the groupBy over the mirrored edge
    # union (the op_curate plan audit showed the u-keyed exchange
    # planned 3x; guide §1.2). Rep-level rows, so the blocks are tiny.
    first = pin(edges.groupBy("u").agg(F.min("v").alias("mv"))
                .selectExpr("u AS rep", "least(u, mv) AS label"))

    # bridge graph: only edges crossing label boundaries survive
    rep_edges = pin(
        edges
        .join(first.selectExpr("rep AS u", "label AS lu"), "u")
        .join(first.selectExpr("rep AS v", "label AS lv"), "v")
        .selectExpr("lu AS u", "lv AS v")
        .filter("u != v").distinct())

    # BOUNDED probe-collect: fetch at most cap+1 edges in ONE driver
    # job — it is simultaneously the empty test, the cap gate, and
    # (when under the cap) the full edge list the union-find needs.
    # The r11 shape ran count() and then toPandas() as two serialized
    # jobs over the same pinned frame (r12, guide §1.2).
    edges_pdf = rep_edges.limit(LOCAL_CC_MAX_EDGES + 1).toPandas()
    n_bridge = len(edges_pdf)
    if n_bridge == 0:
        rep_labels = first.selectExpr("rep", "label")
    elif n_bridge <= LOCAL_CC_MAX_EDGES:
        # two-phase CC: the distributed star contraction already
        # collapsed every clique, so the surviving bridge graph is
        # inter-clique links only. Under the explicit edge cap the
        # Arrow-backed toPandas lands two primitive int64 arrays
        # (~32 MB at the cap — no per-row Row objects) and a
        # driver-side union-find finish replaces
        # ~O(log d) distributed rounds of join+groupBy+checkpoint
        # driver latency — a BOUNDED collect, same pattern as the
        # capped query side of sim_topk. Above the cap the
        # distributed min-label loop runs instead.
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for u, v in zip(edges_pdf["u"].to_numpy(),
                        edges_pdf["v"].to_numpy()):
            u, v = int(u), int(v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by min so the root IS the component minimum
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        # Arrow-path createDataFrame (pandas in, no Python-RDD stage):
        # the local-rows list form serializes through a Python worker
        # round per action — the write_sentinel lesson
        import pandas as _pd
        roots = spark.createDataFrame(
            _pd.DataFrame({"doc_id": [int(k) for k in parent],
                           "label": [int(find(k)) for k in parent]}),
            "doc_id long, label long")
        rep_labels = (first.join(
                          F.broadcast(roots.selectExpr(
                              "doc_id AS label", "label AS root")),
                          "label", "left_outer")
                      .selectExpr("rep",
                                  "coalesce(root, label) AS label"))
    else:
        roots = _min_label_cc(rep_edges, max_iters,
                              reliable_checkpoint)
        rep_labels = (first.join(roots.selectExpr("doc_id AS label",
                                                  "label AS root"),
                                 "label", "left_outer")
                      .selectExpr("rep",
                                  "coalesce(root, label) AS label"))

    # label per VALUE (singleton values — no edge — keep their own rep),
    # cluster sizes per label as the SUM of per-value doc counts: both
    # stay on the tiny value frame, and docs rejoin once at the end
    vlab = (vals.join(rep_labels, "rep", "left_outer")
            .selectExpr("simhash", "coalesce(label, rep) AS label",
                        "vcnt"))
    vsizes = vlab.groupBy("label").agg(
        F.sum("vcnt").alias("cluster_size"))
    out = (sh.join(vlab.join(vsizes, "label"), "simhash")
           .selectExpr("doc_id", "label AS cluster_id", "cluster_size"))
    # ``ordered=False`` (r13) skips the corpus-wide range exchange +
    # sort for compositions that immediately re-key the rows anyway
    # (op_curate joins on doc_id and re-sorts its own output; guide
    # §2.4 "an orderBy used only to make output deterministic")
    return out.orderBy("doc_id") if ordered else out


def dedup_clusters_oracle() -> str:
    """Transitive-closure min-label via a recursive CTE (exact; the pair
    graph is near-dup-sized, so closure rows stay bounded)."""
    return f"""
        WITH RECURSIVE pairs AS ({dedup_simhash_pairs_oracle()}),
        e AS (
            SELECT a_id AS u, b_id AS v FROM pairs
            UNION
            SELECT b_id AS u, a_id AS v FROM pairs
        ),
        reach(d, l) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.u, reach.l FROM e JOIN reach ON reach.d = e.v
        ),
        lbl AS (SELECT d AS doc_id, MIN(l) AS cluster_id
                FROM reach GROUP BY d)
        SELECT doc_id, cluster_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM lbl ORDER BY doc_id
    """
