"""Training-data assembly operators over the ``documents`` table:
sequence packing, stratified hash-sampling, and token-count quantiles.

Net-new LLM-pipeline primitives (the reference has no data-prep surface;
build brief "training-data pipeline" items). All three are exact and
oracle-checked.

* ``pack_sequences`` — greedy sequential bin-packing of documents into
  fixed token-budget training sequences. Scale design: documents are
  hash-sharded (``doc_id % N_SHARDS``); packing is sequential *within* a
  shard (inherent to the semantics — each doc's bin depends on every
  earlier doc in its shard) and embarrassingly parallel *across* shards,
  so the shard count is the parallelism knob (thousands at cluster
  scale). One shuffle (groupBy shard), Arrow-batched ``applyInPandas``,
  O(1) state per shard, no driver participation. The DuckDB oracle
  replays the same greedy scan as a recursive CTE.
* ``sample_stratified`` — deterministic per-stratum hash sampling: keep a
  document iff ``md5(seed, doc_id) % 1000 <`` the stratum's per-mille
  rate, carrying the inverse-probability ``weight`` (1000/rate) that
  downstream aggregations need to stay unbiased. Pure codegen
  expressions, no shuffle at all — the canonical reproducible-sampling
  shape (re-running on a grown corpus keeps previously-kept docs).
* ``token_quantiles`` — per-language exact p50/p90/p99 of whitespace
  token counts plus mean/min/max. Spark ``percentile`` and DuckDB
  ``quantile_cont`` share the linear-interpolation definition, so the
  doubles match bit-for-bit. Exact percentile is one sort-based shuffle
  per group at scale; ``approx_quantiles`` (same output shape, GK sketch
  via ``percentile_approx``) is the mergeable one-pass scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .common import duck_h32_sql, duck_words_sql, h32_sql, load_table, words_sql

#: token budget per packed training sequence (small because the synthetic
#: docs average ~12 whitespace tokens; a real corpus would use 2048/4096)
PACK_BUDGET = 48
#: packing shards — the unit of parallelism (a real cluster uses O(10k))
N_SHARDS = 16

#: per-stratum sampling rates in per-mille, keyed by ``lang``
SAMPLE_RATES = {"en": 800, "de": 500, "es": 250, "fr": 125}
SAMPLE_DEFAULT = 100
SAMPLE_SEED = "smpl1:"

PACK_SCHEMA = ("doc_id long, shard long, seq_id long, "
               "tok_offset long, n_tok long")


# ---------------------------------------------------------------- packing
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit-sequential packing: docs ordered by id within a
    shard; a doc opens a new sequence when it would overflow the budget
    (over-budget docs get a sequence of their own)."""
    import pandas as pd

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id",
                    (F.col("doc_id") % N_SHARDS).alias("shard"),
                    F.expr(f"size({words_sql()})").alias("n_tok")))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq, fill = 0, 0
        seqs, offs = [], []
        for n in pdf["n_tok"]:
            n = int(n)
            if fill > 0 and fill + n > PACK_BUDGET:
                seq, fill = seq + 1, 0
            seqs.append(seq)
            offs.append(fill)
            fill += n
        pdf["seq_id"] = seqs
        pdf["tok_offset"] = offs
        return pdf[["doc_id", "shard", "seq_id", "tok_offset", "n_tok"]]

    return docs.groupBy("shard").applyInPandas(pack, schema=PACK_SCHEMA)


def pack_sequences_oracle() -> str:
    return f"""
        WITH RECURSIVE d AS (
            SELECT doc_id, doc_id % {N_SHARDS} AS shard,
                   len({duck_words_sql()}) AS n_tok,
                   row_number() OVER (PARTITION BY doc_id % {N_SHARDS}
                                      ORDER BY doc_id) AS rn
            FROM documents
        ), p AS (
            SELECT shard, rn, doc_id, n_tok,
                   0::BIGINT AS seq_id, 0::BIGINT AS tok_offset
            FROM d WHERE rn = 1
            UNION ALL
            SELECT d.shard, d.rn, d.doc_id, d.n_tok,
                   CASE WHEN p.tok_offset + p.n_tok + d.n_tok
                             > {PACK_BUDGET}
                        THEN p.seq_id + 1 ELSE p.seq_id END,
                   CASE WHEN p.tok_offset + p.n_tok + d.n_tok
                             > {PACK_BUDGET}
                        THEN 0 ELSE p.tok_offset + p.n_tok END
            FROM p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
        )
        SELECT doc_id, shard, seq_id, tok_offset, n_tok FROM p
    """


def pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-level manifest (docs per sequence, fill ratio) — the
    shape a training loader consumes. Derived, not separately registered."""
    per_doc = pack_sequences(spark, sf_dir)
    return (per_doc.groupBy("shard", "seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("total_tok"),
                 (F.sum("n_tok") / F.lit(float(PACK_BUDGET)))
                 .alias("fill_ratio")))


# --------------------------------------------------------------- sampling
def _bucket_exprs(spark_side: bool) -> tuple[str, str, str]:
    """(bucket, rate, weight) SQL — identical semantics in both engines."""
    h = h32_sql if spark_side else duck_h32_sql
    seed_id = (f"concat('{SAMPLE_SEED}', CAST(doc_id AS STRING))"
               if spark_side else f"'{SAMPLE_SEED}' || doc_id::VARCHAR")
    bucket = f"{h(seed_id)} % 1000"
    whens = " ".join(f"WHEN '{k}' THEN {v}"
                     for k, v in sorted(SAMPLE_RATES.items()))
    rate = f"CASE lang {whens} ELSE {SAMPLE_DEFAULT} END"
    weight = f"CAST(1000.0 AS DOUBLE) / ({rate})"
    return bucket, rate, weight


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket, rate, weight = _bucket_exprs(spark_side=True)
    return (load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang",
                    F.expr(bucket).alias("bucket"),
                    F.expr(rate).cast("long").alias("rate_pm"),
                    F.expr(weight).alias("weight"))
            .filter(F.col("bucket") < F.col("rate_pm")))


# -------------------------------------------------------------- quantiles
_QS = (0.5, 0.9, 0.99)


def token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents")
            .select("lang", F.expr(f"size({words_sql()})").alias("n_tok")))
    aggs = [F.expr(f"percentile(n_tok, {q})").alias(f"p{int(q * 100)}")
            for q in _QS]
    return (docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_tok").alias("min_tok"),
                 F.max("n_tok").alias("max_tok"),
                 (F.sum("n_tok").cast("double") / F.count(F.lit(1)))
                 .alias("mean_tok"),
                 *aggs))


def token_quantiles_oracle() -> str:
    qcols = ", ".join(
        f"quantile_cont(n_tok, {q}) AS p{int(q * 100)}" for q in _QS)
    return f"""
        WITH d AS (SELECT lang, len({duck_words_sql()}) AS n_tok
                   FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
               MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok,
               CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS mean_tok,
               {qcols}
        FROM d GROUP BY lang
    """


def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: GK-sketch percentiles (mergeable, one pass, no
    per-group sort) — same output shape as ``token_quantiles``."""
    docs = (load_table(spark, sf_dir, "documents")
            .select("lang", F.expr(f"size({words_sql()})").alias("n_tok")))
    aggs = [F.expr(f"percentile_approx(n_tok, {q}, 10000)")
            .cast("double").alias(f"p{int(q * 100)}") for q in _QS]
    return (docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_tok").alias("min_tok"),
                 F.max("n_tok").alias("max_tok"),
                 (F.sum("n_tok").cast("double") / F.count(F.lit(1)))
                 .alias("mean_tok"),
                 *aggs))


# --------------------------------------------------------- mixture balance
def _mix_bucket(spark_side: bool) -> str:
    h = h32_sql if spark_side else duck_h32_sql
    seed_id = (f"concat('{SAMPLE_SEED}', CAST(doc_id AS STRING))"
               if spark_side else f"'{SAMPLE_SEED}' || doc_id::VARCHAR")
    return f"{h(seed_id)} % 1000"


def mix_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture balancing: derive the per-domain sampling rates
    that produce a UNIFORM mixture over ``lang`` without upsampling any
    domain (i.e. the largest achievable balanced corpus: with uniform
    targets the binding domain is the smallest one, so
    ``rate_l = min_count / count_l``), then hash-sample deterministically
    with those rates and report per-domain achieved counts plus the
    inverse-probability weight downstream aggregations need.

    This is the static-mixture half of domain reweighting (the fixed
    mixtures of GPT-3 Table 2.2 / The Pile; DoReMi learns the targets,
    the application step is identical). All arithmetic is integer
    (``rate_pm = (min_c * 1000) DIV count_l``) so both engines agree
    exactly.

    Scale shape: one tiny groupBy(lang) for the histogram, a broadcast of
    the k-domain rate table back onto the corpus, and a pure-codegen
    md5-bucket filter — the corpus is never shuffled. Reproducible under
    corpus growth (same seed keeps the same documents).
    """
    from pyspark.sql.window import Window
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # clamp at 1: a domain >1000x the smallest would otherwise round to
    # rate 0 (silently dropped entirely, and weight = 1000/0 diverges);
    # min via a global window over the tiny histogram — see
    # sample_profile for the crossJoin this replaces
    rates = (counts
             .withColumn("min_c", F.min("n_docs").over(Window.partitionBy()))
             .withColumn("rate_pm",
                         F.expr("GREATEST(CAST((min_c * 1000) DIV n_docs "
                                "AS BIGINT), CAST(1 AS BIGINT))"))
             .drop("min_c"))
    kept = (docs.selectExpr("doc_id", "lang",
                            f"{_mix_bucket(True)} AS bucket")
            .join(F.broadcast(rates.select("lang", "rate_pm")), "lang")
            .filter(F.col("bucket") < F.col("rate_pm")))
    n_kept = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
    return (rates.join(n_kept, "lang", "left_outer")
            .select("lang", "n_docs", "rate_pm",
                    F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
                    F.round(F.lit(1000.0) / F.col("rate_pm"), 6)
                     .alias("weight")))


def mix_balance_oracle() -> str:
    return f"""
        WITH c AS (
            SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1
        ), m AS (
            SELECT MIN(n_docs) AS min_c FROM c
        ), r AS (
            SELECT lang, n_docs,
                   GREATEST(CAST((min_c * 1000) // n_docs AS BIGINT),
                            1::BIGINT) AS rate_pm
            FROM c, m
        ), k AS (
            SELECT d.lang, COUNT(*) AS n_kept
            FROM (SELECT doc_id, lang, {_mix_bucket(False)} AS bucket
                  FROM documents) d
            JOIN r USING (lang)
            WHERE d.bucket < r.rate_pm
            GROUP BY 1
        )
        SELECT r.lang, r.n_docs, r.rate_pm,
               COALESCE(k.n_kept, 0) AS n_kept,
               round(1000.0 / r.rate_pm, 6) AS weight
        FROM r LEFT JOIN k ON r.lang = k.lang
    """


def sample_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sampling profile: ONE row per document carrying both
    keep decisions — the fixed per-stratum rates (``sample_stratified``)
    and the mixture-derived rates (``mix_balance``) — plus their
    inverse-probability weights. Emitting flags instead of filtered rows
    makes the oracle verify the rule on EVERY document, kept or dropped.
    One driver entry for the sampling surface; both underlying operators
    stay public API."""
    from pyspark.sql.window import Window
    bucket, rate, weight = _bucket_exprs(spark_side=True)
    docs = (load_table(spark, sf_dir, "documents")
            .selectExpr("doc_id", "lang", f"{bucket} AS bucket",
                        f"CAST({rate} AS BIGINT) AS strat_rate_pm",
                        f"{weight} AS strat_weight"))
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # min over the k-language histogram as a global window on the tiny
    # aggregate (one single-partition exchange) instead of a separate
    # min() aggregation crossJoined back — the counts subtree used to be
    # evaluated on both sides of that join (guide §2.4)
    rates = (counts
             .withColumn("min_c", F.min("n_docs").over(Window.partitionBy()))
             .selectExpr("lang",
                         "CAST((min_c * 1000) DIV n_docs AS BIGINT)"
                         " AS mix_rate_pm"))
    return (docs.join(F.broadcast(rates), "lang")
            .selectExpr(
                "doc_id", "lang", "bucket",
                "strat_rate_pm",
                "CAST(bucket < strat_rate_pm AS INT) AS strat_kept",
                "strat_weight",
                "mix_rate_pm",
                "CAST(bucket < mix_rate_pm AS INT) AS mix_kept",
                "round(CAST(1000.0 AS DOUBLE) / mix_rate_pm, 6)"
                " AS mix_weight"))


def sample_profile_oracle() -> str:
    bucket, rate, weight = _bucket_exprs(spark_side=False)
    return f"""
        WITH d AS (
            SELECT doc_id, lang, {bucket} AS bucket,
                   CAST({rate} AS BIGINT) AS strat_rate_pm,
                   {weight} AS strat_weight
            FROM documents
        ), c AS (
            SELECT lang, COUNT(*) AS n_docs FROM d GROUP BY 1
        ), m AS (
            SELECT MIN(n_docs) AS min_c FROM c
        ), r AS (
            SELECT lang,
                   CAST((min_c * 1000) // n_docs AS BIGINT) AS mix_rate_pm
            FROM c, m
        )
        SELECT d.doc_id, d.lang, d.bucket,
               d.strat_rate_pm,
               CAST(d.bucket < d.strat_rate_pm AS INT) AS strat_kept,
               d.strat_weight,
               r.mix_rate_pm,
               CAST(d.bucket < r.mix_rate_pm AS INT) AS mix_kept,
               round(1000.0 / r.mix_rate_pm, 6) AS mix_weight
        FROM d JOIN r USING (lang)
    """
