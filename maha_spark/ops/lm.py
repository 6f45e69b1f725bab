"""N-gram language-model perplexity scoring — the CCNet-style corpus
quality filter (Wenzek et al., "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data", LREC'20: score each document
under a reference LM and keep the low-perplexity tail).

A bigram model with add-one smoothing is trained from token counts —
two groupBys — and every document is scored by its cross-entropy under
that model.  Training on the corpus itself (the contract entry's shape)
makes the score a *typicality* measure: documents whose token sequences
are unusual for the corpus (mojibake, boilerplate soup, wrong-language
fragments) land in the high-perplexity tail, which is exactly the
filtering signal CCNet uses; passing a separate ``train`` frame (e.g. a
trusted Wikipedia slice) reproduces the paper's reference-LM setup.

Determinism contract with the DuckDB oracle: floating-point SUMs are
order-sensitive and shuffle order is not stable, so per-bigram log
probabilities are quantized to integer MICRO-NATS
(``round(ln(p) * 1e6)`` as BIGINT) *before* the per-document sum —
integer addition is exactly associative, so the aggregate is
bit-identical regardless of row order on both engines.  The quantized
probability ``p`` itself is a ratio of integers spelled with the same
casts on both sides; the only residual risk is a libm ``ln`` 1-ulp
difference landing within ~1e-9 of a rounding boundary (odds per term
~4e-9).  The final ``ppl`` is derived from the already-deterministic
integer and rounded to 4 decimals.

100 TB judgment: the count model is vocabulary-bounded (distinct
bigrams, far smaller than the corpus) and the scoring joins are
hash-shuffles on token keys — no self-join, rows linear in corpus token
count; smoothing constants (V) travel as a broadcast 1-row frame.
Zipf-headed token keys ("the", "of") are the one skew point; AQE's
skew-join split handles the scoring join's build side, and the counts
groupBy is map-side combined (partial aggregation) so the hot keys
arrive pre-collapsed.

No reference analogue: the reference engine (yahoo/maha) has no corpus
quality surface; this op belongs to the training-data-pipeline axis of
the brief, next to ``ops/text.py``'s heuristic quality stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .common import duck_words_sql, load_table, words_sql

#: add-k smoothing constant (add-one / Laplace)
LM_ADD_K = 1


def _bigrams(docs: DataFrame) -> DataFrame:
    """``(doc_id, w1, w2)`` — one row per adjacent token pair
    (Generate-safe explode; documents under 2 words emit nothing)."""
    return (docs.selectExpr("doc_id", f"{words_sql()} AS w")
            .filter("size(w) >= 2")
            .selectExpr("doc_id", "w",
                        "explode(sequence(1, size(w) - 1)) AS i")
            .selectExpr("doc_id", "w[i - 1] AS w1", "w[i] AS w2"))


def _bigrams_ext(docs: DataFrame) -> DataFrame:
    """``(doc_id, w1, w2)`` — one row per TOKEN POSITION of every
    document with >= 1 word: ``w1`` is the token, ``w2`` its successor
    or NULL at document end. Rows with ``w2 IS NOT NULL`` are exactly
    ``_bigrams``' pairs, while ``count(DISTINCT w1)`` over ALL rows is
    the unigram vocabulary (1-word documents contribute their token via
    their single NULL-successor row) — so ONE corpus pass yields both
    the count model and V, where the previous shape paid a second full
    explode just for the vocabulary."""
    return (docs.selectExpr("doc_id", f"{words_sql()} AS w")
            .filter("size(w) >= 1")
            .selectExpr("doc_id", "w",
                        "explode(sequence(1, size(w))) AS i")
            .selectExpr("doc_id", "w[i - 1] AS w1",
                        "CASE WHEN i < size(w) THEN w[i] END AS w2"))


def _count_model(train: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """Fit the add-k bigram count model in one training-corpus pass:
    returns ``(nz, c1, v)`` — the vocabulary-bounded bigram counts
    ``(w1, w2, c2)``, the context totals ``(w1, c1)``, and the unigram
    vocabulary size ``v``. Callers that want the single persisted-model
    table join the two (``lm_fit`` does); the in-memory scorer joins
    each piece directly instead, which keeps the counts-assembly join
    and the ``(w1, c1)`` re-DISTINCT out of the scoring plan (r12 —
    they re-derived what this function already had separated).
    Raises ``ValueError`` on an empty / token-free training corpus —
    v = 0 would otherwise turn every smoothed probability into a silent
    NULL (ln of k/0) downstream."""
    from .common import scoped_cache

    g = scoped_cache(_bigrams_ext(train).groupBy("w1", "w2")
                     .agg(F.count(F.lit(1)).alias("c2")))
    row = g.agg(F.countDistinct("w1").alias("v")).collect()
    v = int(row[0].v) if row else 0
    if v <= 0:
        raise ValueError(
            "bigram LM: empty training corpus (vocabulary size 0) — "
            "smoothing denominator would be k/0; pass a non-empty "
            "train frame")
    # context totals as a map-side-combined groupBy joined back, not
    # sum().over(Window.partitionBy("w1")): w1 frequencies are Zipfian,
    # so a hot context ("the") concentrates its whole successor set in
    # one unsplittable WindowExec sort task, while the aggregate emits
    # one row per (map task, local w1) before the shuffle and the join
    # is AQE-skew-splittable — the same de-skew as ops/dedup.py /
    # ops/substring.py; bit-identical by construction (g is cached, so
    # both branches read the same grouped rows)
    nz = g.filter("w2 IS NOT NULL")
    c1 = nz.groupBy("w1").agg(F.sum("c2").alias("c1"))
    return nz, c1, v


def lm_perplexity_frame(docs: DataFrame,
                        train: DataFrame | None = None) -> DataFrame:
    """Per-document bigram cross-entropy: ``(doc_id, n_bigrams,
    xent_micro, ppl)``.

    ``xent_micro`` is the exact integer sum of per-bigram negative log
    probabilities in micro-nats (the deterministic aggregate the oracle
    hash-checks); ``ppl = exp(xent_micro / 1e6 / n_bigrams)`` rounded to
    4 decimals.  ``train`` defaults to ``docs`` (self-scoring); a
    disjoint reference corpus reproduces CCNet's setup — bigrams unseen
    in training back off to the smoothed floor ``k / (c1 + kV)`` and
    unseen contexts to ``1 / V``.
    """
    k = LM_ADD_K
    train = docs if train is None else train
    # ONE training-corpus pass yields both the count model and V
    # (the token-position stream is cached at its vocabulary-bounded
    # grouped form); V is collected eagerly — it both inlines the
    # smoothing constant as a literal (no broadcast crossJoin) and
    # fails fast on an empty training corpus
    nz, c1, v = _count_model(train)
    sb = _bigrams(docs)
    scored = (sb.join(nz, ["w1", "w2"], "left")
              .join(c1, ["w1"], "left")
              .selectExpr(
                  "doc_id",
                  f"CAST(round(ln(CAST(coalesce(c2, 0) + {k} AS DOUBLE) "
                  f"/ CAST(coalesce(c1, 0) + {k * v}L AS DOUBLE)) "
                  f"* 1000000e0) AS BIGINT) AS lp"))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 (-F.sum("lp")).alias("xent_micro"))
            .selectExpr(
                "doc_id", "n_bigrams", "xent_micro",
                "round(exp(CAST(xent_micro AS DOUBLE) / 1000000e0 "
                "/ n_bigrams), 4) AS ppl")
            .orderBy("doc_id"))


def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: self-scored bigram perplexity over the
    ``documents`` table."""
    return lm_perplexity_frame(load_table(spark, sf_dir, "documents"))


def lm_perplexity_oracle() -> str:
    """DuckDB twin of the self-scored ``lm_perplexity``: identical
    tokenization, identical integer count model, the same micro-nat
    quantization before the per-document sum, the same final rounding —
    bit-equal modulo the documented ~4e-9/term ``ln`` boundary risk."""
    k = LM_ADD_K
    return f"""
        WITH wd AS (
            SELECT doc_id, {duck_words_sql()} AS w FROM documents
        ),
        bg AS (
            SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
            FROM (SELECT doc_id, w,
                         unnest(range(1, len(w))) AS i
                  FROM wd WHERE len(w) >= 2)
        ),
        counts AS (
            SELECT w1, w2, count(*) AS c2,
                   sum(count(*)) OVER (PARTITION BY w1) AS c1
            FROM bg GROUP BY w1, w2
        ),
        c1s AS (SELECT DISTINCT w1, c1 FROM counts),
        vocab AS (
            SELECT count(DISTINCT t.w) AS v
            FROM (SELECT unnest(w) AS w FROM wd) t
        ),
        scored AS (
            SELECT b.doc_id,
                   CAST(round(ln(CAST(coalesce(c.c2, 0) + {k} AS DOUBLE)
                        / CAST(coalesce(s.c1, 0) + {k} * v.v AS DOUBLE))
                        * 1000000) AS BIGINT) AS lp
            FROM bg b
            LEFT JOIN (SELECT w1, w2, c2 FROM counts) c
                   ON b.w1 = c.w1 AND b.w2 = c.w2
            LEFT JOIN c1s s ON b.w1 = s.w1
            CROSS JOIN vocab v
        )
        SELECT doc_id,
               count(*) AS n_bigrams,
               CAST(-sum(lp) AS BIGINT) AS xent_micro,
               round(exp(CAST(-sum(lp) AS DOUBLE) / 1000000
                     / count(*)), 4) AS ppl
        FROM scored GROUP BY doc_id
        ORDER BY doc_id
    """


# --------------------------------------------------------------------
# persisted LM: fit the count model once, score many ingest batches
# (the model twin of the persisted LSH / window-hash / IVF indexes —
# CCNet's actual deployment shape: one reference LM, a stream of shards)
# --------------------------------------------------------------------
COUNTS_TABLE = "lm_bigrams"
META_TABLE = "lm_meta"


def lm_fit(spark: SparkSession, train: DataFrame, dst_dir: str) -> str:
    """Persist the bigram count model under ``dst_dir``: the
    ``(w1, w2, c2, c1)`` count table (vocabulary-bounded, columnar) and
    a 1-row meta table carrying the unigram vocabulary size ``v``.

    One training-corpus pass; scoring thereafter never rescans it. The
    counts are exact integers, so a model persisted and reloaded scores
    bit-identically to in-memory training (pinned in
    ``tests/test_ops_lm.py``)."""
    import os

    nz, c1, v = _count_model(train)   # one corpus pass; v > 0 enforced
    nz.join(c1, "w1").write.mode("overwrite").parquet(
        os.path.join(dst_dir, COUNTS_TABLE))
    (spark.createDataFrame([(v,)], "v BIGINT")
     .write.mode("overwrite").parquet(os.path.join(dst_dir, META_TABLE)))
    return dst_dir


def lm_score(spark: SparkSession, model_dir: str,
             docs: DataFrame) -> DataFrame:
    """Score ``docs`` against a persisted model — identical output
    contract (and bit-identical values) to
    ``lm_perplexity_frame(docs, train)`` with the model's training
    corpus. Per-batch cost is the batch's bigram stream joined to the
    stored (vocabulary-bounded) count table; the training corpus is
    never touched."""
    import os

    k = LM_ADD_K
    counts = spark.read.parquet(os.path.join(model_dir, COUNTS_TABLE))
    vocab = spark.read.parquet(os.path.join(model_dir, META_TABLE))
    c1s = counts.select("w1", "c1").distinct()
    sb = _bigrams(docs)
    scored = (sb.join(counts.select("w1", "w2", "c2"), ["w1", "w2"], "left")
              .join(c1s, ["w1"], "left")
              .crossJoin(F.broadcast(vocab))
              .selectExpr(
                  "doc_id",
                  f"CAST(round(ln(CAST(coalesce(c2, 0) + {k} AS DOUBLE) "
                  f"/ CAST(coalesce(c1, 0) + {k} * v AS DOUBLE)) "
                  f"* 1000000e0) AS BIGINT) AS lp"))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 (-F.sum("lp")).alias("xent_micro"))
            .selectExpr(
                "doc_id", "n_bigrams", "xent_micro",
                "round(exp(CAST(xent_micro AS DOUBLE) / 1000000e0 "
                "/ n_bigrams), 4) AS ppl")
            .orderBy("doc_id"))
