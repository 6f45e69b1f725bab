"""End-to-end corpus curation: the training-data pipeline composed.

The individual operators (text profile, PII redaction, repetition
signals, near-dup clustering, benchmark contamination) each ship with an
exact DuckDB oracle; this module composes them into the decision a real
pretraining pipeline makes per document — keep or drop — and the oracle
composes the SAME verified SQL pieces, so the whole pipeline is
hash-checked end-to-end:

1. profile every document (tokens, quality, language, PII, Gopher
   repetition) — ``text_profile``;
2. drop the benchmark split and contaminated documents —
   ``contamination``;
3. drop low-quality / repetitive documents (Gopher-style filters);
4. one document per near-dup cluster, keeping the HIGHEST-QUALITY
   member (quality desc, doc_id asc) — ``dedup_clusters`` labels;
   exact duplicates are hamming-0 pairs, so this subsumes exact dedup;
5. emit the curation record: doc id, cluster, quality, token count,
   and the redacted-text fingerprint (the content hash a downstream
   tokenizer job would consume).

Scale: every stage is keyed by doc_id (or cluster label); the only
added shapes beyond the component ops are broadcast-friendly joins and
one per-cluster window over near-dup groups (bounded by cluster size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Gopher-style keep thresholds (repetition gates live in the profile's
#: is_repetitive verdict; quality_score is the composite in ops/text.py)
QUALITY_MIN = 0.42


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .common import scoped_cache, warm
    from .contamination import BENCH_MOD, contaminated_doc_ids
    from .dedup import dedup_clusters
    from .text import text_profile

    # Overlap the three independent heavy legs (guide §2.6 "overlap
    # independent jobs"): the profile and the contamination id set are
    # cached and warmed on scope threads WHILE dedup_clusters runs its
    # bounded driver probe (the bridge-graph collect) — Spark runs the
    # job sets concurrently — so the composed action reads them from
    # storage instead of computing them after the probe.
    prof = scoped_cache(text_profile(spark, sf_dir))
    cont = scoped_cache(contaminated_doc_ids(spark, sf_dir))

    warms = [warm(prof), warm(cont)]
    try:
        clus = dedup_clusters(spark, sf_dir, ordered=False).select(
            "doc_id", "cluster_id", "cluster_size")
    finally:
        for w in warms:
            w.join()

    # contamination as an existence test: drop the benchmark split by
    # modulus (the report's inner join did this implicitly), then
    # anti-join the contaminated-id set — skips the full report's per-doc
    # shingle counting and its candidate-wide (doc_id, h) DISTINCT, the
    # widest shuffle in the old composition (sf0.1: 6.98s -> ~5s)
    cand = (prof
            .filter(F.col("doc_id") % BENCH_MOD != 0)
            .join(cont, "doc_id", "left_anti")
            .filter(f"quality_score >= {QUALITY_MIN}")
            .filter("is_repetitive = 0")
            .join(clus, "doc_id"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc())
    return (cand.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("doc_id", "cluster_id", "cluster_size",
                    "quality_score", "n_tokens", "lang_pred",
                    "fp_redacted")
            .orderBy("doc_id"))


def curate_corpus_oracle() -> str:
    """The same pipeline over the same verified SQL pieces."""
    from .contamination import contamination_oracle
    from .dedup import dedup_clusters_oracle
    from .text import text_profile_oracle

    return f"""
        WITH prof AS ({text_profile_oracle()}),
        cont AS ({contamination_oracle()}),
        clus AS ({dedup_clusters_oracle()}),
        cand AS (
            SELECT p.*, cl.cluster_id, cl.cluster_size
            FROM prof p
            JOIN cont c ON p.doc_id = c.doc_id
            JOIN clus cl ON p.doc_id = cl.doc_id
            WHERE c.is_contaminated = 0
              AND p.quality_score >= {QUALITY_MIN}
              AND p.is_repetitive = 0
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY cluster_id
                ORDER BY quality_score DESC, doc_id ASC) AS rn
            FROM cand
        )
        SELECT doc_id, cluster_id, cluster_size, quality_score,
               n_tokens, lang_pred, fp_redacted
        FROM ranked WHERE rn = 1 ORDER BY doc_id
    """
