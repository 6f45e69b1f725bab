"""Partitioning-invariance: operator results must not depend on the
shuffle partition count (the difference between local[4] and a
1000-executor cluster). Catches accidental order-dependence (first()
without sort, float association drift, nondeterministic tie-breaks)."""

from __future__ import annotations

import pytest


def _run(spark, fn, sf_dir, n_parts):
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        return sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


@pytest.mark.parametrize("opname", [
    "text_profile", "minhash", "simhash_pairs", "sessionize",
    "contamination", "curate",
])
def test_result_invariant_under_partitioning(spark, sf_dir, opname):
    from maha_spark.ops import contamination, dedup, pipeline, sessions, text

    fn = {
        "text_profile": text.text_profile,
        "minhash": dedup.dedup_minhash_lsh,
        "simhash_pairs": dedup.dedup_simhash_pairs,
        "sessionize": sessions.sessionize,
        "contamination": contamination.contamination,
        "curate": pipeline.curate_corpus,
    }[opname]
    a = _run(spark, fn, sf_dir, 3)
    b = _run(spark, fn, sf_dir, 17)
    assert a == b


def test_clusters_reliable_checkpoint_path(spark, tmp_path):
    """reliable_checkpoint=True swaps executor-local lineage truncation
    for the fault-tolerant checkpoint() (survives executor loss on a
    cluster); results must be identical to the default path."""
    from maha_spark.ops.dedup import dedup_clusters

    sf = "/root/testdata/sf0.001"
    base = sorted(map(tuple, dedup_clusters(spark, sf).collect()))
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    rel = sorted(map(tuple, dedup_clusters(
        spark, sf, reliable_checkpoint=True).collect()))
    assert base == rel and len(base) > 0


def test_clusters_distributed_cc_path(spark, monkeypatch, tmp_path):
    """Force the distributed min-label loop (bridge graph 'too big' for
    the local union-find finish) and pin it identical to the local path —
    the loop is the 100 TB branch and must not rot behind the fast one.
    Also runs the loop with reliable_checkpoint=True: the reliable test
    above stays on the local-finish branch, so this is the only coverage
    of checkpoint() INSIDE the _min_label_cc iteration."""
    from maha_spark.ops import dedup

    sf = "/root/testdata/sf0.001"
    local = sorted(map(tuple, dedup.dedup_clusters(spark, sf).collect()))
    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 0)
    dist = sorted(map(tuple, dedup.dedup_clusters(spark, sf).collect()))
    assert local == dist and len(local) > 0
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    rel = sorted(map(tuple, dedup.dedup_clusters(
        spark, sf, reliable_checkpoint=True).collect()))
    assert local == rel


def test_centroid_renumbering_tie_break(spark):
    """Cell renumbering must be deterministic even when seed centroids
    share a first coordinate: every vector below has embedding[0] = 0.5,
    so without the seed_id tie-break the k cell ids are engine/run
    arbitrary. The expected order is recomputed independently in Python
    from the same (md5-prefix h, vec_id) seed rule + (centroid[0],
    seed_id) renumbering."""
    import hashlib

    from maha_spark.ops.similarity import DIM, ivf_centroids

    n, k = 40, 4
    rows = [(i, [0.5] + [float((i * 7 + c) % 13) / 13.0
                         for c in range(DIM - 1)])
            for i in range(n)]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    def h(i):
        # conv(substr(md5(id),1,7),16,10) returns a decimal STRING ->
        # the Spark orderBy is lexicographic on the digits
        return str(int(hashlib.md5(str(i).encode()).hexdigest()[:7], 16))

    seed_ids = sorted(range(n), key=lambda i: (h(i), i))[:k]
    # all centroid[0] equal -> renumbering order is seed_id order
    expected = {cell: dict(rows)[sid]
                for cell, sid in enumerate(sorted(seed_ids))}
    got = {r["cell"]: r["centroid"]
           for r in ivf_centroids(emb, k=k, iters=0).collect()}
    assert got == expected


def test_staged_text_stats_equals_naive_spelling(spark, sf_dir):
    """text_stats_frame (staged, single-evaluation HOFs) must produce
    exactly the rows/columns of the naive one-projection spelling of
    ``_stats_exprs(spark_side=True)`` — the form the DuckDB oracle
    mirrors term by term."""
    from maha_spark.ops import text
    from maha_spark.ops.common import load_table, words_sql

    docs = load_table(spark, sf_dir, "documents")
    exprs = text._stats_exprs("w", spark_side=True)
    proj = [f"{sql} AS {name}" for name, sql in exprs.items()]
    naive = (docs.selectExpr("doc_id", "text", f"{words_sql()} AS w")
             .selectExpr("doc_id", *proj))
    staged = text.text_stats_frame(docs)
    a = naive.orderBy("doc_id").toPandas()
    b = staged.orderBy("doc_id").toPandas()
    assert list(a.columns) == list(b.columns)
    assert a.equals(b)


def test_staged_text_stats_single_vote_evaluation(spark, sf_dir):
    """The staged plan must evaluate each language-vote filter once:
    the naive spelling inlined ``size(filter(w, ...))`` 14x per row
    (every lang_pred branch + stop_ratio + quality_score)."""
    from maha_spark.ops import text
    from maha_spark.ops.common import load_table

    plan = text.text_stats_frame(
        load_table(spark, sf_dir, "documents"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("size(filter(w") <= 4   # one per language
    assert plan.count("array_distinct(w") <= 1
