"""SemDeDup — semantic deduplication over embedding clusters (Abbas et
al. 2023, "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication", arXiv:2303.09540).

The scaling idea: exact all-pairs cosine dedup is quadratic in the
corpus, so first k-means-cluster the embeddings and only compare WITHIN
each cluster — semantic duplicates land in the same cluster with high
probability, and the pairwise work drops from O(n^2) to O(n^2 / k) (the
paper runs 50k clusters over LAION-scale corpora).  This complements
``dedup_embed_cosine`` (exact, block-partitioned) the way IVF
complements brute-force top-k: same measure, sub-linear candidate set.

Keep rule (deterministic variant of the paper's): within a cluster,
order members by cosine-to-centroid DESC (vec_id ASC tie-break); a
member is a duplicate iff some EARLIER member is >= ``eps`` similar.
Each near-dup group therefore keeps exactly one representative — the
member closest to the centroid.  (The paper found keep-closest /
keep-farthest / keep-random within eps-groups to be near-equivalent:
§4.3; closest-to-centroid is the deterministic choice.)

100 TB path: centroid training and assignment are broadcast joins +
groupBy means (``similarity.ivf_centroids`` — k rows broadcast, corpus
streamed); the keep rule is a cell-keyed self-join + groupBy max
(``semdedup_sql_frame``), so no worker materializes a per-cluster
matrix — a hot cluster becomes a large streamed join AQE can
skew-split. Every float expression carries the left-to-right
association the DuckDB oracle reproduces bit-for-bit.

No reference analogue (yahoo/maha has no embedding surface); this op
belongs to the training-data-pipeline axis, next to ``ops/dedup.py``
and ``ops/similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .common import load_table, scoped_cache
from .similarity import IVF_CELLS, _ivf_assign, ivf_centroids

#: cosine threshold above which two same-cluster members are semantic
#: duplicates. The paper sweeps 0.7-0.95 on real embedding models; the
#: synthetic test corpus is near-orthogonal with planted similarity at
#: ~0.45 (see ``PAIR_COS_T``), so the default aligns there to stay
#: nonvacuous on the driver corpus.
SEMDEDUP_EPS = 0.45


def semdedup(spark: SparkSession, sf_dir: str,
             k: int = IVF_CELLS, eps: float = SEMDEDUP_EPS) -> DataFrame:
    """SemDeDup over the ``embeddings`` table with Lloyd-trained
    centroids (``ivf_centroids`` at its default iterations)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = scoped_cache(ivf_centroids(emb, k))
    return semdedup_sql_frame(emb, cents, eps)


def semdedup_sql_frame(emb: DataFrame, cents: DataFrame,
                       eps: float = SEMDEDUP_EPS) -> DataFrame:
    """``(vec_id, cell, cent_sim, max_prior_sim, keep)`` — one row per
    vector; ``keep=false`` marks semantic duplicates.

    ``cents`` is a ``(cell, centroid)`` frame (``ivf_centroids`` or a
    persisted index's centroids), so the keep rule runs over a frozen
    index and tests feed it and an independent oracle the same
    centroids. The "max similarity to an EARLIER member" is a
    cell-keyed equi-join (a earlier than b by (cent_sim DESC, vec_id
    ASC)) + groupBy max; cosines are rounded to 6 decimals before the
    eps comparison, so the reported values and the keep decision agree.
    """
    from pyspark.sql import functions as F

    from .similarity import _cos_sql

    # consumed three times (both self-join sides + the final left join):
    # cache so the assignment crossJoin + per-vec window runs once
    scored = scoped_cache(
        _ivf_assign(emb, cents, probe=1)
        .selectExpr("vec_id", "embedding", "cell",
                    "round(sim, 6) AS cent_sim"))
    a = scored.selectExpr("cell", "vec_id AS a_id", "embedding AS a_emb",
                          "cent_sim AS a_cs")
    b = scored.selectExpr("cell", "vec_id AS b_id", "embedding AS b_emb",
                          "cent_sim AS b_cs")
    cos_ab = _cos_sql("a_emb", "b_emb", one_based=False)
    prior = (a.join(b, "cell")
             .filter("a_cs > b_cs OR (a_cs = b_cs AND a_id < b_id)")
             .selectExpr("b_id AS vec_id", f"round({cos_ab}, 6) AS s")
             .groupBy("vec_id").agg(F.max("s").alias("mp")))
    return (scored.join(prior, "vec_id", "left")
            .selectExpr("vec_id", "cell", "cent_sim",
                        "coalesce(mp, CAST(-1.0 AS DOUBLE)) "
                        "AS max_prior_sim",
                        f"coalesce(mp, CAST(-1.0 AS DOUBLE)) < {eps} "
                        "AS keep")
            .orderBy("vec_id"))


def semdedup_op(spark: SparkSession, sf_dir: str,
                k: int = IVF_CELLS,
                eps: float = SEMDEDUP_EPS) -> DataFrame:
    """Driver-contract entry: SemDeDup with SEED centroids (``iters=0``
    — the k vectors with the smallest md5-derived sample key, no Lloyd
    iteration) and the SQL keep rule.

    Seed-only centroids are the bit-parity choice, not a shortcut: a
    Lloyd mean is a float SUM whose association order differs between
    Spark's partial aggregates and DuckDB's serial sum, so iterated
    centroids match only to ~1 ulp — seeds are raw stored vectors,
    identical bytes in both engines, and every downstream expression
    (assignment, cent_sim, pairwise cosine) is written with the shared
    left-to-right association (``dot64``/fold). The full Lloyd version
    stays pytest-pinned against the independent numpy oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = scoped_cache(ivf_centroids(emb, k, iters=0))
    return semdedup_sql_frame(emb, cents, eps)


def semdedup_oracle(k: int = IVF_CELLS,
                    eps: float = SEMDEDUP_EPS) -> str:
    """DuckDB twin of ``semdedup_op`` over the ``embeddings`` view.

    Mirrors, in order: the md5-sample seed selection (Spark's ``conv``
    hash is a decimal STRING, so the ORDER BY is lexicographic on the
    digits — reproduced via ``::BIGINT::VARCHAR``), cell numbering by
    first centroid coordinate, nearest-centroid assignment on the raw
    (unrounded) cosine with cell-asc tie-break, and the
    earlier-member-max keep rule over 6-dp-rounded cosines."""
    from .similarity import _cos_sql
    cos_ec = _cos_sql("e.embedding", "c.centroid", one_based=True)
    cos_ab = _cos_sql("a.embedding", "b.embedding", one_based=True)
    return f"""
        WITH seeds AS (
            SELECT vec_id AS seed_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS centroid
            FROM embeddings
            ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                          1, 7))::BIGINT AS VARCHAR),
                     vec_id
            LIMIT {k}
        ),
        cents AS (
            -- seed_id tie-break mirrors the Spark renumbering exactly:
            -- without it, seeds sharing a first coordinate get
            -- engine-dependent cell ids and the hash check diverges
            SELECT CAST(row_number() OVER (ORDER BY centroid[1], seed_id)
                        - 1 AS INT) AS cell,
                   centroid
            FROM seeds
        ),
        ranked AS (
            SELECT e.vec_id, e.embedding, c.cell, {cos_ec} AS sim,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {cos_ec} DESC, c.cell ASC) AS crank
            FROM embeddings e CROSS JOIN cents c
        ),
        scored AS (
            SELECT vec_id, embedding, cell, round(sim, 6) AS cent_sim
            FROM ranked WHERE crank = 1
        ),
        prior AS (
            SELECT b.vec_id AS vec_id, max(round({cos_ab}, 6)) AS mp
            FROM scored a JOIN scored b ON a.cell = b.cell
             AND (a.cent_sim > b.cent_sim
                  OR (a.cent_sim = b.cent_sim AND a.vec_id < b.vec_id))
            GROUP BY b.vec_id
        )
        SELECT s.vec_id, s.cell, s.cent_sim,
               coalesce(p.mp, CAST(-1.0 AS DOUBLE)) AS max_prior_sim,
               coalesce(p.mp, CAST(-1.0 AS DOUBLE)) < {eps} AS keep
        FROM scored s LEFT JOIN prior p ON s.vec_id = p.vec_id
        ORDER BY s.vec_id
    """
