"""SemDeDup (ops/semdedup.py): the keep rule against an independent
numpy oracle over the Spark-produced centroids/assignment,
planted-duplicate semantics, determinism, and the contract entry's
DuckDB oracle."""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.ops import semdedup, similarity  # noqa: E402
from maha_spark.ops.common import load_table  # noqa: E402

EPS = semdedup.SEMDEDUP_EPS


def _numpy_oracle(emb_rows, cent_rows, assign_rows, eps):
    """Independent reimplementation of the keep rule: per cluster, order
    by (round(cos-to-centroid,6) DESC, vec_id ASC); drop a member iff an
    earlier member's rounded cosine is >= eps. Per-pair dots are computed
    one at a time (np.dot on vectors), not via the SQL fold — rounding
    to 6 decimals absorbs summation-order ULPs."""
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb_rows}
    cents = {r.cell: np.asarray(r.centroid, dtype=np.float64)
             for r in cent_rows}
    by_cell: dict = {}
    for r in assign_rows:
        by_cell.setdefault(r.cell, []).append(r.vec_id)
    out = {}
    for cell, ids in by_cell.items():
        c = cents[cell]
        cn = np.sqrt(np.dot(c, c))
        def csim(i):
            v = vecs[i]
            return round(float(np.dot(v, c) / (np.sqrt(np.dot(v, v)) * cn)), 6)
        ids.sort(key=lambda i: (-csim(i), i))
        for pos, i in enumerate(ids):
            vi = vecs[i]
            ni = np.sqrt(np.dot(vi, vi))
            mx = -1.0
            for j in ids[:pos]:
                vj = vecs[j]
                s = round(float(np.dot(vi, vj)
                                / (ni * np.sqrt(np.dot(vj, vj)))), 6)
                mx = max(mx, s)
            out[i] = (cell, csim(i), mx, mx < eps)
    return out


def test_matches_independent_numpy_oracle(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(emb).cache()
    got = semdedup.semdedup_sql_frame(emb, cents, EPS).collect()
    assign = similarity._ivf_assign(emb, cents, probe=1).collect()
    expect = _numpy_oracle(emb.collect(), cents.collect(), assign, EPS)
    assert len(got) == len(expect) == emb.count()
    for r in got:
        cell, csim, mx, keep = expect[r.vec_id]
        assert r.cell == cell, r
        assert r.cent_sim == csim, r
        assert r.max_prior_sim == mx, r
        assert r.keep == keep, r


def test_nonvacuous_at_default_eps(spark, sf_dir):
    rows = semdedup.semdedup(spark, sf_dir).collect()
    dropped = [r for r in rows if not r.keep]
    assert dropped, "default eps drops nothing — vacuous on this corpus"
    assert len(rows) - len(dropped) > len(dropped), "dropped a majority"


def test_planted_duplicate_dropped_keep_lower_id(spark):
    rng = np.random.RandomState(7)
    base = rng.rand(20, 64).astype("float64")
    base[13] = base[4]  # exact duplicate, higher vec_id
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cents = similarity.ivf_centroids(emb, k=2).cache()
    out = {r.vec_id: r for r in
           semdedup.semdedup_sql_frame(emb, cents, eps=0.999).collect()}
    assert out[4].keep, out[4]          # first occurrence is the rep
    assert not out[13].keep, out[13]    # duplicate dropped
    assert out[13].max_prior_sim == 1.0
    assert sum(not r.keep for r in out.values()) == 1


def test_determinism(spark, sf_dir):
    a = sorted(map(tuple, semdedup.semdedup(spark, sf_dir).collect()))
    b = sorted(map(tuple, semdedup.semdedup(spark, sf_dir).collect()))
    assert a == b


def test_op_matches_duckdb_oracle(spark, duck, sf_dir):
    """The contract entry (seed centroids + SQL keep rule) against its
    DuckDB twin — the parity the driver hash-checks."""
    got = [tuple(r) for r in semdedup.semdedup_op(spark, sf_dir).collect()]
    exp = [tuple(r) for r in
           duck.execute(semdedup.semdedup_oracle()).fetchall()]
    assert got == exp and len(got) > 0
    assert any(not r[4] for r in got), "oracle corpus drops nothing"
