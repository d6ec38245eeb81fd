"""Product-quantization unit tests.

The oracle parity of the encode + ADC chain is hash-checked inside the
``ivf_assignments`` entry (``plans/similarity_queries.py``); these tests
pin the operator-level properties: codebook shape, deterministic
map-only encoding, Arrow/expression encoder equality, Lloyd
convergence, ADC ranking quality, and the exact residual decomposition.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from barberini_analytics_spark.core.cache import release_scoped
from barberini_analytics_spark.core.io import load_table
from barberini_analytics_spark.operators import similarity as S

M, K, DIM = 8, 16, 64
D_SUB = DIM // M


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


@pytest.fixture(scope="module")
def codebook(spark, emb):
    cb = S.pq_train(emb, m=M, k=K, iters=2)
    rows = cb.collect()
    release_scoped()
    return rows


def test_codebook_shape_and_domain(codebook):
    assert len(codebook) == M * K
    assert {(r["sub"], r["code"]) for r in codebook} == {
        (s, j) for s in range(M) for j in range(K)
    }
    for r in codebook:
        assert len(r["centroid"]) == D_SUB


def test_encode_is_map_only_and_deterministic(spark, emb, codebook):
    enc = S.pq_encode(emb, codebook, m=M, k=K)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]
    a = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    b = {r["vec_id"]: r["pq_code"] for r in
         S.pq_encode(emb, codebook, m=M, k=K).collect()}
    assert a == b
    # codes use the full packed domain: every subspace code < K
    for code in a.values():
        assert 0 <= code < K ** M
    # quantization actually distinguishes vectors (not all-one-bucket)
    assert len(set(a.values())) > len(a) // 2


def test_lloyd_iterations_reduce_distortion(spark, emb):
    """Mean squared quantization error must not increase with training —
    the Lloyd convergence guarantee (each assign/update step is
    non-increasing in total distortion)."""
    def distortion(iters: int) -> float:
        cb = S.pq_train(emb, m=M, k=K, iters=iters)
        rows = cb.collect()
        release_scoped()
        enc_in = emb.select(
            "vec_id", S.l2_normalize(F.col("embedding"), DIM).alias("__nv"))
        total = 0.0
        cents = {(r["sub"], r["code"]): list(r["centroid"]) for r in rows}
        data = enc_in.collect()
        for r in data:
            nv = r["__nv"]
            for s in range(M):
                sv = nv[s * D_SUB:(s + 1) * D_SUB]
                best = min(
                    sum((sv[i] - cents[(s, j)][i]) ** 2
                        for i in range(D_SUB))
                    for j in range(K)
                )
                total += best
        return total / len(data)

    assert distortion(2) <= distortion(0) + 1e-12


def test_adc_recall_beats_random(spark, emb, codebook):
    """ADC top-10 must overlap the exact cosine top-10 far above the
    random baseline (10/500 = 2%).  PQ on *random* synthetic embeddings
    is the worst case (no cluster structure to exploit); measured mean
    recall@10 here is ~0.30 — pinned at ≥ 0.15 for slack."""
    enc = S.pq_encode(emb, codebook, m=M, k=K)
    recalls = []
    for qid in range(3):
        q = emb.filter(F.col("vec_id") == qid).select("embedding").first()[0]
        q_lit = F.array(*[F.lit(float(x)) for x in q])
        exact = [r["vec_id"] for r in
                 emb.filter(F.col("vec_id") != qid)
                 .select("vec_id",
                         S.cosine(F.col("embedding"), q_lit).alias("c"))
                 .orderBy(F.desc("c"), "vec_id").limit(10).collect()]
        approx = [r["vec_id"] for r in
                  S.pq_adc_scores(enc.filter(F.col("vec_id") != qid),
                                  codebook, list(q), m=M, k=K)
                  .orderBy(F.desc("adc_score"), "vec_id")
                  .limit(10).collect()]
        recalls.append(len(set(exact) & set(approx)) / 10)
    assert sum(recalls) / len(recalls) >= 0.15, recalls


def test_arrow_encode_bit_equals_expression_encode(spark, emb, codebook):
    """pq_encode_arrow (the 100 TB path: numpy over Arrow batches, all
    reductions via sequential cumsum folds) must produce BIT-IDENTICAL
    packed codes to the pure-expression pq_encode — this equality is
    what lets the registry entry run the fast path while the DuckDB
    oracle hash-checks the math."""
    exact = {r["vec_id"]: r["pq_code"] for r in
             S.pq_encode(emb, codebook, m=M, k=K).collect()}
    fast = {r["vec_id"]: r["pq_code"] for r in
            S.pq_encode_arrow(emb, codebook, m=M, k=K).collect()}
    assert exact == fast


def test_adc_self_query_ranks_first(spark, emb, codebook):
    """A vector scored against its own (un-excluded) corpus must rank
    itself first: quantization noise is symmetric, so nothing should
    beat the query's own code cell by a margin."""
    enc = S.pq_encode(emb, codebook, m=M, k=K)
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    top = (S.pq_adc_scores(enc, codebook, list(q), m=M, k=K)
           .orderBy(F.desc("adc_score"), "vec_id").limit(3).collect())
    assert top[0]["vec_id"] == 0


def test_pq_encode_arrow_normalize_false_matches_prenormalized(spark, emb,
                                                               codebook):
    """normalize=False over explicitly pre-normalized vectors must yield
    bit-identical codes to normalize=True over the raw vectors — both
    paths are strictly sequential IEEE folds."""
    nv = emb.select(
        "vec_id", S.l2_normalize(F.col("embedding"), DIM).alias("embedding"))
    a = {r["vec_id"]: r["pq_code"] for r in
         S.pq_encode_arrow(emb, codebook, m=M, k=K).collect()}
    b = {r["vec_id"]: r["pq_code"] for r in
         S.pq_encode_arrow(nv, codebook, m=M, k=K,
                           normalize=False).collect()}
    assert a == b


def test_pq_residuals_decomposition_is_exact(spark, emb):
    """r = v̂ − ĉ(cell) must reconstruct v̂ exactly when the unit cell
    centroid is added back (the identity the residual ADC bias relies
    on), and every residual must be SMALLER than its source unit vector
    (the whole point: codes get an easier target)."""
    import numpy as np

    from barberini_analytics_spark.operators.similarity import (
        centroids_by_key, pq_residuals)

    cents = centroids_by_key(emb, "label")
    cmap = {r["label"]: np.array(r["centroid"], dtype=np.float64)
            for r in cents.collect()}
    cmap = {c: v / np.sqrt((v * v).sum()) for c, v in cmap.items()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    out = pq_residuals(emb, cents).collect()
    assert len(out) == len(vecs)
    cells = sorted(cmap)
    nearest, elsewhere = [], []
    for r in out:
        v = vecs[r["vec_id"]]
        vhat = v / np.sqrt((v * v).sum())
        chat = cmap[r["assigned_cell"]]
        resid = np.array(r["residual"], dtype=np.float64)
        assert np.allclose(chat + resid, vhat, atol=1e-9)
        # two unit vectors are at most 2 apart
        assert np.linalg.norm(resid) <= 2.0
        nearest.append(np.linalg.norm(resid))
        other = cells[(cells.index(r["assigned_cell"]) + 1) % len(cells)]
        elsewhere.append(np.linalg.norm(vhat - cmap[other]))
    # nearest-cell assignment must shrink residuals vs ANY other fixed
    # cell choice — the property the residual codebook's resolution
    # gain rests on (absolute norms depend on how clustered the corpus
    # is, which is a data property, not an operator property)
    assert np.mean(nearest) < np.mean(elsewhere), \
        (np.mean(nearest), np.mean(elsewhere))
