"""Similarity-search query inventory over the ``embeddings`` table
(``array<float>``, 64-dim): brute-force cosine top-k (exact baseline) and
IVF nearest-centroid assignment (the scale path's build step).

Float math is widened to double and folded in element order on both engines
(`F.aggregate` in Spark, `list_reduce` in DuckDB start from the same
sequence), so cosine values are bit-identical before the final 6-decimal
round used to stabilize ranking ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import load_table
from ..core.localrel import rows_df
from ..core.scratch import scratch_path
from ..operators import similarity as S
from .registry import query

_N_QUERIES = 5
_TOP_K = 10

# element-order dot/norm fold, identical to Spark's aggregate() semantics
_DOT = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), "
    "(acc, x) -> acc + x)"
)
_NORM_A = (
    "sqrt(list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), "
    "(acc, x) -> acc + x))"
)
_NORM_Q = (
    "sqrt(list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), "
    "(acc, x) -> acc + x))"
)


@query(
    "cosine_topk_bruteforce",
    oracle=f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, a.vec_id AS vec_id,
               round({_DOT} / ({_NORM_A} * {_NORM_Q}), 6) AS cosine
        FROM embeddings a
        CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < {_N_QUERIES}) q
        WHERE a.vec_id >= {_N_QUERIES}
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
        ) AS INT) AS rank
        FROM scored
    )
    WHERE rank <= {_TOP_K}
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: brute-force cosine top-10 for 5 query vectors.

    Queries are broadcast; the corpus side is one scan with the dot-product
    fold inside codegen (``zip_with`` + ``aggregate`` — no Python).  At
    100 TB this plan is scan-bound and embarrassingly parallel; the IVF
    variant below cuts the scanned fraction.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select("vec_id", "embedding")
    return S.brute_force_topk(corpus, queries, k=_TOP_K)


_C_DOT = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST(v.embedding[i] AS DOUBLE) * c.centroid[i]), "
    "(acc, x) -> acc + x)"
)
_C_NORM_V = (
    "sqrt(list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)), "
    "(acc, x) -> acc + x))"
)
_C_NORM_C = (
    "sqrt(list_reduce(list_transform(generate_series(1, 64), "
    "i -> c.centroid[i] * c.centroid[i]), (acc, x) -> acc + x))"
)


# --- product quantization (folded into the ivf_assignments entry) -------
# m subspaces × k codes over the 64-dim embeddings; the TRAINED codebook
# is persisted to parquet (k-means is not SQL) and taken AS GIVEN — the
# deterministic halves (L2-normalize, per-subspace argmin encode, integer
# packing, ADC lookup scoring) are re-derived by DuckDB bit-exactly: every
# float reduction folds in element order on both engines, so no rounding
# is applied to pq_code or adc_q0.
_PQ_M, _PQ_K, _PQ_DSUB = 8, 16, 8
_PQ_CODEBOOK_PATH = scratch_path("pq_codebook.parquet")

_PQ_ORACLE_CTES = f"""
    pq_cb AS (
        SELECT sub, code, centroid
        FROM read_parquet('{_PQ_CODEBOOK_PATH}/*.parquet')
    ), pq_nv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE) /
                 sqrt(list_reduce(list_transform(generate_series(1, 64),
                   i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                   (a, x) -> a + x))) AS nv
        FROM embeddings
    ), pq_dists AS (
        SELECT v.vec_id, pq_cb.sub, pq_cb.code,
               list_reduce(list_transform(generate_series(1, {_PQ_DSUB}),
                 i -> (v.nv[pq_cb.sub * {_PQ_DSUB} + i] - pq_cb.centroid[i])
                    * (v.nv[pq_cb.sub * {_PQ_DSUB} + i] - pq_cb.centroid[i])),
                 (a, x) -> a + x) AS d
        FROM pq_nv v CROSS JOIN pq_cb
    ), pq_codes AS (
        SELECT vec_id, sub, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
            FROM pq_dists
        ) WHERE rn = 1
    ), pq_packed AS (
        SELECT vec_id,
               CAST(sum(CAST(code AS BIGINT)
                        * CAST(pow({_PQ_K}, sub) AS BIGINT)) AS BIGINT) AS pq_code
        FROM pq_codes GROUP BY vec_id
    ), pq_qn AS (
        SELECT nv AS qv FROM pq_nv WHERE vec_id = 0
    ), pq_contrib AS (
        SELECT c.vec_id, c.sub,
               list_reduce(list_transform(generate_series(1, {_PQ_DSUB}),
                 i -> q.qv[c.sub * {_PQ_DSUB} + i] * pq_cb.centroid[i]),
                 (a, x) -> a + x) AS t
        FROM pq_codes c JOIN pq_cb USING (sub, code) CROSS JOIN pq_qn q
    ), pq_adc AS (
        SELECT vec_id,
               list_reduce(list(t ORDER BY sub), (a, x) -> a + x) AS adc_q0
        FROM pq_contrib GROUP BY vec_id
    )
"""


#: collected codebook rows per sf_dir (128 tiny rows — plain python
#: memory, no persisted DataFrames, so no cache-lifecycle concern).
#: Training runs once per (session, sf); repeat invocations reuse the
#: read-back rows, mirroring the ml-fit caches in plans/ml_queries.py.
_PQ_CB_CACHE: dict[str, list] = {}
_PQ_LAST_WRITTEN: list[str] = []  # sf_dir whose codebook is on disk


def _pq_codebook(spark: SparkSession, emb: DataFrame, sf_dir: str) -> list:
    if sf_dir not in _PQ_CB_CACHE:
        cb = S.pq_train(emb, m=_PQ_M, k=_PQ_K, iters=2)
        cb.write.mode("overwrite").parquet(_PQ_CODEBOOK_PATH)
        # read BACK the persisted codebook: the training means are
        # partition-order dependent, so collecting the live plan could
        # yield different last-ulp values than what the oracle will read
        _PQ_CB_CACHE[sf_dir] = spark.read.parquet(_PQ_CODEBOOK_PATH).collect()
    elif _PQ_LAST_WRITTEN and _PQ_LAST_WRITTEN[-1] != sf_dir:
        # the shared scratch file holds another sf's codebook — restore
        # this sf's rows so the oracle reads what the Spark side embeds
        # (doubles survive the Arrow round-trip exactly)
        rows_df(
            spark,
            [(r["sub"], r["code"], list(r["centroid"]))
             for r in _PQ_CB_CACHE[sf_dir]],
            "sub int, code int, centroid array<double>",
        ).write.mode("overwrite").parquet(_PQ_CODEBOOK_PATH)
    _PQ_LAST_WRITTEN[:] = [sf_dir]
    return _PQ_CB_CACHE[sf_dir]


# --- residual PQ tier (folded into the same entry) ------------------------
# FAISS-IVFPQ design: codes quantize r = v̂ − ĉ(assigned_cell) so the
# codebook resolves within-cell detail instead of re-describing coarse
# structure (measured at 100k vectors: recall@10 0.36 → 0.94 at shortlist
# 200 — SCALE.md).  The IVF centroids are persisted alongside the residual
# codebook so both engines consume IDENTICAL doubles (means and Lloyd fits
# are partition-order dependent); everything downstream — normalization,
# the ĉ unit-scaling, residual subtraction, argmin encode, packing, the
# ADC LUT and the per-cell bias dot(q̂, ĉ) — is re-derived by DuckDB with
# the same element-order folds, hash-checked with NO rounding.
_IVF_CENTS_PATH = scratch_path("ivf_centroids.parquet")
_RESID_CB_PATH = scratch_path("pq_resid_codebook.parquet")
_RESID_CACHE: dict[str, tuple[list, list]] = {}
_RESID_LAST: list[str] = []


def _resid_artifacts(spark: SparkSession, emb: DataFrame,
                     sf_dir: str) -> tuple[list, list]:
    """(ivf centroid rows, residual codebook rows) for ``sf_dir``,
    persisted to the scratch paths and READ BACK (same contract as
    ``_pq_codebook``: the oracle must see the exact doubles the Spark
    side embeds)."""
    if sf_dir not in _RESID_CACHE:
        S.centroids_by_key(emb, "label").write.mode("overwrite") \
            .parquet(_IVF_CENTS_PATH)
        cents = spark.read.parquet(_IVF_CENTS_PATH)
        cb = S.pq_train(S.pq_residuals(emb, cents), m=_PQ_M, k=_PQ_K,
                        iters=2, vec_col="residual", normalize=False)
        cb.write.mode("overwrite").parquet(_RESID_CB_PATH)
        _RESID_CACHE[sf_dir] = (
            cents.collect(),
            spark.read.parquet(_RESID_CB_PATH).collect())
    elif _RESID_LAST and _RESID_LAST[-1] != sf_dir:
        cents_rows, cb_rows = _RESID_CACHE[sf_dir]
        rows_df(
            spark, [(r["label"], list(r["centroid"])) for r in cents_rows],
            "label int, centroid array<double>",
        ).write.mode("overwrite").parquet(_IVF_CENTS_PATH)
        rows_df(
            spark,
            [(r["sub"], r["code"], list(r["centroid"])) for r in cb_rows],
            "sub int, code int, centroid array<double>",
        ).write.mode("overwrite").parquet(_RESID_CB_PATH)
    _RESID_LAST[:] = [sf_dir]
    return _RESID_CACHE[sf_dir]


_RESID_CTES = f"""
    resid_cb AS (
        SELECT sub, code, centroid
        FROM read_parquet('{_RESID_CB_PATH}/*.parquet')
    ), cents_p AS (
        SELECT label AS cell,
               list_transform(centroid, x -> x / sqrt(list_reduce(
                   list_transform(generate_series(1, 64),
                                  i -> centroid[i] * centroid[i]),
                   (a, x) -> a + x))) AS chat
        FROM read_parquet('{_IVF_CENTS_PATH}/*.parquet')
    ), resid AS (
        SELECT n.vec_id,
               list_transform(generate_series(1, 64),
                              i -> n.nv[i] - cp.chat[i]) AS rv
        FROM pq_nv n
        JOIN ivf i ON n.vec_id = i.vec_id
        JOIN cents_p cp ON cp.cell = i.assigned_cell
    ), rdists AS (
        SELECT r.vec_id, resid_cb.sub, resid_cb.code,
               list_reduce(list_transform(generate_series(1, {_PQ_DSUB}),
                 i -> (r.rv[resid_cb.sub * {_PQ_DSUB} + i] - resid_cb.centroid[i])
                    * (r.rv[resid_cb.sub * {_PQ_DSUB} + i] - resid_cb.centroid[i])),
                 (a, x) -> a + x) AS d
        FROM resid r CROSS JOIN resid_cb
    ), rcodes AS (
        SELECT vec_id, sub, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
            FROM rdists
        ) WHERE rn = 1
    ), rpacked AS (
        SELECT vec_id,
               CAST(sum(CAST(code AS BIGINT)
                        * CAST(pow({_PQ_K}, sub) AS BIGINT)) AS BIGINT)
               AS pq_resid_code
        FROM rcodes GROUP BY vec_id
    ), rcontrib AS (
        SELECT c.vec_id, c.sub,
               list_reduce(list_transform(generate_series(1, {_PQ_DSUB}),
                 i -> q.qv[c.sub * {_PQ_DSUB} + i] * resid_cb.centroid[i]),
                 (a, x) -> a + x) AS t
        FROM rcodes c JOIN resid_cb USING (sub, code) CROSS JOIN pq_qn q
    ), rlut AS (
        SELECT vec_id,
               list_reduce(list(t ORDER BY sub), (a, x) -> a + x) AS lut
        FROM rcontrib GROUP BY vec_id
    ), rbias AS (
        SELECT i.vec_id,
               list_reduce(list_transform(generate_series(1, 64),
                 j -> q.qv[j] * cp.chat[j]), (a, x) -> a + x) AS b
        FROM ivf i
        JOIN cents_p cp ON cp.cell = i.assigned_cell
        CROSS JOIN pq_qn q
    )
"""


# --- int8 quantization (folded into the ivf_assignments entry) -----------
_INT8_CTES = """
    int8v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        FROM embeddings
    ),
    int8s AS (
        SELECT vec_id, dv,
               CASE WHEN list_max(list_transform(dv, x -> abs(x))) > 0
                    THEN list_max(list_transform(dv, x -> abs(x))) / 127.0
                    ELSE 0.0 END AS int8_scale
        FROM int8v
    ),
    int8c AS (
        SELECT vec_id, dv, int8_scale,
               CASE WHEN int8_scale > 0
                    THEN list_transform(
                        dv, x -> CAST(floor(x / int8_scale + 0.5) AS INT))
                    ELSE list_transform(dv, x -> 0) END AS int8_codes
        FROM int8s
    ),
    int8 AS (
        SELECT vec_id, int8_scale, int8_codes,
               round(list_reduce(
                   list_transform(generate_series(1, len(dv)),
                                  i -> abs(dv[i] - int8_codes[i] * int8_scale)),
                   (a, x) -> a + x) / len(int8_codes), 6) AS int8_mae,
               CASE WHEN int8_scale > 0 THEN round(
                   list_reduce(
                       list_transform(generate_series(1, len(dv)),
                                      i -> dv[i] * (int8_codes[i] * int8_scale)),
                       (a, x) -> a + x)
                   / (sqrt(list_reduce(list_transform(dv, x -> x * x),
                                       (a, x) -> a + x))
                      * sqrt(list_reduce(
                            list_transform(generate_series(1, len(dv)),
                                           i -> (int8_codes[i] * int8_scale)
                                                * (int8_codes[i] * int8_scale)),
                            (a, x) -> a + x))), 6) END AS int8_cos
        FROM int8c
    )
"""


@query(
    "ivf_assignments",
    oracle=f"""
    WITH per_dim AS (
        SELECT label, dim,
               sum(CAST(x AS DOUBLE)) / count(*) AS c
        FROM (
            SELECT label,
                   generate_subscripts(embedding, 1) AS dim,
                   unnest(embedding) AS x
            FROM embeddings
        )
        GROUP BY label, dim
    ), cents AS (
        SELECT label AS cell, list(c ORDER BY dim) AS centroid
        FROM per_dim GROUP BY label
    ), scored AS (
        SELECT v.vec_id, c.cell,
               round({_C_DOT} / ({_C_NORM_V} * {_C_NORM_C}), 6) AS cosine
        FROM embeddings v CROSS JOIN cents c
    ), ivf AS (
        SELECT vec_id, cell AS assigned_cell, cosine AS cell_cosine FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cosine DESC, cell ASC
            ) AS rn
            FROM scored
        )
        WHERE rn = 1
    ), {_PQ_ORACLE_CTES.strip()}, {_RESID_CTES.strip()},
    {_INT8_CTES.strip().strip(',')}
    SELECT i.vec_id, i.assigned_cell, i.cell_cosine, p.pq_code, a.adc_q0,
           rp.pq_resid_code, rb.b + rl.lut AS adc_resid_q0,
           q.int8_scale, array_to_string(q.int8_codes, ',') AS int8_codes,
           q.int8_mae, q.int8_cos
    FROM ivf i
    JOIN pq_packed p USING (vec_id)
    JOIN pq_adc a USING (vec_id)
    JOIN rpacked rp USING (vec_id)
    JOIN rlut rl USING (vec_id)
    JOIN rbias rb USING (vec_id)
    JOIN int8 q USING (vec_id)
    """,
)
def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF build step + PQ compression: per-label centroids,
    nearest-centroid assignment, trained PQ codebook (persisted for the
    oracle), packed PQ codes, and ADC scores against query vector 0.

    Centroid build is one (key, dim) shuffle; assignment broadcasts the
    centroid table and scans the corpus once.  Per-dim means are summed
    in engine-specific order, so cosines may differ in the last ulp
    between engines; the 6-decimal round absorbs that (ties then break
    by cell id).

    The PQ half is product quantization (Jégou et al. 2011): the
    codebook (m=8 subspaces × k=16 codes — 128 rows, broadcast-sized) is
    trained with distributed Lloyd iterations, round-tripped through
    parquet so the Spark-side literal embed and the DuckDB oracle read
    IDENTICAL doubles, and the map-only encode + ADC lookup scoring are
    hash-checked bit-exactly (ordered float folds on both engines — no
    rounding on ``pq_code``/``adc_q0``).

    The residual tier (FAISS IVFPQ: codes quantize ``v̂ − ĉ(cell)``,
    ADC adds the ``dot(q̂, ĉ)`` bias back — ``operators/similarity.
    pq_residuals``) is hash-checked at the same grain: persisted
    centroids + residual codebook are read by both engines, and
    ``pq_resid_code``/``adc_resid_q0`` are re-derived by DuckDB with
    identical element-order folds, unrounded.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    _resid_artifacts(spark, emb, sf_dir)
    # assignment reads the PERSISTED centroids (not a live recompute):
    # Summarizer means are partition-order dependent, so reading back the
    # one materialized table keeps repeat invocations — and the residual
    # tier below — on identical doubles; the oracle recomputes its own
    # means, with the 6-decimal cosine round absorbing the last ulp
    cents = spark.read.parquet(_IVF_CENTS_PATH)
    # r13 (guide §1.2/§2.6): the five tiers below (assign, PQ, int8,
    # residual codes, residual bias) all scan the same two columns, and
    # the single-row-group local parquet is unsplittable — composed
    # naively every tier ran SERIALLY in one task, and the shared
    # subtrees (assign, resid) were re-evaluated once per consumer
    # (warm 4.5 s wall for 4.6 executor-seconds).  One spread + persist
    # parallelizes every per-row fold 32-way and computes each shared
    # subtree once; all folds are per-row (partition-independent), so
    # results are bit-identical.
    from ..core.cache import scoped_persist

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # spread width derives from the INPUT SIZE (plan-stats bytes, zero
    # jobs), not the core count: at sf0.1 (~0.8 MB) per-task overhead
    # (python-worker handshakes, scheduling) dominates and 8 tasks beat
    # 32 by ~1.9× wall; a corpus-scale input walks the estimate up to
    # the session cap.  ~4 MB per task because the per-row folds here
    # are CPU-heavy per byte (dim-64 aggregates per tier).
    est = int(emb._jdf.queryExecution().optimizedPlan()
              .stats().sizeInBytes())
    spread = min(n_part, max(8, (est + (4 << 20) - 1) // (4 << 20)))
    base = scoped_persist(
        emb.select("vec_id", "embedding").repartition(spread))
    assign = scoped_persist(S.ivf_assign(base, cents, key_col="label"))

    cb_rows = _pq_codebook(spark, emb, sf_dir)
    # the Arrow encoder is BIT-EQUAL to the pure-expression pq_encode
    # (sequential cumsum folds — pinned in tests/test_pq.py), so the
    # oracle hash covers both; it's ~16× faster (janino rejects the
    # 128-distance expression tree, which then evaluates interpreted)
    enc = S.pq_encode_arrow(base, cb_rows, m=_PQ_M, k=_PQ_K)
    q0 = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    adc = S.pq_adc_scores(enc, cb_rows, list(q0), m=_PQ_M, k=_PQ_K,
                          out_col="adc_q0")
    # int8 tier at the same grain (operators/similarity.quantize_int8):
    # absmax scale + exact codes + reconstruction audit — consolidated
    # here because the driver records at most 50 registry entries
    q8 = S.quantize_int8(base, codes_col="int8_codes",
                         scale_col="int8_scale")
    deq = S.dequantize_int8(F.col("int8_codes"), F.col("int8_scale"))
    mae = F.aggregate(
        F.zip_with(F.col("embedding"), deq,
                   lambda x, y: F.abs(x.cast("double") - y)),
        F.lit(0.0), lambda a, x: a + x) / F.size("int8_codes")
    # the raw array<int> codes are digested to a comma-joined string:
    # the driver's pandas canonicalizer sorts every output column, and
    # list cells are unhashable there (round-7 regression) — the digest
    # is lossless (exact int join on both engines), so the hash check
    # still covers every code byte
    int8 = q8.select(
        "vec_id", "int8_scale",
        F.concat_ws(",", F.col("int8_codes").cast("array<string>"))
        .alias("int8_codes"),
        F.round(mae, 6).alias("int8_mae"),
        F.when(F.col("int8_scale") > 0,
               F.round(S.cosine(F.col("embedding"), deq), 6))
        .alias("int8_cos"))

    # residual tier: r = v̂ − ĉ(assigned_cell) from the persisted
    # centroids, Arrow-encoded with the residual codebook
    # (normalize=False — residuals live in the normalized space), plus
    # the residual ADC score = dot(q̂, ĉ) bias + LUT sum
    _, rcb_rows = _RESID_CACHE[sf_dir]
    chat = cents.select(
        F.col("label").alias("assigned_cell"),
        S.l2_normalize(F.col("centroid"), 64).alias("__chat"))
    resid = scoped_persist(
        base
        .join(assign.select("vec_id", "assigned_cell"), "vec_id")
        .join(F.broadcast(chat), "assigned_cell")
        .select(
            "vec_id", "__chat",
            F.zip_with(S.l2_normalize(F.col("embedding"), 64), "__chat",
                       lambda a, b: a - b).alias("residual")))
    rcodes = scoped_persist(
        S.pq_encode_arrow(resid.select("vec_id", "residual"),
                          rcb_rows, m=_PQ_M, k=_PQ_K,
                          vec_col="residual", normalize=False)
        .withColumnRenamed("pq_code", "pq_resid_code"))
    rlut = S.pq_adc_scores(
        rcodes.withColumnRenamed("pq_resid_code", "pq_code"), rcb_rows,
        list(q0), m=_PQ_M, k=_PQ_K, out_col="__rlut") \
        .select("vec_id", "__rlut")
    q0n_norm = 0.0
    for x in q0:
        q0n_norm += float(x) * float(x)
    q0n_norm = q0n_norm ** 0.5
    q0n_lit = F.array(*[F.lit(float(x) / q0n_norm) for x in q0])
    rbias = resid.select(
        "vec_id",
        F.aggregate(F.zip_with(q0n_lit, F.col("__chat"),
                               lambda x, y: x * y),
                    F.lit(0.0), lambda a, v: a + v).alias("__rbias"))
    radc = rbias.join(rlut, "vec_id").select(
        "vec_id",
        (F.col("__rbias") + F.col("__rlut")).alias("adc_resid_q0"))

    return (assign.join(adc, "vec_id")
            .join(rcodes, "vec_id").join(radc, "vec_id")
            .join(int8, "vec_id"))
