"""Vector similarity over embedding columns (``array<float>``).

The operators the registered queries reach:

- **brute-force cosine top-k** — the exact search.  The query side is
  broadcast (queries are few); the corpus side streams through one scan.
  Dot products run JVM-side via ``zip_with`` + ``aggregate`` in codegen —
  no Python in the loop.
- **IVF cell assignment** — per-key centroids (MLlib vector mean) and a
  nearest-centroid argmax against the broadcast centroid table, one
  corpus scan.
- **product quantization** — codebook training, IVF residuals,
  Arrow-batched encoding and ADC scoring (the ``ivf_assignments``
  entry), plus the pure-expression encoder the Arrow one is tested
  against; and the int8 tier at the same grain.
- **SRP LSH candidate pairs** (LSH-DBSCAN) and **SemDeDup**.

All float math is widened to double before accumulation so results are
engine-portable (the DuckDB oracle folds the same element order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window as W


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm2(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two numeric array columns (double-widened)."""
    return _dot(a, b) / (_norm2(a) * _norm2(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``queries`` carries ``(query_id, embedding)``.  The join is a broadcast
    cross join (few queries × corpus scan); ranking is one window per
    query id.  Cosine is rounded to 6 decimals *before* ranking with an id
    tie-break, so the top-k set is reproducible across engines.
    """
    # same fan-out-aware norm precompute as ivf_assign: each corpus row
    # is replicated per query (and vice versa), so both norms are
    # attributes computed once per source row, not once per pair —
    # cosines stay bit-identical (same expressions, same fold order)
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec"),
        _norm2(F.col(vec_col)).alias("__qnrm"),
    )
    scored = (
        corpus.withColumn("__vnrm", _norm2(F.col(vec_col)))
        .crossJoin(F.broadcast(q))
        .select(
            query_id_col,
            id_col,
            F.round(_dot(F.col(vec_col), F.col("__qvec"))
                    / (F.col("__vnrm") * F.col("__qnrm")), 6)
            .alias("cosine"),
        )
    )
    from .relational import top_k_per_group

    return top_k_per_group(
        scored, [query_id_col],
        [F.col("cosine").desc(), F.col(id_col).asc()],
        k=k, rank_col="rank", keep_rank=True,
    ).withColumn("rank", F.col("rank").cast("int"))


def centroids_by_key(vectors: DataFrame, key_col: str = "label",
                     vec_col: str = "embedding") -> DataFrame:
    """Per-key mean vector (IVF cell centroids).

    MLlib ``Summarizer.mean`` is a true map-side-combining vector
    aggregate: each map task keeps one (running-mean, count) buffer per
    key, so the shuffle moves one dim-length array per (key, map task) —
    not one row per (key, dim) element like a ``posexplode`` formulation
    would (64× the shuffle volume at dim=64).  At 100 TB this is the
    standard k-means centroid-update plan.

    Mean summation order is engine/partition dependent either way; callers
    round derived cosines (6 decimals) before ranking, which absorbs the
    last-ulp noise.
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    return (
        vectors.select(
            F.col(key_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("__v"),
        )
        .groupBy(key_col)
        .agg(Summarizer.mean(F.col("__v")).alias("__m"))
        .select(key_col, vector_to_array("__m").alias("centroid"))
    )


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               key_col: str = "label") -> DataFrame:
    """Nearest-centroid assignment (the IVF build step).  ``centroids``
    holds ``key_col`` and a ``centroid`` array (``centroids_by_key``).

    Broadcast the centroid table (bounded: n_cells × dim), score every
    vector against every cell in one projection, keep the argmax by
    (rounded cosine, key) — a single corpus scan; the only exchange is
    the argmax grouping on the id.

    The k=1 argmax is a ``min_by`` AGGREGATE, not a ``row_number()``
    window: the crossJoin fans each vector out n_cells times, and a
    window would move every copy across the exchange — n_cells× the
    shuffle volume.  ``min_by`` partially aggregates map-side, so
    exactly one row per id reaches the wire.  Ordering mirrors the
    window form it replaced: cosine desc with NULLs last (a NULL cosine
    can only come from a zero-norm vector), ties broken by cell asc —
    within one id each scored row is a distinct cell, so the ordering
    struct is unique and the pick deterministic.
    """
    # norms are computed ONCE per side BEFORE the fan-out: the crossJoin
    # replicates each vector n_cells times, and a plain cosine() in the
    # post-join projection would recompute the vector's own norm per
    # cell — measured 1.8× on the 100k×64 build scan.  Same expressions,
    # same fold order, so the rounded cosines are bit-identical to
    # cosine() (equality pinned by tests/test_plan_shapes.py).
    c = centroids.select(
        F.col(key_col).alias("cell"), "centroid",
        _norm2(F.col("centroid")).alias("__cnrm"),
    )
    v = vectors.withColumn("__vnrm", _norm2(F.col(vec_col)))
    scored = (
        v.crossJoin(F.broadcast(c))
        .select(
            id_col,
            "cell",
            F.round(_dot(F.col(vec_col), F.col("centroid"))
                    / (F.col("__vnrm") * F.col("__cnrm")), 6)
            .alias("cosine"),
        )
    )
    order = F.struct(
        F.coalesce(-F.col("cosine"), F.lit(float("inf"))).alias("neg_cos"),
        F.col("cell").alias("cell"),
    )
    best = scored.groupBy(id_col).agg(
        F.min_by(F.struct(F.col("cell"), F.col("cosine")), order).alias("__best"),
    )
    return best.select(
        id_col,
        F.col("__best.cell").alias("assigned_cell"),
        F.col("__best.cosine").alias("cell_cosine"),
    )


def srp_candidate_pairs(vectors: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int = 64,
                        bands: int = 4, bits: int = 6,
                        max_bucket: int | None = None) -> DataFrame:
    """Signed-random-projection LSH candidate pairs (AND-OR banding).

    Deterministic pseudo-hyperplanes (same integer-coefficient family as
    ``plans/dedup_queries.embedding_cosine_near_dup``, so behavior is
    pinned by that query's DuckDB oracle).  Returns distinct
    ``(id1, id2, e1, e2)`` with ``id1 < id2``; a pair is a candidate when
    any of the ``bands`` bucket keys (each ``bits`` sign bits) matches.

    Scale shape: one narrow projection per row, then a self-join keyed on
    (band, bucket) — candidate volume is O(sum of bucket sizes squared),
    never O(n²).  ``bands``/``bits`` are the recall/cost dials: more
    bands raise recall, more bits shrink buckets.

    ``max_bucket``: the same degenerate-bucket guard as
    :func:`..dedup.lsh_candidate_pairs` — a (band, bucket) shared by
    ``b`` vectors emits ``b(b-1)/2`` pairs, so one hot bucket (a dense
    region, a constant embedding) turns the self-join quadratic;
    buckets above the cap are excluded before the join.  ``None``
    keeps exact classic semantics (the oracle-checked entries' mode).
    """
    projs = [
        F.expr(
            f"aggregate(sequence(1, {dim}), CAST(0.0 AS DOUBLE), "
            f"(a, i) -> a + CAST(element_at({vec_col}, i) AS DOUBLE) "
            f"* (((i*31 + {p + 1}*17) % 7) - 3))"
        )
        for p in range(bands * bits)
    ]
    sign_bits = [F.when(pr >= 0, 1).otherwise(0) for pr in projs]
    band_structs = F.explode(F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            sum(sign_bits[b * bits + j] * (1 << j)
                for j in range(bits)).alias("bucket"),
        )
        for b in range(bands)
    ]))
    banded = (
        vectors.select(F.col(id_col).alias("__id"),
                       F.col(vec_col).alias("__vec"),
                       band_structs.alias("bb"))
        .select("__id", "__vec", "bb.band", "bb.bucket")
    )
    if max_bucket is not None:
        from ..core.cache import scoped_persist

        banded = scoped_persist(banded)  # reused: sizes + both join sides
        ok = (banded.groupBy("band", "bucket")
              .agg(F.count(F.lit(1)).alias("__bn"))
              .filter(F.col("__bn") <= max_bucket)
              .select("band", "bucket"))
        # the whitelist is bounded BY CONSTRUCTION at bands × 2^bits
        # rows (two ints each) — broadcast it whenever that bound is
        # small, at ANY corpus size, skipping a full shuffle of the
        # banded corpus stream; the merge fallback only exists for
        # pathological bands/bits configurations (r11 ask 4: the blunt
        # merge hint here paid the corpus shuffle even for 256 buckets)
        if bands * (1 << bits) <= 1 << 20:
            banded = banded.join(F.broadcast(ok), ["band", "bucket"])
        else:
            banded = banded.join(ok.hint("merge"), ["band", "bucket"])
    a, b = banded.alias("a"), banded.alias("b")
    # merge hint: the banded frame's size estimate is blind to the band
    # explode AND counts the embedding array at its 1-element default
    # width, so at scale it can be "estimated" under the broadcast
    # threshold and statically planned as a corpus-size broadcast —
    # same failure family as dedup.lsh_candidate_pairs
    return (
        a.join(b.hint("merge"), (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id1"), F.col("b.__id").alias("id2"),
                F.col("a.__vec").alias("e1"), F.col("b.__vec").alias("e2"))
        .dropDuplicates(["id1", "id2"])
    )


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------
#
# At 100 TB the dominant ANN cost is not compute but *bytes*: a 64-dim
# float corpus is 256 B/vector, while an m=8 / k=16 PQ code is 4 B — the
# compressed corpus fits in a fraction of the executors' memory and the
# search scan reads 64× less.  The classic layout (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011) splits the
# vector into ``m`` subspaces, k-means-quantizes each independently, and
# scores compressed vectors against a per-query lookup table (ADC) —
# ``m`` array lookups per corpus row instead of ``dim`` multiplies.
#
# Engine-portability contract (shared with the DuckDB oracle that
# hash-checks the encode + ADC chain in ``plans/similarity_queries``):
# every float reduction — the L2 normalization, the subvector distances,
# the LUT dot products, the ADC total — folds IN ELEMENT ORDER on both
# engines, so the doubles are bit-identical and no rounding is needed.


def l2_normalize(vec: Column, dim: int) -> Column:
    """Unit-normalize an ``array`` column (double-widened, ordered fold).

    The norm is LET-BOUND through a one-element outer ``transform`` (r14):
    HOF lambdas evaluate interpreted, so a division lambda that embeds the
    norm aggregate re-ran the whole O(dim) sum-of-squares once per ELEMENT
    — O(dim²) per vector.  Binding it as the outer lambda's variable
    evaluates it once; the per-element division (and so every double) is
    unchanged.
    """
    norm = F.sqrt(
        F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(vec, i).cast("double")
            * F.element_at(vec, i).cast("double"),
        )
    )
    return F.transform(
        F.array(norm),
        lambda n: F.transform(vec, lambda x: x.cast("double") / n),
    ).getItem(0)


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  codes_col: str = "codes",
                  scale_col: str = "scale") -> DataFrame:
    """Symmetric absmax int8 quantization of an embedding column — the
    standard 4× storage/bandwidth reduction for vector stores (float32 →
    int8 + one float scale per vector).

    ``scale = max(|v_i|) / 127``; ``code_i = floor(v_i / scale + 0.5)``
    (explicit half-up rounding so every engine reproduces the codes
    bit-exactly — ``round()`` tie-breaking differs across engines).
    A zero vector quantizes to all-zero codes with ``scale = 0``.

    Map-only, pure codegen: at 100 TB this runs at scan speed and is
    typically fused into the shard-writing stage.  Dequantization is
    ``code_i * scale``; downstream cosine over dequantized vectors
    equals cosine over the raw codes (the positive scale cancels), so
    ANN search can stay in int8 end-to-end.
    """
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(0.0))
    df = df.withColumn(scale_col, scale)
    return df.withColumn(
        codes_col,
        F.when(F.col(scale_col) > 0, F.transform(
            v, lambda x: F.floor(x.cast("double") / F.col(scale_col)
                                 + F.lit(0.5)).cast("int")))
        .otherwise(F.transform(v, lambda x: F.lit(0))))


def dequantize_int8(codes: Column, scale: Column) -> Column:
    """Reconstruct the double-precision vector from int8 codes + scale."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


def _mean_vectors(df: DataFrame, keys: list[str], vec_col: str) -> DataFrame:
    """Per-key mean vector via the map-side-combining MLlib aggregate
    (one running-mean buffer per key per map task — see
    ``centroids_by_key`` for why this beats a posexplode shuffle)."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from pyspark.ml.stat import Summarizer

    return (
        df.select(*keys, array_to_vector(F.col(vec_col).cast("array<double>")).alias("__v"))
        .groupBy(*keys)
        .agg(Summarizer.mean(F.col("__v")).alias("__m"))
        .select(*keys, vector_to_array("__m").alias("centroid"))
    )


def pq_train(vectors: DataFrame, m: int = 8, k: int = 16, iters: int = 2,
             dim: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding",
             normalize: bool = True) -> DataFrame:
    """Train per-subspace PQ codebooks → ``(sub, code, centroid)``.

    Vectors are L2-normalized first (so inner-product ADC approximates
    cosine), split into ``m`` subspaces of ``dim/m`` dims, and each
    subspace is Lloyd-quantized to ``k`` centroids.  Codes are seeded
    from the ``k`` lowest-id vectors (deterministic); each iteration is
    one broadcast-codebook scan + one map-side-combining mean — the
    standard distributed k-means shape.  Codes that lose all members
    keep their previous centroid (no codebook shrinkage).

    Scale note: PQ codebooks are trained on a bounded SAMPLE in
    production (≈100k vectors is standard); pass the sample in as
    ``vectors`` and the per-iteration shuffle stays sample-sized while
    ``pq_encode`` stays a map-only pass over the full corpus.

    ``normalize=False`` skips the L2 step — required when ``vectors``
    are IVF residuals (:func:`pq_residuals`), which live in the already-
    normalized space and must NOT be re-scaled.
    """
    from .relational import top_k_per_group
    from ..core.cache import scoped_checkpoint

    d_sub = dim // m
    norm = vectors.select(
        F.col(id_col),
        (l2_normalize(F.col(vec_col), dim) if normalize
         else F.col(vec_col).cast("array<double>")).alias("__nv")
    )
    subs = norm.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("__nv", s * d_sub + 1, d_sub).alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("e"),
    ).select(id_col, "e.sub", "e.sv")

    seed_ids = vectors.select(id_col).orderBy(id_col).limit(k)
    cb = (
        subs.join(F.broadcast(seed_ids), id_col)
        .withColumn(
            "code",
            (F.row_number().over(
                W.partitionBy("sub").orderBy(id_col)) - 1).cast("int"),
        )
        .select("sub", "code", F.col("sv").alias("centroid"))
    )
    dist = F.aggregate(
        F.sequence(F.lit(1), F.lit(d_sub)),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.element_at("sv", i) - F.element_at("centroid", i))
        * (F.element_at("sv", i) - F.element_at("centroid", i)),
    )
    for _ in range(iters):
        assigned = (
            subs.join(F.broadcast(cb), "sub")
            .withColumn("__d", dist)
        )
        best = top_k_per_group(
            assigned, [id_col, "sub"],
            [F.col("__d").asc(), F.col("code").asc()], k=1,
        ).select(id_col, "sub", "code", "sv")
        means = _mean_vectors(best, ["sub", "code"], "sv") \
            .withColumnRenamed("centroid", "__new")
        cb = scoped_checkpoint(
            cb.join(means, ["sub", "code"], "left")
            .select("sub", "code",
                    F.coalesce("__new", "centroid").alias("centroid"))
        )
    return cb


def pq_residuals(vectors: DataFrame, centroids: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 key_col: str = "label", dim: int = 64,
                 out_col: str = "residual") -> DataFrame:
    """IVF residuals in the normalized space:
    ``r = l2_normalize(v) − unit(centroid[assigned_cell])`` — the
    FAISS-IVFPQ design.  Quantizing residuals instead of raw vectors
    stops the codebook from spending its ``k`` codes per subspace
    re-describing the coarse cluster structure the IVF cells already
    capture; the codes resolve only the (much smaller) within-cell
    detail, which is where ANN recall is won.

    The decomposition ``dot(q̂, v̂) = dot(q̂, ĉ) + dot(q̂, r)`` is exact
    for ANY fixed per-cell ``ĉ`` as long as encode and search use the
    same one; the unit-normalized cell centroid keeps ``r`` small.

    Scale shape: one broadcast nearest-centroid assignment + one
    broadcast centroid join — map-only over the corpus, same as the
    plain encode path.  Returns ``(id, assigned_cell, residual)``.
    """
    assigned = ivf_assign(vectors, centroids, id_col, vec_col, key_col)
    cn = centroids.select(
        F.col(key_col).alias("assigned_cell"),
        l2_normalize(F.col("centroid"), dim).alias("__c"))
    return (
        vectors.join(assigned.select(id_col, "assigned_cell"), id_col)
        .join(F.broadcast(cn), "assigned_cell")
        .select(
            id_col, "assigned_cell",
            F.zip_with(l2_normalize(F.col(vec_col), dim), "__c",
                       lambda a, b: a - b).alias(out_col))
    )


def pq_encode(vectors: DataFrame, codebook: list, m: int = 8, k: int = 16,
              dim: int = 64, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode vectors to packed PQ codes — a MAP-ONLY projection.

    ``codebook`` is the collected ``pq_train`` output (``m × k`` rows —
    bounded, literal-embedded, so the encode plan has no join, no
    shuffle, no Python: one codegen pass over the corpus).  Per
    subspace the argmin folds codes in ascending order with a strict
    ``<``, so exact-tie behavior matches the oracle's
    ``(dist ASC, code ASC)`` ranking.  Output: ``(id, pq_code)`` where
    ``pq_code = Σ code_s · k^s`` (exact integer packing).
    """
    d_sub = dim // m
    cents = {}
    for row in codebook:
        cents[(row["sub"], row["code"])] = list(row["centroid"])
    # Staged projections with NO higher-order functions in the hot path:
    # Spark evaluates HOF lambdas (transform/aggregate) interpreted, which
    # measured ~3.5k rows/s — flattening the 128 distances into plain
    # arithmetic over scalar attribute columns keeps everything inside
    # whole-stage codegen (~100k+ rows/s).  The left-to-right `+` chain
    # reproduces the fold order ((0+t1)+t2)+… exactly (0.0+t1 ≡ t1 in
    # IEEE), so the doubles — and therefore the argmin codes — stay
    # bit-identical to the DuckDB oracle's sequential list_reduce.
    staged = vectors.select(
        F.col(id_col), l2_normalize(F.col(vec_col), dim).alias("__nv")
    ).select(
        id_col,
        *[F.element_at("__nv", i + 1).alias(f"__x{i}") for i in range(dim)],
    )

    def flat_dist(s: int, j: int) -> Column:
        cent = cents[(s, j)]
        term = None
        for i in range(d_sub):
            x = F.col(f"__x{s * d_sub + i}")
            c = F.lit(float(cent[i]))
            t = (x - c) * (x - c)
            term = t if term is None else term + t
        return term

    staged = staged.select(
        id_col,
        *[F.array(*[flat_dist(s, j) for j in range(k)]).alias(f"__d{s}")
          for s in range(m)],
    )
    # array_position returns the FIRST index equal to the min — the same
    # (dist ASC, code ASC) tie-break the oracle's row_number uses
    packed = None
    for s in range(m):
        code_s = (F.array_position(f"__d{s}", F.array_min(f"__d{s}")) - 1)
        term = code_s.cast("long") * F.lit(int(k ** s)).cast("long")
        packed = term if packed is None else packed + term
    return staged.select(F.col(id_col), packed.alias("pq_code"))


def pq_encode_arrow(vectors: DataFrame, codebook: list, m: int = 8,
                    k: int = 16, dim: int = 64, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    normalize: bool = True) -> DataFrame:
    """Arrow-batched PQ encode — the 100 TB throughput path.

    ``pq_encode``'s pure-expression formulation is bit-exact and fully
    SQL-auditable, but its 128 flat distance expressions overflow janino's
    method limits and fall back to interpreted evaluation (~7k rows/s).
    This variant does the same math in numpy over Arrow batches.

    BIT-EXACT by construction, not approximately: every float reduction
    uses ``np.cumsum`` (strictly sequential IEEE adds) instead of
    ``sum``/``einsum`` (whose pairwise/partial-accumulator summation
    changes the fold order), so normalization, distances, and therefore
    the argmin codes are identical to ``pq_encode`` and to the DuckDB
    oracle — asserted bitwise in tests/test_pq.py.  ``argmin`` takes the
    first minimal index = the (dist ASC, code ASC) tie-break.
    """
    import numpy as np
    import pandas as pd

    d_sub = dim // m
    cents = {(row["sub"], row["code"]): list(row["centroid"])
             for row in codebook}
    cb = np.array(
        [[cents[(s, j)] for j in range(k)] for s in range(m)],
        dtype=np.float64)  # (m, k, d_sub)
    k_pows = np.array([int(k ** s) for s in range(m)], dtype=np.int64)

    def encode_batches(batches):
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if normalize:
                # sequential-fold norm: cumsum's last element == left fold
                nrm = np.sqrt(np.cumsum(x * x, axis=1)[:, -1])
                nv = x / nrm[:, None]
            else:  # residual inputs: already in the normalized space
                nv = x
            codes = np.zeros(len(pdf), dtype=np.int64)
            for s in range(m):
                sub = nv[:, s * d_sub:(s + 1) * d_sub]
                diff = sub[:, None, :] - cb[s][None, :, :]
                d2 = np.cumsum(diff * diff, axis=2)[:, :, -1]  # (n, k)
                codes += d2.argmin(axis=1) * k_pows[s]
            yield pd.DataFrame({id_col: pdf[id_col], "pq_code": codes})

    return vectors.select(id_col, vec_col).mapInPandas(
        encode_batches, f"{id_col} bigint, pq_code bigint")


def pq_adc_scores(codes: DataFrame, codebook: list, query_vec: list,
                  m: int = 8, k: int = 16, dim: int = 64,
                  id_col: str = "vec_id",
                  out_col: str = "adc_score") -> DataFrame:
    """Asymmetric-distance scores of packed codes against one query.

    The per-query LUT (``m × k`` inner products of the normalized query
    subvector with every centroid) is computed ONCE driver-side in the
    same element-order fold the oracle uses, then literal-embedded — the
    corpus side does ``m`` array lookups + adds per row (the whole point
    of ADC: scan cost is independent of ``dim``).  Higher = more
    cosine-similar (vectors were normalized before encoding).
    """
    d_sub = dim // m
    qn_norm = 0.0
    for x in query_vec:
        qn_norm += float(x) * float(x)
    qn_norm = qn_norm ** 0.5
    qn = [float(x) / qn_norm for x in query_vec]
    cents = {}
    for row in codebook:
        cents[(row["sub"], row["code"])] = list(row["centroid"])
    lut = []
    for s in range(m):
        row_l = []
        for j in range(k):
            acc = 0.0
            cent = cents[(s, j)]
            for i in range(d_sub):
                acc += qn[s * d_sub + i] * float(cent[i])
            row_l.append(acc)
        lut.append(row_l)
    lut_lit = F.array(*[F.lit(v) for row_l in lut for v in row_l])
    # the score is a FLAT sum of m codegen-able terms — exact
    # integer-literal divisors, no higher-order functions: interpreted
    # HOF eval (aggregate/transform lambdas fall out of whole-stage
    # codegen) measured ~35× slower per row on a 6.4M-candidate ADC
    # scan
    score = _adc_flat_score(lut_lit, m, k)
    return codes.select(
        F.col(id_col), F.col("pq_code"), score.alias(out_col))


def _adc_flat_score(flat_lut, m: int, k: int):
    """ADC score as a flat sum of ``m`` whole-stage-codegen terms.

    ``flat_lut`` is an s-major ``m*k`` double array literal;
    each term unpacks subspace ``s``'s code with an exact integer-LITERAL
    divisor (``k**s`` folded in Python, not ``pow()`` re-evaluated per
    row) and adds one ``element_at``.  Deliberately NOT an
    ``F.aggregate``/``F.transform`` fold: higher-order functions are
    interpreted row-at-a-time outside whole-stage codegen — measured
    147 s → 4 s on a 6.4M-candidate, 500-query ADC scan.
    """
    score = F.lit(0.0)
    for s in range(m):
        idx = F.expr(
            f"CAST((CAST(pq_code AS BIGINT) div {k ** s}) % {k} AS INT)")
        score = score + F.element_at(flat_lut, idx + F.lit(s * k + 1))
    return score


def semantic_dedup(vectors: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", cluster_col: str = "label",
                   threshold: float = 0.95) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): within each cluster, documents whose embedding
    cosine exceeds ``threshold`` are semantic duplicates; keep the
    lowest-id member of every duplicate set, drop the rest.

    Shape: L2-normalize once, then self-join **within a cluster only**
    (``id_a < id_b``) — the cluster assignment (from k-means /
    :func:`ivf_assign` at real scale; the synthetic ``label`` here)
    bounds every pairwise comparison to one cell, which is the entire
    point of the SemDeDup construction: at 100 TB the all-pairs cost is
    ``Σ |cell|²``, controlled by the number of clusters, never ``N²``.
    The join shuffles on the cluster key alone; skewed cells are the
    clustering step's responsibility (cap cell size upstream).

    Keep policy: a vector is dropped iff some LOWER id in its cell is
    within ``threshold`` — a deterministic, partitioning-invariant rule
    (no dependence on comparison order), re-derivable in plain SQL.
    Returns the total map ``(id, kept, dup_of, max_cosine)`` where
    ``dup_of`` is the smallest dominating id and ``max_cosine`` the
    rounded best similarity (NULL for kept rows).

    NOTE (ADVICE r12): the ``measured_hint`` on the dominated-ids side
    is EAGER — plan construction may persist (query-scoped) and count
    it, unless the statistics catalog already holds its measured bytes.
    Library callers outside the query registry own the release: wrap
    with ``core.cache.scope_mark()`` / ``release_scoped(since=...)`` or
    call ``release_scoped()`` after consuming the result.
    """
    # hoist the norm into a projected column (r14): embedding the
    # _norm2 aggregate in the division lambda re-ran the O(dim)
    # sum-of-squares once per ELEMENT (interpreted HOF); the column is
    # computed once per row and the per-element division is unchanged
    nv = vectors.withColumn("__nrm", _norm2(F.col(vec_col))).select(
        F.col(id_col), F.col(cluster_col),
        F.transform(vec_col,
                    lambda x: x.cast("double") / F.col("__nrm"))
        .alias("__nv"))
    a = nv.select(F.col(cluster_col),
                  F.col(id_col).alias("__id_a"), F.col("__nv").alias("__va"))
    b = nv.select(F.col(cluster_col),
                  F.col(id_col).alias("__id_b"), F.col("__nv").alias("__vb"))
    # r14 (guide §2.5, measured need): the within-cluster self-join has
    # at most (distinct clusters) non-empty partitions — on the bench
    # corpus that is 10 keys, a hard parallelism ceiling AQE cannot
    # split (one key is indivisible to OptimizeSkewedJoin) and the pair
    # work per cell grows QUADRATICALLY with cell size (measured 5.7×
    # wall at 5× rows).  When the cluster-key NDV undershoots the
    # session's shuffle width, the join key widens to (cluster,
    # id_b-bucket): the b side carries its hash bucket (no replication),
    # the a side replicates once per bucket, and every (i < j) pair
    # still meets EXACTLY once — in partition (label, bucket(j)) — so
    # the scored stream is row-identical and the dot expression
    # unchanged (bit-identical __cos).  The NDV comes from the
    # statistics catalog (probed once per table version, zero jobs
    # warm; content-unstable frames probe live).  s=1 keeps the r13
    # plan bit-for-bit.
    n_buckets = 1
    try:
        from ..core.catalog import StatsCatalog

        facts = StatsCatalog.default().partition_facts(
            vectors.select(id_col, cluster_col), [cluster_col])
        ndv = int(facts.get("key_ndv") or 0)
        n_part = int(vectors.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        if ndv > 0:
            n_buckets = max(1, min(16, n_part // ndv))
    except Exception:
        n_buckets = 1  # statistics must never fail the operator
    join_keys = [cluster_col]
    if n_buckets > 1:
        b = b.withColumn(
            "__bk", F.pmod(F.xxhash64(F.col("__id_b")),
                           F.lit(n_buckets)).cast("int"))
        a = a.withColumn(
            "__bk", F.explode(F.array(*[F.lit(i)
                                        for i in range(n_buckets)])))
        join_keys = [cluster_col, "__bk"]
        # explicit-count repartition so the SMJ reuses THIS exchange:
        # the pair scoring is CPU-heavy but byte-small, and AQE's
        # size-based coalescing would fold the widened key back to a
        # handful of tasks (the word_shingles pattern — measured 12
        # tasks for a 26 CPU-s stage at 5× bench scale)
        n_part = int(vectors.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        a = a.repartition(n_part, *join_keys)
        b = b.repartition(n_part, *join_keys)
    pairs = (
        # merge hint: both sides are the corpus with an array column the
        # size estimator counts at its 1-element default — broadcast of
        # either side would be a corpus-size driver collect at scale
        a.join(b.hint("merge"), join_keys)
        .filter(F.col("__id_a") < F.col("__id_b"))
        .select("__id_a", "__id_b",
                F.round(_dot(F.col("__va"), F.col("__vb")), 6)
                .alias("__cos"))
        .filter(F.col("__cos") >= threshold)
    )
    dominated = pairs.groupBy(F.col("__id_b").alias(id_col)).agg(
        F.min("__id_a").alias("dup_of"),
        F.max("__cos").alias("max_cosine"))
    # measured hint (r11 ask 4): dominated is duplication-fraction-sized
    # — usually tiny, corpus-scale only on a pathologically redundant
    # corpus — but its static estimate flows through the within-cluster
    # self-join, so neither Catalyst's guess nor a blanket merge hint
    # prices it right.  Deciding from its ACTUAL cached bytes broadcasts
    # the common case (no shuffle of the full id column) and merges the
    # degenerate one (no corpus-size driver collect).
    from ..core.stats import measured_hint

    dominated_hinted, _ = measured_hint(dominated)
    return (
        vectors.select(id_col)
        .join(dominated_hinted, id_col, "left")
        .select(F.col(id_col),
                F.col("dup_of").isNull().alias("kept"),
                "dup_of", "max_cosine")
    )
