"""HLL / count-min sketch: accuracy, mergeability, cross-engine parity."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from barberini_analytics_spark.operators import sketch as S


@pytest.fixture(scope="module")
def items(spark):
    # 5000 distinct ids, skewed duplication (id % 7 copies)
    return spark.range(5000).selectExpr(
        "id AS item", "CAST(id % 3 AS STRING) AS grp").withColumn(
        "__dup", F.explode(F.expr("sequence(0, CAST(item % 7 AS INT))"))
    ).drop("__dup")


def test_hll_registers_shape(spark, items):
    regs = S.hll_registers(items, ["grp"], "item", p_bits=8)
    pdf = regs.toPandas()
    # at most m registers per group, every rank in [1, w+1]
    assert pdf.groupby("grp").size().max() <= 256
    assert pdf.reg.between(1, 24).all()
    assert pdf.bucket.between(0, 255).all()


def test_hll_raw_estimate_accuracy(spark):
    # 5000 distinct per group >> 2.5*m: raw estimate applies, and the
    # canonical HLL error bound is ~1.04/sqrt(m) ≈ 6.5% at m=256
    df = spark.range(15000).selectExpr(
        "id AS item", "CAST(id % 3 AS STRING) AS grp")
    est = S.hll_summary(
        S.hll_registers(df, ["grp"], "item"), ["grp"]).toPandas()
    for e in est.hll_est:
        assert abs(e - 5000) / 5000 < 0.15


def test_hll_corrected_small_range(spark):
    # 40 distinct << m=256: raw HLL is badly biased; linear counting
    # must land within a few percent
    df = spark.range(40).selectExpr("id * 131 AS item", "'g' AS grp")
    est = S.hll_estimate_corrected(
        S.hll_registers(df, ["grp"], "item"), ["grp"]).toPandas()
    assert abs(int(est.n_distinct_est[0]) - 40) <= 5


def test_hll_merge_equals_union(spark):
    # registers(A) ⊔ registers(B) == registers(A ∪ B), including on
    # overlapping id ranges — the incremental-maintenance property
    a = spark.range(0, 3000).selectExpr("id AS item", "'g' AS grp")
    b = spark.range(2000, 6000).selectExpr("id AS item", "'g' AS grp")
    merged = S.hll_merge(S.hll_registers(a, ["grp"], "item"),
                         S.hll_registers(b, ["grp"], "item"))
    direct = S.hll_registers(a.union(b), ["grp"], "item")
    m = {(r.grp, r.bucket): r.reg for r in merged.collect()}
    d = {(r.grp, r.bucket): r.reg for r in direct.collect()}
    assert m == d


def test_hll_duckdb_parity(spark):
    """The whole register pipeline replayed in DuckDB matches bit-for-bit
    — the property the oracle fold in pricing_summary rests on."""
    df = spark.range(2000).selectExpr("id * 37 % 991 AS item")
    regs = S.hll_registers(df, [], "item")
    spark_summary = S.hll_summary(regs, []).collect()[0]

    h = S.mix_sql("item")
    rank = S.hll_rank_sql("__h", 8)
    cols = S.hll_summary_cols(8)
    sql = f"""
    WITH src AS (SELECT (range * 37) % 991 AS item FROM range(2000)),
    hb AS (SELECT {h} AS __h FROM src),
    regs AS (
        SELECT __h % 256 AS bucket, max({rank}) AS reg
        FROM hb GROUP BY 1)
    SELECT {cols['hll_est']} AS hll_est,
           {cols['hll_zero_regs']} AS hll_zero_regs,
           {cols['hll_reg_digest']} AS hll_reg_digest
    FROM regs
    """
    duck = duckdb.sql(sql).fetchone()
    assert (spark_summary.hll_est, spark_summary.hll_zero_regs,
            spark_summary.hll_reg_digest) == duck


def test_hll_register_plan_single_exchange(spark, items):
    # the register build must be ONE hash aggregate (partial+final),
    # i.e. exactly one Exchange — the property that makes it a 100 TB op
    plan = S.hll_registers(items, ["grp"], "item")._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "partial_max" in plan


def test_cms_overestimate_and_exactness(spark, items):
    grid = S.cms_build(items, "item")
    truth = items.groupBy("item").count().withColumnRenamed("count", "truth")
    est = S.cms_lookup(grid, truth, "item")
    pdf = est.toPandas()
    # never an underestimate
    assert (pdf.cms_est >= pdf.truth).all()
    # CMS guarantee: overcount ≤ e·N/w with prob 1-e^-d per key
    # (N = total stream count; 5000 keys over 512 cells ALWAYS collide,
    # so exactness is the wrong property at this load factor)
    n_total = pdf.truth.sum()
    bound = 2.718 * n_total / 512
    assert ((pdf.cms_est - pdf.truth) <= bound).mean() > 0.98


def test_cms_exact_at_low_load(spark):
    # few keys vs w: all 4 depths collision-free with high probability →
    # point estimates are exact (the heavy-hitter regime)
    df = spark.range(3000).selectExpr("id % 30 AS item")
    grid = S.cms_build(df, "item")
    truth = df.groupBy("item").count().withColumnRenamed("count", "truth")
    pdf = S.cms_lookup(grid, truth, "item").toPandas()
    assert (pdf.cms_est == pdf.truth).all()


def test_cms_weighted(spark):
    df = spark.range(100).selectExpr("id % 10 AS item", "id AS wt")
    grid = S.cms_build(df, "item", weight_col="wt")
    truth = df.groupBy("item").agg(F.sum("wt").alias("truth"))
    pdf = S.cms_lookup(grid, truth, "item").toPandas()
    assert (pdf.cms_est >= pdf.truth).all()


def test_cms_grid_bounded(spark, items):
    grid = S.cms_build(items, "item", depth=4, width=512)
    assert grid.count() <= 4 * 512
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_cms_duckdb_parity(spark):
    df = spark.range(500).selectExpr("id % 37 AS item")
    grid = S.cms_build(df, "item", depth=2, width=64)
    spark_cells = {(r.i, r.cell): r.cnt for r in grid.collect()}
    cell0 = S.cms_cell_sql("item", 0, 64)
    cell1 = S.cms_cell_sql("item", 1, 64)
    duck = duckdb.sql(f"""
        WITH src AS (SELECT range % 37 AS item FROM range(500)),
        x AS (
            SELECT 0 AS i, {cell0} AS cell FROM src
            UNION ALL
            SELECT 1 AS i, {cell1} AS cell FROM src)
        SELECT i, cell, CAST(count(*) AS BIGINT) FROM x GROUP BY 1, 2
    """).fetchall()
    assert {(i, c): n for i, c, n in duck} == spark_cells


def test_bloom_no_false_negatives(spark):
    dim = spark.range(0, 500).selectExpr("id * 7 AS key")
    bloom = S.bloom_build(dim, "key")
    kept = S.bloom_probe(dim, bloom, "key")
    assert kept.count() == 500  # every inserted key must pass


def test_bloom_fp_rate_and_pruning(spark):
    dim = spark.range(0, 1000).selectExpr("id AS key")
    fact = spark.range(0, 100000).selectExpr("id AS key")
    bloom = S.bloom_build(dim, "key", m_bits=1 << 15)
    kept = S.bloom_probe(fact, bloom, "key").count()
    # 1000 true hits; FP rate at n=1000,m=32768,k=4 -> (1-e^-0.122)^4 ≈ 2e-4
    assert 1000 <= kept < 1000 + 0.01 * 99000


def test_bloom_prejoin_equivalence(spark):
    dim = spark.range(0, 300).selectExpr("id * 13 AS key", "id AS attr")
    fact = spark.range(0, 20000).selectExpr("id AS key", "id % 5 AS v")
    bloom = S.bloom_build(dim, "key")
    pruned = S.bloom_probe(fact, bloom, "key").join(dim, "key")
    plain = fact.join(dim, "key")
    assert sorted(map(tuple, pruned.collect())) == \
        sorted(map(tuple, plain.collect()))


def test_bloom_probe_adds_no_shuffle(spark):
    fact = spark.range(0, 10000).selectExpr("id AS key")
    bloom = S.bloom_build(spark.range(100).selectExpr("id AS key"), "key")
    plan = S.bloom_probe(fact, bloom, "key")._jdf \
        .queryExecution().executedPlan().toString()
    # the probe side must see only a broadcast exchange, never a shuffle
    assert "ShuffleExchange" not in plan.replace(
        "BroadcastExchange", "")


def test_histogram_quantile_rank_error(spark):
    # uniform 0..9999: q50 ≈ 5000, q90 ≈ 9000 within one bin width (~40)
    df = spark.range(10000).selectExpr(
        "CAST(id AS DOUBLE) AS v", "CAST(id % 2 AS STRING) AS grp")
    out = S.histogram_quantile(df, ["grp"], "v", [0.5, 0.9]).toPandas()
    assert len(out) == 2
    for _, r in out.iterrows():
        assert abs(r.q_5 - 5000) < 80
        assert abs(r.q_9 - 9000) < 80


def test_histogram_quantile_skewed(spark):
    # heavy-tail: 99% zeros, 1% large — q50 must sit in the zero mass
    df = spark.range(10000).selectExpr(
        "CASE WHEN id % 100 = 0 THEN 1000.0 ELSE CAST(id % 7 AS DOUBLE)"
        " END AS v", "'g' AS grp")
    out = S.histogram_quantile(df, ["grp"], "v", [0.5]).toPandas()
    assert out.q_5[0] < 50  # one bin width of 1000/256 ≈ 4 above ~3


def test_histogram_degenerate_constant_group(spark):
    df = spark.range(100).selectExpr(
        "CASE WHEN id < 50 THEN 'const' ELSE 'vary' END AS grp",
        "CASE WHEN id < 50 THEN 42.0 ELSE CAST(id AS DOUBLE) END AS v")
    out = S.histogram_quantile(df, ["grp"], "v", [0.5]).toPandas()
    got = dict(zip(out.grp, out.q_5))
    assert got["const"] == 42.0
    assert 50 <= got["vary"] <= 100


def test_histogram_bins_merge_additively(spark):
    # bin counts over disjoint scans with SHARED bounds sum to the full
    # histogram — the mergeable property (same vmin/vmax is required)
    full = spark.range(8000).selectExpr("CAST(id AS DOUBLE) AS v")
    bins_full, bounds = S.histogram_bins(full, [], "v", 64)
    a = full.filter("v < 3000")
    b = full.filter("v >= 3000")
    import pyspark.sql.functions as FF
    def with_bounds(part):
        return part.crossJoin(FF.broadcast(
            bounds.select("vmin", "vmax")))
    bin_expr = ("least(63, greatest(0, CAST(floor((v - vmin) * 64.0"
                " / (vmax - vmin)) AS INT)))")
    pa = with_bounds(a).selectExpr(f"{bin_expr} AS bin").groupBy("bin").count()
    pb = with_bounds(b).selectExpr(f"{bin_expr} AS bin").groupBy("bin").count()
    merged = pa.unionByName(pb).groupBy("bin").agg(
        FF.sum("count").alias("n"))
    got = {r.bin: r.n for r in merged.collect()}
    want = {r.bin: r.n for r in bins_full.collect()}
    assert got == want


def test_histogram_quantile_duckdb_parity(spark):
    """The full chain (bounds → bins → cumsum → interpolation) replayed
    in DuckDB matches exactly — determinism of the IEEE arithmetic."""
    df = spark.range(5000).selectExpr("CAST(id * id % 997 AS DOUBLE) AS v")
    got = S.histogram_quantile(df, [], "v", [0.5], n_bins=64).collect()[0].q_5
    want = duckdb.sql("""
        WITH src AS (SELECT CAST((range * range) % 997 AS DOUBLE) AS v
                     FROM range(5000)),
        bounds AS (SELECT min(v) AS vmin, max(v) AS vmax,
                          count(*) AS total FROM src),
        bins AS (
            SELECT least(63, greatest(0, CAST(floor((v - vmin) * 64.0
                       / (vmax - vmin)) AS INT))) AS bin,
                   count(*) AS n
            FROM src, bounds GROUP BY 1),
        cum AS (SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum FROM bins)
        SELECT min_by(vmin + (vmax - vmin) / 64.0 * (bin
                   + greatest(0.5 * total - (cum - n), 0.0) / n),
                   CASE WHEN cum >= 0.5 * total THEN bin ELSE 64 END)
        FROM cum, bounds
    """).fetchone()[0]
    assert got == want


def test_filter_by_quantile_drops_bottom_decile(spark):
    df = spark.range(10000).selectExpr("id", "CAST(id AS DOUBLE) AS score")
    kept = S.filter_by_quantile(df, "score", 0.1, keep="above")
    n = kept.count()
    # threshold accurate to one bin width: 10000/1024 ≈ 10
    assert abs(n - 9000) < 100
    assert kept.agg(F.min("score")).first()[0] >= 900


def test_filter_by_quantile_per_group(spark):
    df = spark.range(2000).selectExpr(
        "CAST(id % 2 AS STRING) AS src",
        "CAST(CASE WHEN id % 2 = 0 THEN id ELSE id * 100 END AS DOUBLE)"
        " AS score")
    kept = S.filter_by_quantile(df, "score", 0.5, keep="below",
                                group_cols=["src"])
    pdf = kept.toPandas()
    # each group loses its own top half — scales are per-group
    counts = pdf.groupby("src").size()
    assert abs(counts["0"] - 500) < 30 and abs(counts["1"] - 500) < 30


def test_weighted_sample_proportional_and_deterministic(spark):
    from barberini_analytics_spark.operators import relational as R

    # two weight classes: weight 9 vs 1 — the heavy class should win
    # roughly 90% of sample slots
    df = spark.range(20000).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 9.0 ELSE 1.0 END AS wt")
    s1 = R.weighted_sample(df, 2000, "wt")
    heavy = s1.filter("id % 2 = 0").count()
    assert 1650 < heavy < 1950
    # determinism across partitionings
    s2 = R.weighted_sample(df.repartition(7), 2000, "wt")
    assert sorted(r.id for r in s1.collect()) == \
        sorted(r.id for r in s2.collect())


def test_weighted_sample_per_key_quota(spark):
    from barberini_analytics_spark.operators import relational as R

    df = spark.range(3000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS src", "1.0 + id % 5 AS wt")
    out = R.weighted_sample(df, 50, "wt", keys=["src"]).toPandas()
    assert (out.groupby("src").size() == 50).all()


def test_hll_overlap_estimate_accuracy(spark):
    """Inclusion-exclusion intersection from sketches alone: 10k vs 10k
    keys with exactly 5k shared must estimate the overlap within the
    compounded HLL error, without ever joining the inputs."""
    from barberini_analytics_spark.operators.sketch import (
        hll_overlap_estimate)

    left = spark.range(0, 10_000).selectExpr("CAST(id AS STRING) AS k")
    right = spark.range(5_000, 15_000).selectExpr("CAST(id AS STRING) AS k")
    [r] = hll_overlap_estimate(left, right, "k", p_bits=10).collect()
    assert abs(r.n_left - 10_000) < 1_500
    assert abs(r.n_right - 10_000) < 1_500
    assert abs(r.n_union - 15_000) < 2_000
    assert abs(r.n_overlap_est - 5_000) < 2_500
    assert 0.25 <= r.containment_left <= 0.8
    # disjoint sides -> overlap near zero (clamped at 0)
    far = spark.range(100_000, 110_000).selectExpr("CAST(id AS STRING) AS k")
    [d] = hll_overlap_estimate(left, far, "k", p_bits=10).collect()
    assert d.n_overlap_est < 2_000
