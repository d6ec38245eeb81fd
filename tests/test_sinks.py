"""Sink write-mode tests (SURVEY §2.2 K1-K5): upsert-by-PK collision
semantics, snapshot overwrite safety when reading from the target, dynamic
partition-restricted upserts, column-padding concat."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from barberini_analytics_spark.core import sinks as K

@pytest.fixture()
def tbl(tmp_path_factory):
    d = tmp_path_factory.mktemp("tbl", numbered=True)
    return str(d / "t.parquet")


def _rows(spark, path):
    return {tuple(r) for r in spark.read.parquet(path).collect()}


def test_upsert_creates_then_updates(spark, tbl):
    base = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ["id", "name", "v"])
    assert K.upsert_by_pk(spark, base, tbl, ["id"]) == 2
    batch = spark.createDataFrame([(2, "B", 99), (3, "c", 30)], ["id", "name", "v"])
    assert K.upsert_by_pk(spark, batch, tbl, ["id"]) == 3
    assert _rows(spark, tbl) == {(1, "a", 10), (2, "B", 99), (3, "c", 30)}


def test_upsert_composite_pk_and_batch_dups(spark, tbl):
    base = spark.createDataFrame([("p", 1, 5)], ["page", "post", "v"])
    K.upsert_by_pk(spark, base, tbl, ["page", "post"])
    batch = spark.createDataFrame(
        [("p", 1, 7), ("p", 1, 7), ("q", 1, 8)], ["page", "post", "v"]
    )
    K.upsert_by_pk(spark, batch, tbl, ["page", "post"])
    assert _rows(spark, tbl) == {("p", 1, 7), ("q", 1, 8)}


def test_overwrite_reading_from_target(spark, tbl):
    base = spark.createDataFrame([(1, 1), (2, 2)], ["id", "v"])
    K.overwrite(base, tbl)
    # snapshot transform that reads the table it replaces (K2 self-refresh)
    doubled = spark.read.parquet(tbl).withColumn("v", F.col("v") * 2)
    K.overwrite(doubled, tbl)
    assert _rows(spark, tbl) == {(1, 2), (2, 4)}


def test_overwrite_counts_rows_without_stats_refresh(spark, tbl,
                                                     monkeypatch):
    """The row count comes from the stats refresh's footer read; when the
    refresh yields nothing, the sink counts the written table instead."""
    from barberini_analytics_spark.core.catalog import StatsCatalog

    df = spark.range(7).withColumnRenamed("id", "v")
    assert K.overwrite(df, tbl) == 7
    monkeypatch.setattr(StatsCatalog, "refresh_table",
                        lambda self, spark, path: None)
    assert K.overwrite(df.filter("v < 5"), tbl) == 5


def test_overwrite_failed_swap_keeps_previous_table(spark, tbl,
                                                    monkeypatch):
    """If the staging rename fails after the live table was moved aside,
    the previous snapshot is put back at the path before the error
    propagates, and no backup or staging directory is left behind."""
    import os

    K.overwrite(spark.createDataFrame([(1, 1)], ["id", "v"]), tbl)
    real_rename = os.rename

    def failing_staging_rename(src, dst):
        if dst == tbl and "__staging_" in os.path.basename(src):
            raise OSError("simulated rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_staging_rename)
    with pytest.raises(OSError, match="simulated"):
        K.overwrite(spark.createDataFrame([(2, 2)], ["id", "v"]), tbl)
    monkeypatch.undo()
    assert _rows(spark, tbl) == {(1, 1)}
    assert os.listdir(os.path.dirname(tbl)) == [os.path.basename(tbl)]


def test_overwrite_ignores_stale_backup(spark, tbl):
    """A backup directory stranded by a run killed mid-cleanup does not
    block the next overwrite of the same table."""
    import os

    K.overwrite(spark.createDataFrame([(1, 1)], ["id", "v"]), tbl)
    stale = tbl + ".__old__"
    os.makedirs(stale)
    with open(os.path.join(stale, "part-0.parquet"), "wb") as f:
        f.write(b"left by a killed run")
    assert K.overwrite(spark.createDataFrame([(2, 2)], ["id", "v"]),
                       tbl) == 1
    assert _rows(spark, tbl) == {(2, 2)}


def test_partitioned_upsert_leaves_other_partitions(spark, tbl):
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10), ("2024-01-02", 2, 20)], ["day", "id", "v"]
    )
    K.upsert_by_pk(spark, base, tbl, ["id"], partition_cols=["day"])
    batch = spark.createDataFrame([("2024-01-02", 2, 99)], ["day", "id", "v"])
    # the count covers the untouched partition too
    assert K.upsert_by_pk(spark, batch, tbl, ["id"],
                          partition_cols=["day"]) == 2
    # partition-column type inference reads `day` back as DateType
    got = {(str(r.day), r.id, r.v) for r in spark.read.parquet(tbl).collect()}
    assert got == {("2024-01-01", 1, 10), ("2024-01-02", 2, 99)}


def test_append_and_materialize(spark, tbl):
    K.append(spark.createDataFrame([(1, 1)], ["id", "v"]), tbl)
    K.append(spark.createDataFrame([(1, 2)], ["id", "v"]), tbl)
    assert _rows(spark, tbl) == {(1, 1), (1, 2)}
    cache = tbl + ".cache"
    out = K.materialize(
        spark.read.parquet(tbl).groupBy("id").agg(F.sum("v").alias("v")), cache
    )
    assert {tuple(r) for r in out.collect()} == {(1, 3)}


def test_concat_frames_pads_columns(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "a_only"])
    b = spark.createDataFrame([(2,)], ["id"])
    got = K.concat_frames([a, b]).orderBy("id").collect()
    assert [(r.id, r.a_only) for r in got] == [(1, "x"), (2, None)]


def test_partitioned_upsert_never_rewrites_untouched_files(spark, tbl):
    """Physical evidence for the '100 TB never rewrites history' claim:
    after a batch touching one partition, every file of every OTHER
    partition is the SAME file on disk (path + mtime + size), not a
    rewritten copy."""
    import glob
    import os

    base = spark.createDataFrame(
        [(f"2024-01-{d:02d}", d * 100 + i, i)
         for d in range(1, 6) for i in range(50)],
        ["day", "id", "v"])
    K.upsert_by_pk(spark, base, tbl, ["id"], partition_cols=["day"])

    def snapshot():
        return {p: (os.path.getmtime(p), os.path.getsize(p))
                for p in glob.glob(f"{tbl}/day=*/[!.]*")
                if "day=2024-01-03" not in p}

    before = snapshot()
    assert before, "expected partition files on disk"
    batch = spark.createDataFrame([("2024-01-03", 1, 999)],
                                  ["day", "id", "v"])
    K.upsert_by_pk(spark, batch, tbl, ["id"], partition_cols=["day"])
    assert snapshot() == before, "untouched partitions were rewritten"
    # and the touched partition did absorb the batch row
    got = {(r.id, r.v) for r in
           spark.read.parquet(tbl).filter("day = '2024-01-03'").collect()}
    assert (1, 999) in got


def test_upsert_property_matches_dict_merge(spark, tbl):
    """Upsert == dict-merge semantics on randomized keyed batches."""
    import numpy as np

    rng = np.random.default_rng(17)
    state = {}
    for step in range(4):
        rows = [(int(k), step, int(v)) for k, v in
                zip(rng.integers(0, 30, 40), rng.integers(0, 1000, 40))]
        # within-batch dedup keeps ONE deterministic survivor per key —
        # mirror sinks' max-by-all-columns pin
        per_key = {}
        for k, s, v in rows:
            per_key[k] = max(per_key.get(k, (k, -1, -1)), (k, s, v))
        state.update(per_key)
        K.upsert_by_pk(
            spark, spark.createDataFrame(rows, ["id", "step", "v"]),
            tbl, ["id"])
    assert _rows(spark, tbl) == set(state.values())


def test_upsert_schema_evolution_adds_column(spark, tmp_path):
    """A batch carrying a NEW column merges cleanly: stored-only rows get
    NULL for it, batch rows carry their values, and a subsequent read
    sees the widened schema."""
    from barberini_analytics_spark.core.sinks import upsert_by_pk

    p = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]) \
        .write.parquet(p)
    batch = spark.createDataFrame([(2, "b2", "extra"), (3, "c", "more")],
                                  ["k", "v", "tag"])
    upsert_by_pk(spark, batch, p, ["k"])
    got = {r.k: (r.v, r.tag) for r in spark.read.parquet(p).collect()}
    assert got == {1: ("a", None), 2: ("b2", "extra"), 3: ("c", "more")}


def test_analyze_table_one_pass_stats(spark, sf_dir):
    from barberini_analytics_spark.core.io import load_table
    from barberini_analytics_spark.core.stats import analyze_table

    docs = load_table(spark, sf_dir, "documents")
    stats = {r.column: r for r in analyze_table(docs).collect()}
    assert set(stats) == {"doc_id", "text", "lang", "source", "n_chars"}
    n = docs.count()
    s = stats["doc_id"]
    assert s.n_rows == n and s.n_nulls == 0
    assert int(s.min) == 0 and int(s.max) == n - 1
    # exact-distinct key: HLL estimate within its 5% rsd (3 sigma)
    assert abs(s.ndv_approx - n) <= max(3, 0.15 * n)
    assert stats["lang"].ndv_approx <= 8
    assert float(stats["text"].avg_len) > 20
    # ONE aggregate pass: the plan contains a single pair of
    # partial/final HashAggregates over the scan, no per-column jobs
    plan = analyze_table(docs)._jdf.queryExecution().executedPlan().toString()
    import re
    assert len(re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate",
                          plan)) <= 2 * 2  # partial+final, possibly object


def test_analyze_table_handles_nulls_and_arrays(spark):
    from barberini_analytics_spark.core.stats import analyze_table

    df = spark.createDataFrame(
        [(1, None, [1.0, 2.0]), (2, "x", None), (3, "x", [3.0])],
        "id long, name string, vec array<double>")
    stats = {r.column: r for r in analyze_table(df).collect()}
    assert stats["name"].n_nulls == 1 and stats["name"].ndv_approx == 1
    assert stats["vec"].n_nulls == 1
    assert stats["vec"].min is None and stats["vec"].max is None
    assert stats["vec"].ndv_approx == 2


def test_join_advice_strategies(spark):
    from barberini_analytics_spark.core.stats import join_advice

    big = spark.range(200_000).selectExpr(
        "CAST(id AS STRING) AS k", "id AS payload")
    small = spark.range(500).selectExpr(
        "CAST(id AS STRING) AS k", "id AS x")
    [r] = join_advice(big, small, "k").collect()
    assert r.advice == "broadcast_right"
    [r2] = join_advice(small, big, "k").collect()
    assert r2.advice == "broadcast_left"

    # two big sides, tiny key overlap -> bloom-prune recommendation
    far = spark.range(1_000_000, 1_200_000).selectExpr(
        "CAST(id AS STRING) AS k", "id AS y")
    [r3] = join_advice(big, far, "k", broadcast_bytes=1_000).collect()
    assert r3.advice == "bloom_prune_then_shuffle"
    assert r3.n_overlap_est < 40_000

    # two big overlapping sides -> plain shuffle join
    [r4] = join_advice(big, big.selectExpr("k", "payload AS z"), "k",
                       broadcast_bytes=1_000).collect()
    assert r4.advice == "shuffle_join"
    assert r4.containment_left > 0.7


def test_join_advice_matches_spark_plan_choice(spark, tmp_path):
    """The advisor's recommendation must agree with the join strategy
    Spark ITSELF picks from file-size statistics at the same broadcast
    threshold — otherwise the advice is just computed, not validated.
    Three size regimes; the bloom recommendation is checked as a
    refinement of Spark's own shuffle choice (Spark has no bloom-prune
    strategy to pick, but it must NOT have chosen a broadcast there).
    """
    from barberini_analytics_spark.core.stats import join_advice

    thresh = 100 * 1024
    paths = {n: str(tmp_path / n) for n in ("big", "small", "big2", "far")}
    spark.range(150_000).selectExpr(
        "CAST(id AS STRING) AS k", "id AS payload") \
        .write.parquet(paths["big"])
    spark.range(400).selectExpr(
        "CAST(id AS STRING) AS k", "id AS x").write.parquet(paths["small"])
    spark.range(150_000).selectExpr(
        "CAST(id AS STRING) AS k", "id AS z").write.parquet(paths["big2"])
    spark.range(1_000_000, 1_150_000).selectExpr(
        "CAST(id AS STRING) AS k", "id AS y").write.parquet(paths["far"])
    big, small, big2, far = (spark.read.parquet(paths[n])
                             for n in ("big", "small", "big2", "far"))

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(thresh))
    # static plan comparison: AQE would defer the choice to runtime
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        def spark_choice(left, right):
            plan = left.join(right, "k")._jdf.queryExecution() \
                .executedPlan().toString()
            if "BroadcastHashJoin" in plan:
                return ("broadcast_left" if "BuildLeft" in plan
                        else "broadcast_right")
            return "shuffle_join"

        for left, right, expect in ((big, small, "broadcast_right"),
                                    (small, big, "broadcast_left"),
                                    (big, big2, "shuffle_join")):
            [adv] = join_advice(left, right, "k",
                                broadcast_bytes=thresh).collect()
            assert adv.advice == expect, (adv, expect)
            assert spark_choice(left, right) == expect

        # disjoint key ranges: the advisor refines Spark's shuffle choice
        # with a bloom prune; Spark must agree a broadcast is off the table
        [adv] = join_advice(big, far, "k", broadcast_bytes=thresh).collect()
        assert adv.advice == "bloom_prune_then_shuffle", adv
        assert spark_choice(big, far) == "shuffle_join"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_partition_advice_sizing_and_skew(spark):
    """The shuffle-sizing companion to join_advice: partition count must
    track est_bytes / target, and the skew verdict must flip exactly
    when one key dominates its peers."""
    from barberini_analytics_spark.core.stats import partition_advice

    uniform = spark.range(50_000).selectExpr(
        "CAST(id % 500 AS STRING) AS k",
        "repeat('x', 64) AS payload")
    [r] = partition_advice(uniform, ["k"],
                           target_partition_bytes=1024 * 1024).collect()
    assert r.n_rows == 50_000 and r.key_ndv == 500
    # ~70 bytes/row * 50k rows = ~3.5 MB -> 3-5 partitions at 1 MiB target
    assert 2 <= r.shuffle_partitions <= 6, r
    assert r.skew_advice == "plain_shuffle_ok"
    assert r.max_key_rows == 100

    # one key holds 50% of the table -> salting recommendation
    skewed = spark.range(50_000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'hot' ELSE CAST(id AS STRING) END AS k",
        "repeat('x', 64) AS payload")
    [s] = partition_advice(skewed, ["k"],
                           target_partition_bytes=1024 * 1024).collect()
    assert s.skew_advice == "salt_or_aqe_skew_split"
    assert s.max_key_rows == 25_000

    # keyless form: sizing only, no skew verdict
    [n] = partition_advice(uniform,
                           target_partition_bytes=1024 * 1024).collect()
    assert n.skew_advice == "no_keys_given" and n.key_ndv is None
    assert n.shuffle_partitions == r.shuffle_partitions


def test_apply_advice_changes_chosen_plan(spark):
    """apply_advice must not just COMPUTE recommendations — applying
    them has to change the physical plan.  With Spark's auto-broadcast
    disabled, the plain join is a SortMergeJoin; the applied
    broadcast_right hint flips it to BroadcastHashJoin, the applied
    shuffle-partition recommendation lands in the session conf and in
    the exchange of a subsequent keyed shuffle, and the bloom-pruned
    strategy returns exactly the plain join's rows."""
    from pyspark.sql import functions as F

    from barberini_analytics_spark.core.stats import apply_advice

    big = spark.range(200_000).selectExpr(
        "CAST(id AS STRING) AS k", "id AS payload")
    small = spark.range(500).selectExpr(
        "CAST(id AS STRING) AS k", "id AS x")

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # control: without the advice, Spark cannot broadcast
        control = big.join(small, "k")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "SortMergeJoin" in control and \
            "BroadcastHashJoin" not in control, control[:2000]

        joined, applied = apply_advice(spark, big, small, "k")
        assert applied["join"]["advice"] == "broadcast_right"
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan[:2000]

        # the partition recommendation is in force for the next shuffle
        n_rec = applied["partition"]["shuffle_partitions"]
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == n_rec
        agg_plan = big.groupBy("k").count()._jdf.queryExecution() \
            .executedPlan().toString()
        assert f"hashpartitioning(k#" in agg_plan and \
            f", {n_rec})" in agg_plan, agg_plan[:2000]

        # symmetric case: tiny LEFT side gets the BuildLeft broadcast
        joined_l, applied_l = apply_advice(spark, small, big, "k")
        assert applied_l["join"]["advice"] == "broadcast_left"
        plan_l = joined_l._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_l and "BuildLeft" in plan_l, \
            plan_l[:2000]

        # bloom-pruned strategy: applied join == plain join, row for row
        far = spark.range(1_000_000, 1_200_000).selectExpr(
            "CAST(id AS STRING) AS k", "id AS y")
        some = spark.range(199_990, 200_010).selectExpr(
            "CAST(id AS STRING) AS k", "id AS y")
        pruned, applied2 = apply_advice(spark, big, far.union(some), "k",
                                        broadcast_bytes=1_000)
        assert applied2["join"]["advice"] == "bloom_prune_then_shuffle"
        expect = {tuple(r) for r in big.join(far.union(some), "k").collect()}
        assert {tuple(r) for r in pruned.collect()} == expect
        assert len(expect) == 10
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_apply_advice_left_join_preserves_semantics(spark):
    """Non-inner joins restrict the advisor to the semantics-preserving
    strategy subset: a LEFT join through apply_advice must return
    exactly the rows of the plain left join under EVERY advice outcome
    (broadcast_right applied; broadcast_left / bloom-prune degraded to
    plain — Bloom-pruning the preserved side would drop its unmatched
    rows)."""
    from pyspark.sql import functions as F

    from barberini_analytics_spark.core.stats import apply_advice

    left = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"))
    # right matches only even keys, so unmatched left rows exist
    right = spark.range(100).select(
        (F.col("id") * 2).alias("k"),
        (F.col("id") + 1000).alias("payload"))

    def rows(df):
        return sorted(tuple(r) for r in
                      df.select("k", "grp", "payload").collect())

    expect = rows(left.join(right, "k", "left"))
    # tiny right side -> broadcast_right advice, applied as-is
    got, ev = apply_advice(spark, left, right, "k", how="left",
                           set_partitions=False)
    assert rows(got) == expect
    assert ev["partition"] is None  # probe skipped when not applied
    # force the degrade branches: a 1-byte broadcast budget makes the
    # advice bloom/shuffle-shaped, which a left join must NOT apply to
    # its preserved side
    got2, ev2 = apply_advice(spark, left, right, "k", how="left",
                             set_partitions=False, broadcast_bytes=1)
    assert ev2["join"]["advice"] != "broadcast_right"
    assert rows(got2) == expect


@pytest.mark.parametrize("partition_cols", [None, ["p"]])
def test_read_spark_parquet_takes_the_footer_schema(spark, tbl,
                                                    partition_cols):
    """A table Spark wrote is read with the schema its writer stored in
    the footer: the same schema inference gives, partition columns
    included, and no ``parquet at`` schema-inference job."""
    from barberini_analytics_spark.core.io import (read_spark_parquet,
                                                   written_schema)

    df = spark.createDataFrame(
        [(1, "a", [0.5], "x"), (2, None, None, "y")],
        "id bigint, name string, w array<double>, p string")
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(tbl)
    assert written_schema(tbl) is not None

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def parquet_jobs(group, read):
        sc.setJobGroup(group, group)
        try:
            out = read()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        stages = [s for j in tracker.getJobIdsForGroup(group)
                  for s in tracker.getJobInfo(j).stageIds]
        names = [tracker.getStageInfo(s).name for s in stages]
        return out, [n for n in names if n.startswith("parquet at")]

    tag = f"footer-schema-{bool(partition_cols)}"
    inferred, inferred_jobs = parquet_jobs(
        f"{tag}-inferred", lambda: spark.read.parquet(tbl))
    assert inferred_jobs  # the detector sees the inference job
    got, jobs = parquet_jobs(
        f"{tag}-footer", lambda: read_spark_parquet(spark, tbl))
    assert jobs == []
    assert got.schema == inferred.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, inferred.collect()))


def test_read_spark_parquet_infers_without_the_footer_key(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from barberini_analytics_spark.core.io import (read_spark_parquet,
                                                   written_schema)

    path = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int32())}), path)
    assert written_schema(path) is None
    assert read_spark_parquet(spark, path).schema == \
        spark.read.parquet(path).schema
