"""Structured Streaming tests: batch-parity of the windowed rollup and the
stateful condense operator, driven with the availableNow trigger."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from barberini_analytics_spark.core.io import load_table
from barberini_analytics_spark.operators.relational import condense_snapshots
from barberini_analytics_spark.streaming import jobs as SJ

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_table(spark, SF, "events").cache()


def test_windowed_engagement_matches_batch(spark, batch_events):
    stream = SJ.stream_events(spark, SF)
    got = SJ.run_available_now(
        SJ.windowed_engagement(stream, "1 hour"), "win_counts",
        output_mode="complete",
    ).toPandas()

    expected = (
        batch_events.groupBy(F.window("ts", "1 hour").alias("w"),
                             "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "event_type", "n",
                "value_sum")
    ).toPandas()

    key = ["window_start", "window_end", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    expected = expected.sort_values(key).reset_index(drop=True)
    assert len(got) == len(expected)
    assert (got["n"].to_numpy() == expected["n"].to_numpy()).all()
    # float sums: same values summed in different orders
    assert abs(got["value_sum"].to_numpy()
               - expected["value_sum"].to_numpy()).max() < 1e-6


def test_condense_stream_matches_batch(spark, batch_events):
    stream = SJ.stream_events(spark, SF).withColumn(
        "bucket", F.floor("value").cast("long"))
    got = SJ.run_available_now(
        SJ.condense_stream(stream, ["user_id"], ["bucket"]),
        "condensed").toPandas()

    batch = batch_events.withColumn("bucket",
                                    F.floor("value").cast("long"))
    expected = condense_snapshots(batch, ["user_id"], "ts",
                                  ["bucket"]).toPandas()

    # same per-key change-points (single input file → one micro-batch in
    # event-time order, exactly the batch semantics)
    key = ["user_id", "ts"]
    g = got[["user_id", "ts", "bucket"]].sort_values(key).reset_index(drop=True)
    e = expected[["user_id", "ts", "bucket"]].sort_values(key) \
        .reset_index(drop=True)
    assert g.equals(e)


def test_stateful_condense_keeps_state_across_batches(spark, tmp_path):
    # two files → two micro-batches; a value repeated across the batch
    # boundary must be dropped by the state, not re-emitted
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "feed"
    d.mkdir()
    pq.write_table(pa.Table.from_pandas(
        pd.DataFrame({"k": [1], "t": [1], "v": [10.0]})),
        str(d / "f1.parquet"))
    pq.write_table(pa.Table.from_pandas(
        pd.DataFrame({"k": [1, 1], "t": [2, 3], "v": [10.0, 11.0]})),
        str(d / "f2.parquet"))
    schema = spark.read.parquet(str(d)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    out = SJ.run_available_now(
        SJ.condense_stream(stream, ["k"], ["v"], ts_col="t"),
        "state_test").toPandas()
    assert sorted(out["t"].tolist()) == [1, 3]


def test_dedup_stream_drops_replays(spark, batch_events):
    # feed the event stream twice (a replayed source) through the
    # streaming dedup; batch-side distinct-on-key is the oracle
    stream = SJ.stream_events(spark, SF)
    replay = stream.unionByName(stream)
    got = SJ.run_available_now(
        SJ.dedup_stream(replay, ["event_id"]), "dedup_out",
        output_mode="append",
    )
    n_unique = batch_events.select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_enrich_stream_static_broadcast(spark, batch_events):
    users = batch_events.select("user_id").distinct() \
        .withColumn("segment", (F.col("user_id") % 3).cast("int"))
    stream = SJ.stream_events(spark, SF)
    got = SJ.run_available_now(
        SJ.enrich_stream(stream, users), "enriched", output_mode="append")
    assert got.count() == batch_events.count()
    assert got.filter(F.col("segment")
                      != (F.col("user_id") % 3).cast("int")).count() == 0


def test_upsert_stream_converges_and_replays_idempotently(spark, tmp_path):
    """Each micro-batch merges by PK; the final table is the latest row
    per user, and draining the same source AGAIN leaves the state
    identical (replay idempotence — the property the foreachBatch sink
    exists for)."""
    from pyspark.sql import functions as F

    from barberini_analytics_spark.streaming import jobs as SJ

    sf = "/root/testdata/sf0.001"
    path = str(tmp_path / "user_state.parquet")

    def drain(name):
        ev = SJ.stream_events(spark, sf).select(
            "user_id", "event_id", "ts", "event_type")
        SJ.upsert_stream(ev, path, pk=["user_id"], query_name=name)

    drain("upsert_drain_1")
    first = {r.user_id: (r.event_id, r.ts)
             for r in spark.read.parquet(path).collect()}

    # expected final state: one row per user (batch wins on collision,
    # and within the single availableNow batch the PK-dedup keeps one
    # deterministic survivor)
    batch_events = spark.read.parquet(f"{sf}/events.parquet")
    assert len(first) == batch_events.select("user_id").distinct().count()

    drain("upsert_drain_2")
    second = {r.user_id: (r.event_id, r.ts)
              for r in spark.read.parquet(path).collect()}
    assert second == first


def test_session_windows_match_batch_sessionize(spark, batch_events):
    """The streaming F.session_window aggregation must produce exactly the
    sessions the batch two-window ``sessionize`` derives: same per-key
    session boundaries (start = first event, end = last event + gap),
    same counts and sums — the M11 sessionizer's streaming face."""
    from barberini_analytics_spark.operators.relational import sessionize

    gap = "30 minutes"
    stream = SJ.stream_events(spark, SF).withColumn(
        "value", F.floor("value").cast("double"))
    got = SJ.run_available_now(
        SJ.sessionized_engagement(stream, gap=gap, keys=["user_id"]),
        "session_counts", output_mode="complete").toPandas()

    batch = batch_events.withColumn(
        "value", F.floor("value").cast("double"))
    expected = (
        sessionize(batch, ["user_id"], "ts",
                   F.expr("INTERVAL 30 MINUTES"))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("value_sum"),
             F.min("ts").alias("session_start"),
             (F.max("ts") + F.expr("INTERVAL 30 MINUTES"))
             .alias("session_end"))
        .drop("session_id")
        .select("user_id", "session_start", "session_end",
                "n_events", "value_sum")
    ).toPandas()

    key = ["user_id", "session_start"]
    got = got.sort_values(key).reset_index(drop=True)
    expected = expected.sort_values(key).reset_index(drop=True)
    assert len(got) == len(expected)
    for col in ["user_id", "session_start", "session_end", "n_events",
                "value_sum"]:
        assert got[col].tolist() == expected[col].tolist(), col


def test_windowed_distinct_sketch_matches_batch_registers(spark, batch_events):
    """Streaming HLL registers == batch registers (state is the same max),
    and the collapsed estimate tracks exact COUNT(DISTINCT) per window."""
    from barberini_analytics_spark.operators import sketch as SK

    stream = SJ.stream_events(spark, SF)
    regs = SJ.run_available_now(
        SJ.windowed_distinct_sketch(stream, "user_id", "1 hour"),
        "win_distinct", output_mode="complete")

    batch_regs = (
        batch_events
        .withColumn("__h", F.expr(SK.mix_sql("user_id")))
        .groupBy(F.window("ts", "1 hour").alias("w"),
                 F.expr("__h % 256").alias("bucket"))
        .agg(F.max(F.expr(SK.hll_rank_sql("__h", 8))).alias("reg"))
        .select(F.col("w.start").alias("window_start"), "bucket", "reg"))

    got = {(r.window_start, r.bucket): r.reg for r in regs.collect()}
    want = {(r.window_start, r.bucket): r.reg for r in batch_regs.collect()}
    assert got == want

    est = SK.hll_estimate_corrected(
        regs, ["window_start"]).toPandas().set_index("window_start")
    exact = (batch_events
             .groupBy(F.window("ts", "1 hour").alias("w"))
             .agg(F.countDistinct("user_id").alias("n"))
             .select(F.col("w.start").alias("window_start"), "n")
             ).toPandas().set_index("window_start")
    joined = est.join(exact)
    assert len(joined) == len(exact)
    rel_err = (joined.n_distinct_est - joined.n).abs() / joined.n
    assert rel_err.mean() < 0.12  # m=256 → ~6.5% canonical error


def test_attribution_stream_stream_join_matches_batch(spark, batch_events):
    """Stream-stream watermarked interval join parity: every (view,
    purchase) pair by the same user with the purchase ≤ 30 min after the
    view must match the batch time-range join exactly — state on both
    sides, bounded by (watermark, horizon)."""
    views = SJ.stream_events(spark, SF).filter(F.col("event_type") == "view")
    purchases = SJ.stream_events(spark, SF).filter(
        F.col("event_type") == "purchase")
    got = SJ.run_available_now(
        SJ.attribution_stream(views, purchases, horizon="30 minutes"),
        "attribution_test")
    got_set = {(r["user_id"], r["view_id"], r["purchase_id"])
               for r in got.collect()}

    bv = batch_events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"))
    bp = batch_events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"))
    expect = {(r["user_id"], r["view_id"], r["purchase_id"])
              for r in bv.join(
                  bp,
                  (bv["user_id"] == bp["pu"])
                  & (bp["purchase_ts"] >= bv["view_ts"])
                  & (bp["purchase_ts"] <= bv["view_ts"]
                     + F.expr("INTERVAL 30 minutes")),
                  "inner").collect()}
    assert got_set == expect
    assert len(expect) > 0  # the fixture must actually exercise the join


def test_landing_slices_drain_constant_state(spark, tmp_path):
    """The streaming scale curve's machinery, pinned at smoke scale:
    ``time_extended_event_slices`` writes constant-row time-ordered
    landing files, the ``landing_rollup`` drain processes them one
    micro-batch per slice IN ORDER, append-mode emission matches the
    batch aggregate up to the final watermark, and peak state stays
    bounded by the slice size (eviction across batches), not the
    corpus — the claim the sf0.1 curve measures at ×1/×3/×10."""
    from barberini_analytics_spark.core.synthdata import (
        time_extended_event_slices)

    ev = load_table(spark, SF, "events")
    landing = str(tmp_path / "landing")
    info = time_extended_event_slices(spark, ev, landing, factor=2,
                                      rows_per_slice=250)
    assert info["n_slices"] == 8 and info["rows"] == 2000

    rolled = SJ.landing_rollup(spark, landing)
    out, summary = SJ.run_available_now_with_progress(
        rolled, "landing_curve_test", output_mode="append")
    got = out.toPandas()

    assert summary["n_batches"] == 8
    assert summary["input_rows"] == 2000
    # eviction: peak state (dedup keys + open windows, summed) is
    # slice-scale, nowhere near corpus-scale
    assert 0 < summary["max_state_rows"] < 1000

    import pandas as pd

    wm = pd.Timestamp(summary["final_watermark"]).tz_localize(None)
    expected = (
        spark.read.parquet(landing)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type",
                 (F.col("user_id") % 4).cast("int").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("value").alias("value_sum"))
        .filter(F.col("w.end") <= F.lit(wm))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "segment", "n", "value_sum")).toPandas()
    key = ["window_start", "event_type", "segment"]
    got = got.sort_values(key).reset_index(drop=True)
    expected = expected.sort_values(key).reset_index(drop=True)
    assert len(got) == len(expected)
    assert (got["n"].to_numpy() == expected["n"].to_numpy()).all()
    assert abs(got["value_sum"].to_numpy()
               - expected["value_sum"].to_numpy()).max() < 1e-6


def test_rocksdb_state_store_runs_the_stateful_chain(spark, batch_events):
    """The big-state production knob: the same dedup → window chain runs
    under ``RocksDBStateStoreProvider`` (state spills to local disk
    instead of executor heap — the 100 TB configuration once state
    outgrows memory) with results identical to the default HDFS-backed
    store.  The provider is asserted from the progress customMetrics
    (rocksdb*), not trusted from the conf — a typo'd provider class
    would otherwise fall back silently."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                          None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        stream = SJ.stream_events(spark, SF)
        rolled = SJ.windowed_engagement(
            SJ.dedup_stream(stream), "1 hour", watermark=None)
        out, summary = SJ.run_available_now_with_progress(
            rolled, "rocksdb_chain", output_mode="complete")
        got = out.toPandas()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)

    assert any(k.startswith("rocksdb") for k in
               summary["state_custom_metric_keys"]), \
        summary["state_custom_metric_keys"]

    expected = (
        batch_events.groupBy(F.window("ts", "1 hour").alias("w"),
                             "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "event_type", "n",
                "value_sum")).toPandas()
    key = ["window_start", "window_end", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    expected = expected.sort_values(key).reset_index(drop=True)
    assert len(got) == len(expected)
    assert (got["n"].to_numpy() == expected["n"].to_numpy()).all()


def test_state_scoped_shuffle_partitions_restores_on_error(spark):
    """The scoped conf must restore the session default even when the
    drain inside it raises — a leaked low partition count would
    serialize every CPU-heavy batch parse stage that follows."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="boom"):
        with SJ.state_scoped_shuffle_partitions(spark, 2):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_watermark_drops_late_rows_and_reports_them(spark, tmp_path):
    """Late-data semantics end-to-end: ancient rows (days behind the
    established watermark) must be DROPPED by the stateful chain and
    the loss must be visible in ``rows_dropped_by_watermark``, never
    silent.  The drop needs append mode (complete mode never evicts
    state, so nothing is ever "too late") AND one extra batch: in a
    chained dedup → aggregate topology the downstream operator's input
    watermark lags the global one by a batch, so rows arriving only
    one batch after their horizon still aggregate — the curve's
    ordered slices pin the 0-drop case, this pins the refusal case."""
    import os
    import time as _t

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "feed"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-10 12:00:00")
    frames = [
        # batch 0: on-time rows in two adjacent hourly windows
        pd.DataFrame({
            "event_id": [1, 2, 3],
            "ts": [t0, t0 + pd.Timedelta(minutes=10),
                   t0 + pd.Timedelta(hours=1)],
            "user_id": [7, 8, 9], "event_type": ["view"] * 3,
            "value": [1.0, 2.0, 3.0]}),
        # batch 1: advances the watermark past the on-time windows
        pd.DataFrame({
            "event_id": [4], "ts": [t0 + pd.Timedelta(hours=4)],
            "user_id": [9], "event_type": ["view"], "value": [100.0]}),
        # batch 2: two ANCIENT rows + a further advancer
        pd.DataFrame({
            "event_id": [100, 101, 5],
            "ts": [t0 - pd.Timedelta(days=2), t0 - pd.Timedelta(days=3),
                   t0 + pd.Timedelta(hours=6)],
            "user_id": [7, 8, 9], "event_type": ["view"] * 3,
            "value": [5.0, 6.0, 200.0]}),
    ]
    sch = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64())])
    for i, fr in enumerate(frames):
        p = str(d / f"f{i}.parquet")
        pq.write_table(pa.Table.from_pandas(fr).cast(sch), p)
        os.utime(p, (_t.time() - 100 + i * 5, _t.time() - 100 + i * 5))
    schema = spark.read.parquet(str(d)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d))
              .withColumn("ts", F.col("ts").cast("timestamp")))
    rolled = SJ.windowed_engagement(
        SJ.dedup_stream(stream, watermark="2 hours"), "1 hour",
        watermark=None)
    out, summary = SJ.run_available_now_with_progress(
        rolled, "late_drop_test", output_mode="append")
    got = out.toPandas()

    # emitted: the on-time windows only (1+2 and 3); the ancient rows
    # never reach a live window, the advancers' windows are held back
    assert float(got["value_sum"].sum()) == 6.0
    assert sorted(got["n"].astype(int).tolist()) == [1, 2]
    # ...and the engine reports the refusal instead of hiding it
    assert summary["rows_dropped_by_watermark"] == 2
    assert summary["input_rows"] == 7
