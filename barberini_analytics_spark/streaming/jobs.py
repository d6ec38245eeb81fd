"""Structured Streaming jobs.

The reference has no streams — its "hourly" cadence is a cron-driven batch
re-run of the performance-snapshot fetchers (src/_fill_db.py:24-54,
scripts/setup/.crontab:4-5).  The Spark-native replacement treats those
snapshot feeds as streams:

- ``stream_events``       — file-source stream over the events table (at
                            production scale: a Kafka/file-drop source; the
                            schema and transformations are identical).
- ``windowed_engagement`` — watermarked sliding-window aggregation (the
                            hourly-rollup the cron emulates).
- ``condense_stream``     — the M13 performance-condense operator as a
                            custom stateful op (``applyInPandasWithState``):
                            per key, emit only snapshots whose metric vector
                            differs from the last seen one — dropping
                            unchanged polls at the source instead of in the
                            nightly batch.
- ``run_available_now``   — drain a stream to a memory sink with the
                            ``availableNow`` trigger (test/backfill mode:
                            process everything currently on disk, then
                            stop — batch parity by construction).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from ..core.io import table_path

#: raw file schemas per (session, path): every ``spark.read.parquet``
#: launches a one-task schema-inference job even on re-read, and the
#: stream source only needs the schema — memoizing keeps warm
#: constructions of ``streaming_hourly_rollup`` job-free (same contract
#: as ``core/io.load_table``; read-only sf tables only, landing dirs
#: are cold by nature but also immutable once written).
_RAW_SCHEMA_MEMO: dict[tuple[str, str], StructType] = {}


def _raw_schema(spark: SparkSession, path: str) -> StructType:
    key = (spark.sparkContext.applicationId, path)
    hit = _RAW_SCHEMA_MEMO.get(key)
    if hit is None:
        hit = _RAW_SCHEMA_MEMO[key] = spark.read.parquet(path).schema
    return hit


def stream_events(spark: SparkSession, sf_dir: str,
                  glob: str = "events.parquet",
                  max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the events table (one-file-per-batch keeps
    the availableNow drain deterministic).

    ``glob``/``max_files_per_trigger`` generalize the source to a landing
    DIRECTORY of time-ordered event files (the production file-drop shape;
    the streaming scale curve writes one) — the file source orders files
    by modification time, so a writer that stamps slices with increasing
    mtimes gets one contiguous time range per micro-batch.
    """
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema_probe = (table_path(sf_dir, "events")
                    if glob == "events.parquet" else sf_dir)
    schema = _raw_schema(spark, schema_probe)
    # the file source needs a directory: stream the sf dir filtered to the
    # events file (a production feed would be a landing directory anyway)
    raw = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .option("pathGlobFilter", glob)
           .parquet(sf_dir))
    # normalize ts the same way core.io.load_table does (two generator
    # encodings in the wild: nanos-as-long and TIMESTAMP_NTZ micros)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif not isinstance(ts_type, T.TimestampType):
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_engagement(events: DataFrame, window: str = "1 hour",
                        slide: str | None = None,
                        watermark: str | None = "2 hours",
                        extra_keys: Sequence[str] = ()) -> DataFrame:
    """Per-type event counts/sums over (sliding) event-time windows with a
    late-data watermark.  Streaming shuffle state is bounded by the
    watermark horizon — the 100 TB knob is the watermark, not the data
    volume."""
    win = (F.window("ts", window, slide) if slide
           else F.window("ts", window))
    # watermark=None: an upstream stateful operator already declared it
    # (Spark disallows redefining the watermark mid-chain)
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (events
            .groupBy(win.alias("w"), "event_type", *extra_keys)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("value_sum"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", *extra_keys, "n", "value_sum"))


def windowed_distinct_sketch(events: DataFrame, item_col: str = "user_id",
                             window: str = "1 hour",
                             watermark: str | None = "2 hours",
                             p_bits: int = 8) -> DataFrame:
    """Approximate distinct-``item_col`` per event-time window via
    streaming HLL registers.

    ``COUNT(DISTINCT)`` is not a supported streaming aggregate (its
    state is unbounded per window); the HLL register ``max`` IS — state
    per window is a fixed ≤ 2^p_bits rows whatever the stream volume,
    which is the 100 TB story: an hourly distinct-visitors dashboard
    whose state never grows with traffic.  Returns one row per
    (window, bucket) with the running register; collapse with
    ``operators.sketch.hll_summary`` (or ``hll_estimate_corrected``)
    after the drain — registers from a resumed/replayed stream merge by
    the same max, so checkpoint recovery is idempotent by construction.
    """
    from ..operators import sketch as SK

    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    h = SK.mix_sql(item_col)
    return (
        events
        .withColumn("__h", F.expr(h))
        .groupBy(F.window("ts", window).alias("w"),
                 F.expr(f"__h % {1 << p_bits}").alias("bucket"))
        .agg(F.max(F.expr(SK.hll_rank_sql("__h", p_bits))).alias("reg"))
        .select(F.col("w.start").alias("window_start"), "bucket", "reg")
    )


def sessionized_engagement(events: DataFrame, gap: str = "30 minutes",
                           keys: Sequence[str] = ("user_id",),
                           watermark: str = "2 hours",
                           ts_col: str = "ts") -> DataFrame:
    """Per-key SESSION windows over the stream — the streaming face of the
    batch M11 sessionizer (``operators.relational.sessionize``): a session
    extends while consecutive events arrive within ``gap``; state for a
    session is evicted once the watermark passes its close.

    Spark-first: ``F.session_window`` — the engine merges overlapping
    per-event windows into sessions inside the streaming aggregation, so
    state is one open session per active key instead of one row per
    event, and the watermark bounds it in event time.  Batch parity with
    the two-window ``sessionize`` formulation is pinned in
    tests/test_streaming.py.

    Boundary semantics: an event arriving EXACTLY ``gap`` after the
    previous one starts a new session here (session windows are
    half-open ``[start, last + gap)``), while the batch ``sessionize``
    merges it (its condition is ``ts > prev + gap``) — an edge only
    exact-boundary timestamps hit.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("value_sum"))
        .select(*keys,
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events", "value_sum")
    )


def attribution_stream(views: DataFrame, purchases: DataFrame,
                       horizon: str = "1 hour",
                       watermark: str = "2 hours",
                       user_col: str = "user_id") -> DataFrame:
    """Watermarked STREAM-STREAM join: attribute each purchase to every
    view by the same user within ``horizon`` before it.

    The one streaming shape the other jobs don't cover — state on BOTH
    sides.  Spark buffers each side's rows in state and the time-range
    predicate ``view_ts <= purchase_ts <= view_ts + horizon`` plus the
    two watermarks bound how long: view state can be evicted once the
    purchase-side watermark passes ``view_ts + horizon``, purchase state
    once the view-side watermark passes ``purchase_ts``.  Without the
    range condition the state would grow forever — the 100 TB knob is
    (watermark, horizon), not data volume.

    Inner join; each output row is one (view, purchase) attribution
    pair.  Batch parity is pinned in tests/test_streaming.py.
    """
    v = (views.withWatermark("ts", watermark)
         .select(F.col(user_col),
                 F.col("event_id").alias("view_id"),
                 F.col("ts").alias("view_ts")))
    p = (purchases.withWatermark("ts", watermark)
         .select(F.col(user_col).alias("__p_user"),
                 F.col("event_id").alias("purchase_id"),
                 F.col("ts").alias("purchase_ts")))
    cond = (
        (v[user_col] == p["__p_user"])
        & (p["purchase_ts"] >= v["view_ts"])
        & (p["purchase_ts"] <= v["view_ts"] + F.expr(f"INTERVAL {horizon}"))
    )
    return v.join(p, cond, "inner").drop("__p_user")


def condense_stream(events: DataFrame, keys: Sequence[str],
                    value_cols: Sequence[str],
                    ts_col: str = "ts") -> DataFrame:
    """M13 as a custom stateful operator: keep per-key state = last emitted
    metric vector; emit a row only when the vector changes
    (src/_utils/data_preparation.py:242-330 reimagined at the source).

    State is one tuple per key — constant-size, watermark-free; rows within
    a micro-batch are processed in event-time order.

    The per-group emission is vectorized (one aligned-slice compare per
    batch, not a Python row loop): change-point-vs-previous-row equals
    change-point-vs-last-emitted because a non-emitted row is value-equal
    to the last emitted one.  At bench group sizes (~70 rows/key) this is
    a wash — state/Arrow overhead dominates — but a 200k-row hot key
    with realistically rare change-points measured ~4× end-to-end
    (5.7–6.0 s → 1.4–1.6 s; the loop body alone is 190×, the residual
    is scan/state/Arrow-input cost both paths pay) — the difference
    between a stateful operator that survives skewed snapshot feeds at
    100 TB and one that stalls on its hottest key.
    """
    keys = list(keys)
    value_cols = list(value_cols)
    key_fields = [events.schema[k] for k in keys]
    val_fields = [events.schema[c] for c in value_cols]
    ts_field = events.schema[ts_col]
    out_schema = StructType(key_fields + [ts_field] + val_fields)
    state_schema = StructType(val_fields)

    def fn(key: tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        last = list(state.get) if state.exists else None
        outs = []
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(ts_col, kind="mergesort") \
                .reset_index(drop=True)
            vals = pdf[value_cols]
            # change-point vs the PREVIOUS ROW equals change-point vs the
            # last EMITTED vector (a non-emitted row is equal to it), so
            # the per-row loop vectorizes to one aligned-slice compare.
            # Positional slices keep both sides in their ORIGINAL dtypes
            # (a shift() would upcast int64 to float64 and lose >2^53
            # precision); `.ne` matches the loop's Python `!=` on the
            # edge cases — NaN != NaN emits, None == None holds.
            a = vals.iloc[1:].reset_index(drop=True)
            b = vals.iloc[:-1].reset_index(drop=True)
            tail = a.ne(b).any(axis=1).to_numpy() if len(vals) > 1 \
                else np.empty(0, dtype=bool)
            first = list(vals.iloc[0])
            head = last is None or any(
                x != y for x, y in zip(first, last))
            mask = np.concatenate(([head], tail))
            emitted = pdf[mask]
            if len(emitted):
                frame = emitted[[ts_col] + value_cols].copy()
                for kcol, kval in zip(reversed(keys), reversed(key)):
                    frame.insert(0, kcol, kval)
                outs.append(frame)
            # equal-by-`!=` to the loop's last-emitted vector in every
            # case (NaN rows always emit, so an un-emitted tail row is
            # value-equal to the emitted one it followed)
            last = list(vals.iloc[-1])
        if last is not None:
            state.update(tuple(last))
        # no empty-frame yield: an all-object empty frame trips pandas'
        # all-NA concat FutureWarning in the Arrow serializer; an empty
        # iterator is the supported "no output this batch" shape
        for frame in outs:
            yield frame

    return (events.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))


@contextmanager
def state_scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` to a streaming drain.

    Stateful operators allocate ONE state store per shuffle partition,
    and every micro-batch pays per-store commit/snapshot overhead —
    so a chain with three stateful ops at the CPU-sized default (32)
    runs 96 store commits per batch for state that fits in a handful.
    Measured on the sf0.1 hourly rollup: 4.3 s warm at 32 partitions
    → 2.0 s at 8, identical results.  The knob must track STATE VOLUME
    (arrival rate × watermark horizon), not core count — a 100 TB
    deployment raises it with traffic; a bench-scale drain lowers it.

    The conf is session-wide, hence this scope: set before the stream
    is planned (`.start()` fixes the state partition count for the
    query's lifetime via its checkpoint), restored after the drain so
    batch queries keep the CPU-sized default (AQE-coalesced CPU-heavy
    parse stages serialize at low partition counts — the opposite
    regime).
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_available_now(df: DataFrame, query_name: str,
                      output_mode: str = "append") -> DataFrame:
    """Drain everything currently available into a memory sink and return
    the result as a batch DataFrame.  Use ``complete`` for windowed
    aggregations in tests — ``availableNow`` + append would hold back
    windows newer than the final watermark."""
    q = (df.writeStream.format("memory").queryName(query_name)
         .outputMode(output_mode)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return df.sparkSession.table(query_name)


def run_available_now_with_progress(
        df: DataFrame, query_name: str,
        output_mode: str = "append") -> tuple[DataFrame, dict]:
    """:func:`run_available_now`, plus a summary of the drain's progress
    events — the instrumentation the streaming scale curve reads.

    Returns ``(result, summary)`` where summary carries
    ``n_batches`` (micro-batches that processed rows), ``input_rows``
    (total source rows), ``max_state_rows`` (peak across batches of the
    summed ``stateOperators[].numRowsTotal`` — the bounded-state claim
    is about THIS number staying flat while the corpus grows),
    ``max_state_bytes`` (same peak in state-store memory — rows can
    stay flat while bytes grow, so the claim needs both), and
    ``final_watermark`` (ISO string; append-mode window emission is
    gated on it, so batch-parity checks filter to ``window_end <=``
    this).
    """
    spark = df.sparkSession
    # recentProgress keeps only the last N updates; size it to the drain
    # so an 80-batch factor-10 curve point doesn't silently lose its
    # early (state-building) batches from the max.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "400")
    q = (df.writeStream.format("memory").queryName(query_name)
         .outputMode(output_mode)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p is not None]
    active = [p for p in progresses if p.get("numInputRows", 0) > 0]
    max_state = 0
    max_state_bytes = 0
    for p in progresses:
        ops = p.get("stateOperators", [])
        max_state = max(max_state,
                        sum(so.get("numRowsTotal", 0) for so in ops))
        max_state_bytes = max(max_state_bytes,
                              sum(so.get("memoryUsedBytes", 0)
                                  for so in ops))
    final_wm = None
    for p in reversed(progresses):
        wm = p.get("eventTime", {}).get("watermark")
        if wm:
            final_wm = wm
            break
    metric_keys: set = set()
    dropped = 0
    for p in progresses:
        for so in p.get("stateOperators", []):
            metric_keys.update((so.get("customMetrics") or {}).keys())
            dropped += so.get("numRowsDroppedByWatermark", 0)
    summary = {
        "n_batches": len(active),
        "input_rows": int(sum(p.get("numInputRows", 0) for p in active)),
        "max_state_rows": int(max_state),
        "max_state_bytes": int(max_state_bytes),
        "final_watermark": final_wm,
        # late data the engine REFUSED (arrived with event time behind
        # the watermark): the curve's ordered slices keep this at 0;
        # a disordered feed shows its loss here instead of silently
        "rows_dropped_by_watermark": int(dropped),
        # which state-store backend actually ran: RocksDB reports
        # rocksdb* custom metrics, the default HDFS-backed store a
        # different (loadedMapCache*) set — tests assert on this
        # instead of trusting the conf was honored
        "state_custom_metric_keys": sorted(metric_keys),
    }
    return spark.table(query_name), summary


def landing_rollup(spark: SparkSession, landing_dir: str,
                   glob: str = "ev_*.parquet",
                   window: str = "1 hour") -> DataFrame:
    """The full ingestion chain over a landing DIRECTORY of time-ordered
    event files: file stream → watermark dedup → stream-static segment
    enrichment → event-time window agg (append mode — the production
    emission shape; ``streaming_hourly_rollup`` keeps complete mode
    because its oracle wants every window).

    The enrichment dimension (distinct ``user_id`` → segment) is built
    from a static read of the same landing dir and scope-persisted:
    the stream-static contract re-evaluates the static side EVERY
    micro-batch, and a constant-size drain has 8×factor of them — an
    unpersisted distinct-over-corpus per batch would turn the curve
    into a measurement of that instead of the stream.

    Used by the streaming scale curve (bench.py) and its parity test;
    drain with :func:`run_available_now_with_progress`.
    """
    from ..core.cache import scoped_persist

    stream = stream_events(spark, landing_dir, glob=glob)
    deduped = dedup_stream(stream, keys=["event_id"])
    dim = scoped_persist(
        spark.read.parquet(landing_dir).select("user_id").distinct()
        .withColumn("segment", (F.col("user_id") % 4).cast("int")))
    enriched = enrich_stream(deduped, dim, on=["user_id"])
    return windowed_engagement(enriched, window, watermark=None,
                               extra_keys=["segment"])


def dedup_stream(events: DataFrame, keys: Sequence[str] = ("event_id",),
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup within the watermark horizon.

    The streaming face of the P4/exact-dedup operator: the first row per
    key passes, replays arriving inside the watermark are dropped,
    and state older than the horizon is evicted — so state size is
    bounded by (arrival rate × watermark), not by stream history.  This
    is the standard ingestion guard in a training-data pipeline (the
    batch layer's content-hash dedup handles the long-range duplicates).
    """
    return events.withWatermark("ts", watermark) \
        .dropDuplicatesWithinWatermark(list(keys))


def enrich_stream(events: DataFrame, dim: DataFrame,
                  on: Sequence[str] = ("user_id",)) -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing dimension
    columns to a stream.

    The static side is re-read per micro-batch (Spark's stream-static
    contract), planned as a broadcast hash join when under the broadcast
    threshold — stateless, no watermark, no streaming shuffle.  This is
    the streaming face of J2/J3 (posts↔rich, tweet↔author left joins):
    dimension updates between micro-batches are picked up automatically.
    """
    return events.join(F.broadcast(dim), list(on), "left")


def upsert_stream(events: DataFrame, path: str, pk: Sequence[str],
                  query_name: str = "upsert_stream") -> None:
    """Stream → keyed merge sink: each micro-batch lands through the K1
    ``upsert_by_pk`` write path (``foreachBatch``), so replays and
    restarts converge to the same table state — the exactly-once-by-
    idempotence pattern every production stream→table pipeline uses
    (the reference's cron loop re-INSERTs with ON CONFLICT for the same
    reason, src/_utils/database.py:140-174).

    Runs with the availableNow trigger and blocks until the backlog is
    drained (test/backfill mode; a production deployment drops the
    trigger and lets it run continuously).  State lives in the target
    table, not the stream — no watermark needed.
    """
    from ..core.sinks import upsert_by_pk

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        upsert_by_pk(batch.sparkSession, batch, path, pk)

    q = (events.writeStream.foreachBatch(_merge)
         .queryName(query_name)
         .trigger(availableNow=True).start())
    q.awaitTermination()
