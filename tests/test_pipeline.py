"""End-to-end ``FillDb`` pipeline: both cadences, run twice, idempotent.

Mirrors the reference's post-run schema assertions
(``tests/schema/check_posts.py:20-103``): expected sources present,
(source, post_id) unique, permalinks present and URL-shaped — plus the
table-level idempotence the sink design promises (re-running a cadence
leaves every warehouse table value-identical).
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from barberini_analytics_spark.pipeline import (
    _PERFORMANCE_PKS, fill_db, fill_db_daily, fill_db_hourly)

SF_DIR = "/root/testdata/sf0.001"


def _table_state(spark, warehouse: str) -> dict[str, tuple[int, int]]:
    """(row count, order-independent value checksum) per warehouse table."""
    state = {}
    for name in sorted(os.listdir(warehouse)):
        df = spark.read.parquet(os.path.join(warehouse, name))
        row_hash = F.xxhash64(*[F.col(c).cast("string") for c in
                                sorted(df.columns)])
        agg = df.agg(F.count(F.lit(1)),
                     F.sum(row_hash.cast("decimal(38,0)"))).first()
        state[name] = (agg[0], agg[1])
    return state


def test_fill_db_both_cadences_twice_is_idempotent(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    os.makedirs(wh)

    first = fill_db(spark, SF_DIR, wh)
    assert first and all(n > 0 for n in first.values()), first
    state_1 = _table_state(spark, wh)
    # the manifest's counts come from the sinks' post-write footer reads;
    # they must be the tables' real row counts
    assert first == {n: state_1[n][0] for n in first}

    # second full run: hourly + daily again, same inputs
    second = fill_db(spark, SF_DIR, wh)
    assert second == first
    state_2 = _table_state(spark, wh)
    assert state_2 == state_1

    # and each cadence alone is also a no-op on re-run
    fill_db_hourly(spark, SF_DIR, wh)
    fill_db_daily(spark, SF_DIR, wh)
    assert _table_state(spark, wh) == state_1

    # every stage's output table actually landed
    expected_tables = {
        "post", "post_aspect", "post_sentiment", "post_topic",
        "visitor_prediction", "pipeline_diagnostics",
        "fb_post", "fb_post_performance", "gomus_customer", "gomus_order",
    }
    assert expected_tables <= set(state_1)

    # ---- reference check_posts.py invariants over the built warehouse
    post = spark.read.parquet(os.path.join(wh, "post"))

    # test_post_sources: the expected platforms all reached the view
    sources = {r.source for r in post.select("source").distinct().collect()}
    assert {"Facebook Post", "Instagram", "Twitter",
            "Google Play", "Apple Appstore", "Google Maps"} <= sources

    # test_post_unique: (source, post_id) is a key
    dupes = (post.groupBy("source", "post_id").count()
             .filter("count <> 1").count())
    assert dupes == 0

    # test_permalink_missing / _valid: permalinks present and URL-shaped
    assert post.filter(F.col("permalink").isNull()).count() == 0
    bad = post.filter(~F.col("permalink").rlike(r"^https?://\S+$")).count()
    assert bad == 0

    # diagnostics table is keyed by (cadence, table): re-runs updated in
    # place, never appended
    diag = spark.read.parquet(os.path.join(wh, "pipeline_diagnostics"))
    assert (diag.groupBy("cadence", "table_name").count()
            .filter("count <> 1").count()) == 0
    assert {r.cadence for r in diag.select("cadence").distinct().collect()} \
        == {"daily", "hourly"}


def _last_job_id(sc, group: str) -> int:
    """Run a one-task marker job in ``group`` and return its job id."""
    sc.setJobGroup(group, "job-id marker")
    sc.parallelize([0], 1).count()
    # job starts reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_fill_db_hourly_jobs_keep_the_callers_job_group(spark, tmp_path):
    """The concurrent table writers run on their own threads; every job
    they start must still carry the caller's job group (a plain thread
    starts with no local properties, so its jobs would be ungrouped)."""
    sc = spark.sparkContext
    tag = f"fill-db-test-{uuid.uuid4().hex[:8]}"
    try:
        first = _last_job_id(sc, f"{tag}-before")
        sc.setJobGroup(tag, "fill_db_hourly under a job group")
        written = fill_db_hourly(spark, SF_DIR, str(tmp_path / "wh"))
        last = _last_job_id(sc, f"{tag}-after")
    finally:
        sc._jsc.clearJobGroup()
    assert list(written) == list(_PERFORMANCE_PKS)
    started = set(range(first + 1, last))
    grouped = set(sc.statusTracker().getJobIdsForGroup(tag))
    assert started, "fill_db_hourly started no job"
    assert started == grouped, sorted(started - grouped)


def test_fill_db_hourly_table_failure_propagates(spark, tmp_path,
                                                 monkeypatch):
    """One failing table write fails the cadence after the others
    finish, and no diagnostics row claims the run succeeded."""
    from barberini_analytics_spark.core import sinks

    real = sinks.upsert_by_pk
    wh = str(tmp_path / "wh")

    def flaky(spark, batch, path, pk, *args, **kwargs):
        if os.path.basename(path) == "ig_post_performance":
            raise RuntimeError("injected write failure")
        return real(spark, batch, path, pk, *args, **kwargs)

    monkeypatch.setattr(sinks, "upsert_by_pk", flaky)
    with pytest.raises(RuntimeError, match="injected write failure"):
        fill_db_hourly(spark, SF_DIR, wh)
    assert not os.path.exists(os.path.join(wh, "pipeline_diagnostics"))
    # the sibling tables ran to completion
    assert os.path.exists(os.path.join(wh, "fb_post_performance"))
    assert os.path.exists(os.path.join(wh, "tweet_performance"))
    assert not os.path.exists(os.path.join(wh, "ig_post_performance"))
