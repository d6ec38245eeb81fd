"""The ``FillDb`` analogue: ONE composed driver program running the whole
museum pipeline end-to-end through the real sinks, idempotently.

Reference: ``src/_fill_db.py:15-54`` organizes everything under a
``FillDb`` wrapper task split into a DAILY cadence (post ingest, gomus
ingest, ABSA, topic modeling, visitor prediction, diagnostics —
``FillDbDaily``) and an HOURLY cadence (post-performance ingest only —
``FillDbHourly``), with ``src/_posts.py:14-36`` fanning the post ingest
out per platform.  Luigi gives the reference its DAG and idempotence
(targets exist → task skipped); here both come from the sinks instead:

* every ingest lands via ``upsert_by_pk`` — re-running a day merges the
  same rows onto the same keys and the table is byte-identical;
* every derived table (views, ABSA, topics, predictions) lands via
  ``overwrite`` (snapshot of a deterministic plan);
* nothing appends, so there is no run counter to dedupe.

Stage order is the reference's dependency order: base tables first, the
``post`` view stack over them, analysis tables over ``post``.  Each
stage reads its INPUTS back from the warehouse (not from the in-memory
frames of the previous stage), so a stage can be re-run alone and the
composition stays a restartable DAG rather than one giant plan — at
100 TB that is also what bounds lineage and lets the scheduler place
each stage independently.

Concurrency: the reference runs its DAG on three Luigi worker processes
(``make luigi`` → ``--workers 3``), so independent tasks overlap.  Here
the independent units are the table writes inside one ingest stage
(:func:`_upsert_tables`): one thread per table — 3 in the hourly
cadence, 8 in :func:`posts_to_db`, 5 in :func:`gomus_to_db` — each its
own upsert onto its own path, sharing no input or output.  Their jobs
are mostly driver-side planning and job latency on a few hundred rows,
so they overlap on otherwise idle cores.  The STAGES stay sequential:
the view stack and the analysis tables read what earlier stages wrote,
and the stages that could overlap (posts ‖ gomus ‖ predictions,
ABSA ‖ topics) share process-global state — ``core.cache`` scoped
persists are released by mark for the whole process, and the topic
model's driver-side GSDMM fit holds the GIL.  Stage-level concurrency
is the follow-up and needs per-thread cache scopes first.

The ingest layer maps the synthetic corpus onto the reference's base
tables with the same deterministic fixture the oracle-checked
``domain_queries`` use (``_social_tables`` / ``_gomus_tables``; the
hourly cadence builds only ``_performance_tables``) — in
production those builders are replaced by the real source parsers in
``sources/`` (the parsing itself is oracle-checked via the
``ingest_queries`` registry entries); everything downstream is the real
pipeline.

Returned manifest: ``{table_name: rows_written}`` per run, as the sinks
count it after each write — the
diagnostics summary (reference ``Diagnostics``) is itself written as a
warehouse table keyed by (cadence, table), so it is upserted, not
appended, and stays idempotent.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from .core import sinks
from .core.io import read_spark_parquet
from .core.localrel import values_df
from .domain import views as V
from .operators.fuzzy import match_occurrences
from .operators.text import tokenize

#: base-table primary keys (reference migration PKs; SURVEY §1.1)
_SOCIAL_PKS: dict[str, list[str]] = {
    "fb_post": ["page_id", "post_id"],
    "fb_post_comment": ["post_id", "comment_id"],
    "ig_post": ["ig_post_id"],
    "tweet": ["tweet_id"],
    "tweet_author": ["user_id"],
    "appstore_review": ["app_id", "review_id"],
    "gplay_review": ["playstore_review_id"],
    "google_maps_review": ["google_maps_review_id"],
}
_PERFORMANCE_PKS: dict[str, list[str]] = {
    "fb_post_performance": ["page_id", "post_id", "timestamp"],
    "ig_post_performance": ["ig_post_id", "timestamp"],
    "tweet_performance": ["tweet_id", "timestamp"],
}
_GOMUS_PKS: dict[str, list[str]] = {
    "gomus_customer": ["customer_id"],
    "gomus_order": ["order_id"],
    "gomus_order_contains": ["article_id"],
    "gomus_booking": ["booking_id"],
    "gomus_event": ["event_id"],
}


def _table_path(warehouse: str, name: str) -> str:
    return os.path.join(warehouse, name)


def _upsert_tables(spark: SparkSession, warehouse: str,
                   tables: dict[str, DataFrame],
                   pks: dict[str, list[str]]) -> dict[str, int]:
    """Upsert every table of ``pks`` concurrently, one thread per table,
    and return ``{table: rows}`` in ``pks`` order.

    Each worker is wrapped by ``inheritable_thread_target(spark)`` so
    the caller's job group, local properties and session tags reach
    its jobs (a plain thread starts with none of them).  The wrap is
    per table because it snapshots the properties into one object that
    the thread then mutates (the SQL execution id), so sharing one
    snapshot across threads would mix their executions.

    Failure: every table runs to completion or failure, then the first
    failure in ``pks`` order is raised.  Each upsert is an atomic
    staging swap, so a failed table keeps its previous snapshot, the
    caller writes no diagnostics row, and a re-run is idempotent."""
    def upsert(name: str) -> int:
        return sinks.upsert_by_pk(spark, tables[name],
                                  _table_path(warehouse, name), pks[name])

    with ThreadPoolExecutor(len(pks)) as pool:
        futures = {name: pool.submit(inheritable_thread_target(spark)(upsert),
                                     name)
                   for name in pks}
    return {name: f.result() for name, f in futures.items()}


def _read_tables(spark: SparkSession, warehouse: str,
                 names) -> dict[str, DataFrame]:
    return {n: read_spark_parquet(spark, _table_path(warehouse, n))
            for n in names}


# ---------------------------------------------------------------------------
# daily stages
# ---------------------------------------------------------------------------

def posts_to_db(spark: SparkSession, sf_dir: str,
                warehouse: str) -> dict[str, int]:
    """``PostsToDb`` (src/_posts.py:14-36): every platform's post table,
    upserted by its PK."""
    from .plans.domain_queries import _social_tables

    return _upsert_tables(spark, warehouse, _social_tables(spark, sf_dir),
                          _SOCIAL_PKS)


def gomus_to_db(spark: SparkSession, sf_dir: str,
                warehouse: str) -> dict[str, int]:
    """``GomusToDb``: customers, orders, order items, bookings, events."""
    from .plans.domain_queries import _gomus_tables

    return _upsert_tables(spark, warehouse, _gomus_tables(spark, sf_dir),
                          _GOMUS_PKS)


def post_view_to_db(spark: SparkSession, warehouse: str) -> dict[str, int]:
    """The layered ``post`` view stack over the WAREHOUSE base tables
    (not the ingest frames), materialized as the cache table every
    analysis stage reads (reference migration_015 ``post`` + the ABSA
    caches)."""
    t = _read_tables(spark, warehouse,
                     list(_SOCIAL_PKS) + list(_PERFORMANCE_PKS))
    return {"post": sinks.overwrite(V.post(t),
                                    _table_path(warehouse, "post"))}


def absa_to_db(spark: SparkSession, warehouse: str) -> dict[str, int]:
    """``AspectBasedSentimentAnalysis``: tokenize ``post``, stage the
    aspect matchers over the distinct vocabulary, score document
    sentiment from the polarity lexicon — two cache tables,
    ``post_aspect`` and ``post_sentiment`` (src/absa/* chain)."""
    from .plans.absa_queries import ASPECT_WORDS, POLARITY_DECIPOINTS

    post = read_spark_parquet(spark, _table_path(warehouse, "post"))
    tokens = tokenize(post, ["source", "post_id"])
    aspects = values_df(spark, [(w,) for w in ASPECT_WORDS],
                        "matched string")
    matched = match_occurrences(tokens, aspects, "equality",
                                id_cols=("source", "post_id"))
    n_aspect = sinks.overwrite(
        matched.select("source", "post_id", "word_index", "word",
                       "matched"),
        _table_path(warehouse, "post_aspect"))

    polarity = values_df(spark, list(POLARITY_DECIPOINTS.items()),
                         "word string, decipoints bigint")
    sentiment = (
        tokens.join(F.broadcast(polarity), "word")
        .groupBy("source", "post_id")
        .agg((F.sum("decipoints") / F.count(F.lit(1)) / 10.0)
             .alias("sentiment"),
             F.count(F.lit(1)).alias("n_polarity_words"))
    )
    return {
        "post_aspect": n_aspect,
        "post_sentiment": sinks.overwrite(
            sentiment, _table_path(warehouse, "post_sentiment")),
    }


def topics_to_db(spark: SparkSession, warehouse: str) -> dict[str, int]:
    """``TopicModeling``: GSDMM over the ``post`` texts (gated driver
    fit / sharded ``applyInPandas`` above the gate — ``ml/gsdmm.py``),
    one topic per post (src/topic_modeling.py)."""
    from .plans.ml_queries import _fit_topics

    post = read_spark_parquet(spark, _table_path(warehouse, "post"))
    # surrogate numeric doc id for the fit: deterministic hash of the PK
    keyed = post.withColumn(
        "__doc_id", F.abs(F.xxhash64("source", "post_id")))
    tokens = (
        tokenize(keyed, ["__doc_id"])
        .select(F.col("__doc_id").alias("doc_id"), "word"))
    fit = _fit_topics(tokens, cache_key=("pipeline", warehouse))
    assignment = (
        keyed.select("source", "post_id",
                     F.col("__doc_id").alias("doc_id"))
        .join(fit, "doc_id")
        .select("source", "post_id", "topic"))
    return {"post_topic": sinks.overwrite(
        assignment, _table_path(warehouse, "post_topic"))}


def predictions_to_db(spark: SparkSession, sf_dir: str,
                      warehouse: str) -> dict[str, int]:
    """``PredictionsToDb``: the KNN visitor forecast (deterministic →
    snapshot overwrite is idempotent)."""
    from .plans.ml_queries import visitor_prediction_forecast

    forecast = visitor_prediction_forecast(spark, sf_dir)
    return {"visitor_prediction": sinks.overwrite(
        forecast, _table_path(warehouse, "visitor_prediction"))}


def diagnostics_to_db(spark: SparkSession, warehouse: str, cadence: str,
                      written: dict[str, int]) -> None:
    """``Diagnostics``: the run summary as an upserted warehouse table
    (keyed by cadence+table — re-runs update in place, never append)."""
    # a VALUES LocalRelation: no python-runner job, content-stable plan
    summary = values_df(
        spark, [(cadence, name, int(n)) for name, n in sorted(written.items())],
        "cadence string, table_name string, rows bigint")
    sinks.upsert_by_pk(spark, summary,
                       _table_path(warehouse, "pipeline_diagnostics"),
                       ["cadence", "table_name"])


# ---------------------------------------------------------------------------
# cadence entry points (src/_fill_db.py:24-54)
# ---------------------------------------------------------------------------

def fill_db_daily(spark: SparkSession, sf_dir: str,
                  warehouse: str) -> dict[str, int]:
    """``FillDbDaily``: ingest → base tables → view stack → ABSA →
    topics → prediction → diagnostics."""
    written: dict[str, int] = {}
    written.update(posts_to_db(spark, sf_dir, warehouse))
    written.update(gomus_to_db(spark, sf_dir, warehouse))
    written.update(post_view_to_db(spark, warehouse))
    written.update(absa_to_db(spark, warehouse))
    written.update(topics_to_db(spark, warehouse))
    written.update(predictions_to_db(spark, sf_dir, warehouse))
    diagnostics_to_db(spark, warehouse, "daily", written)
    return written


def fill_db_hourly(spark: SparkSession, sf_dir: str,
                   warehouse: str) -> dict[str, int]:
    """``FillDbHourly``: post-performance snapshots only
    (``PostPerformanceToDb``, src/_posts.py:39-47)."""
    from .plans.domain_queries import _performance_tables

    tables = _performance_tables(spark, sf_dir)
    written = _upsert_tables(spark, warehouse, tables, _PERFORMANCE_PKS)
    diagnostics_to_db(spark, warehouse, "hourly", written)
    return written


def fill_db(spark: SparkSession, sf_dir: str,
            warehouse: str) -> dict[str, int]:
    """``FillDb``: both cadences, hourly first (cheap performance
    snapshots land even if the daily analysis half fails)."""
    written = fill_db_hourly(spark, sf_dir, warehouse)
    written.update(fill_db_daily(spark, sf_dir, warehouse))
    return written
