"""Sink-semantics and integrity query inventory (SURVEY §2.2 K1, §2.4 J13).

The write sinks themselves are side-effecting (core/sinks.py, unit-tested in
tests/test_sinks.py); these queries express their *merge semantics* as pure
dataflow over the synthetic ``events`` / ``orders`` tables so the DuckDB
oracle can hash-check them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import load_table
from ..operators import relational as R
from .registry import query


# ---------------------------------------------------------------------------
# K1 — upsert-by-PK merge semantics (batch wins over stored on key collision)
# ---------------------------------------------------------------------------

@query(
    "upsert_merge",
    oracle="""
    WITH stored AS (
        SELECT user_id, event_id, ts, event_type, value FROM (
            SELECT user_id, event_id, ts, event_type, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events WHERE event_id % 2 = 0
        ) WHERE rn = 1
    ),
    batch AS (
        SELECT user_id, event_id, ts, event_type, value FROM (
            SELECT user_id, event_id, ts, event_type, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events WHERE event_id % 2 = 1
        ) WHERE rn = 1
    )
    SELECT
        coalesce(b.user_id, s.user_id)        AS user_id,
        coalesce(b.event_id, s.event_id)      AS event_id,
        coalesce(b.ts, s.ts)                  AS ts,
        coalesce(b.event_type, s.event_type)  AS event_type,
        coalesce(b.value, s.value)            AS value,
        b.user_id IS NOT NULL                 AS from_batch
    FROM batch b FULL OUTER JOIN stored s USING (user_id)
    """,
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 upsert-by-PK merge semantics as a pure query.

    Reference: ``CsvToDb`` stages the batch into a temp table and runs
    ``INSERT ... ON CONFLICT ON CONSTRAINT pk DO UPDATE SET`` all columns
    (src/_utils/database.py:140-174) — batch rows win on PK collision,
    stored rows survive otherwise.  Here the PK is ``user_id``; "stored"
    is the latest even-id snapshot per user, "batch" the latest odd-id
    snapshot, and the merge is the rank-window union that backs
    ``core.sinks.upsert_by_pk``.

    Assumes the PK is non-NULL (as any PK is): the window formulation
    groups NULL keys into one partition while the oracle's FULL OUTER
    JOIN would never match them, so NULL-PK rows are out of contract —
    matching ON CONFLICT, which requires a NOT NULL constraint.

    Scale: one shuffle on the PK for the union+rank; with a partitioned
    table the stored side is pruned to the batch's partitions first
    (dynamic partition overwrite), so 100 TB of history is never rewritten
    for a small batch.

    This entry drives the REAL sinks, not just their semantics: ``stored``
    is laid down with the K2 staging-swap ``overwrite``, the batch lands
    through ``upsert_by_pk`` (K1's actual write path — batch rows carry
    ``from_batch = true`` and win wholesale on PK collision, so the flag
    itself proves which side survived), and the result is re-read through
    ``materialize`` (K4).  The oracle hash thereby pins the full
    write → merge → read-back parquet round-trip of K1/K2/K4 instead of a
    dataflow re-statement of it.
    """
    import os

    from ..core.scratch import scratch_path
    from ..core.sinks import materialize, overwrite, upsert_by_pk

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    order = ["ts", "event_id"]
    stored = R.latest_per_key(ev.filter(F.col("event_id") % 2 == 0),
                              ["user_id"], order)
    batch = R.latest_per_key(ev.filter(F.col("event_id") % 2 == 1),
                             ["user_id"], order)
    # fixed scratch root keyed by sf tag: repeated bench/selfcheck
    # invocations overwrite in place instead of accumulating orphaned
    # /tmp copies
    scratch = scratch_path("upsert_merge", os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(scratch, exist_ok=True)
    table = f"{scratch}/events_state.parquet"
    overwrite(stored.withColumn("from_batch", F.lit(False)), table)   # K2
    upsert_by_pk(spark, batch.withColumn("from_batch", F.lit(True)),  # K1
                 table, pk=["user_id"])
    return materialize(                                               # K4
        spark.read.parquet(table), f"{scratch}/events_cache.parquet"
    ).select("user_id", "event_id", "ts", "event_type", "value",
             "from_batch")


# ---------------------------------------------------------------------------
# J13 — FK-violation filter (left-semi with NULL pass-through)
# ---------------------------------------------------------------------------

@query(
    "fkey_violation_filter",
    oracle="""
    WITH incoming AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0 THEN NULL
                    ELSE o_custkey END AS o_custkey,
               o_totalprice, o_orderdate
        FROM orders
    ),
    ref AS (
        SELECT c_custkey FROM customer WHERE c_nationkey < 10
    )
    SELECT i.o_orderkey, i.o_custkey, i.o_totalprice, i.o_orderdate
    FROM incoming i
    WHERE i.o_custkey IS NULL
       OR i.o_custkey IN (SELECT c_custkey FROM ref)
    """,
)
def fkey_violation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: keep rows whose FK resolves in the referenced table or is NULL.

    Reference: ``filter_fkey_violations`` left-merges incoming rows against
    the referenced table, keeps matches *and* null-FK rows, and logs the
    violations (src/_utils/data_preparation.py:76-159).  The referenced set
    is restricted to nations 0-9 so real violations exist, and every 97th
    order gets a NULL FK to exercise the pass-through arm.

    Scale: the semi join broadcasts when the referenced key set is small
    (dimension tables); otherwise it is a shuffled semi join on the FK —
    never a full materialized outer join.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey")).alias("o_custkey"),
        "o_totalprice", "o_orderdate",
    )
    ref = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 10)
        .select("c_custkey")
    )
    valid, _violations = R.filter_fkey_violations(
        orders, ref, [("o_custkey", "c_custkey")]
    )
    return valid.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")


# ---------------------------------------------------------------------------
# K3 — shuffle-sample export (ORDER BY RANDOM() + LIMIT)
# ---------------------------------------------------------------------------

@query(
    "shuffle_sample",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               md5('42|' || CAST(o_orderkey AS VARCHAR)) AS ord
        FROM orders
    )
    ORDER BY ord, o_orderkey
    LIMIT 100
    """,
)
def shuffle_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: the ``QueryDb`` sample-export sink (``ORDER BY RANDOM()`` +
    ``LIMIT``, src/_utils/database.py:279-288) as a deterministic
    md5-keyed permutation so both engines draw the identical sample.

    The driver's comparator sorts rows, so the *membership* of the
    100-row sample is what's hash-checked — exactly the property the
    export sink needs pinned.
    """
    from ..core.sinks import shuffle_sample

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    return shuffle_sample(orders, 100, seed=42, key_cols=["o_orderkey"])
