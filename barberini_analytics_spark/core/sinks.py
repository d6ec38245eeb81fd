"""Write modes (SURVEY §2.2 sinks) over a plain-parquet lakehouse layout.

The reference's one write primitive is ``CsvToDb``: CSV → temp table →
``INSERT … ON CONFLICT ON CONSTRAINT pk DO UPDATE SET`` all columns
(src/_utils/database.py:140-174), with a ``replace_content`` variant that
additionally deletes rows missing from the batch (database.py:158-170) and a
cache-table materializer that truncate+inserts a query result
(``QueryCacheToDb``, database.py:300-325).

Spark-first mapping (plain parquet — on a Delta/Iceberg catalog ``upsert``
becomes a real ``MERGE INTO`` and the staging swap disappears; the call
signatures here are the stable surface):

- ``append``            → append-mode parquet write (performance snapshots).
- ``upsert_by_pk`` (K1) → read target ∪ batch, rank window per PK preferring
                          batch rows, rewrite.  One shuffle on the PK.
- ``overwrite``    (K2) → snapshot semantics: the batch IS the new table.
- ``materialize``  (K4) → ``overwrite`` of a query result (cache table).
- ``concat_frames``(K5) → ``unionByName`` fold of N frames.

All rewrites go through a staging directory + atomic-ish swap so a failed job
never truncates the target (the reference gets this from Postgres
transactions; object stores would use a table format's commit protocol).

At 100 TB the upsert rewrite must not touch the whole table: partition the
target (e.g. by date) and restrict the rewrite to partitions present in the
batch — ``upsert_by_pk`` accepts ``partition_cols`` and uses dynamic
partition overwrite for exactly that.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .io import read_spark_parquet


def _exists(path: str) -> bool:
    return os.path.exists(path)


def append(df: DataFrame, path: str) -> None:
    """Append-only write — the performance-snapshot tables (§1.1)."""
    df.write.mode("append").parquet(path)


def _refresh_stats(spark: SparkSession, path: str) -> int:
    """Post-write statistics maintenance: warm the stats catalog's
    full-table summary for the path's new file set (parquet-footer
    read — zero scan).  The reference gets the equivalent from
    Postgres autovacuum/ANALYZE keeping ``pg_statistic`` fresh after
    writes; here the write is the one moment the new snapshot's
    footers are guaranteed hot.

    Returns the new snapshot's exact row count, taken from that
    summary, so callers need no re-read.  Statistics upkeep must not
    fail a write: if the refresh fails, the count falls back to a
    ``count()`` of the table."""
    try:
        from .catalog import StatsCatalog

        summary = StatsCatalog.default().refresh_table(spark, path)
        if summary is not None:
            return int(summary["rows"])
    except Exception:
        pass
    return read_spark_parquet(spark, path).count()


def overwrite(df: DataFrame, path: str,
              partition_cols: Sequence[str] | None = None) -> int:
    """K2 snapshot overwrite via staging swap (safe even if ``df`` reads
    from ``path``: the plan is fully materialized into staging first).
    Returns the rows written.

    The live table is moved aside under a name unique to this call, so a
    backup stranded by an earlier killed run never blocks the swap; if
    the staging rename then fails, the backup goes back to ``path``
    before the error propagates."""
    staging = tempfile.mkdtemp(prefix="__staging_", dir=os.path.dirname(path) or ".")
    try:
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(staging)
        backup = f"{path}.__old_{uuid.uuid4().hex}"
        if _exists(path):
            os.rename(path, backup)
        try:
            os.rename(staging, path)
        except OSError:
            if _exists(backup):
                os.rename(backup, path)
            raise
        if _exists(backup):
            shutil.rmtree(backup)
    finally:
        if _exists(staging):
            shutil.rmtree(staging, ignore_errors=True)
    return _refresh_stats(df.sparkSession, path)


def _stored_pruned(spark: SparkSession, path: str, batch: DataFrame,
                   partition_cols: Sequence[str]) -> DataFrame:
    """Stored-side reader restricted to the batch's partitions by a STATIC
    In-filter.

    The batch's distinct partition tuples are collected (bounded: a batch
    touches few partitions — and every touched partition gets rewritten
    anyway, so the collect is negligible next to the write) and applied as
    a literal OR-of-ANDs predicate.  Literal predicates reach the scan as
    ``PartitionFilters``; a broadcast-semi-join formulation does NOT — the
    optimizer's dynamic-partition-pruning heuristic declines it (no
    selective build-side filter), leaving a full scan of 100 TB of history
    filtered after the read.  Pinned by tests/test_plan_shapes.py.
    """
    part_rows = batch.select(*partition_cols).distinct().collect()
    stored = read_spark_parquet(spark, path)
    if not part_rows:
        return stored.limit(0)
    conds = [
        reduce(lambda a, b: a & b,
               [F.col(c).eqNullSafe(F.lit(r[c])) for c in partition_cols])
        for r in part_rows
    ]
    return stored.filter(reduce(lambda a, b: a | b, conds))


def upsert_by_pk(spark: SparkSession, batch: DataFrame, path: str,
                 pk: Sequence[str],
                 partition_cols: Sequence[str] | None = None) -> int:
    """K1: insert-or-update-all-columns by primary key.  Returns the
    table's row count after the write.

    Batch rows win over stored rows on PK collision (``DO UPDATE SET`` all
    columns, database.py:150-157).  Within a batch, duplicates on the PK are
    reduced to one deterministic survivor first (Postgres would raise on
    ``ON CONFLICT`` hitting the same row twice; we pin max-by-all-columns
    instead of failing).

    Scale: the union shuffles once on the PK.  With ``partition_cols`` the
    stored side is pre-filtered to the batch's partitions via static
    ``PartitionFilters`` at the scan (``_stored_pruned``) and only those
    partitions are rewritten — the 100 TB path.
    """
    # within-batch dedup with the DOCUMENTED deterministic survivor:
    # max over the non-PK column tuple (dropDuplicates would keep an
    # arbitrary, partitioning-dependent row)
    others = [c for c in batch.columns if c not in pk]
    if others:
        batch = (
            batch.groupBy(*pk)
            .agg(F.max(F.struct(*others)).alias("__s"))
            .select(*pk, *[F.col(f"__s.{c}").alias(c) for c in others])
        )
    else:
        batch = batch.dropDuplicates(list(pk))
    if not _exists(path):
        writer = batch.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(path)
        return _refresh_stats(spark, path)
    if partition_cols:
        stored = _stored_pruned(spark, path, batch, partition_cols)
    else:
        stored = read_spark_parquet(spark, path)
    merged = (
        batch.withColumn("__is_new", F.lit(1))
        .unionByName(stored.withColumn("__is_new", F.lit(0)),
                     allowMissingColumns=True)
    )
    w = W.partitionBy(*pk).orderBy(F.col("__is_new").desc())
    winners = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__is_new")
    )
    if partition_cols:
        # dynamic partition overwrite: untouched partitions stay as-is
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (winners.write.mode("overwrite").partitionBy(*partition_cols)
         .parquet(path))
        return _refresh_stats(spark, path)
    return overwrite(winners, path)


def materialize(df: DataFrame, path: str,
                partition_cols: Sequence[str] | None = None) -> DataFrame:
    """K4: cache-table materialization (truncate + insert of a query result,
    "results won't leave the DBMS" — here: won't leave the lake).  Returns a
    reader over the materialized result so downstream stages scan parquet
    instead of recomputing the plan (the reference's ABSA caches)."""
    overwrite(df, path, partition_cols)
    return read_spark_parquet(df.sparkSession, path)


def concat_frames(dfs: Sequence[DataFrame]) -> DataFrame:
    """K5 ``ConcatCsvs``: union of N inputs with column padding."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )


def shuffle_sample(df: DataFrame, n: int, seed: int = 42,
                   key_cols: Sequence[str] | None = None) -> DataFrame:
    """K3 ``QueryDb`` shuffle+limit: the reference injects ``ORDER BY
    RANDOM()`` + ``LIMIT n`` into arbitrary queries to export a sample CSV
    (src/_utils/database.py:279-288).

    Spark-first, reproducibly: ordering by ``md5(seed || key)`` is a
    deterministic pseudo-random permutation identical in any engine with
    ``md5`` — unlike ``rand(seed)``, whose stream is engine- and
    partitioning-specific.  ``orderBy(...).limit(n)`` compiles to a
    distributed TakeOrdered (per-partition top-n + single merge), so no
    global sort materializes at 100 TB.  Pass ``key_cols=None`` to key on
    all columns.
    """
    keys = list(key_cols) if key_cols else list(df.columns)
    order = F.md5(F.concat_ws("|", F.lit(str(seed)),
                              *[F.col(c).cast("string") for c in keys]))
    return df.orderBy(order, *keys).limit(n)
