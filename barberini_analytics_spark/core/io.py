"""Table IO for the synthetic lakehouse layout.

Tables are one parquet file/dir per table under a scale-factor directory
(``TESTDATA.md``). At 100 TB these would be date/key-partitioned parquet or
Delta tables; the reader below stays the same because partition pruning and
predicate pushdown happen in the scan node, not in user code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: dimensions small enough to broadcast at any scale factor (bounded domains)
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: per-(session, path) frame memo: every ``spark.read.parquet`` call
#: launches a one-task schema-inference job even for an already-read
#: path, so re-constructing a registry query paid ~1-3 stray jobs per
#: build (breaking the advisor's warm-call-zero-jobs contract) and a
#: 50-query sweep paid ~100 of them.  Safe because load_table serves
#: ONLY the read-only scale-factor tables — mutable paths (sinks,
#: scratch) read via spark.read directly.
_FRAME_MEMO: dict[tuple[str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    memo_key = (spark.sparkContext.applicationId, table_path(sf_dir, name))
    hit = _FRAME_MEMO.get(memo_key)
    if hit is not None:
        return hit
    df = _read_table(spark, sf_dir, name)
    _FRAME_MEMO[memo_key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The generator has shipped events.ts under two encodings:
        # TIMESTAMP(NANOS) (Spark's vectorized reader rejects it — read nanos
        # as LONG via the legacy conf and divide) and TIMESTAMP_MICROS with
        # isAdjustedToUTC=0 (reads as TIMESTAMP_NTZ). Normalize both to a
        # session-tz TIMESTAMP (session tz is pinned to UTC, so the NTZ cast
        # is wall-clock identity).
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer division: a double roundtrip would lose low bits of the
            # ~1.7e18 nanosecond values and shift timestamps by ±1 microsecond
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif not isinstance(ts_type, T.TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


#: footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(path: str) -> str | None:
    """The first data file of a table directory in sorted order, skipping
    ``_``/``.``-prefixed names (``_SUCCESS``, ``.crc``, ``_temporary``) as
    Spark's file index does, and descending into partition directories."""
    if os.path.isfile(path):
        return path
    try:
        names = sorted(n for n in os.listdir(path)
                       if not n.startswith(("_", ".")))
    except OSError:
        return None
    for n in names:
        found = _first_data_file(os.path.join(path, n))
        if found is not None:
            return found
    return None


def written_schema(path: str):
    """The ``StructType`` a Spark writer stored in the first data file's
    footer, or ``None`` (no data file, or a file another writer made)."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    first = _first_data_file(path)
    if first is None:
        return None
    try:
        meta = pq.read_metadata(first).metadata or {}
    except (OSError, ValueError):
        return None
    raw = meta.get(_SPARK_ROW_SCHEMA_KEY)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def read_spark_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for a table Spark wrote, without the
    schema-inference job: the schema comes from the footer key Spark's
    writer stores (:func:`written_schema`).  Partition columns are still
    discovered from the directory names, so the read schema equals the
    inferred one; files without the key keep normal inference."""
    schema = written_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API) and return them."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
