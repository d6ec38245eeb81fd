"""Literal local tables as LocalRelations (``VALUES`` SQL), not RDDs.

``spark.createDataFrame(list)`` in PySpark always routes through
``parallelize`` and compiles to an RDD-backed ``LogicalRDD`` plan.  Two
costs follow for the tiny lexicon/dimension literals the query layer
broadcasts on every run:

- every materialization of the frame — including the broadcast-exchange
  build inside a join — runs a python-runner job over the default ~32
  parallelize slices: ~6–7 s of measured stage run-time at ~0.2 cpu-s
  (pure task-scheduling latency) per lexicon broadcast at bench scale;
- the plan prints as ``LogicalRDD [cols]`` for ANY data, so the
  statistics catalog must refuse to fingerprint it
  (``fingerprint_is_content_stable`` False) and advisor calls over it
  re-probe every execution.

A ``SELECT ... FROM VALUES ...`` inline table resolves to a
``LocalRelation``: zero jobs to broadcast (rows live in the plan), no
python workers, and a content-stable fingerprint (the rows are part of
the canonicalized plan string).  This module renders one safely with
EXPLICIT types — inline-table literals would otherwise infer
``1 → INT`` and ``1.5 → DECIMAL``, while ``createDataFrame`` inferred
``LongType``/``DoubleType``; the DDL cast list keeps schemas identical
to the frames these tables replace (the oracle hash covers schema).

Driver-COMPUTED rows (a folded model, a driver-side fit's labels) go
through :func:`arrow_df` / :func:`rows_df` instead: an Arrow table handed
to ``createDataFrame`` also lands as a ``LocalRelation`` (measured: no
python worker starts, where ``createDataFrame(parallelize(rows, 1))``
spawned the worker daemon), and it takes numpy columns and empty inputs
without rendering every value as SQL text.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if not math.isfinite(v):
            # repr would render 'infD'/'nanD', which does not parse
            raise ValueError(f"non-finite float literal {v!r}")
        # repr round-trips IEEE doubles; the D suffix forces DoubleType
        # (a bare decimal literal would parse as DECIMAL)
        return repr(v) + "D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_lit(x) for x in v) + ")"
    raise TypeError(f"unsupported literal type {type(v).__name__}")


def values_df(spark: SparkSession, rows, schema_ddl: str) -> DataFrame:
    """A LocalRelation with the given rows and EXACT schema.

    ``schema_ddl`` is a DDL column list (``"word string, w10 bigint"``);
    every column is cast to its declared type, so the result's schema is
    independent of literal inference rules.  ``rows`` is a sequence of
    tuples (or scalars for one-column tables) of
    str/int/float/bool/None/list values.

    Raises ``ValueError`` for an empty ``rows`` (``VALUES`` needs at
    least one row) and for non-finite floats (no literal form).  String
    escaping assumes the default
    ``spark.sql.parser.escapedStringLiterals=false``.
    """
    cols = [c.strip() for c in _split_top(schema_ddl)]
    parts = [c.split(None, 1) for c in cols]
    sel = ", ".join(
        f"CAST(col{i + 1} AS {typ}) AS {name}"
        for i, (name, typ) in enumerate(parts))
    rendered = []
    for r in rows:
        if not isinstance(r, (list, tuple)):
            r = (r,)
        rendered.append("(" + ", ".join(_lit(v) for v in r) + ")")
    if not rendered:
        raise ValueError("values_df needs at least one row")
    return spark.sql(f"SELECT {sel} FROM VALUES {', '.join(rendered)}")


def arrow_df(spark: SparkSession, columns, schema_ddl: str) -> DataFrame:
    """A LocalRelation from driver-side COLUMNS (one sequence or numpy
    array per DDL column, in order) with the EXACT DDL schema.

    The columns are typed by the schema's Arrow mapping up front, so the
    frame's schema never depends on Arrow's inference from the values;
    zero-length columns give an empty LocalRelation.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(schema_ddl)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def rows_df(spark: SparkSession, rows, schema_ddl: str) -> DataFrame:
    """:func:`arrow_df` over driver-side ROW tuples (empty allowed)."""
    n_cols = len(_split_top(schema_ddl))
    columns = list(zip(*rows)) or [()] * n_cols
    return arrow_df(spark, columns, schema_ddl)


def _split_top(ddl: str) -> list[str]:
    """Split a DDL column list on commas OUTSIDE ``<...>`` generics."""
    out, depth, cur = [], 0, []
    for ch in ddl:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out
