"""``core.localrel.values_df``: literal tables as VALUES LocalRelations."""

from __future__ import annotations

import math

import pytest

from barberini_analytics_spark.core.localrel import values_df


def test_values_df_exact_schema_and_rows(spark):
    df = values_df(spark, [("a", 1, 0.5), ("b'c", None, -2.0)],
                   "word string, n bigint, w double")
    assert df.schema.simpleString() == "struct<word:string,n:bigint,w:double>"
    assert sorted(map(tuple, df.collect())) == [("a", 1, 0.5),
                                                ("b'c", None, -2.0)]


@pytest.mark.parametrize("rows", [[], iter(())])
def test_values_df_rejects_empty_rows(spark, rows):
    with pytest.raises(ValueError, match="at least one row"):
        values_df(spark, rows, "word string")


@pytest.mark.parametrize("bad", [math.inf, -math.inf, math.nan])
def test_values_df_rejects_non_finite_floats(spark, bad):
    with pytest.raises(ValueError, match="non-finite"):
        values_df(spark, [("x", 1.0), ("y", bad)], "word string, w double")


def test_arrow_df_is_an_exactly_typed_local_relation(spark):
    import datetime

    import numpy as np

    from barberini_analytics_spark.core.localrel import arrow_df, rows_df

    df = arrow_df(spark, [np.array([3, 1], dtype=np.int64), [0.5, None]],
                  "k bigint, w double")
    assert df.schema.simpleString() == "struct<k:bigint,w:double>"
    assert [tuple(r) for r in df.collect()] == [(3, 0.5), (1, None)]
    plan = df._jdf.queryExecution().analyzed().toString()
    assert plan.startswith("LocalRelation")
    dated = rows_df(spark, [(datetime.date(2024, 1, 2), 7)],
                    "date date, entries bigint")
    assert dated.collect()[0] == (datetime.date(2024, 1, 2), 7)
    assert rows_df(spark, [], "id_a bigint, rank double").collect() == []


@pytest.mark.parametrize("ddl, rows", [
    ("doc_id long, topic long", [(1, 2)]),
    ("step int, scaled double", [(1, None), (2, 0.25)]),
    ("date date, entries bigint", [(None, 0)]),
    ("id_a bigint, group_id bigint", [(1, 1)]),
    ("id_a bigint, rank double", [(1, 0.5)]),
    ("sub int, code int, centroid array<double>", [(0, 1, [0.5, -1.0])]),
    ("label int, centroid array<double>", [(2, [1.0])]),
])
def test_rows_df_schema_matches_create_data_frame(spark, ddl, rows):
    """The driver-row frames moved from createDataFrame(list) to
    rows_df keep their schema, nullability included."""
    from barberini_analytics_spark.core.localrel import rows_df

    got = rows_df(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
