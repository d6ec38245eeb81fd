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
