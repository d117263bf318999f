"""literal_df: Arrow-built LocalTableScan DataFrames (no Python pickle
stage, no per-cell JVM call) with the column types F.lit infers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from molgraphdb_spark.functions.literals import literal_df


def test_literal_df_roundtrip(spark):
    rows = [("a", 1, 1.5), ("b", 2, -0.25), ("c", 3, 0.0)]
    df = literal_df(spark, rows, ["s", "n", "x"])
    assert df.columns == ["s", "n", "x"]
    assert sorted((r.s, r.n, r.x) for r in df.collect()) == sorted(rows)


def test_literal_df_plan_has_no_python_stage(spark):
    df = literal_df(spark, [("a", 1)], ["s", "n"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan and "BatchEvalPython" not in plan


def test_literal_df_rejects_empty(spark):
    with pytest.raises(ValueError):
        literal_df(spark, [], ["s"])


@pytest.mark.parametrize(
    "values",
    [
        [1, -7],  # int
        [1, 2**40],  # bigint once one value needs 64 bits
        ["x", "y"],  # string
        [1.5, 2],  # double once any value is a float
        [True, False],  # boolean
        [3, None],  # NULL cell in an int column
        ["s", None],  # NULL cell in a string column
        [None, None],  # all-NULL column: void
    ],
)
def test_literal_df_types_match_f_lit(spark, values):
    # the type F.lit gives each cell, widened over the column the way
    # the former array-of-structs literal did
    want = spark.range(1).select(
        F.array(*[F.struct(F.lit(v).alias("c")) for v in values]).alias("a")
    ).schema["a"].dataType.elementType["c"]
    got = literal_df(spark, [(v,) for v in values], ["c"]).schema["c"]
    assert got.dataType == want.dataType
    assert got.nullable == (None in values)
    assert [r.c for r in literal_df(spark, [(v,) for v in values], ["c"]).collect()] == values


def test_literal_df_large_roundtrip(spark):
    rows = [(f"m{i}", i, i * 0.5, i % 3 == 0) for i in range(5000)]
    df = literal_df(spark, rows, ["s", "n", "x", "b"])
    assert df.schema.simpleString() == "struct<s:string,n:int,x:double,b:boolean>"
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan
