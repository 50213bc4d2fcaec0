"""engine.local_df: driver-local frames built without a Spark job, for
DDL schemas with nested types and for non-nullable schemas."""

from __future__ import annotations

from pyspark.sql.types import LongType, StructField, StructType

from icechunk_spark.engine import local_df


def test_nested_ddl_columns(spark):
    ddl = "k string, m map<string,int>, s struct<a:int,b:int>"
    empty = local_df(spark, [], ddl)
    assert empty.columns == ["k", "m", "s"]
    assert empty.collect() == []
    row = local_df(spark, [{"k": "x", "m": {"a": 1}, "s": (1, 2)}], ddl).collect()[0]
    assert row["k"] == "x" and row["m"] == {"a": 1} and tuple(row["s"]) == (1, 2)


def test_empty_non_nullable_schema(spark):
    schema = StructType([StructField("id", LongType(), nullable=False)])
    empty = local_df(spark, [], schema)
    assert empty.schema == schema
    assert empty.collect() == []
