"""q3_partitioned_tight: single-year pruning plan pins + equivalence
to the same query expressed over the raw tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from icechunk_spark.catalog import load_tables
from icechunk_spark.functions import money_sum
from icechunk_spark.operators.partitioned_tight import q3_partitioned_tight

from .conftest import SF_DIR


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _raw_equivalent(spark):
    t = load_tables(spark, SF_DIR)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-09-15").cast("timestamp_ntz"))
    )
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey, "left_semi")
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def test_tight_plan_prunes_to_one_year_and_elides_exchanges(spark):
    """PartitionFilters must pin BOTH fact scans to exactly the 1996
    directory while the bucket layout elides both fact exchanges —
    the composed layout earning its keep at tight selectivity."""
    # AQE off, and the file-index location printed in full: Spark cuts
    # plan metadata at spark.sql.maxMetadataStringLength (default 100),
    # so with a long temp-dir path the pinned directory names would
    # fall off
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.maxMetadataStringLength": "100000",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        plan = plan_of(q3_partitioned_tight(spark, SF_DIR))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    # the strongest pin: each fact's file index is pruned to exactly
    # ONE year directory at planning time
    assert "InMemoryFileIndex(1 paths)" in plan and "/lineitem/l_year=1996]" in plan, plan
    assert "/orders/o_year=1996]" in plan, plan
    assert "(l_year" in plan and "(o_year" in plan, plan  # PartitionFilters present
    assert plan.count("SelectedBucketsCount") == 2, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_tight_matches_raw_equivalent(spark):
    raw = _raw_equivalent(spark).collect()
    tight = q3_partitioned_tight(spark, SF_DIR).collect()
    assert len(tight) > 0
    assert [tuple(r) for r in raw] == [tuple(r) for r in tight]
