"""q5_partitioned / q9_partitioned (r12): plan pins — q5's orders
scan prunes to exactly the o_year=1996 directory while both fact
exchanges stay elided; q9 keeps the exchange-free spine and reads
o_year off the partition directory — plus equivalence to the raw
variants (values are oracle-checked by tools/check.py)."""

from __future__ import annotations

from icechunk_spark.operators.bucketed import q5_bucketed, q9_bucketed
from icechunk_spark.operators.partitioned_spine import q5_partitioned, q9_partitioned

from .conftest import SF_DIR


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# AQE off, and the file-index location printed in full: Spark cuts
# plan metadata at spark.sql.maxMetadataStringLength (default 100), so
# with a long temp-dir path the pinned directory names would fall off
PLAN_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.maxMetadataStringLength": "100000",
}


def _no_aqe_plan(spark, fn):
    old = {k: spark.conf.get(k) for k in PLAN_CONF}
    for k, v in PLAN_CONF.items():
        spark.conf.set(k, v)
    try:
        return plan_of(fn(spark, SF_DIR))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_q5_plan_prunes_orders_to_one_year_and_elides_fact_exchanges(spark):
    """q5's [1996, 1997) window is exactly one order year: the orders
    file index must keep ONE directory at planning time, and neither
    fact may hash-exchange (lineitem has no date predicate — its scan
    stays full but co-located)."""
    plan = _no_aqe_plan(spark, q5_partitioned)
    assert "InMemoryFileIndex(1 paths)" in plan and "/orders/o_year=1996]" in plan, plan
    assert "(o_year" in plan, plan  # PartitionFilters present
    assert plan.count("SelectedBucketsCount") == 2, plan
    # only broadcast exchanges allowed: no fact-side hash exchange
    # before the 5-row n_name aggregate's own exchange
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "hashpartitioning(n_name" in plan or plan.count("Exchange hashpartitioning") == 0, plan
    assert "BatchEvalPython" not in plan


def test_q9_plan_keeps_spine_exchange_free(spark):
    """q9 has no date predicate — no pruning to pin — but the layout
    must not regress the spine: both bucketed fact scans, no fact-key
    hash exchange (the only hash exchanges allowed are the part-join
    side and the final (nation, o_year) aggregate), o_year read as a
    partition column (no per-row year())."""
    plan = _no_aqe_plan(spark, q9_partitioned)
    assert plan.count("SelectedBucketsCount") == 2, plan
    assert "hashpartitioning(l_orderkey" not in plan, plan
    assert "hashpartitioning(o_orderkey" not in plan, plan
    assert "year(" not in plan, plan  # o_year comes from the directory
    assert "BatchEvalPython" not in plan


def test_partitioned_matches_bucketed_values(spark):
    for part, buck in ((q5_partitioned, q5_bucketed), (q9_partitioned, q9_bucketed)):
        p = [tuple(r) for r in part(spark, SF_DIR).collect()]
        b = [tuple(r) for r in buck(spark, SF_DIR).collect()]
        assert p == b and p
