"""Headline benchmark: runs the flagship operators at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

Mix: core analytics (q1/q3/q5/q9), LLM-pipeline light (dedup_exact,
minhash_lsh, token_count, knn_brute_force) and heavy
(dup_span_fraction, decontaminate, dedup_cluster), the versioned
store end-to-end (array_store_roundtrip = encode + commit + pruned
read), plus q1 over a 10x-replicated lineitem
("q1_pricing_summary_x10") to show the fixed scheduling/codegen floor
amortizing with data size: q1 at 1x and 10x should take nearly the
same wall-clock, because the ~1-2s floor dominates at sf0.1 and the
scan/agg is embarrassingly parallel.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q9_product_profit",
    "dedup_exact",
    "minhash_lsh",
    "token_count",
    "knn_brute_force",
    "array_store_roundtrip",
    # heavy LLM-pipeline operators (the class whose cost grows with data)
    "dup_span_fraction",
    "decontaminate",
    "dedup_cluster",
]

REPLICATE = 10  # x10 lineitem for the floor-amortization probe
N_RUNS = 3  # per-query repetitions; min reported (see timed())


def _steal_ticks() -> int | None:
    """Cumulative steal-time ticks from /proc/stat (hypervisor took
    the CPU while this guest was runnable) — nonzero growth during a
    bench run means the numbers measured the neighbors, not the
    plans."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])  # cpu: user nice system idle iowait irq softirq STEAL
    except Exception:
        return None


def _floor_probe_ms() -> float:
    """A fixed ~20-50 ms single-thread CPU workload, timed.  On an
    idle box the probe is flat run-to-run; under contention it
    inflates with the same multiplier the queries suffer — repeated
    between queries, it makes a contaminated run self-identifying
    (VERDICT r13 #2: the 2.4x BENCH_r13 anomaly needed forensics
    because the official record carried no load evidence)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc += i * i
    _ = acc
    return round((time.perf_counter() - t0) * 1000, 2)


def _replicated_lineitem_dir(spark, sf_dir: str) -> str:
    """Materialize lineitem replicated REPLICATE x (keys shifted) into
    a cached temp dir; the write is NOT part of any timing."""
    import hashlib
    import tempfile

    key = hashlib.md5(f"{sf_dir}:{REPLICATE}".encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"icbench_li{REPLICATE}x_{key}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        from pyspark.sql import functions as F

        from icechunk_spark.catalog import load_tables

        li = load_tables(spark, sf_dir)["lineitem"]
        (
            li.crossJoin(spark.range(REPLICATE).select(F.col("id").alias("__r")))
            .withColumn("l_orderkey", F.col("l_orderkey") + F.lit(10_000_000) * F.col("__r"))
            .drop("__r")
            .write.mode("overwrite")
            .parquet(out)
        )
    return out


def _q1_over(spark, lineitem_df):
    from pyspark.sql import functions as F

    from icechunk_spark.functions import money_avg, money_sum

    li = lineitem_df.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            money_avg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from icechunk_spark.engine import get_spark
    from icechunk_spark.registry import all_queries

    spark = get_spark("icechunk-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # warm the JVM + parquet footers so timings measure the plans
    queries["q6_forecast_revenue"](spark, sf_dir).count()
    # warm the Python-worker/Arrow path too: the first applyInPandas /
    # mapInPandas in a session pays ~3s of interpreter+Arrow spin-up
    # that is one-time, not per-query
    from pyspark.sql import functions as F

    warm = spark.range(64).withColumn("g", (F.col("id") % 4).cast("int"))
    warm.groupBy("g").applyInPandas(lambda p: p, "id long, g int").count()
    warm.mapInPandas(lambda it: it, "id long, g int").count()

    def timed(fn) -> float:
        """min of N_RUNS timings: a single-shot record is hostage to
        container contention (the bogus 60.1s BENCH_r03 vs a 30.1s
        re-run on idle hardware — VERDICT r3).  Min-of-3 measures the
        plan, not the neighbors.  Cached frames a query persisted are
        dropped between runs so no run reads another's cache."""
        best = float("inf")
        for _ in range(N_RUNS):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    load_before = os.getloadavg()
    steal_before = _steal_ticks()
    probes: list[float] = [_floor_probe_ms()]

    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        timings[name] = timed(lambda name=name: queries[name](spark, sf_dir).count())
        probes.append(_floor_probe_ms())

    # floor-amortization probe: same plan, 10x the rows (built outside
    # the timed region)
    try:
        big = _replicated_lineitem_dir(spark, sf_dir)
        # types were normalized by load_tables before the replica was
        # written, so a plain read round-trips them
        big_df = spark.read.parquet(big)
        timings[f"q1_pricing_summary_x{REPLICATE}"] = timed(
            lambda: _q1_over(spark, big_df).count()
        )
    except Exception as ex:  # pragma: no cover - never fail the bench line
        print(f"replicated probe skipped: {ex}", file=sys.stderr)

    probes.append(_floor_probe_ms())
    probes_sorted = sorted(probes)
    steal_after = _steal_ticks()
    # load evidence (VERDICT r13 #2): enough context to tell "the code
    # got slower" from "the box was busy" on the record's face.  An
    # idle run shows probe max/min near 1 and zero steal growth; the
    # contaminated-r13 pattern (everything uniformly 1.7-7x slower)
    # would show inflated probes and/or steal growth instead.
    env = {
        "cpus": spark.sparkContext.defaultParallelism,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "steal_ticks_delta": (
            steal_after - steal_before
            if steal_before is not None and steal_after is not None
            else None
        ),
        "floor_probe_ms": {
            "n": len(probes),
            "min": probes_sorted[0],
            "p50": probes_sorted[len(probes) // 2],
            "max": probes_sorted[-1],
        },
    }
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "env": env,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
