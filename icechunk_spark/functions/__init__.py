"""Shared column expressions (all JVM-side pyspark.sql.functions —
no Python row UDFs in any hot path).

Cosine similarity over array<float> uses F.zip_with + F.aggregate so
it stays inside whole-stage codegen instead of crossing into Python.
"""

from __future__ import annotations

import contextlib as _contextlib
import os as _os

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns, computed JVM-side."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine for ONE-OFF use.  In a pair-join hot loop, precompute
    each side's l2_norm BEFORE the join instead (knn_brute_force:
    measured 2× at sf10 — this form recomputes the norms per PAIR).
    Negative result for the other obvious speedup: unrolling the fold
    into 64 chained element_at terms was SLOWER than the HOF lambda
    (the giant expression falls out of whole-stage codegen)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def money_sum(expr: Column | str, scale: int = 2) -> Column:
    """Order-independent rounded sum of a double expression.

    ``round(sum(double), s)`` is nondeterministic at the rounding
    boundary because Spark's partial-agg summation order varies
    run-to-run (and differs from any oracle engine).  Casting each
    row to DECIMAL(18,6) first makes the accumulation exact, so the
    rounded result is identical regardless of partitioning.  Oracle
    SQL must mirror this:  ``CAST(round(sum(CAST(e AS DECIMAL(18,6))),
    s) AS DOUBLE)``.
    """
    expr = F.col(expr) if isinstance(expr, str) else expr
    return F.round(F.sum(expr.cast("decimal(18,6)")), scale).cast("double")


def money_avg(expr: Column | str, scale: int = 4) -> Column:
    """Order-independent rounded average: exact decimal sum / count.

    Oracle SQL mirror: ``round(CAST(sum(CAST(e AS DECIMAL(18,6))) AS
    DOUBLE) / count(*), s)``.
    """
    expr = F.col(expr) if isinstance(expr, str) else expr
    return F.round(
        F.sum(expr.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), scale
    )


def tokenize(text: Column | str) -> Column:
    """Whitespace tokenization, empty tokens dropped (matches the
    DuckDB oracle expression used in textstats/dedup)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def normalized_text(text: Column | str) -> Column:
    """Lowercase, collapse whitespace — canonical form for exact dedup."""
    text = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


@_contextlib.contextmanager
def scoped_shuffle_partitions(spark, n: int):
    """Scope ``spark.sql.shuffle.partitions`` to ``n`` for the jobs
    EXECUTED inside the block (batch twin of
    streaming.events.scaled_state_partitions): iterative small-data
    rounds (label propagation, star rounds) otherwise shuffle a
    few-thousand-row frame across the full session width every round,
    paying per-partition scheduling/commit floors x rounds (the
    driver's 8-vs-32-core scaling instrument read 0.57 for
    dedup_cluster at sf0.1 on exactly this).

    CONCURRENCY CAVEAT (documented, deliberate): the conf is
    SESSION-GLOBAL, so the scope relies on this engine's serial driver
    — the bench/gate/driver run one query at a time, and no query
    builds plans concurrently with another in one session.  Two
    concurrent drains or plan-builds would race on the value; a
    parallel-query deployment must pin partitioning per-frame
    (repartition) instead."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield int(n)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


#: Label-frame rows per shuffle partition for iterative batch rounds —
#: ~25 B/row in shuffle form, so 500k rows ≈ 12 MB per partition (well
#: under AQE's 64 MB advisory).  Env-overridable like every
#: scale-dependent setting in this repo.
LABEL_ROUND_ROWS_PER_PARTITION = int(
    _os.environ.get("ICS_LABEL_ROUND_ROWS_PER_PARTITION", "500000")
)


def label_round_partitions(spark, n_rows: int) -> int:
    """Volume-derived shuffle-partition count for iterative label
    rounds: floor 2 (stay distributed), cap = the session's configured
    shuffle parallelism — the knob a real cluster sizes; at 100 TB the
    cap rules and the scale shape is untouched."""
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(2, min(sess, -(-int(n_rows) // LABEL_ROUND_ROWS_PER_PARTITION)))


def ensure_min_partitions_files(df, files: list[str], min_factor: float = 0.5):
    """File-metadata variant of ensure_min_partitions for frames that
    ARE raw table scans: estimates the scan's split count from the
    parquet files' sizes (driver-side os.stat) instead of the .rdd
    probe, which plans the subtree eagerly (~0.2-0.3 s per fresh
    DataFrame) — a cost a count()-pruned consumer of the spread branch
    would otherwise never pay (found on decontaminate's bench line).
    Split estimate: ``engine.file_split_count`` (Spark's FilePartition
    sizing, which SHRINKS splits to fill the cores, so a mid-size
    multi-file table — e.g. an 85 MB 32-part sf10 replica — scans as
    ~32 splits, not total/128MB; the first bin-of-128MB estimate here
    wrongly repartitioned exactly that case, measured ~10% slower at
    sf10).  Same decision rule and same repartition as the .rdd form."""
    import os

    from icechunk_spark.engine import file_split_count

    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        est = file_split_count(df.sparkSession, [os.path.getsize(f) for f in files])
    except (OSError, ValueError):
        return ensure_min_partitions(df, min_factor)
    if est < max(2, int(target * min_factor)):
        return df.repartition(target)
    return df


def ensure_min_partitions(df, min_factor: float = 0.5):
    """Guard against scan-parallelism collapse for CPU-heavy per-row
    work on byte-small tables: a compact parquet table (one file, a few
    MB) arrives as 1-2 input splits, so a per-row-expensive stage
    (vector folds, shingle hashing) would run nearly single-task no
    matter how many cores exist.  Repartition to defaultParallelism
    ONLY when the scan is under-partitioned — at real scale the table
    spans many splits already and this is a no-op (no shuffle added).
    The same pattern minhash_lsh applies inline (dedup.py)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, int(target * min_factor)):
        return df.repartition(target)
    return df
