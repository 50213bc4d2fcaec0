"""SemDeDup-style semantic deduplication (Abbas et al. 2023,
arXiv:2303.09540 — public method): embeddings are clustered, and
within each cluster any vector too cosine-similar to an EARLIER
cluster member is dropped (keep-first, like dedup_exact_keep_first).

Scale design: the pairwise test only runs WITHIN a cluster — the
label column stands in for the paper's k-means cell (knn_ivf's
distributed-Lloyd centroids are the production cell assignment).
That bounds the candidate join exactly like knn_ivf's cell probe:
cells of size c cost O(c^2) pairs instead of O(n^2), and the join is
a bucketed shuffle on the cluster key.  Cosine uses the engine's
deterministic left-fold (functions.cosine) rounded to 4 decimals so
the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icechunk_spark.catalog import load_tables
from icechunk_spark.functions import dot, l2_norm
from icechunk_spark.operators.pairblocks import (
    PAIR_FAST_MIN_ROWS,
    SEMDEDUP_KERNEL_SCHEMA,
    block_pair_tasks,
    emb_rows,
    packed_blocks,
    semdedup_kernel,
)

SEMDEDUP_THRESHOLD = 0.30  # test embeddings are random; real corpora ~0.95+


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster semantic dedup summary: total vectors, how many are
    semantic duplicates of an earlier cluster member, how many survive.

    Two value-identical pair stages (equality pinned in
    tests/test_pairblocks.py), dispatched on the pool size:
    - small pools: the JVM broadcast pair join (norms hoisted per row,
      unrolled fold per pair) — lowest fixed cost;
    - at scale: pairblocks' blocked numpy pass — the O(cell²) pair
      space never materializes as joined rows; each task folds a
      block×block tile stack and emits one (dup_id, max value) row
      per larger-id vector, and the JVM applies the ORIGINAL
      round(·,4) >= threshold filter to those maxima (rounding is
      monotone, so round(max) passes iff any pair passes)."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", "label", "embedding")
    if emb_rows(emb, sf_dir) < PAIR_FAST_MIN_ROWS:
        dups = _dups_join(spark, emb)
    else:
        dups = _dups_blocked(emb)
    return (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(dups, "label", "left")
        .select(
            "label",
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.coalesce(F.col("n_dups"), F.lit(0)).cast("bigint").alias("n_dups"),
            (F.col("n_vecs") - F.coalesce(F.col("n_dups"), F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("label")
    )


def _dups_join(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(label, n_dups) via the JVM pair join.  r14: (1) each side's
    norm ONCE per row, not per pair — the cosine() hot-loop rule;
    dot/(na*nb) is the identical double arithmetic.  (2) spread the
    probe side round-robin: the pair stage otherwise runs in the
    byte-small scan's 1-2 partitions (broadcast join keeps the stream
    side's partitioning) or, under SMJ, on n_labels tasks.  Cells are
    bounded (the label stands in for a k-means cell), so the exchange
    is small by construction."""
    embn = emb.withColumn("__n", l2_norm(F.col("embedding")))
    a = embn.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = embn.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.__n") * F.col("b.__n")),
                4,
            ),
        )
        .filter(F.col("cos_sim") >= SEMDEDUP_THRESHOLD)
        .select(F.col("b.label").alias("label"), F.col("b.vec_id").alias("dup_id"))
        .distinct()
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )


def _dups_blocked(emb: DataFrame) -> DataFrame:
    """(label, n_dups) via the blocked numpy pair pass: per-id maxima
    from the kernel (NaN→+inf inside, preserving Spark's NaN-greatest
    pass), merged across tasks, then the ORIGINAL JVM rounding/filter
    decides — no rounding ever happens in Python."""
    tasks = block_pair_tasks(packed_blocks(emb))
    per_task = tasks.mapInPandas(semdedup_kernel(SEMDEDUP_THRESHOLD), SEMDEDUP_KERNEL_SCHEMA)
    return (
        per_task.groupBy("label", "dup_id")
        .agg(F.max("vmax").alias("vmax"))
        .filter(F.round(F.col("vmax"), 4) >= SEMDEDUP_THRESHOLD)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )


_COS = (
    "list_sum(list_transform(list_zip(a.embedding, b.embedding),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

SEMDEDUP_SQL = f"""
WITH dup_ids AS (
  SELECT b.label AS label, b.vec_id AS dup_id
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({_COS}, 4) >= {SEMDEDUP_THRESHOLD}
  GROUP BY b.label, b.vec_id
), dups AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_dups FROM dup_ids GROUP BY label
)
SELECT e.label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(coalesce(max(d.n_dups), 0) AS BIGINT) AS n_dups,
       CAST(count(*) - coalesce(max(d.n_dups), 0) AS BIGINT) AS n_kept
FROM embeddings e LEFT JOIN dups d ON e.label = d.label
GROUP BY e.label
ORDER BY e.label
"""

QUERIES = {"semdedup": semdedup}
ORACLES = {"semdedup": SEMDEDUP_SQL}
