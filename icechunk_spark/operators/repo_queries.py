"""Driver-facing queries that exercise the versioned chunk store
end-to-end (SURVEY.md §2a): write TPC-H-derived arrays into a repo,
commit, time-travel, slice-read with chunk pruning, and report
manifest statistics.

``array_store_roundtrip`` and ``repo_time_travel`` have DuckDB
oracles: the store must reproduce exactly the aggregate a plain SQL
engine computes, after a full encode → commit → (second commit) →
time-travel → decode cycle.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icechunk_spark.catalog import load_tables
from icechunk_spark.engine import local_df
from icechunk_spark.functions import money_sum
from icechunk_spark.repo import Repository

EPOCH = "1995-01-01"
N_DAYS = 4096
CHUNK = 64


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .withColumn("i0", F.datediff(F.col("l_shipdate").cast("date"), F.lit(EPOCH).cast("date")).cast("long"))
        .filter((F.col("i0") >= 0) & (F.col("i0") < N_DAYS))
        .groupBy("i0")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value"))
    )


def _materialize(spark: SparkSession, df: DataFrame, schema: str) -> DataFrame:
    """Pin a FINAL, bounded result (<= a few hundred rows) to a
    LocalRelation so the returned DataFrame outlives the temp repo the
    query built it from.  This is never on the chunk-data path — chunk
    payloads are packed executor-side (encode_array_chunks), and a
    region read's tasks resolve their refs and fetch and decode the
    payloads themselves (decode_chunks_to_rows); the 100 TB ingest shape is
    ``array_store_roundtrip_distributed`` below (fork/merge, no
    driver materialization of anything data-sized)."""
    rows = df.collect()
    return local_df(spark, rows, schema)


def array_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode daily revenue into a chunked array, commit, slice-read
    days [128, 512) back via manifest pruning."""
    root = os.path.join(tempfile.gettempdir(), f"icr_{uuid.uuid4().hex}")
    try:
        repo = Repository.create(spark, root)
        with repo.transaction(message="daily revenue v1") as s:
            s.create_array("/revenue", shape=[N_DAYS], chunk_shape=[CHUNK])
            s.write_array_df("/revenue", _daily_revenue(spark, sf_dir))
        out = (
            repo.readonly_session()
            .read_array_df("/revenue", slices=[(128, 512)])
            .filter(F.col("value") != 0.0)  # fill cells are not revenue days
            .select(F.col("i0").alias("day_idx"), F.col("value").alias("revenue"))
            .orderBy("day_idx")
        )
        return _materialize(spark, out, "day_idx bigint, revenue double")
    finally:
        if "rev" in locals():
            rev.unpersist()
        shutil.rmtree(root, ignore_errors=True)


ARRAY_ROUNDTRIP_SQL = f"""
SELECT CAST(datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) AS BIGINT) AS day_idx,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) >= 128
  AND datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) < 512
GROUP BY day_idx
HAVING CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) <> 0.0
ORDER BY day_idx
"""


def repo_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two commits (v2 doubles every value); read BACK at the v1
    snapshot — time travel must return the original values."""
    root = os.path.join(tempfile.gettempdir(), f"icr_{uuid.uuid4().hex}")
    try:
        repo = Repository.create(spark, root)
        # persist: rev feeds 2+ write/encode actions in this
        # lifecycle (the repo-wide persist rule) — one lineitem
        # aggregation per run instead of one per commit (r14)
        rev = _daily_revenue(spark, sf_dir).persist()
        with repo.transaction(message="v1") as s:
            s.create_array("/revenue", shape=[N_DAYS], chunk_shape=[CHUNK])
            s.write_array_df("/revenue", rev)
        v1 = repo.lookup_branch("main")
        with repo.transaction(message="v2") as s:
            s.write_array_df("/revenue", rev.withColumn("value", F.col("value") * 2))
        out = (
            repo.readonly_session(snapshot_id=v1)
            .read_array_df("/revenue", slices=[(0, 256)])
            .filter(F.col("value") != 0.0)
            .select(F.col("i0").alias("day_idx"), F.col("value").alias("revenue"))
            .orderBy("day_idx")
        )
        return _materialize(spark, out, "day_idx bigint, revenue double")
    finally:
        if "rev" in locals():
            rev.unpersist()
        shutil.rmtree(root, ignore_errors=True)


TIME_TRAVEL_SQL = f"""
SELECT CAST(datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) AS BIGINT) AS day_idx,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) >= 0
  AND datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) < 256
GROUP BY day_idx
HAVING CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) <> 0.0
ORDER BY day_idx
"""


def repo_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage statistics + compaction invariant, oracle-checked: the
    live chunk-ref count at the tip equals the number of distinct
    chunk-grid cells the revenue days cover (v2 only overwrites a
    subset of v1's chunks, so the tip count is exactly
    COUNT(DISTINCT day // CHUNK) — computable by a SQL engine straight
    from lineitem), the manifest list is 2 files before compaction
    (one per commit) and 1 after, and stored bytes are positive.
    Byte totals themselves are parquet-compression artifacts no other
    engine reproduces, so the boolean is the contract."""
    root = os.path.join(tempfile.gettempdir(), f"icr_{uuid.uuid4().hex}")
    try:
        repo = Repository.create(spark, root)
        # persist: rev feeds 2+ write/encode actions in this
        # lifecycle (the repo-wide persist rule) — one lineitem
        # aggregation per run instead of one per commit (r14)
        rev = _daily_revenue(spark, sf_dir).persist()
        with repo.transaction(message="v1") as s:
            s.create_array("/revenue", shape=[N_DAYS], chunk_shape=[CHUNK])
            s.write_array_df("/revenue", rev)
        with repo.transaction(message="v2") as s:
            s.write_array_df("/revenue", rev.limit(10))
        before = len(repo.lookup_snapshot(repo.lookup_branch("main")).manifests)
        repo.rewrite_manifests()
        after = len(repo.lookup_snapshot(repo.lookup_branch("main")).manifests)
        stats = repo.chunk_storage_stats().select(
            "path",
            "n_chunks",
            (F.col("total_bytes") > 0).alias("bytes_positive"),
            F.lit(before).cast("bigint").alias("manifests_before_compaction"),
            F.lit(after).cast("bigint").alias("manifests_after_compaction"),
        )
        return _materialize(
            spark,
            stats,
            "path string, n_chunks bigint, bytes_positive boolean, "
            "manifests_before_compaction bigint, manifests_after_compaction bigint",
        )
    finally:
        if "rev" in locals():
            rev.unpersist()
        shutil.rmtree(root, ignore_errors=True)


MANIFEST_STATS_SQL = f"""
WITH days AS (
  SELECT DISTINCT CAST(datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) AS BIGINT) AS day_idx
  FROM lineitem
  WHERE datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) >= 0
    AND datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) < {N_DAYS}
)
SELECT '/revenue' AS path,
       CAST(count(DISTINCT day_idx // {CHUNK}) AS BIGINT) AS n_chunks,
       TRUE AS bytes_positive,
       CAST(2 AS BIGINT) AS manifests_before_compaction,
       CAST(1 AS BIGINT) AS manifests_after_compaction
FROM days
"""


def repo_changed_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style diff read: v2 doubles the first 128 days' revenue;
    the query reads BOTH snapshots (time travel) and emits only cells
    whose value changed — the incremental-consumer pattern where the
    chunk-level diff (diff_df) prunes what must be re-read."""
    root = os.path.join(tempfile.gettempdir(), f"icr_{uuid.uuid4().hex}")
    try:
        repo = Repository.create(spark, root)
        # persist: rev feeds 2+ write/encode actions in this
        # lifecycle (the repo-wide persist rule) — one lineitem
        # aggregation per run instead of one per commit (r14)
        rev = _daily_revenue(spark, sf_dir).persist()
        with repo.transaction(message="v1") as s:
            s.create_array("/revenue", shape=[N_DAYS], chunk_shape=[CHUNK])
            s.write_array_df("/revenue", rev)
        v1 = repo.lookup_branch("main")
        with repo.transaction(message="v2") as s:
            s.write_array_df(
                "/revenue",
                rev.filter(F.col("i0") < 128).withColumn("value", F.col("value") * 2),
            )
        v2 = repo.lookup_branch("main")
        # chunk-level diff bounds the re-read: only changed chunks differ
        n_changed_chunks = repo.diff_df(v1, v2).count()
        assert n_changed_chunks >= 1
        old = (
            repo.readonly_session(snapshot_id=v1)
            .read_array_df("/revenue", slices=[(0, 128)])
            .select("i0", F.col("value").alias("old_revenue"))
        )
        new = (
            repo.readonly_session(snapshot_id=v2)
            .read_array_df("/revenue", slices=[(0, 128)])
            .select("i0", F.col("value").alias("new_revenue"))
        )
        out = (
            old.join(new, "i0")
            .filter(F.col("old_revenue") != F.col("new_revenue"))
            .select(F.col("i0").alias("day_idx"), "old_revenue", "new_revenue")
            .orderBy("day_idx")
        )
        return _materialize(
            spark, out, "day_idx bigint, old_revenue double, new_revenue double"
        )
    finally:
        if "rev" in locals():
            rev.unpersist()
        shutil.rmtree(root, ignore_errors=True)


CHANGED_CELLS_SQL = f"""
WITH rev AS (
  SELECT CAST(datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) AS BIGINT) AS day_idx,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
  FROM lineitem
  WHERE datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) >= 0
    AND datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) < 128
  GROUP BY day_idx
)
SELECT day_idx, revenue AS old_revenue, revenue * 2 AS new_revenue
FROM rev
WHERE revenue <> 0.0
ORDER BY day_idx
"""


def array_store_roundtrip_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB ingest shape (reference session.py:fork,
    distributed.py:merge_sessions): the day range is split across
    cooperating ForkSessions, each fork packs and writes its slice's
    chunks with executor-side Arrow jobs (encode_array_chunks — chunk
    payloads never touch the driver), then the parent merges the forks'
    staged manifests and commits ONCE.  Result must equal the
    single-writer roundtrip read over days [512, 1024)."""
    root = os.path.join(tempfile.gettempdir(), f"icr_{uuid.uuid4().hex}")
    try:
        repo = Repository.create(spark, root)
        # persist: rev feeds 2+ write/encode actions in this
        # lifecycle (the repo-wide persist rule) — one lineitem
        # aggregation per run instead of one per commit (r14)
        rev = _daily_revenue(spark, sf_dir).persist()
        with repo.transaction(message="distributed daily revenue") as s:
            s.create_array("/revenue", shape=[N_DAYS], chunk_shape=[CHUNK])
            forks = [s.fork() for _ in range(4)]
            span = N_DAYS // 4
            for w, f in enumerate(forks):
                f.write_array_df(
                    "/revenue",
                    rev.filter(
                        (F.col("i0") >= w * span) & (F.col("i0") < (w + 1) * span)
                    ),
                )
            s.merge(*forks)
        out = (
            repo.readonly_session()
            .read_array_df("/revenue", slices=[(512, 1024)])
            .filter(F.col("value") != 0.0)
            .select(F.col("i0").alias("day_idx"), F.col("value").alias("revenue"))
            .orderBy("day_idx")
        )
        return _materialize(spark, out, "day_idx bigint, revenue double")
    finally:
        if "rev" in locals():
            rev.unpersist()
        shutil.rmtree(root, ignore_errors=True)


ARRAY_ROUNDTRIP_DISTRIBUTED_SQL = f"""
SELECT CAST(datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) AS BIGINT) AS day_idx,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) >= 512
  AND datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) < 1024
GROUP BY day_idx
HAVING CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) <> 0.0
ORDER BY day_idx
"""


def repo_cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalence oracle for the CDC source
    (streaming/repo_cdc.py): two commits (full write, then a rewrite
    of days [0, 128)), drain ``repo_changes_stream`` with availableNow,
    and aggregate chunk-level ops per commit.  Chunk op counts are
    exactly the distinct chunk-grid cells each commit's day set covers
    — computable by a SQL engine straight from lineitem — so the
    stream's content (not just its row count) is value-checked."""
    from icechunk_spark.streaming.repo_cdc import repo_changes_stream

    root = os.path.join(tempfile.gettempdir(), f"icr_{uuid.uuid4().hex}")
    try:
        repo = Repository.create(spark, root)
        # persist: rev feeds 2+ write/encode actions in this
        # lifecycle (the repo-wide persist rule) — one lineitem
        # aggregation per run instead of one per commit (r14)
        rev = _daily_revenue(spark, sf_dir).persist()
        with repo.transaction(message="v1") as s:
            s.create_array("/revenue", shape=[N_DAYS], chunk_shape=[CHUNK])
            s.write_array_df("/revenue", rev)
        with repo.transaction(message="v2") as s:
            s.write_array_df(
                "/revenue",
                rev.filter(F.col("i0") < 128).withColumn("value", F.col("value") * 2),
            )
        # commit order: oldest -> newest (ancestry yields newest first);
        # the initial create snapshot has no chunk ops and seq 0
        lineage = [snap.id for snap in repo.ancestry(branch="main")][::-1]
        seq_map = {sid: i for i, sid in enumerate(lineage)}
        name = f"cdc_{uuid.uuid4().hex[:8]}"
        from icechunk_spark.streaming.events import run_to_memory

        run_to_memory(repo_changes_stream(spark, root), name)
        seq_df = local_df(
            spark,
            [{"snapshot_id": k, "commit_seq": v} for k, v in seq_map.items()],
            "snapshot_id string, commit_seq bigint",
        )
        out = (
            spark.table(name)
            .filter(F.col("chunk_key") != "")
            .join(F.broadcast(seq_df), "snapshot_id")
            .groupBy("commit_seq", "op")
            .agg(F.countDistinct("chunk_key").alias("n_chunks"))
            .orderBy("commit_seq", "op")
        )
        return _materialize(spark, out, "commit_seq bigint, op string, n_chunks bigint")
    finally:
        if "rev" in locals():
            rev.unpersist()
        shutil.rmtree(root, ignore_errors=True)


REPO_CDC_SQL = f"""
WITH days AS (
  SELECT DISTINCT CAST(datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) AS BIGINT) AS day_idx
  FROM lineitem
  WHERE datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) >= 0
    AND datediff('day', DATE '{EPOCH}', CAST(l_shipdate AS DATE)) < {N_DAYS}
)
SELECT CAST(1 AS BIGINT) AS commit_seq, 'set' AS op,
       CAST(count(DISTINCT day_idx // {CHUNK}) AS BIGINT) AS n_chunks
FROM days
UNION ALL
SELECT CAST(2 AS BIGINT) AS commit_seq, 'set' AS op,
       CAST(count(DISTINCT day_idx // {CHUNK}) AS BIGINT) AS n_chunks
FROM days WHERE day_idx < 128
ORDER BY commit_seq, op
"""


QUERIES = {
    "array_store_roundtrip": array_store_roundtrip,
    "array_store_roundtrip_distributed": array_store_roundtrip_distributed,
    "repo_cdc_changes": repo_cdc_changes,
    "repo_time_travel": repo_time_travel,
    "repo_manifest_stats": repo_manifest_stats,
    "repo_changed_cells": repo_changed_cells,
}

ORACLES = {
    "array_store_roundtrip": ARRAY_ROUNDTRIP_SQL,
    "array_store_roundtrip_distributed": ARRAY_ROUNDTRIP_DISTRIBUTED_SQL,
    "repo_cdc_changes": REPO_CDC_SQL,
    "repo_time_travel": TIME_TRAVEL_SQL,
    "repo_manifest_stats": MANIFEST_STATS_SQL,
    "repo_changed_cells": CHANGED_CELLS_SQL,
}
