"""SparkSession construction with scale-appropriate defaults.

Tuned for local[32] testing but every knob here is what you'd set on a
1000-executor cluster: AQE for runtime re-planning (skew joins,
coalesced shuffle partitions), Arrow for any Python-side exchange,
and a shuffle-partition count that the driver can override per scale
factor via SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession


def local_df(spark: SparkSession, rows, schema):
    """Small driver-local DataFrame WITHOUT launching a Spark job.

    ``createDataFrame`` over a Python list takes the RDD path: it
    parallelizes into defaultParallelism slices and spawns a Python
    worker per slice — ~30 tasks for a 1-row frame.  Building through
    pandas + Arrow yields a LocalRelation instead (no job at all),
    which matters because repo metadata commits do several of these.
    ``schema`` is a DDL string or a StructType; column values are
    taken by name from dict/Row items and laid out in schema order.
    """
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    rows = list(rows)
    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    names = list(struct.fieldNames())
    if not rows:
        # empty frames must ALSO avoid the RDD path: createDataFrame
        # over an empty python list (or an empty pandas frame — the
        # Arrow path falls back on zero rows) parallelizes into
        # defaultParallelism EMPTY slices, and every consumer still
        # schedules python workers for them.  A one-NULL-row Arrow
        # frame + limit(0) optimizes to LocalRelation <empty> — no
        # tasks anywhere downstream.  That row cannot exist under a
        # non-nullable field, so such schemas take the RDD path.
        if not all(f.nullable for f in struct.fields):
            return spark.createDataFrame([], struct)
        pdf = pd.DataFrame({n: pd.Series([None], dtype=object) for n in names})
        return spark.createDataFrame(pdf, struct).limit(0)
    data = [
        r.asDict()
        if hasattr(r, "asDict")
        else (dict(zip(names, r)) if isinstance(r, (tuple, list)) else dict(r))
        for r in rows
    ]
    # object dtype keeps None as None (no NaN coercion) for Arrow casts
    pdf = pd.DataFrame(
        {n: pd.Series([d.get(n) for d in data], dtype=object) for n in names}
    )
    return spark.createDataFrame(pdf, struct)


def size_conf_bytes(s: str) -> int:
    """Parse Spark size-conf strings ('134217728b', '128m', '1gb').
    Two-letter suffixes are matched FIRST (ADVICE r14: '128mb' used to
    strip only the 'b', raise on float('128m'), and silently fall back
    to the eager .rdd probe)."""
    s = s.strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1024),
        ("mb", 1024**2),
        ("gb", 1024**3),
        ("tb", 1024**4),
        ("k", 1024),
        ("m", 1024**2),
        ("g", 1024**3),
        ("t", 1024**4),
        ("b", 1),
    ):
        if s.endswith(suf):
            s = s[: -len(suf)]
            mult = m
            break
    return int(float(s) * mult)


def file_split_count(spark: SparkSession, sizes) -> int:
    """The number of input splits Spark's file scan makes of files of
    ``sizes`` bytes — the one partition-sizing rule here.  It mirrors
    FilePartition sizing: each file costs its bytes plus
    ``openCostInBytes``, and the split size is
    min(maxPartitionBytes, max(openCostInBytes, bytesPerCore)) with
    bytesPerCore = total / defaultParallelism, so Spark SHRINKS splits
    to fill the cores.  Raises ValueError on an unparsable size conf."""
    mpb = size_conf_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    open_cost = size_conf_bytes(spark.conf.get("spark.sql.files.openCostInBytes", "4194304"))
    total = sum(s + open_cost for s in sizes)
    bytes_per_core = total / max(1, spark.sparkContext.defaultParallelism)
    max_split = min(mpb, max(open_cost, bytes_per_core))
    return max(1, math.ceil(total / max(1.0, max_split)))


def get_spark(app_name: str = "icechunk_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


#: Spark's built-in RocksDB state-store provider (JNI bundled with the
#: Spark distribution since 3.2).
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark: SparkSession) -> str | None:
    """Switch stateful streaming queries to the RocksDB state store
    and return the previous provider (None = Spark default).

    Scale rationale: the default HDFSBackedStateStoreProvider keeps
    every key's state in executor HEAP between batches — fine for the
    bounded test replays here, but a per-user operator
    (streaming/events.py: zscore_alerts_stream holds a 10-value deque
    per user) at 10^9 users is ~100 GB of state, which must live
    off-heap/on-disk: RocksDB keeps the working set native with
    changelog/zip snapshots into the checkpoint.  The conf is read at
    QUERY START, so it can be flipped per query on a live session;
    restart-from-checkpoint recovery under RocksDB is pinned in
    tests/test_streaming.py.
    """
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_STATE_STORE)
    return prev
