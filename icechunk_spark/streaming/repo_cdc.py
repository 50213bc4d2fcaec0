"""Change-data-capture stream over a repository's transaction-log
plane: every commit writes an immutable ``txlogs/<snapshot_id>.parquet``
(repo/session.py:write_txlog), so Spark's file streaming source turns
the txlog directory into a live stream of (node_id, chunk_key, op)
change records — one micro-batch per new commit, no polling code, no
extra infrastructure.  ``write_txlog`` writes each log's one part with
pyarrow under a ``_``-prefixed name, which the file source skips, and
moves it into place once complete: a trigger never lists a
half-written log.  This is the read-side twin of
``stream_append_to_repo`` (streaming/events.py): that commits each
micro-batch INTO the repo; this streams each commit OUT.

Scale shape: the file source lists only NEW txlog files per trigger
(checkpointed file index); txlog payloads are read by executors.  At
10^5 commits the backlog drain is a parquet scan of the txlog dir —
the same shape as any file-source catch-up — and steady-state cost is
one file-listing per trigger.

The snapshot id rides on every row (parsed from the file path column)
so consumers can join back to ``Repository.inspect_snapshot`` /
``ancestry`` for commit metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icechunk_spark.repo import format as fmt


def repo_changes_stream(spark: SparkSession, root: str) -> DataFrame:
    """Streaming DataFrame of change records, one row per (node,
    chunk) op per commit: columns snapshot_id, node_id, chunk_key, op.
    Drain with ``trigger(availableNow=True)`` for a bounded catch-up
    read, or leave running to follow new commits."""
    txdir = fmt.data_path(root, "txlogs")
    raw = (
        spark.readStream.schema(fmt.TXLOG_SCHEMA)
        # each commit's txlog is a directory of part files one level
        # down; the glob makes the file source watch all of them
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{txdir}/*.parquet")
    )
    snap_id = F.regexp_extract(
        F.input_file_name(), r"txlogs/([0-9a-f]+)\.parquet/", 1
    )
    return raw.select(
        snap_id.alias("snapshot_id"), "node_id", "chunk_key", "op"
    )
