"""Cooperative distributed writes through the BUFFERED store API on
executors (reference distributed.py / dask.py worker shape): a
ForkSession is pickled into Spark tasks, writes chunks with
set_chunk_bytes where NO SparkSession exists (the flush takes the
pure-pyarrow path), is pickled back, merged and committed once."""

from __future__ import annotations

import pickle

from icechunk_spark.distributed import merge_sessions
from icechunk_spark.repo import Repository
from icechunk_spark.repo.format import RefError


def test_fork_buffered_writes_roundtrip_through_executors(spark, tmp_path):
    root = str(tmp_path / "repo")
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[16], chunk_shape=[4])
    w = repo.writable_session("main")
    blobs = [(i, pickle.dumps(w.fork())) for i in range(3)]

    def work(pair):
        import pickle as pkl

        idx, blob = pair
        f = pkl.loads(blob)
        # one native chunk (above the 512-byte inline threshold) and,
        # for worker 0, an extra inline chunk — both flush via pyarrow
        # when this fork is re-pickled (no SparkSession here)
        f.set_chunk_bytes("/a", str(idx), bytes([65 + idx]) * 1024)
        if idx == 0:
            f.set_chunk_bytes("/a", "3", b"tiny-inline")
        return pkl.dumps(f)

    returned = (
        spark.sparkContext.parallelize(blobs, len(blobs)).map(work).collect()
    )
    forks = [pickle.loads(b) for b in returned]
    # every executor-side write came back as staged parquet, no buffer
    for f in forks:
        assert not f._chunk_buffer
        assert f._staged
    merged = merge_sessions(forks)
    w.merge(merged)
    w.commit("executor-side buffered writes")

    ro = repo.readonly_session()
    for i in range(3):
        assert ro.get_chunk_bytes("/a", str(i)) == bytes([65 + i]) * 1024
    assert ro.get_chunk_bytes("/a", "3") == b"tiny-inline"


def test_plain_session_flushes_buffer_without_spark(spark, tmp_path, monkeypatch):
    """Every session stages the way a fork does: a plain writable
    session's buffer flushes to a staging file with pyarrow, so it
    needs no driver, and the staged write reads back and commits."""
    root = str(tmp_path / "repo2")
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
    w = repo.writable_session("main")
    w.set_chunk_bytes("/a", "0", b"x" * 1024)
    from pyspark.sql import SparkSession

    w._spark = None
    with monkeypatch.context() as m:
        m.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
        w._flush_chunk_buffer()
        assert not w._chunk_buffer
        assert [(kind, rel.split("/")[0]) for kind, rel in w._staged] == [("file", "staging")]
        assert w.get_chunk_bytes("/a", "0") == b"x" * 1024
    w.spark = spark
    w.commit("flushed without a driver")
    assert repo.readonly_session().get_chunk_bytes("/a", "0") == b"x" * 1024


def test_fork_node_ops_survive_pickle_and_merge(spark, tmp_path):
    """A fork's node-LEVEL ops (create_array / delete_node) must fold
    into the parent on merge, including across a pickle roundtrip
    (ADVICE r7: commit publishes the parent's node table, so dropped
    fork node ops left manifests referencing absent nodes)."""
    root = str(tmp_path / "repo_nodes")
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/old", shape=[4], chunk_shape=[4])
    w = repo.writable_session("main")
    blob = pickle.dumps(w.fork())

    def work(b):
        import pickle as pkl

        f = pkl.loads(b)
        f.create_array("/new", shape=[8], chunk_shape=[4])
        f.set_chunk_bytes("/new", "0", b"N" * 1024)
        f.delete_node("/old")
        return pkl.dumps(f)

    returned = spark.sparkContext.parallelize([blob], 1).map(work).collect()
    fork = pickle.loads(returned[0])
    assert fork._node_ops  # survived the executor roundtrip
    w.merge(fork)
    sid = w.commit("fork node ops")

    ro = repo.readonly_session(snapshot_id=sid)
    nodes = ro.list_nodes()
    assert "/new" in nodes and "/old" not in nodes
    assert ro.get_chunk_bytes("/new", "0") == b"N" * 1024


def test_fork_merge_overlap_is_merge_order_wins(spark, tmp_path):
    """Two forks writing the SAME chunk: the changeset merged LAST
    overlays the earlier one (staging order becomes the intra-commit
    sub-sequence) — deterministic in the merge call's argument order,
    like the reference's changeset fold."""
    root = str(tmp_path / "repo3")
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
    w = repo.writable_session("main")
    f1, f2 = w.fork(), w.fork()
    f1.set_chunk_bytes("/a", "0", b"F1" * 512)
    f2.set_chunk_bytes("/a", "0", b"F2" * 512)
    w.merge(f1, f2)
    w.commit("overlap")
    assert repo.readonly_session().get_chunk_bytes("/a", "0") == b"F2" * 512
    w2 = repo.writable_session("main")
    g1, g2 = w2.fork(), w2.fork()
    g1.set_chunk_bytes("/a", "0", b"G1" * 512)
    g2.set_chunk_bytes("/a", "0", b"G2" * 512)
    w2.merge(g2, g1)  # reversed order -> g1 wins
    w2.commit("overlap2")
    assert repo.readonly_session().get_chunk_bytes("/a", "0") == b"G1" * 512


def test_pyarrow_parquet_write_maps_hadoop_schemes(tmp_path, monkeypatch):
    """The pure-pyarrow parquet writer (every txlog, the executor-side
    fork buffer flush) must resolve ``s3a://`` data roots
    through ``fsio._fs_path``: pyarrow itself rejects the Hadoop scheme.
    The mapping is stubbed onto a local directory so no object store is
    contacted."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    from icechunk_spark.repo import format as fmt
    from icechunk_spark.repo import fsio
    from icechunk_spark.repo import session as sess
    from icechunk_spark.repo.arrays import PAYLOAD_SCHEMA

    real = fsio._fs_path

    def fake(path):
        if path.startswith("s3a://bucket/"):
            return pafs.LocalFileSystem(), str(tmp_path / path[len("s3a://bucket/"):])
        return real(path)

    monkeypatch.setattr(fsio, "_fs_path", fake)

    def write(path, rows, ddl):
        schema = fmt.arrow_schema(ddl)
        sess._write_parquet_rows(path, [pa.Table.from_pylist(rows, schema=schema)], schema)

    write("s3a://bucket/txlogs/s1.parquet", [{"node_id": "n", "chunk_key": None, "op": "create"}], fmt.TXLOG_SCHEMA)
    write("s3a://bucket/chunks/ab/c1", [{"chunk_id": "c1", "payload": b"xy"}], PAYLOAD_SCHEMA)
    assert pq.read_table(tmp_path / "txlogs" / "s1.parquet").to_pylist() == [
        {"node_id": "n", "chunk_key": None, "op": "create"}
    ]
    assert pq.read_table(tmp_path / "chunks" / "ab" / "c1").to_pylist() == [
        {"chunk_id": "c1", "payload": b"xy"}
    ]


def _point_view(f):
    """Every point API over chunks 0..3 of ``/a``: bytes, kind, store
    size (None for a missing chunk) and the initialized coordinates."""

    def size(i):
        try:
            return f.store.getsize(f"a/c/{i}")
        except RefError:
            return None

    return (
        [f.get_chunk_bytes("/a", str(i)) for i in range(4)],
        [f.chunk_type("/a", (i,)).name for i in range(4)],
        [size(i) for i in range(4)],
        list(f.chunk_coordinates("/a")),
    )


def test_fork_point_reads_agree_on_driver_and_in_tasks(spark, tmp_path):
    """Read-your-writes of a pickled ForkSession: every point API sees
    the fork's staged writes (a set over a base chunk, a new chunk, a
    tombstone over a base chunk), chunks set and flushed inside the
    task, and buffered ones, and agrees with the same fork on the
    driver."""
    root = str(tmp_path / "repo_ryw")
    repo = Repository.create(spark, root)
    with repo.transaction(message="base") as s:
        s.create_array("/a", shape=[4], chunk_shape=[1])
        s.set_chunk_bytes("/a", "0", b"a")
        s.set_chunk_bytes("/a", "3", b"z" * 1024)
    fork = repo.writable_session("main").fork()
    fork.set_chunk_bytes("/a", "0", b"b")
    fork.set_chunk_bytes("/a", "1", b"n" * 8192)
    fork.delete_chunk("/a", "3")
    blob = pickle.dumps(fork)  # flushes the buffer to a staged file

    def work(b):
        import pickle as pkl

        from tests.test_fork_executor_writes import _point_view as view

        g = pkl.loads(b)
        before = view(g)
        g.set_chunk_bytes("/a", "2", b"t" * 1024)
        g._flush_chunk_buffer()  # pyarrow: no SparkSession here
        g.set_chunk_bytes("/a", "0", b"u")  # stays buffered
        return before, view(g), pkl.dumps(g)

    before, after, back = spark.sparkContext.parallelize([blob], 1).map(work).collect()[0]
    assert before == (
        [b"b", b"n" * 8192, None, None],
        ["inline", "native", "uninitialized", "uninitialized"],
        [1, 8192, None, None],
        [(0,), (1,)],
    )
    assert after == (
        [b"u", b"n" * 8192, b"t" * 1024, None],
        ["inline", "native", "native", "uninitialized"],
        [1, 8192, 1024, None],
        [(0,), (1,), (2,)],
    )
    assert _point_view(pickle.loads(blob)) == before
    assert _point_view(pickle.loads(back)) == after
