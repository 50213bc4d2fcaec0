"""Pins for the one txlog writer (``session.write_txlog``).

- every publish path — commit, flush, amend, a ``rewrite_manifests``
  amend and a node-only commit — logs exactly the (node_id, chunk_key,
  op) rows of the manifest files the snapshot added, plus the txlog it
  carries from a snapshot it replaces, plus its node ops;
- a txlog write that fails partway leaves no visible part file;
- ``inspect_transaction_log`` reads the log with no Spark job;
- ``status()`` counts each chunk once, by its newest op.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections import Counter

import pytest

import icechunk_spark.repo.session as session_mod
from icechunk_spark.engine import local_df
from icechunk_spark.repo import Repository
from icechunk_spark.repo import format as fmt
from icechunk_spark.repo import fsio
from tests.conftest import count_jobs

SCHEMA_1D = "i0 bigint, value double"


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"ictx_{uuid.uuid4().hex}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _repo(spark, root):
    repo = Repository.create(spark, root)
    with repo.transaction(message="base") as s:
        s.create_array("/a", shape=[16], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"0" * 4096)
        s.set_chunk_bytes("/a", "1", b"1" * 4096)
    return repo


def _rows(spark, root, rel):
    """The (node_id, chunk_key, op) rows under ``rel``, read by Spark."""
    df = spark.read.schema(fmt.TXLOG_SCHEMA).parquet(os.path.join(root, rel))
    return Counter(tuple(r) for r in df.collect())


def _txlog(spark, root, snap_id):
    if not fsio.exists(os.path.join(root, "txlogs", f"{snap_id}.parquet")):
        return Counter()
    return _rows(spark, root, f"txlogs/{snap_id}.parquet")


def _added_rows(spark, repo, snap_id, parent_id):
    """The rows of the manifest files ``snap_id`` lists and
    ``parent_id`` does not."""
    old = set(repo.lookup_snapshot(parent_id).manifests)
    out = Counter()
    for m in repo.lookup_snapshot(snap_id).manifests:
        if m not in old:
            out += _rows(spark, repo.root, m)
    return out


def _node_rows(*ops):
    return Counter((nid, "", f"node_{op}") for nid, op in ops)


def _stage_everything(spark, s):
    """A ``write_array_df``, a buffered set and delete and a node op;
    returns the node ops as (node_id, op) pairs."""
    s.write_array_df("/a", local_df(spark, [{"i0": i, "value": 1.0} for i in range(8, 12)], SCHEMA_1D))
    s.set_chunk_bytes("/a", "3", b"3" * 4096)
    s.delete_chunk("/a", "0")
    s.update_attrs("/a", {"k": 1})
    return [(s.array_meta("/a").node_id, "update")]


def test_commit_and_flush_log_the_added_files_and_node_ops(spark, root):
    repo = _repo(spark, root)
    for publish in ("commit", "flush"):
        s = repo.writable_session("main")
        parent = s.snapshot_id
        ops = _stage_everything(spark, s)
        snap = s.commit("c") if publish == "commit" else s.flush("f")
        added = _added_rows(spark, repo, snap, parent)
        assert {op for _, _, op in added} == {"set", "del"}, publish
        assert _txlog(spark, root, snap) == added + _node_rows(*ops), publish


def test_amend_logs_the_added_files_the_carried_log_and_node_ops(spark, root):
    repo = _repo(spark, root)
    with repo.transaction(message="tip") as t:
        t.set_chunk_bytes("/a", "1", b"T" * 4096)
    tip = repo.lookup_branch("main")
    carried = _txlog(spark, root, tip)
    assert carried
    s = repo.writable_session("main")
    ops = _stage_everything(spark, s)
    snap = s.amend("amended")
    added = _added_rows(spark, repo, snap, tip)
    assert added
    assert _txlog(spark, root, snap) == added + carried + _node_rows(*ops)


def test_rewrite_manifests_amend_logs_only_the_carried_log(spark, root):
    repo = _repo(spark, root)
    with repo.transaction(message="tip") as t:
        t.set_chunk_bytes("/a", "2", b"T" * 4096)
        t.update_attrs("/a", {"k": 2})
    tip = repo.lookup_branch("main")
    carried = _txlog(spark, root, tip)
    snap = repo.rewrite_manifests(commit_method="amend")
    assert _txlog(spark, root, snap) == carried


def test_node_only_commit_logs_its_node_ops(spark, root):
    repo = _repo(spark, root)
    s = repo.writable_session("main")
    nid = s.array_meta("/a").node_id
    s.create_group("/g")
    s.delete_node("/a")
    ops = [(op["node_id"], op["op"]) for op in s._node_ops]
    assert [op for _, op in ops] == ["create", "delete"] and ops[1][0] == nid
    snap = s.commit("nodes")
    assert _txlog(spark, root, snap) == _node_rows(*ops)


def test_a_txlog_write_that_fails_partway_leaves_no_visible_part(spark, root, monkeypatch):
    repo = _repo(spark, root)
    s = repo.writable_session("main")
    s.set_chunk_bytes("/a", "3", b"3" * 4096)
    s.update_attrs("/a", {"k": 1})
    real = session_mod.txlog_tables

    def one_table_then_fail(paths):
        for i, t in enumerate(real(paths)):
            if i == 1:
                raise OSError("disk gone")
            yield t
        raise OSError("disk gone")

    monkeypatch.setattr(session_mod, "txlog_tables", one_table_then_fail)
    before = set(os.listdir(os.path.join(root, "txlogs")))
    with pytest.raises(OSError, match="disk gone"):
        s.commit("fails")
    (new,) = set(os.listdir(os.path.join(root, "txlogs"))) - before
    log = os.path.join(root, "txlogs", new)
    assert not [f for f in os.listdir(log) if f.startswith("part-")]
    assert fsio.parquet_parts(log) == []
    assert repo.lookup_branch("main") == s.snapshot_id


def test_inspect_transaction_log_runs_no_job(spark, root):
    repo = _repo(spark, root)
    s = repo.writable_session("main")
    ops = _stage_everything(spark, s)
    snap = s.commit("c")
    tx, jobs = count_jobs(spark, lambda: repo.inspect_transaction_log(snap))
    assert jobs == 0
    rows = _txlog(spark, root, snap)
    chunks: dict = {}
    for (nid, key, op), n in rows.items():
        if key:
            chunks.setdefault(nid, Counter())[op] += n
    assert tx == {
        "id": snap,
        "chunks_updated": {nid: dict(c) for nid, c in chunks.items()},
        "node_ops": [{"node_id": nid, "op": f"node_{op}"} for nid, op in ops],
        "pruned_ancestor_tx_logs": [],
    }
    assert tx["chunks_updated"] == {ops[0][0]: {"set": 2, "del": 1}}


def test_status_counts_each_chunk_once_by_its_newest_op(spark, root):
    repo = Repository.create(spark, root)
    with repo.transaction(message="base") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
    s = repo.writable_session("main")
    for v in (1.0, 2.0):
        s.write_array_df("/a", local_df(spark, [{"i0": i, "value": v} for i in range(4)], SCHEMA_1D))
    assert (s.status().chunks_written, s.status().chunks_deleted) == (1, 0)
    s.set_chunk_bytes("/a", "1", b"a" * 4096)
    s.set_chunk_bytes("/a", "1", b"b" * 4096)
    assert (s.status().chunks_written, s.status().chunks_deleted) == (2, 0)
    s.delete_chunk("/a", "0")
    d, jobs = count_jobs(spark, s.status)
    assert jobs <= 1
    assert (d.chunks_written, d.chunks_deleted) == (1, 1)
