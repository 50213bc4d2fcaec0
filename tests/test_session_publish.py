"""Pins for how a session publishes and rewrites its staged changes.

- commit, flush and amend share one publish step: each writes the
  manifest files and the snapshot doc exactly once, through the module
  attributes ``fmt.write_snapshot`` / ``mf.write_manifests`` (the
  names the benchmark's trace hook wraps);
- a rebase drops conflicted rows from each staged item in place, so an
  item's list index (its seq) still orders a write and a later delete
  of the same chunk;
- ``ChunkStore.array_chunk_iterator`` reports the kinds and lengths of
  ``chunk_type`` and ``store.getsize``;
- a buffered write writes its payloads with pyarrow, not a Spark job;
- every staged item is a file from the moment it is staged, so a
  fork's ``write_array_df`` runs the jobs of a session's, and a
  commit or a discard deletes the staging files its items name;
- a rebase rewrites only the staged items whose footers admit a
  dropped row;
- a ``rewrite_manifests`` amend carries the replaced tip's txlog, as
  ``Session.amend`` does, so conflicts against the tip still show;
- ``status()`` counts the chunk buffer as its flush will stage it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest

from icechunk_spark.engine import local_df
from icechunk_spark.repo import Repository
from icechunk_spark.repo import format as fmt
from icechunk_spark.repo import fsio
from icechunk_spark.repo import manifests as mf
from icechunk_spark.repo.session import ChunkType, ConflictError, ConflictSolver
from tests.conftest import count_jobs

W = b"W" * 4096
T = b"T" * 4096


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"icpub_{uuid.uuid4().hex}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _repo_with_two_chunks(spark, root):
    repo = Repository.create(spark, root)
    with repo.transaction(message="base") as s:
        s.create_array("/a", shape=[16], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"0" * 4096)
        s.set_chunk_bytes("/a", "1", b"1" * 4096)
    return repo


def test_use_theirs_rebase_keeps_a_deleted_chunk_deleted(spark, root):
    """A write, a prefix delete of that chunk and another write stage
    three items; a use_theirs rebase that drops the conflicted chunk
    must not bring the deleted chunk back (re-staging the remainder as
    one item tied the write and the tombstone at one seq)."""
    repo = _repo_with_two_chunks(spark, root)
    w = repo.writable_session("main")
    w.set_chunk_bytes("/a", "0", W)
    w.delete_chunks_prefix("/a", (0,))
    w.set_chunk_bytes("/a", "1", W)
    assert w.get_chunk_bytes("/a", "0") is None
    with repo.transaction(message="theirs") as t:
        t.set_chunk_bytes("/a", "1", T)
    w.rebase(ConflictSolver(on_chunk_conflict="use_theirs"))
    assert w.get_chunk_bytes("/a", "0") is None
    assert w.get_chunk_bytes("/a", "1") == T
    w.commit("ours")
    ro = repo.readonly_session()
    assert ro.get_chunk_bytes("/a", "0") is None
    assert ro.get_chunk_bytes("/a", "1") == T


def test_commit_flush_and_amend_publish_once(spark, root, monkeypatch):
    """Each publishing method reaches the snapshot and manifest writers
    exactly once through their module attributes — the benchmark's
    ``repo.format.*``/``repo.manifests.*`` counters cannot go silent
    through a local import."""
    repo = _repo_with_two_chunks(spark, root)
    calls: list[str] = []

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            calls.append(name)
            return fn(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(fmt, "write_snapshot", counted("write_snapshot", fmt.write_snapshot))
    monkeypatch.setattr(mf, "write_manifests", counted("write_manifests", mf.write_manifests))

    def publish(op):
        calls.clear()
        op()
        return sorted(calls)

    both = ["write_manifests", "write_snapshot"]
    s = repo.writable_session("main")
    s.set_chunk_bytes("/a", "2", W)
    assert publish(lambda: s.commit("c")) == both
    s = repo.writable_session("main")
    s.set_chunk_bytes("/a", "3", W)
    assert publish(lambda: s.amend("amended")) == both
    s = repo.writable_session("main")
    s.set_chunk_bytes("/a", "2", T)
    assert publish(lambda: s.flush("flushed")) == both
    assert s.read_only


def test_chunk_iterator_kinds_match_chunk_type_and_getsize(spark, root):
    """Before and after commit the iterator's kind and length of each
    chunk equal ``chunk_type`` and ``store.getsize``: a buffered native
    payload over the inline threshold is native, not inline."""
    repo = _repo_with_two_chunks(spark, root)
    s = repo.writable_session("main")
    s.set_chunk_bytes("/a", "2", W)  # native once flushed
    s.set_chunk_bytes("/a", "3", b"tiny")  # inline

    def check(session):
        store = session.store
        (coords, kinds, _, _, lengths, inlined), = store.array_chunk_iterator("/a")
        got = {int(c[0]): (int(k), int(n)) for c, k, n in zip(coords, kinds, lengths)}
        want = {
            c: (int(session.chunk_type("/a", (c,))), store.getsize(f"a/c/{c}"))
            for c in range(4)
        }
        assert got == want
        assert got[2] == (int(ChunkType.native), 4096)
        assert got[3] == (int(ChunkType.inline), 4)
        assert list(inlined.values()) == [b"tiny"]

    check(s)
    s.commit("c")
    check(repo.readonly_session())


def test_buffered_write_commit_job_count(spark, root):
    """A driver-side buffered native write plus commit runs 2 jobs, both
    for the manifest write: the payload file and the txlog are pyarrow
    writes (as Spark writes they were 3 jobs more)."""
    repo = _repo_with_two_chunks(spark, root)
    s = repo.writable_session("main")
    s.set_chunk_bytes("/a", "2", W)
    assert count_jobs(spark, lambda: s.commit("c"))[1] == 2
    assert repo.readonly_session().get_chunk_bytes("/a", "2") == W


def test_fork_write_runs_the_jobs_of_a_session_write(spark, root):
    """A fork stages ``write_array_df``'s chunk dir as it stands, like a
    plain session: the same rows cost the same jobs, on a fresh array
    and in a read-modify-write (a fork re-scanned its chunk dir into a
    staging copy, one job more)."""
    repo = Repository.create(spark, root)
    with repo.transaction(message="arrays") as s:
        s.create_array("/fresh", shape=[64, 64], chunk_shape=[8, 8])
        s.create_array("/rmw", shape=[64, 64], chunk_shape=[8, 8])
        s.write_array_df("/rmw", local_df(
            spark, [{"i0": i, "i1": j, "value": 1.0} for i in range(64) for j in range(64)],
            "i0 bigint, i1 bigint, value double"))
    for path, rows in (
        ("/fresh", [(i, j) for i in range(64) for j in range(64)]),
        ("/rmw", [(i, j) for i in range(20, 44) for j in range(20, 44)]),
    ):
        df = local_df(
            spark, [{"i0": i, "i1": j, "value": 2.0} for i, j in rows], "i0 bigint, i1 bigint, value double"
        )
        plain = repo.writable_session("main")
        fork = repo.writable_session("main").fork()
        n_plain = count_jobs(spark, lambda: plain.write_array_df(path, df))[1]
        n_fork = count_jobs(spark, lambda: fork.write_array_df(path, df))[1]
        assert n_fork == n_plain, (path, n_fork, n_plain)
        assert fork._staged[0][1].startswith("chunks/")
        cells = fork.read_array_df(path, slices=[(19, 21), (19, 21)]).collect()
        got = {(r["i0"], r["i1"]): r["value"] for r in cells}
        assert got[20, 20] == 2.0 and got[19, 19] == (2.0 if path == "/fresh" else 1.0)


def test_commit_and_discard_delete_the_staging_files(spark, root):
    """The staging files a session's items name are deleted when it
    publishes or discards — a merged fork's too — and so is each
    session dir they leave empty; a staged chunk dir under ``chunks/``
    is payload and stays."""
    repo = _repo_with_two_chunks(spark, root)

    def staging_dirs():
        return fsio.list_child_names(fmt.data_path(root, "staging"))

    w = repo.writable_session("main")
    f = w.fork()
    f.set_chunk_bytes("/a", "2", W)
    w.merge(f)
    w.delete_chunks_prefix("/a", (0,))
    assert staging_dirs()
    w.commit("fork and delete")
    assert staging_dirs() == []
    assert repo.readonly_session().get_chunk_bytes("/a", "2") == W

    d = repo.writable_session("main")
    d.set_chunk_bytes("/a", "3", W)
    d.write_array_df("/a", local_df(spark, [{"i0": i, "value": 0.0} for i in range(4)], "i0 bigint, value double"))
    chunk_dir = d._staged[-1][1]
    assert [rel.split("/")[0] for _, rel in d._staged] == ["staging", "chunks"]
    d.discard_changes()
    assert staging_dirs() == []
    assert fsio.exists(fmt.data_path(root, chunk_dir))
    assert repo.readonly_session().get_chunk_bytes("/a", "3") is None


def test_use_theirs_rebase_rewrites_only_the_items_holding_a_dropped_row(spark, root):
    """The three items of the deleted-chunk scenario: only the item that
    holds the conflicted chunk ``1`` is rewritten; the other two keep
    their files.  The use_theirs rebase runs 2 jobs more than the
    use_ours one, which drops nothing: they rewrite the one item (the
    conflicted keys come from the one collect that lists the
    conflicts; rewriting all three items ran 9 more)."""

    def staged_rebase(solver):
        shutil.rmtree(root, ignore_errors=True)
        repo = _repo_with_two_chunks(spark, root)
        w = repo.writable_session("main")
        w.set_chunk_bytes("/a", "0", W)
        w.delete_chunks_prefix("/a", (0,))
        w.set_chunk_bytes("/a", "1", W)
        w._flush_chunk_buffer()
        with repo.transaction(message="theirs") as t:
            t.set_chunk_bytes("/a", "1", T)
        before = list(w._staged)
        n_jobs = count_jobs(spark, lambda: w.rebase(solver))[1]
        return w, before, n_jobs

    w, before, theirs_jobs = staged_rebase(ConflictSolver(on_chunk_conflict="use_theirs"))
    assert len(before) == 3
    assert w._staged[:2] == before[:2]
    assert w._staged[2] != before[2]
    assert not fsio.exists(os.path.join(root, before[2][1]))
    assert w.get_chunk_bytes("/a", "0") is None
    assert w.get_chunk_bytes("/a", "1") == T
    _, _, ours_jobs = staged_rebase(ConflictSolver(on_chunk_conflict="use_ours"))
    assert theirs_jobs == ours_jobs + 2, (theirs_jobs, ours_jobs)


def test_footers_admit_tests_nodes_and_keys(spark, root):
    """``mf.footers_admit`` on a staged item: a dropped node or a
    dropped key inside its extents admits it; another node, or a key of
    its node outside its extents, does not."""
    repo = _repo_with_two_chunks(spark, root)
    s = repo.writable_session("main")
    nid = s.array_meta("/a").node_id
    s.set_chunk_bytes("/a", "2", W)
    s.set_chunk_bytes("/a", "3", W)
    s._flush_chunk_buffer()
    item = os.path.join(root, s._staged[0][1])
    assert mf.footers_admit(item, {nid}, [])
    assert mf.footers_admit(item, set(), [(nid, "3")])
    assert not mf.footers_admit(item, {"other"}, [("other", "2")])
    assert not mf.footers_admit(item, set(), [(nid, "0"), (nid, "1")])


def test_rewrite_manifests_amend_carries_the_tips_txlog(spark, root):
    """A session based on the tip's parent wrote the chunk the tip
    wrote.  After ``rewrite_manifests(commit_method="amend")`` replaced
    the tip, its commit must still conflict (as after ``new_commit``);
    without the carried txlog it silently overwrote the tip's chunk."""
    repo = _repo_with_two_chunks(spark, root)
    stale = repo.writable_session("main")
    with repo.transaction(message="tip") as t:
        t.set_chunk_bytes("/a", "1", T)
    repo.rewrite_manifests(commit_method="amend")
    stale.set_chunk_bytes("/a", "1", W)
    with pytest.raises(ConflictError):
        stale.commit("stale")
    assert repo.readonly_session().get_chunk_bytes("/a", "1") == T


def test_status_is_the_same_before_and_after_the_buffer_flush(spark, root):
    """``status()`` counts buffered deletes, and counts the buffer as its
    flush stages it: the last op per chunk."""
    repo = _repo_with_two_chunks(spark, root)
    s = repo.writable_session("main")
    s.delete_chunk("/a", "0")
    s.set_chunk_bytes("/a", "2", W)
    s.set_chunk_bytes("/a", "3", W)
    s.delete_chunk("/a", "3")
    before = s.status()
    s._flush_chunk_buffer()
    after = s.status()
    assert before == after
    assert (after.chunks_written, after.chunks_deleted) == (1, 2)
