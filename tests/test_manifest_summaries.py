"""Manifest summaries in the snapshot doc (``SnapshotInfo.
manifest_summaries``: per listed manifest file its c0..c3 extents, row
count and payload chunk files — the analog of icechunk's
``ManifestRef { object_id, extents }``, design-doc 005).

Pinned here:

- exactness: after every way this version writes manifests (commit,
  flush, amend, a rebase remainder, fork/merge, rewrite_manifests with
  both commit methods, shift_array, delete_chunks_prefix, virtual and
  inline refs) each summary equals a Spark scan of its file, and
  expiration carries them unchanged;
- compatibility (design-doc 015): a doc without the field, a chain of
  unsummarized parents under a new commit, a manifest appended without
  a summary, and summaries off the manifest list or riding in
  ``extra`` all read exactly what a full scan reads;
- a commit lists no manifest file its staged rows left empty (a
  ``use_theirs`` rebase that dropped every row, a ``delete_chunks_prefix``
  that matched nothing);
- pruning: a one-chunk read keeps only the files whose extents hold
  the chunk, and runs one Spark job.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from functools import reduce

import numpy as np
import pytest
from pyspark.sql import functions as F

import icechunk_spark.repo.format as fmt
from icechunk_spark.engine import local_df
from icechunk_spark.repo import ConflictSolver, ManifestConfig, Repository, RepositoryConfig
from icechunk_spark.repo import manifests as mf
from tests.conftest import count_jobs

SPLITS = {"unsplit": None, "split": {"max_refs_per_manifest": 2}}


@pytest.fixture(params=sorted(SPLITS))
def repo(spark, tmp_path, request):
    cfg = RepositoryConfig(manifest=ManifestConfig(splitting=SPLITS[request.param]))
    r = Repository.create(spark, str(tmp_path / "repo"), config=cfg)
    with r.transaction(message="base") as s:
        s.create_array("/g", shape=[8, 8], chunk_shape=[2, 2], fill_value=-1.0)
        s.create_array("/b", shape=[8], chunk_shape=[1])
        s.write_array_df("/g", _cells(spark, [(i, j, float(10 * i + j)) for i in range(8) for j in range(4)]))
        for k in range(3):
            s.set_chunk_bytes("/b", str(k), bytes([k]) * 1024)
    return r


def _cells(spark, cells):
    return local_df(
        spark,
        [{"i0": i, "i1": j, "value": v} for i, j, v in cells],
        "i0 bigint, i1 bigint, value double",
    )


def _scan_summaries(spark, root, snap) -> dict[str, dict]:
    """Each listed manifest's summary as a Spark scan computes it."""
    out = {m: {"extents": [None] * 4, "refs": 0, "files": []} for m in snap.manifests}
    if not snap.manifests:
        return out
    df = reduce(
        lambda a, b: a.unionByName(b),
        [mf.read_manifest_files(spark, root, [m]).withColumn("__m", F.lit(m)) for m in snap.manifests],
    )
    aggs = [F.count(F.lit(1)).alias("refs"), F.collect_set("file").alias("files")]
    for d in range(4):
        aggs += [F.min(f"c{d}").alias(f"lo{d}"), F.max(f"c{d}").alias(f"hi{d}")]
    for r in df.groupBy("__m").agg(*aggs).collect():
        out[r["__m"]] = {
            "extents": [
                None if r[f"lo{d}"] is None else [r[f"lo{d}"], r[f"hi{d}"]] for d in range(4)
            ],
            "refs": r["refs"],
            "files": sorted(r["files"]),
        }
    return out


def _assert_exact(spark, repo, snap_id=None):
    snap = fmt.read_snapshot(repo.root, snap_id or repo.lookup_branch("main"))
    assert sorted(snap.manifest_summaries) == sorted(snap.manifests)
    assert snap.manifest_summaries == _scan_summaries(spark, repo.root, snap)
    return snap


def _grid(session, path="/g", slices=None):
    return {(r["i0"], r["i1"]): r["value"] for r in session.read_array_df(path, slices).collect()}


def _strip_summaries(root, snap_id):
    """Rewrite a snapshot doc on disk the way an older writer left it."""
    storage = fmt.resolve_storage(root)
    doc = json.loads(storage.get(f"snapshots/{snap_id}.json").decode())
    doc.pop("manifest_summaries", None)
    storage.put(f"snapshots/{snap_id}.json", json.dumps(doc).encode())


# --- exactness ---------------------------------------------------------------


def test_exact_after_commit_flush_and_amend(spark, repo, tmp_path):
    ext = tmp_path / "ext.bin"
    ext.write_bytes(b"\x07" * 64)
    snap = _assert_exact(spark, repo)
    assert any(s["files"] for s in snap.manifest_summaries.values())
    with repo.transaction(message="virtual + inline") as s:
        s.set_virtual_ref("/b", "5", str(ext), 0, 64, validate_container=False)
        s.set_chunk_bytes("/b", "6", b"tiny")  # inline: no payload file
    snap = _assert_exact(spark, repo)
    # the fileless refs' manifest names no payload file
    assert snap.manifest_summaries[snap.manifests[-1]]["files"] == []
    s = repo.writable_session("main")
    s.write_array_df("/g", _cells(spark, [(7, 7, 1.5)]))
    s.amend()
    _assert_exact(spark, repo)
    s = repo.writable_session("main")
    s.set_chunk_bytes("/b", "7", b"z" * 1024)
    flushed = s.flush("flushed")
    _assert_exact(spark, repo, flushed)


def test_exact_after_rebase_remainder(spark, repo):
    s1 = repo.writable_session("main")
    s2 = repo.writable_session("main")
    s1.set_chunk_bytes("/b", "1", b"1" * 1024)
    s2.set_chunk_bytes("/b", "1", b"2" * 1024)
    s2.set_chunk_bytes("/b", "4", b"4" * 1024)
    s1.commit("s1")
    s2.commit("s2", rebase_with=ConflictSolver(on_chunk_conflict="use_theirs"))
    _assert_exact(spark, repo)
    ro = repo.readonly_session()
    assert ro.get_chunk_bytes("/b", "1") == b"1" * 1024
    assert ro.get_chunk_bytes("/b", "4") == b"4" * 1024


def test_exact_after_fork_merge(spark, repo):
    w = repo.writable_session("main")
    f1, f2 = w.fork(), w.fork()
    f1.set_chunk_bytes("/b", "3", b"f" * 1024)
    f2.write_array_df("/g", _cells(spark, [(0, 6, 2.5), (5, 5, 3.5)]))
    w.merge(f1, f2)
    w.commit("merged")
    _assert_exact(spark, repo)
    got = _grid(repo.readonly_session())
    assert got[(0, 6)] == 2.5 and got[(5, 5)] == 3.5 and got[(0, 7)] == -1.0


@pytest.mark.parametrize("method", ["new_commit", "amend"])
def test_exact_after_rewrite_manifests(spark, repo, method):
    with repo.transaction(message="more") as s:
        s.write_array_df("/g", _cells(spark, [(3, 3, 9.0)]))
    before = _grid(repo.readonly_session())
    repo.rewrite_manifests(commit_method=method)
    _assert_exact(spark, repo)
    assert _grid(repo.readonly_session()) == before


def test_expire_carries_summaries(spark, repo):
    with repo.transaction(message="B") as s:
        s.set_chunk_bytes("/b", "0", b"B" * 1024)
    with repo.transaction(message="C") as s:
        s.set_chunk_bytes("/b", "1", b"C" * 1024)
    tip_id = repo.lookup_branch("main")
    before = fmt.read_snapshot(repo.root, tip_id).manifest_summaries
    assert repo.expire_snapshots(0.0, now=time.time() + 3600)
    after = _assert_exact(spark, repo, tip_id)
    assert after.pruned_ancestor_tx_logs  # re-parented by expiration
    assert after.manifest_summaries == before


def test_exact_after_shift_and_delete_prefix(spark, repo):
    with repo.transaction(message="shift") as s:
        s.shift_array("/g", [1, 0])
    _assert_exact(spark, repo)
    with repo.transaction(message="drop row 2") as s:
        s.delete_chunks_prefix("/g", (2,))
    snap = _assert_exact(spark, repo)
    # a tombstone-only manifest has rows and extents but no files
    assert snap.manifest_summaries[snap.manifests[-1]]["files"] == []
    got = _grid(repo.readonly_session())
    assert got[(2, 0)] == 0.0 and got[(6, 1)] == 41.0
    assert (0, 0) not in got and (4, 0) not in got  # vacated, deleted


# --- compatibility -----------------------------------------------------------


def test_use_theirs_rebase_dropping_every_row_lists_no_empty_manifest(spark, repo):
    w = repo.writable_session("main")
    w.set_chunk_bytes("/g", "0.0", np.full(4, 5.0).tobytes())
    with repo.transaction(message="theirs") as s:
        s.set_chunk_bytes("/g", "0.0", np.full(4, 7.0).tobytes())
    n = len(repo.list_manifest_files(repo.lookup_branch("main")))
    w.commit("ours", rebase_with=ConflictSolver(on_chunk_conflict="use_theirs"))
    snap = _assert_exact(spark, repo)
    assert len(snap.manifests) == n and all(s["refs"] for s in snap.manifest_summaries.values())
    ro = repo.readonly_session()
    assert ro.get_chunk_bytes("/g", "0.0") == np.full(4, 7.0).tobytes()
    assert _grid(ro, slices=[(0, 2), (0, 3)]) == {
        (0, 0): 7.0, (0, 1): 7.0, (1, 0): 7.0, (1, 1): 7.0, (0, 2): 2.0, (1, 2): 12.0
    }


def test_delete_prefix_matching_nothing_lists_no_empty_manifest(spark, repo):
    before = _grid(repo.readonly_session())
    n = len(repo.list_manifest_files(repo.lookup_branch("main")))
    with repo.transaction(message="delete nothing") as s:
        s.delete_chunks_prefix("/g", (0, 3))  # chunk 0.3 was never written
    snap = _assert_exact(spark, repo)
    assert len(snap.manifests) == n
    ro = repo.readonly_session()
    assert _grid(ro) == before
    assert ro.get_chunk_bytes("/g", "0.1") == np.array([2.0, 3.0, 12.0, 13.0]).tobytes()


def test_doc_without_summaries_reads_the_same(spark, repo):
    tip_id = repo.lookup_branch("main")
    ro = repo.readonly_session()
    region = _grid(ro, slices=[(2, 6), (1, 4)])
    whole = _grid(ro)
    b1 = ro.get_chunk_bytes("/b", "1")
    _strip_summaries(repo.root, tip_id)
    assert fmt.read_snapshot(repo.root, tip_id).manifest_summaries == {}
    ro = repo.readonly_session()
    assert _grid(ro, slices=[(2, 6), (1, 4)]) == region
    assert _grid(ro) == whole
    assert ro.get_chunk_bytes("/b", "1") == b1 == b"\x01" * 1024


def test_unsummarized_parents_under_a_new_commit(spark, repo):
    with repo.transaction(message="old 2") as s:
        s.write_array_df("/g", _cells(spark, [(1, 1, 100.0)]))
    for snap in repo.ancestry(branch="main"):
        _strip_summaries(repo.root, snap.id)
    old = fmt.read_snapshot(repo.root, repo.lookup_branch("main")).manifests
    with repo.transaction(message="new") as s:
        s.write_array_df("/g", _cells(spark, [(1, 2, 200.0)]))
        s.set_chunk_bytes("/b", "2", b"n" * 1024)
    snap = fmt.read_snapshot(repo.root, repo.lookup_branch("main"))
    assert not set(old) & set(snap.manifest_summaries)
    assert set(snap.manifest_summaries) == set(snap.manifests) - set(old)
    ro = repo.readonly_session()
    got = _grid(ro, slices=[(0, 2), (0, 4)])
    assert got[(1, 1)] == 100.0 and got[(1, 2)] == 200.0 and got[(0, 3)] == 3.0
    assert ro.get_chunk_bytes("/b", "2") == b"n" * 1024
    assert ro.get_chunk_bytes("/b", "1") == b"\x01" * 1024


def _append_unsummarized(root, node_id, chunk_key, payload):
    """A manifest + payload file written as a writer that knows no
    summaries would: a new immutable manifest listed on the tip,
    shadowing ``chunk_key`` (higher seq), with no summary entry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tip_id = fmt.branch_tip(root, "main")[1]
    snap = fmt.read_snapshot(root, tip_id)
    cid = uuid.uuid4().hex
    crel = f"chunks/{cid[:2]}/{cid}.parquet"
    os.makedirs(fmt.data_path(root, crel))
    pq.write_table(
        pa.table({"chunk_id": [cid], "payload": [payload]}),
        os.path.join(fmt.data_path(root, crel), "part-0.parquet"),
    )
    coords = [int(x) for x in chunk_key.split(".")] + [None] * 3
    row = {
        "node_id": node_id, "chunk_key": chunk_key, "chunk_id": cid, "file": crel,
        "n_bytes": len(payload), "op": "set", "is_virtual": False, "seq": 10**12,
        **{f"c{d}": coords[d] for d in range(4)},
    }
    mrel = f"manifests/{fmt.new_id()}.parquet"
    os.makedirs(fmt.data_path(root, mrel))
    schema = fmt.arrow_schema(fmt.MANIFEST_SCHEMA)
    table = pa.Table.from_pylist([{k: row.get(k) for k in schema.names}], schema=schema)
    pq.write_table(table, os.path.join(fmt.data_path(root, mrel), "part-0.parquet"))
    snap.manifests = [*snap.manifests, mrel]
    fmt.write_snapshot(root, snap)
    return mrel


def test_manifest_appended_without_summary_is_kept(spark, repo):
    nid = repo.readonly_session().array_meta("/g").node_id
    block = np.full((2, 2), 55.0)
    mrel = _append_unsummarized(repo.root, nid, "1.1", block.tobytes())
    snap = fmt.read_snapshot(repo.root, repo.lookup_branch("main"))
    assert mrel in snap.manifests and mrel not in snap.manifest_summaries
    ro = repo.readonly_session()
    assert mrel in mf.prune_manifest_paths(snap.manifests, nid, snap.manifest_summaries, ((1, 1), (1, 1)))
    got = _grid(ro, slices=[(2, 4), (2, 4)])
    assert got == {(i, j): 55.0 for i in (2, 3) for j in (2, 3)}
    assert ro.get_chunk_bytes("/g", "1.1") == block.tobytes()
    # the next commit summarizes only what it writes, and keeps the rest
    with repo.transaction(message="after") as s:
        s.write_array_df("/g", _cells(spark, [(0, 0, 7.0)]))
    got = _grid(repo.readonly_session(), slices=[(0, 4), (0, 4)])
    assert got[(2, 2)] == 55.0 and got[(0, 0)] == 7.0


def test_summaries_off_the_list_or_in_extra_are_ignored(spark, repo):
    tip_id = repo.lookup_branch("main")
    whole = _grid(repo.readonly_session())
    snap = fmt.read_snapshot(repo.root, tip_id)
    ghost = {"extents": [[0, 9], [0, 9], None, None], "refs": 1, "files": ["chunks/zz/ghost.parquet"]}
    # a summary for a relpath the snapshot does not list: never used
    # (its missing payload file would fail the read if it were)
    snap.manifest_summaries = {**snap.manifest_summaries, "manifests/ghost.parquet": ghost}
    fmt.write_snapshot(repo.root, snap)
    assert _grid(repo.readonly_session()) == whole
    # summaries riding in ``extra`` (claiming every file is empty) lose
    # to the known field on write, and an absent field keeps every file
    snap.manifest_summaries = {}
    snap.extra = {"manifest_summaries": {m: {**ghost, "refs": 0} for m in snap.manifests}}
    fmt.write_snapshot(repo.root, snap)
    assert fmt.read_snapshot(repo.root, tip_id).manifest_summaries == {}
    ro = repo.readonly_session()
    assert _grid(ro) == whole
    assert ro.get_chunk_bytes("/b", "2") == b"\x02" * 1024


# --- pruning -----------------------------------------------------------------


def test_one_chunk_read_prunes_files_and_runs_one_job(spark, repo):
    with repo.transaction(message="second") as s:
        s.write_array_df("/g", _cells(spark, [(6, 6, 1.0), (6, 7, 2.0)]))
    snap = fmt.read_snapshot(repo.root, repo.lookup_branch("main"))
    ro = repo.readonly_session()
    nid = ro.array_meta("/g").node_id
    node_files = mf.prune_manifest_paths(snap.manifests, nid)
    kept = mf.prune_manifest_paths(snap.manifests, nid, snap.manifest_summaries, ((0, 0), (0, 0)))
    assert len(kept) == 1 < len(node_files)
    layers = list(ro._ref_layers(nid, chunk_range=((0, 0), (0, 0))))
    assert layers[-1][:2] == ("base", kept)
    got, jobs = count_jobs(spark, lambda: _grid(ro, slices=[(0, 2), (0, 2)]))
    assert jobs == 1
    assert got == {(0, 0): 0.0, (0, 1): 1.0, (1, 0): 10.0, (1, 1): 11.0}
    assert _grid(ro, slices=[(6, 7), (6, 8)]) == {(6, 6): 1.0, (6, 7): 2.0}


def test_pyarrow_manifest_reads_map_hadoop_schemes(spark, tmp_path, monkeypatch):
    """Driver- and executor-side pyarrow reads of manifest files — the
    point lookup without a SparkSession, ``inspect_metadata_file``'s
    parquet branch and the summary's footer pass — resolve ``s3a://``
    data roots through ``fsio._fs_path``: pyarrow rejects the Hadoop
    scheme.  The mapping is stubbed onto a local directory, so no object
    store is contacted."""
    from pyarrow import fs as pafs

    from icechunk_spark.repo import fsio
    from icechunk_spark.repo.storage import ArrowFsStorage

    local = str(tmp_path / "repo")
    repo = Repository.create(spark, local)
    with repo.transaction(message="v1") as s:
        s.create_array("/b", shape=[4], chunk_shape=[1])
        s.set_chunk_bytes("/b", "2", b"s" * 1024)
    storage = ArrowFsStorage("s3a://bucket", fs=pafs.LocalFileSystem(), base=local)
    snap = fmt.read_snapshot(storage, repo.lookup_branch("main"))
    nid = snap.nodes["/b"]["node_id"]
    real = fsio._fs_path

    def fake(path):
        if path.startswith("s3a://bucket/"):
            return pafs.LocalFileSystem(), os.path.join(local, path[len("s3a://bucket/"):])
        return real(path)

    monkeypatch.setattr(fsio, "_fs_path", fake)
    rows = mf.resolve_manifest_rows_local(
        fmt.data_path(storage), snap.manifests, snap.manifest_summaries, nid, "2"
    )
    assert [(r["chunk_key"], r["n_bytes"]) for r in rows] == [("2", 1024)]
    (rel,) = snap.manifests
    assert fmt.inspect_metadata_file(storage, rel)["kind"] == "manifest"
    assert mf._written_summaries(fmt.data_path(storage, rel), rel) == {
        rel: snap.manifest_summaries[rel]
    }
