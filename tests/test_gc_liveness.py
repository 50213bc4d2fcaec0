"""Pins for where GC takes chunk liveness from and what it costs.

- A chunk file is live when a live manifest names it: the union of the
  live manifests' summary ``files``, and, for a live manifest whose
  snapshot doc has no summary for it, its ``file`` column.  Both hold
  in both ``_map_names`` dispatch modes.
- A GC of a repo below ``_PARALLEL_SNAPSHOT_READ_MIN`` snapshots and
  chunk shards runs no Spark job.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
import pytest

from icechunk_spark.repo import Repository
from icechunk_spark.repo import format as fmt
from tests.conftest import count_jobs


def _chunk_names(root: str) -> set[str]:
    top = os.path.join(root, "chunks")
    return {f"chunks/{s}/{n}" for s in os.listdir(top) for n in os.listdir(os.path.join(top, s))}


def _repo(spark, root: str) -> Repository:
    """Three commits, each writing one native chunk of /a to its own
    chunk file."""
    repo = Repository.create(spark, root)
    for i in range(3):
        with repo.transaction(message=f"c{i}") as s:
            if i == 0:
                s.create_array("/a", shape=[16], chunk_shape=[4])
            s.set_chunk_bytes("/a", str(i), bytes([i]) * 4096)
    return repo


def _dead_dirs(root: str, n: int) -> set[str]:
    """``n`` aged chunk dirs that no manifest names."""
    old = time.time() - 7 * 86_400
    out = set()
    for _ in range(n):
        rel = fmt.chunk_rel(fmt.new_id())
        os.makedirs(os.path.join(root, rel))
        os.utime(os.path.join(root, rel), (old, old))
        out.add(rel)
    return out


def _live_files(root: str, repo: Repository) -> set[str]:
    tip = repo.lookup_snapshot(repo.lookup_branch("main"))
    return {
        f
        for m in tip.manifests
        for f in pq.read_table(os.path.join(root, m), columns=["file"]).column("file").to_pylist()
        if f is not None
    }


@pytest.mark.parametrize("mode", ["driver", "executor"])
def test_unsummarized_live_manifest_keeps_its_payload_files(spark, tmp_path, monkeypatch, mode):
    """Every snapshot doc loses the summary of the first commit's
    manifest (an older writer's doc).  GC reads that manifest's ``file``
    column instead, so its chunk files stay; the summarized manifests'
    files stay too, and only the unnamed dirs go."""
    if mode == "executor":
        monkeypatch.setattr(Repository, "_PARALLEL_SNAPSHOT_READ_MIN", 1)
    root = str(tmp_path / "r")
    repo = _repo(spark, root)
    first = repo.lookup_snapshot(repo.lookup_branch("main")).manifests[0]
    for sid in fmt.list_snapshot_ids(root):
        snap = fmt.read_snapshot(root, sid)
        if first in snap.manifest_summaries:
            del snap.manifest_summaries[first]
            fmt.write_snapshot(root, snap)
    unsummarized = {
        f for f in pq.read_table(os.path.join(root, first), columns=["file"]).column("file").to_pylist() if f
    }
    live = _live_files(root, repo)
    assert unsummarized and unsummarized <= live
    dead = _dead_dirs(root, 5)
    assert _chunk_names(root) == live | dead

    dry = repo.garbage_collect(dry_run=True, older_than_seconds=3_600)
    real = repo.garbage_collect(older_than_seconds=3_600)
    assert dry == real
    assert real.chunk_files_deleted == len(dead)
    assert _chunk_names(root) == live
    ro = Repository.open(spark, root).readonly_session()
    for i in range(3):
        assert ro.get_chunk_bytes("/a", str(i)) == bytes([i]) * 4096


def test_gc_of_a_small_repo_runs_no_spark_job(spark, tmp_path):
    """A handful of snapshots and shards: the graph read, the liveness
    union and every reap loop on the driver, with no Spark job (the
    listing frames, manifest scan and anti-join ran 3)."""
    root = str(tmp_path / "r")
    repo = _repo(spark, root)
    live = _live_files(root, repo)
    dead = _dead_dirs(root, 3)
    assert len(fmt.list_snapshot_ids(root)) < Repository._PARALLEL_SNAPSHOT_READ_MIN
    assert len(os.listdir(os.path.join(root, "chunks"))) < Repository._PARALLEL_SNAPSHOT_READ_MIN
    summary, n_jobs = count_jobs(spark, lambda: repo.garbage_collect(older_than_seconds=3_600))
    assert n_jobs == 0
    assert summary.chunk_files_deleted == len(dead)
    assert _chunk_names(root) == live
