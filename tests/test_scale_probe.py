"""Repo-plane scale probe (VERDICT r5 #5): a synthetic 2,000-commit /
50,000-chunk-file repo driven through compaction, expire and GC with
the driver's listing surface instrumented.  The forced-parallel
equality tests elsewhere prove the parallel paths produce the same
ANSWERS as the serial ones at toy sizes; this probe proves the
parallel paths actually carry the load at realistic metadata scale —
the driver must never materialize a name list proportional to the
chunk-file count (50k here, ~10^8 at SURVEY §4's 100 TB sizing).

The history is fabricated through fmt.write_snapshot — the same
writer/reader real commits use — on top of two real commits, so every
maintenance path parses production-shape documents.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from icechunk_spark.repo import Repository
from icechunk_spark.repo import format as fmt
from icechunk_spark.repo import fsio

N_FAB_COMMITS = 2_000
N_FAKE_CHUNKS = 50_000
DRIVER_NAME_BUDGET = 12_000  # >2x the snapshot count; far below 50k chunks


@pytest.mark.slow
def test_maintenance_plane_at_2k_commits_50k_chunks(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "repo")
    repo = Repository.create(spark, root)
    with repo.transaction(message="base") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", np.arange(4, dtype="float64").tobytes() * 40)
    with repo.transaction(message="second") as s:
        s.set_chunk_bytes("/a", "1", np.arange(4, dtype="float64").tobytes() * 40)

    # compaction first: exercised while the real manifests exist
    repo.rewrite_manifests()

    gen, real_tip = fmt.branch_tip(root, "main")
    tip_snap = fmt.read_snapshot(root, real_tip)
    now = time.time()
    old = now - 30 * 86_400

    # backdate the real history so the fabricated chain is
    # chronologically consistent (expire removes the oldest
    # contiguous run; real histories have monotonic written_at)
    cur = real_tip
    while cur is not None:
        s_ = fmt.read_snapshot(root, cur)
        s_.written_at = old - 100
        fmt.write_snapshot(root, s_)
        os.utime(os.path.join(root, "snapshots", f"{cur}.json"), (old, old))
        cur = s_.parent_id

    # -- fabricate a 2,000-commit chain on top of the real tip ----------
    prev = real_tip
    fab_ids = []
    for i in range(N_FAB_COMMITS):
        sid = fmt.new_id()
        fmt.write_snapshot(
            root,
            fmt.SnapshotInfo(
                id=sid,
                parent_id=prev,
                message=f"fab {i}",
                metadata={},
                written_at=old + i,  # all far behind the expire cutoff
                seq=tip_snap.seq + 1 + i,
                # the tip carries the real manifests (without
                # summaries) so GC keeps the real chunk files live
                # through their file column
                manifests=list(tip_snap.manifests) if i == N_FAB_COMMITS - 1 else [],
                nodes=dict(tip_snap.nodes),
            ),
        )
        fab_ids.append(sid)
        prev = sid
    fmt.update_branch(root, "main", prev, expected_gen=gen)
    # GC's snapshot reap is mtime-gated: age the fabricated docs
    for sid in fab_ids:
        os.utime(os.path.join(root, "snapshots", f"{sid}.json"), (old, old))

    # -- fabricate 50k unreferenced chunk files in the sharded layout ---
    chunks_top = os.path.join(root, "chunks")
    for _ in range(N_FAKE_CHUNKS):
        d = os.path.join(root, fmt.chunk_rel(fmt.new_id()))
        os.makedirs(d)
        os.utime(d, (old, old))
    # age the real chunk dirs too: only manifest liveness may save them
    for shard in os.listdir(chunks_top):
        for name in os.listdir(os.path.join(chunks_top, shard)):
            os.utime(os.path.join(chunks_top, shard, name), (old, old))
    n_real_chunks = sum(
        len(os.listdir(os.path.join(chunks_top, s))) for s in os.listdir(chunks_top)
    ) - N_FAKE_CHUNKS
    assert n_real_chunks >= 1

    # -- instrument every DRIVER-side name listing ----------------------
    # (executor tasks import fsio in separate worker processes, so this
    # counts exactly what sits on the driver)
    driver_lists: list[tuple[str, int]] = []
    orig_list = fsio.list_child_names
    monkeypatch.setattr(
        fsio,
        "list_child_names",
        lambda path: (r := orig_list(path), driver_lists.append((path, len(r))))[0],
    )
    orig_ids = fmt.list_snapshot_ids
    monkeypatch.setattr(
        fmt,
        "list_snapshot_ids",
        lambda root_: (r := orig_ids(root_), driver_lists.append(("snapshots", len(r))))[0],
    )

    # -- expire: all fabricated commits but the pinned tip --------------
    expired = repo.expire_snapshots(older_than_seconds=86_400, now=now)
    assert len(expired) >= N_FAB_COMMITS - 1
    assert prev not in expired  # branch tip pinned

    # -- GC: reap expired snapshots + all 50k dead chunk files ----------
    summary = repo.garbage_collect(older_than_seconds=3_600, now=now)
    assert summary.snapshots_deleted >= N_FAB_COMMITS - 1
    assert summary.chunk_files_deleted >= N_FAKE_CHUNKS
    # the live (manifest-referenced) chunk files survived the age gate
    remaining = sum(
        len(os.listdir(os.path.join(chunks_top, s))) for s in os.listdir(chunks_top)
    )
    assert remaining == n_real_chunks
    # repo still serves reads at the surviving tip
    got = Repository.open(spark, root).readonly_session().get_chunk_bytes("/a", "0")
    assert got == np.arange(4, dtype="float64").tobytes() * 40

    # -- the scale assertions -------------------------------------------
    # no driver-side listing ever went INSIDE a chunk shard (shard
    # contents are listed in executor tasks), so no single driver list
    # approaches the chunk-file count
    for path, n in driver_lists:
        assert not (path.rstrip("/").split("/")[-2:-1] == ["chunks"] and n > 1000), (
            f"driver listed a chunk shard: {path} -> {n} names"
        )
        assert n <= max(2_100, 256), f"oversized driver listing: {path} -> {n}"
    total = sum(n for _, n in driver_lists)
    assert total <= DRIVER_NAME_BUDGET, (
        f"driver materialized {total} names across {len(driver_lists)} lists"
    )


N_VREFS = 100_000


@pytest.mark.slow
def test_virtual_ref_plane_at_100k_refs(spark, tmp_path, monkeypatch):
    """Virtual-ref-heavy repo (VERDICT r6 #9): 10^5 vcc:// refs in one
    committed manifest.  The audit surface
    (virtual_chunk_locations_df), GC, and compaction must treat the
    ref population as DataFrame rows — the driver never lists or
    collects anything proportional to the ref count (at SURVEY §4's
    100 TB sizing this population is ~10^8)."""
    root = str(tmp_path / "repo")
    repo = Repository.create(
        spark, root, authorize_virtual_chunk_access={"file:///lake/": None}
    )
    repo.set_virtual_chunk_container("lake", "file:///lake/")
    n_files = 1_000  # refs per external file: 100 ranges each
    with repo.transaction(message="bulk vrefs") as s:
        s.create_array("/v", shape=[N_VREFS], chunk_shape=[1])
        s.set_virtual_refs(
            "/v",
            [
                (str(i), f"vcc://lake/shard{i % n_files:04d}.bin", (i // n_files) * 64, 64)
                for i in range(N_VREFS)
            ],
        )

    # -- instrument driver-side name listings (as above) ----------------
    driver_lists: list[tuple[str, int]] = []
    orig_list = fsio.list_child_names
    monkeypatch.setattr(
        fsio,
        "list_child_names",
        lambda path: (r := orig_list(path), driver_lists.append((path, len(r))))[0],
    )
    # -- and driver-side DataFrame collection sizes ---------------------
    from pyspark.sql import DataFrame

    collect_sizes: list[int] = []
    orig_collect = DataFrame.collect
    monkeypatch.setattr(
        DataFrame,
        "collect",
        lambda self: (r := orig_collect(self), collect_sizes.append(len(r)))[0],
    )

    # audit surface: per-location aggregate, vcc resolved as a column
    locs = repo.readonly_session().virtual_chunk_locations_df()
    agg = locs.agg(
        F.count(F.lit(1)).alias("n_locations"),
        F.sum("ref_count").alias("n_refs"),
        F.count(F.when(F.col("resolved_location").isNull(), 1)).alias("unresolved"),
    ).collect()[0]
    assert agg["n_locations"] == n_files
    assert agg["n_refs"] == N_VREFS
    assert agg["unresolved"] == 0
    one = locs.filter(F.col("location") == "vcc://lake/shard0000.bin").collect()[0]
    assert one["resolved_location"] == "file:///lake/shard0000.bin"
    assert one["ref_count"] == N_VREFS // n_files

    # compaction + GC parse the 100k-row manifest as executor-side
    # parquet; nothing driver-side scales with it
    repo.rewrite_manifests()
    summary = repo.garbage_collect(older_than_seconds=0, now=time.time() + 10, dry_run=True)
    assert summary is not None

    # scale assertions: every driver listing is metadata-plane sized,
    # and no driver collect returned anything near the ref count
    for path, n in driver_lists:
        assert n <= 256, f"oversized driver listing: {path} -> {n}"
    assert sum(n for _, n in driver_lists) <= 2_000
    assert max(collect_sizes, default=0) <= n_files, (
        f"a driver collect materialized {max(collect_sizes)} rows"
    )
