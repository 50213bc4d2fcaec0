"""Version-control core tests, mirroring the reference's coverage
groups (session lifecycle, refs, time travel, conflicts, maintenance
— SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icechunk_spark.repo import ConflictError, ConflictSolver, RefError, Repository


@pytest.fixture(params=["local", "memory"])
def repo(spark, tmp_path, request):
    """Every core flow runs against BOTH storage backends (reference
    precedent: icechunk test fixtures parameterize over storage)."""
    if request.param == "memory":
        import uuid

        from icechunk_spark.repo import InMemoryObjectStorage

        bucket = f"t{uuid.uuid4().hex[:8]}"
        yield Repository.create(spark, f"memory://{bucket}/repo")
        InMemoryObjectStorage.wipe_bucket(bucket)
    else:
        yield Repository.create(spark, str(tmp_path / "repo"))


def grid_df(spark, n=8, m=8, scale=1.0):
    return spark.range(n * m).select(
        (F.col("id") / m).cast("long").alias("i0"),
        (F.col("id") % m).alias("i1"),
        (F.col("id") * scale).cast("double").alias("value"),
    )


def test_create_open_exists(spark, tmp_path):
    root = str(tmp_path / "r1")
    assert not Repository.exists(root)
    Repository.create(spark, root)
    assert Repository.exists(root)
    Repository.open(spark, root)
    from icechunk_spark.errors import AlreadyExistsError

    with pytest.raises(AlreadyExistsError):
        Repository.create(spark, root)


def test_create_rejects_empty_object_store_prefix(spark):
    """Reference #2239 stance: creating at the empty prefix of an
    object store is refused at the door (no network touched — the
    guard precedes the exists probe); a file:// root or an explicit
    key prefix is unaffected."""
    for bad in ("s3a://bucket", "s3://bucket/", "gs://bucket", "hdfs://nn:8020/"):
        with pytest.raises(ValueError, match="empty prefix"):
            Repository.create(spark, bad)
    # the storage-instance slot must not bypass the guard (review r12)
    from types import SimpleNamespace

    with pytest.raises(ValueError, match="empty prefix"):
        Repository.create(spark, storage=SimpleNamespace(root="s3a://bucket"))


def test_array_roundtrip_and_time_travel(spark, repo):
    s = repo.writable_session()
    s.create_array("/temp", shape=[8, 8], chunk_shape=[4, 4])
    s.write_array_df("/temp", grid_df(spark))
    snap1 = s.commit("v1")

    s2 = repo.writable_session()
    s2.write_array_df("/temp", grid_df(spark, scale=2.0))
    snap2 = s2.commit("v2")

    old = repo.readonly_session(snapshot_id=snap1).read_array_df("/temp").collect()
    new = repo.readonly_session(snapshot_id=snap2).read_array_df("/temp").collect()
    assert len(old) == 64 and len(new) == 64
    old_map = {(r["i0"], r["i1"]): r["value"] for r in old}
    new_map = {(r["i0"], r["i1"]): r["value"] for r in new}
    assert old_map[(2, 3)] == 2 * 8 + 3
    assert new_map[(2, 3)] == (2 * 8 + 3) * 2.0


def test_slice_read_prunes(spark, repo):
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8, 8], chunk_shape=[4, 4])
        s.write_array_df("/a", grid_df(spark))
    s = repo.readonly_session()
    rows = s.read_array_df("/a", slices=[(0, 4), (4, 8)]).collect()
    assert len(rows) == 16
    assert all(r["i0"] < 4 and r["i1"] >= 4 for r in rows)
    # pruning: only 1 of 4 chunks survives the manifest filter
    from icechunk_spark.repo.arrays import slice_chunk_range
    from icechunk_spark.repo.manifests import chunk_range_filter

    meta = s.array_meta("/a")
    man = s.chunk_manifest_df("/a").filter(chunk_range_filter(slice_chunk_range(meta, [(0, 4), (4, 8)])))
    assert man.count() == 1


def test_branches_tags_ancestry(spark, repo):
    with repo.transaction(message="c1") as s:
        s.create_array("/x", shape=[4], chunk_shape=[2])
        s.write_array_df(
            "/x", spark.range(4).select(F.col("id").alias("i0"), F.col("id").cast("double").alias("value"))
        )
    main_tip = repo.lookup_branch("main")
    repo.create_branch("dev", main_tip)
    repo.create_tag("v1.0", main_tip)
    assert repo.list_branches() == {"main", "dev"}
    assert repo.list_tags() == {"v1.0"}
    assert repo.lookup_tag("v1.0") == main_tip

    with repo.transaction("dev", message="c2") as s:
        s.update_attrs("/x", {"units": "K"})
    dev_tip = repo.lookup_branch("dev")
    assert dev_tip != main_tip
    hist = [s.id for s in repo.ancestry(branch="dev")]
    assert hist[0] == dev_tip and main_tip in hist
    # tags immutable
    with pytest.raises(RefError):
        repo.create_tag("v1.0", dev_tip)
    repo.delete_tag("v1.0")
    with pytest.raises(RefError):
        repo.create_tag("v1.0", dev_tip)  # names never reused
    # reset + delete branches
    repo.reset_branch("dev", main_tip)
    assert repo.lookup_branch("dev") == main_tip
    repo.delete_branch("dev")
    assert repo.list_branches() == {"main"}
    with pytest.raises(RefError):
        repo.delete_branch("main")


def test_status_discard(spark, repo):
    s = repo.writable_session()
    s.create_array("/a", shape=[4], chunk_shape=[2])
    s.write_array_df(
        "/a", spark.range(4).select(F.col("id").alias("i0"), F.lit(1.0).alias("value"))
    )
    st = s.status()
    assert st.new_nodes == ["/a"] and st.chunks_written == 2
    assert s.has_uncommitted_changes()
    s.discard_changes()
    assert not s.has_uncommitted_changes()
    assert "/a" not in s.list_nodes()


def test_conflict_detection_and_solvers(spark, repo):
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[2])
        s.write_array_df(
            "/a", spark.range(4).select(F.col("id").alias("i0"), F.lit(0.0).alias("value"))
        )

    s1 = repo.writable_session()
    s2 = repo.writable_session()
    df1 = spark.range(2).select(F.col("id").alias("i0"), F.lit(1.0).alias("value"))
    df2 = spark.range(2).select(F.col("id").alias("i0"), F.lit(2.0).alias("value"))
    s1.write_array_df("/a", df1)
    s2.write_array_df("/a", df2)
    s1.commit("one")
    with pytest.raises(ConflictError):
        s2.commit("two")
    # use_theirs: drop conflicting writes → values from s1 survive
    s2.commit("two", rebase_with=ConflictSolver(on_chunk_conflict="use_theirs"))
    vals = {
        (r["i0"]): r["value"]
        for r in repo.readonly_session().read_array_df("/a").collect()
    }
    assert vals[0] == 1.0

    s3 = repo.writable_session()
    s4 = repo.writable_session()
    s3.write_array_df("/a", df1.select("i0", (F.col("value") * 3).alias("value")))
    s4.write_array_df("/a", df2.select("i0", (F.col("value") * 2).alias("value")))
    s3.commit("three")
    s4.commit("four", rebase_with=ConflictSolver(on_chunk_conflict="use_ours"))
    vals = {
        (r["i0"]): r["value"]
        for r in repo.readonly_session().read_array_df("/a").collect()
    }
    assert vals[0] == 4.0  # ours (s4) won


def test_amend(spark, repo):
    with repo.transaction(message="base") as s:
        s.create_array("/a", shape=[4], chunk_shape=[2])
    s = repo.writable_session()
    s.write_array_df(
        "/a", spark.range(4).select(F.col("id").alias("i0"), F.lit(5.0).alias("value"))
    )
    base_parent = repo.lookup_snapshot(repo.lookup_branch("main")).parent_id
    new_id = s.amend(message="base amended")
    tip = repo.lookup_snapshot(repo.lookup_branch("main"))
    assert tip.id == new_id
    assert tip.parent_id == base_parent
    assert tip.message == "base amended"
    assert repo.readonly_session().read_array_df("/a").count() == 4


def test_move_is_metadata_only(spark, repo):
    with repo.transaction(message="init") as s:
        s.create_group("/g")
        s.create_array("/g/a", shape=[4], chunk_shape=[2])
        s.write_array_df(
            "/g/a", spark.range(4).select(F.col("id").alias("i0"), F.lit(1.0).alias("value"))
        )
    tip_before = repo.lookup_snapshot(repo.lookup_branch("main"))
    with repo.transaction(message="mv") as s:
        s.move("/g", "/h")
    tip_after = repo.lookup_snapshot(repo.lookup_branch("main"))
    # no new manifests were written — move touches only the node table
    assert tip_after.manifests == tip_before.manifests
    assert repo.readonly_session().read_array_df("/h/a").count() == 4


def test_gc_and_compaction_and_stats(spark, repo):
    for v in range(3):
        with repo.transaction(message=f"v{v}") as s:
            if v == 0:
                s.create_array("/a", shape=[8], chunk_shape=[2])
            s.write_array_df(
                "/a",
                spark.range(8).select(F.col("id").alias("i0"), F.lit(float(v)).alias("value")),
            )
    tip = repo.lookup_snapshot(repo.lookup_branch("main"))
    assert len(tip.manifests) == 3
    snap_id = repo.rewrite_manifests()
    assert len(repo.lookup_snapshot(snap_id).manifests) == 1
    rows = repo.readonly_session().read_array_df("/a").collect()
    assert len(rows) == 8 and all(r["value"] == 2.0 for r in rows)

    stats = repo.chunk_storage_stats().collect()
    by_path = {r["path"]: r for r in stats}
    assert by_path["/a"]["n_chunks"] == 4
    assert repo.total_chunks_storage() > 0

    # cut history, then GC must reclaim unreachable snapshots+chunks
    repo.reset_branch("main", snap_id)
    expired = repo.expire_snapshots(older_than_seconds=-1)  # everything unpinned
    summary = repo.garbage_collect(older_than_seconds=-1)
    assert summary.snapshots_deleted >= 1 or expired
    # live data still reads fine after GC
    rows = repo.readonly_session().read_array_df("/a").collect()
    assert len(rows) == 8


def test_virtual_chunk_refs(spark, repo, tmp_path):
    import numpy as np

    ext = tmp_path / "external.bin"
    block = np.arange(4, dtype="float64")
    with open(ext, "wb") as f:
        f.write(b"HDR!")  # offset 4
        f.write(block.tobytes())
    with repo.transaction(message="virt") as s:
        s.create_array("/v", shape=[4], chunk_shape=[4])
        s.set_virtual_ref("/v", "0", str(ext), offset=4, length=32)
    sess = repo.readonly_session()
    rows = {r["i0"]: r["value"] for r in sess.read_array_df("/v").collect()}
    assert rows == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}
    assert sess.all_virtual_chunk_locations() == [str(ext)]


def test_shift_array(spark, repo):
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[2])
        s.write_array_df(
            "/a", spark.range(4).select(F.col("id").alias("i0"), (F.col("id") + 1.0).alias("value"))
        )
    with repo.transaction(message="shift") as s:
        s.shift_array("/a", [1])
    vals = {r["i0"]: r["value"] for r in repo.readonly_session().read_array_df("/a").collect()}
    # chunks [0,1] moved to positions [1,2] (element offset 2); originals vacated
    assert vals == {2: 1.0, 3: 2.0, 4: 3.0, 5: 4.0}


def test_reindex_array(spark, repo):
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[2])
        s.write_array_df(
            "/a", spark.range(8).select(F.col("id").alias("i0"), F.col("id").cast("double").alias("value"))
        )
    with repo.transaction(message="reverse") as s:
        s.reindex_array("/a", forward=lambda c: [3 - c[0]])
    vals = {r["i0"]: r["value"] for r in repo.readonly_session().read_array_df("/a").collect()}
    assert vals[0] == 6.0 and vals[1] == 7.0 and vals[6] == 0.0


def test_fork_merge(spark, repo):
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[2])
    s = repo.writable_session()
    f1, f2 = s.fork(), s.fork()
    f1.write_array_df(
        "/a", spark.range(4).select(F.col("id").alias("i0"), F.lit(1.0).alias("value"))
    )
    f2.write_array_df(
        "/a",
        spark.range(4, 8).select(F.col("id").alias("i0"), F.lit(2.0).alias("value")),
    )
    with pytest.raises(RefError):
        f1.commit("nope")
    s.merge(f1, f2)
    s.commit("merged")
    vals = {r["i0"]: r["value"] for r in repo.readonly_session().read_array_df("/a").collect()}
    assert vals[0] == 1.0 and vals[7] == 2.0


def test_repo_metadata(spark, repo):
    repo.set_metadata({"owner": "data-team"})
    assert repo.metadata() == {"owner": "data-team"}
    assert repo.update_metadata({"tier": "gold"})["owner"] == "data-team"
    repo.set_default_commit_metadata({"pipeline": "etl"})
    with repo.transaction(message="m") as s:
        s.create_group("/g")
    tip = repo.lookup_snapshot(repo.lookup_branch("main"))
    assert tip.metadata["pipeline"] == "etl"


def test_diff_and_inspect(spark, repo):
    with repo.transaction(message="a") as s:
        s.create_array("/a", shape=[4], chunk_shape=[2])
        s.write_array_df(
            "/a", spark.range(4).select(F.col("id").alias("i0"), F.lit(1.0).alias("value"))
        )
    snap_a = repo.lookup_branch("main")
    with repo.transaction(message="b") as s:
        s.create_group("/g2")
        s.write_array_df(
            "/a", spark.range(2).select(F.col("id").alias("i0"), F.lit(9.0).alias("value"))
        )
    snap_b = repo.lookup_branch("main")
    d = repo.diff(from_snapshot_id=snap_a, to_snapshot_id=snap_b)
    assert d.new_nodes == ["/g2"]
    assert d.chunks_written == 1  # one chunk overwritten
    info = repo.inspect_snapshot(snap_b)
    assert info["chunk_refs"] >= 2 and info["nodes"]["/g2"] == "group"


def test_store_facade(spark, repo):
    from icechunk_spark.repo.store import ChunkStore

    s = repo.writable_session()
    store = ChunkStore(s)
    assert store.supports_writes
    import json as _json

    store.set("arr/zarr.json", _json.dumps({"kind": "array", "shape": [4], "chunk_shape": [2]}).encode())
    import numpy as np

    store.set("arr/c/0", np.array([1.0, 2.0]).tobytes())
    store.set("arr/c/1", np.array([3.0, 4.0]).tobytes())
    s.commit("via store")
    s2 = repo.readonly_session()
    store2 = ChunkStore(s2)
    assert store2.get("arr/c/0") == np.array([1.0, 2.0]).tobytes()
    meta = _json.loads(store2.get("arr/zarr.json"))
    assert meta["shape"] == [4]
    keys = list(store2.list())
    assert "arr/zarr.json" in keys and "arr/c/0" in keys and "arr/c/1" in keys
    assert set(store2.list_dir("arr/c")) == {"0", "1"}
    rows = {r["i0"]: r["value"] for r in s2.read_array_df("/arr").collect()}
    assert rows == {0: 1.0, 1: 2.0, 2: 3.0, 3: 4.0}


def test_store_facade_extended(spark, repo):
    import json as _json

    from icechunk_spark.repo.store import ChunkStore

    s = repo.writable_session()
    store = ChunkStore(s)
    store.set(
        "arr/zarr.json",
        _json.dumps({"kind": "array", "shape": [4], "chunk_shape": [2]}).encode(),
    )
    store.set("arr/c/0", b"0123456789")
    assert store.exists("arr/c/0") and not store.exists("arr/c/1")
    assert store.get_partial_values(
        [("arr/c/0", (2, 4)), ("arr/c/0", (None, None)), ("arr/c/1", (0, 2))]
    ) == [b"2345", b"0123456789", None]
    store.set_if_not_exists("arr/c/0", b"SHOULD NOT WIN")
    assert store.get("arr/c/0") == b"0123456789"
    assert not store.is_empty("arr")
    store.delete_dir("arr/c")
    assert store.get("arr/c/0") is None
    assert store.exists("arr/zarr.json")


def test_write_to_deleted_node_conflicts(spark, repo):
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[2])
        s.write_array_df(
            "/a", spark.range(4).select(F.col("id").alias("i0"), F.lit(0.0).alias("value"))
        )

    deleter = repo.writable_session()
    writer = repo.writable_session()
    writer.write_array_df(
        "/a", spark.range(2).select(F.col("id").alias("i0"), F.lit(9.0).alias("value"))
    )
    deleter.delete_node("/a")
    deleter.commit("delete /a")

    with pytest.raises(ConflictError) as ei:
        writer.commit("write /a")
    assert any(c["kind"] == "deleted_node_write" for c in ei.value.conflicts)

    # their delete wins: our writes dropped, node stays deleted
    writer.commit("write /a", rebase_with=ConflictSolver(on_node_conflict="use_theirs"))
    assert "/a" not in repo.readonly_session().list_nodes()


def test_write_to_deleted_node_use_ours_resurrects(spark, repo):
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[2])

    deleter = repo.writable_session()
    writer = repo.writable_session()
    writer.write_array_df(
        "/a", spark.range(4).select(F.col("id").alias("i0"), F.lit(7.0).alias("value"))
    )
    deleter.delete_node("/a")
    deleter.commit("delete /a")

    writer.commit("write /a", rebase_with=ConflictSolver(on_node_conflict="use_ours"))
    sess = repo.readonly_session()
    assert "/a" in sess.list_nodes()
    vals = {r["i0"]: r["value"] for r in sess.read_array_df("/a").collect()}
    assert vals[0] == 7.0


def test_gc_restarts_when_ref_created_mid_collection(spark, tmp_path):
    """design-docs/011: a tag created AFTER GC computes reachability but
    BEFORE it deletes must not be invalidated — GC re-verifies every
    ref tip against the live set and restarts the computation."""
    import time as _time

    root = str(tmp_path / "repo")
    repo = Repository.create(spark, root)
    with repo.transaction(message="c0") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"x" * 4096)
    doomed = repo.lookup_branch("main")
    with repo.transaction(message="c1") as s:
        s.set_chunk_bytes("/a", "0", b"y" * 4096)

    # make c0 unreachable: expire everything behind the tip
    repo.expire_snapshots(older_than_seconds=-1)

    calls = {"n": 0}
    orig_hook = repo._gc_prevalidate_hook

    def racy_hook():
        # on the FIRST pass only: a concurrent writer tags the doomed
        # snapshot between reachability and deletion
        if calls["n"] == 0:
            repo.create_tag("rescue", doomed)
        calls["n"] += 1
        orig_hook()

    repo._gc_prevalidate_hook = racy_hook
    summary = repo.garbage_collect(older_than_seconds=0, now=_time.time() + 10)
    assert calls["n"] >= 2  # restarted at least once
    # the tagged snapshot SURVIVED and still serves reads
    assert repo.readonly_session(tag="rescue").get_chunk_bytes("/a", "0") == b"x" * 4096
    assert summary.snapshots_deleted == 0


def test_gc_aborts_after_max_retries_of_ref_churn(spark, tmp_path):
    """Refs that keep landing on DIFFERENT unreachable snapshots
    exhaust the retry budget: GC must abort loudly, never delete.
    (Churn on the SAME snapshot converges — the recomputed live set
    absorbs it — so each pass here tags a new doomed snapshot.)"""
    import time as _time

    from icechunk_spark.errors import IcechunkError

    root = str(tmp_path / "repo")
    repo = Repository.create(spark, root)
    doomed = []
    for i in range(4):
        with repo.transaction(message=f"c{i}") as s:
            if i == 0:
                s.create_array("/a", shape=[4], chunk_shape=[4])
            s.set_chunk_bytes("/a", "0", bytes([i]) * 4096)
        if i < 3:
            doomed.append(repo.lookup_branch("main"))
    repo.expire_snapshots(older_than_seconds=-1)

    calls = {"n": 0}

    def churn_hook():
        i = calls["n"]
        repo.create_tag(f"churn{i}", doomed[i])
        if i > 0:
            repo.delete_tag(f"churn{i - 1}")
        calls["n"] += 1

    repo._gc_prevalidate_hook = churn_hook
    with pytest.raises(IcechunkError, match="aborted"):
        repo.garbage_collect(older_than_seconds=0, now=_time.time() + 10)
    assert calls["n"] == repo._GC_MAX_RETRIES


def test_commit_allow_empty(spark, tmp_path):
    """Reference parity (session.py:411): commit refuses an empty
    change set unless allow_empty=True; an empty transaction() body is
    a no-op rather than an error."""
    from icechunk_spark.errors import IcechunkError

    repo = Repository.create(spark, str(tmp_path / "repo"))
    s = repo.writable_session()
    with pytest.raises(IcechunkError, match="nothing to commit"):
        s.commit("empty")
    sid = s.commit("empty ok", allow_empty=True)
    assert repo.lookup_branch("main") == sid
    tip_before = repo.lookup_branch("main")
    with repo.transaction(message="noop"):
        pass
    assert repo.lookup_branch("main") == tip_before
