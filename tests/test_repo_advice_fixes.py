"""Regression tests for history/GC correctness bugs.

Scenarios mirrored from the reference's expiration + conflict
coverage (icechunk design-docs/007-basic-expiration.md;
icechunk-python tests/test_expiration.py, test_conflicts.py):
expiring a middle-of-history segment must not unlink young kept
snapshots, rebasing a move must not resurrect the source path, and
GC must never reclaim objects younger than the age cutoff (in-flight
write sessions reference them before any manifest exists).
"""

from __future__ import annotations

import pytest

from icechunk_spark.repo import Repository


@pytest.fixture()
def repo(spark, tmp_path):
    return Repository.create(spark, str(tmp_path / "repo"))


def _commit_chunk(repo, path, key, payload, msg):
    with repo.transaction(message=msg) as s:
        s.set_chunk_bytes(path, key, payload)


def test_expire_middle_of_history_keeps_young_snapshot(spark, repo):
    """chain tip -> s2 -> s1 -> root with only s1 behind the cutoff:
    s2 must stay linked (re-parented onto root), not silently handed
    to GC."""
    with repo.transaction(message="s1") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"v1" * 8)
    s1 = repo.lookup_branch("main")
    _commit_chunk(repo, "/a", "0", b"v2" * 8, "s2")
    s2 = repo.lookup_branch("main")
    _commit_chunk(repo, "/a", "0", b"v3" * 8, "tip")
    tip = repo.lookup_branch("main")

    t1 = repo.lookup_snapshot(s1).written_at
    t2 = repo.lookup_snapshot(s2).written_at
    assert t1 < t2
    cutoff = (t1 + t2) / 2.0

    expired = repo.expire_snapshots(older_than_seconds=0.0, now=cutoff)
    assert s1 in expired
    assert s2 not in expired and tip not in expired

    chain = [s.id for s in repo.ancestry(branch="main")]
    assert chain[0] == tip
    assert s2 in chain, "young kept snapshot was unlinked from history"
    assert s1 not in chain
    # s2 was re-parented onto the root, which ends the chain
    assert repo.lookup_snapshot(s2).parent_id == chain[-1]

    # and GC (ignoring age for the test) must not delete s2
    repo.garbage_collect(older_than_seconds=-1)
    assert repo.lookup_snapshot(s2).message == "s2"
    # time travel to s2 still reads its data
    got = repo.readonly_session(snapshot_id=s2).get_chunk_bytes("/a", "0")
    assert got == b"v2" * 8


def test_rebase_replays_move_without_resurrecting_source(spark, repo):
    """A move() rebased onto a moved-forward tip must drop the source
    path inherited from the tip's node table."""
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
        s.create_array("/c", shape=[4], chunk_shape=[4])

    mover = repo.writable_session("main")
    mover.move("/a", "/b")
    # concurrent unrelated commit bumps the tip, forcing mover to rebase
    _commit_chunk(repo, "/c", "0", b"x" * 32, "concurrent")
    mover.commit("move a->b")

    nodes = repo.readonly_session().list_nodes()
    assert "/b" in nodes
    assert "/a" not in nodes, "rebased move left the node at its old path"


def test_gc_age_cutoff_spares_in_flight_writes(spark, repo):
    """Chunks written by an uncommitted session live in chunks/ with
    no manifest yet; default-cutoff GC must leave them (and the
    staging dir) alone so the later commit stays readable."""
    with repo.transaction(message="base") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])

    sess = repo.writable_session("main")
    df = spark.range(8).selectExpr("id AS i0", "CAST(id AS DOUBLE) AS value")
    sess.write_array_df("/a", df)

    summary = repo.garbage_collect()  # default 24h cutoff
    assert summary.chunk_files_deleted == 0
    assert summary.manifests_deleted == 0

    sess.commit("late commit")
    rows = repo.readonly_session().read_array_df("/a").collect()
    assert sorted(r["value"] for r in rows) == [float(i) for i in range(8)]


def test_readonly_session_as_of(spark, repo):
    """as_of time travel (reference: readonly_session(as_of=...)):
    opens the last snapshot written at or before the given time."""
    import pytest as _pytest

    from icechunk_spark.repo import RefError

    with repo.transaction(message="s1") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"v1" * 8)
    s1 = repo.lookup_branch("main")
    t1 = repo.lookup_snapshot(s1).written_at
    _commit_chunk(repo, "/a", "0", b"v2" * 8, "s2")
    s2 = repo.lookup_branch("main")
    t2 = repo.lookup_snapshot(s2).written_at

    sess = repo.readonly_session("main", as_of=(t1 + t2) / 2)
    assert sess.snapshot_id == s1
    assert sess.get_chunk_bytes("/a", "0") == b"v1" * 8
    assert repo.readonly_session("main", as_of=t2 + 1).snapshot_id == s2
    root_t = list(repo.ancestry(branch="main"))[-1].written_at
    with _pytest.raises(RefError, match="no snapshot at or before"):
        repo.readonly_session("main", as_of=root_t - 10)


def test_manifest_cache_invalidated_on_commit(spark, tmp_path):
    """With CachingConfig.num_chunk_refs > 0, a session that commits
    must NOT keep serving the pre-commit (persisted) base manifest:
    a read after commit sees the just-committed value."""
    from icechunk_spark.repo import CachingConfig, Repository, RepositoryConfig

    repo = Repository.create(spark, str(tmp_path / "repo"))
    repo.save_config(RepositoryConfig(caching=CachingConfig(num_chunk_refs=1000)))
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"v1" * 8)

    sess = repo.writable_session("main")
    # prime the cache from the v1 base
    assert sess.get_chunk_bytes("/a", "0") == b"v1" * 8
    sess.set_chunk_bytes("/a", "0", b"v2" * 8)
    sess.commit("v2")
    # post-commit read through the SAME session must see v2, not the
    # stale persisted manifest of the old base
    assert sess.get_chunk_bytes("/a", "0") == b"v2" * 8


def test_readonly_session_point_reads_on_executors(spark, repo):
    """The advertised read-scaling path: pickle a readonly session into
    Spark tasks (no active SparkSession there) and fetch chunk bytes
    per task via the pyarrow fallback."""
    import pickle

    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        # large enough to be a native (non-inline) chunk
        s.set_chunk_bytes("/a", "0", b"A" * 4096)
        s.set_chunk_bytes("/a", "1", b"B" * 4096)
    blob = pickle.dumps(repo.readonly_session())

    def fetch(key):
        sess = pickle.loads(blob)
        data = sess.get_chunk_bytes("/a", key)
        return (key, data[:1], len(data), sess.chunk_type("/a", (int(key),)).name)

    got = sorted(spark.sparkContext.parallelize(["0", "1"], 2).map(fetch).collect())
    assert got == [("0", b"A", 4096, "native"), ("1", b"B", 4096, "native")]


def test_set_virtual_refs_arr_validate_false_skips_container_check(spark, tmp_path):
    """validate_containers=False must actually bypass the configured-
    container check (it previously re-raised inside set_virtual_ref)."""
    from icechunk_spark.repo.store import ChunkStore

    repo = Repository.create(spark, str(tmp_path / "repo"))
    repo.set_virtual_chunk_container("allowed", "file:///allowed/")
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[2], chunk_shape=[1])
    sess = repo.writable_session("main")
    store = ChunkStore(sess)
    failed = store.set_virtual_refs_arr(
        "/a", (2,), ["/not/allowed/x.bin", ""], [0, 0], [4, 0],
        validate_containers=False,
    )
    assert failed is None  # nothing rejected
    assert sess.chunk_type("/a", (0,)).name == "virtual"
    # with validation ON the same location is rejected (returned, not raised)
    sess2 = repo.writable_session("main")
    failed2 = ChunkStore(sess2).set_virtual_refs_arr(
        "/a", (2,), ["/not/allowed/x.bin", ""], [0, 0], [4, 0],
    )
    assert failed2 == [(0,)]


def test_gc_reclaims_zero_row_chunk_dirs(spark, repo):
    """Chunk dirs a parquet scan can't see (zero rows / no part files)
    must still be listed and reclaimed by GC — they leaked forever when
    the candidate list came from input_file_name() rows only."""
    import os

    from icechunk_spark.repo import format as fmt

    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"x" * 4096)
    # fabricate an orphan dir with no readable parquet rows
    cdir = fmt.data_path(str(repo.root), "chunks/deadbeef.parquet")
    os.makedirs(cdir)
    open(os.path.join(cdir, "_SUCCESS"), "w").close()

    summary = repo.garbage_collect(older_than_seconds=-1)
    assert summary.chunk_files_deleted == 1
    assert not os.path.exists(cdir)
    # the live chunk survives
    assert repo.readonly_session().get_chunk_bytes("/a", "0") == b"x" * 4096


def test_commit_blocked_when_repo_flipped_read_only(spark, repo):
    """An in-flight writable session must re-check RepoStatus at commit
    time: flipping the repo read_only stops it."""
    from icechunk_spark.repo import RefError, RepoAvailability, RepoStatus

    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
    sess = repo.writable_session("main")
    sess.set_chunk_bytes("/a", "0", b"y" * 32)
    repo.set_status(
        RepoStatus(availability=RepoAvailability.read_only,
                   limited_availability_reason="maintenance")
    )
    with pytest.raises(RefError, match="maintenance"):
        sess.commit("should fail")
    repo.set_status(RepoStatus(availability=RepoAvailability.online))
    sess.commit("now ok")
    assert repo.readonly_session().get_chunk_bytes("/a", "0") == b"y" * 32


def test_manifest_split_config_zero_cap_and_escaping(spark, tmp_path):
    """max_refs_per_manifest=0 is a configured (smallest) cap, not
    'unset'; partition-dir pruning matches Spark's escaped dir names."""
    from icechunk_spark.repo import ManifestConfig, Repository, RepositoryConfig
    from icechunk_spark.repo.manifests import (
        _escape_partition_value,
        prune_manifest_paths,
    )

    repo = Repository.create(spark, str(tmp_path / "repo"))
    repo.save_config(
        RepositoryConfig(
            manifest=ManifestConfig(splitting={"max_refs_per_manifest": 0})
        )
    )
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[1])
        for i in range(4):
            s.set_chunk_bytes("/a", str(i), bytes([i]) * 4096)
    tip = repo.lookup_snapshot(repo.lookup_branch("main"))
    # cap 0 clamps to 1 ref per split file -> 4 split manifests
    assert len([m for m in tip.manifests if "/__node=" in m]) == 4
    sess = repo.readonly_session()
    assert sess.get_chunk_bytes("/a", "2") == b"\x02" * 4096

    # escaping: a node id with a ':' must match its escaped dir name
    nid = "weird:id"
    esc = _escape_partition_value(nid)
    assert esc == "weird%3Aid"
    paths = [f"manifests/m.parquet/__node={esc}/__split=0", "manifests/plain.parquet"]
    assert prune_manifest_paths(paths, nid) == paths


def test_create_create_same_path_conflicts(spark, repo):
    """Two sessions creating the SAME path get different node ids, so
    node-id matching alone cannot see the collision (the reference's
    NewNodeConflictsWithExisting): without a solver the rebase must
    raise, and each resolution must pick exactly one node."""
    from icechunk_spark.repo import ConflictSolver, RefError  # noqa: F401
    from icechunk_spark.repo.session import ConflictError

    with repo.transaction(message="base") as s:
        s.create_group("/g")

    s1 = repo.writable_session("main")
    s2 = repo.writable_session("main")
    s3 = repo.writable_session("main")
    s1.create_array("/x", shape=[4], chunk_shape=[4])
    s1.set_chunk_bytes("/x", "0", b"ONE " * 1024)
    s1.commit("s1 creates /x")

    s2.create_array("/x", shape=[8], chunk_shape=[4])
    s2.set_chunk_bytes("/x", "0", b"TWO " * 1024)
    with pytest.raises(ConflictError) as ei:
        s2.commit("s2 also creates /x")
    assert any(c.get("kind") == "path" for c in ei.value.conflicts)

    # use_theirs: s1's node and data survive, s2's creation is dropped
    s2.commit("retry", rebase_with=ConflictSolver(
        on_chunk_conflict="use_theirs", on_node_conflict="use_theirs"))
    sess = repo.readonly_session()
    assert sess.get_chunk_bytes("/x", "0") == b"ONE " * 1024
    assert sess.array_meta("/x").shape == [4]

    # use_ours: the retrying session's node replaces the committed one
    s3.create_array("/x", shape=[8], chunk_shape=[4])
    s3.set_chunk_bytes("/x", "0", b"TRI " * 1024)
    s3.commit("s3 replaces /x", rebase_with=ConflictSolver(
        on_chunk_conflict="use_ours", on_node_conflict="use_ours"))
    sess = repo.readonly_session()
    assert sess.array_meta("/x").shape == [8]
    assert sess.get_chunk_bytes("/x", "0") == b"TRI " * 1024


def test_gc_sharded_chunk_layout_no_driver_listing(spark, repo):
    """Spec-v2 chunk files live under 2-hex shard dirs (format.chunk_rel)
    so the ONLY driver-side LIST of chunks/ returns shard names (<=256
    entries), never one name per chunk file; per-shard listings run in
    executor tasks.  GC must reclaim an orphan inside a shard and spare
    live sharded chunks."""
    import os

    from icechunk_spark.repo import format as fmt
    from icechunk_spark.repo import fsio

    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"x" * 4096)
        s.set_chunk_bytes("/a", "1", b"y" * 4096)
    # new writes land sharded: chunks/<hh>/<id>.parquet
    top = fsio.list_child_names(fmt.data_path(str(repo.root), "chunks"))
    assert top and all(len(n) == 2 for n in top), top
    # orphan chunk dir inside a shard
    orphan = fmt.data_path(str(repo.root), "chunks/ab/ab1234feed.parquet")
    os.makedirs(orphan)
    open(os.path.join(orphan, "_SUCCESS"), "w").close()

    summary = repo.garbage_collect(older_than_seconds=-1)
    assert summary.chunk_files_deleted == 1
    assert not os.path.exists(orphan)
    sess = repo.readonly_session()
    assert sess.get_chunk_bytes("/a", "0") == b"x" * 4096
    assert sess.get_chunk_bytes("/a", "1") == b"y" * 4096


def test_delete_of_written_node_conflicts(spark, repo):
    """We delete a node THEY wrote chunks into (reference
    DeleteOfUpdatedArray seen from the deleting side): fail raises,
    use_theirs cancels our delete, use_ours lets the delete win."""
    from icechunk_spark.repo import ConflictError, ConflictSolver

    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])

    # fail
    s1 = repo.writable_session("main")
    with repo.transaction(message="their write") as s:
        s.set_chunk_bytes("/a", "0", b"t" * 4096)
    s1.delete_node("/a")
    with pytest.raises(ConflictError) as ei:
        s1.commit("delete a")
    assert any(c["kind"] == "delete_of_written" for c in ei.value.conflicts)

    # use_theirs: their writes win, node + chunk survive
    s2 = repo.writable_session("main")
    with repo.transaction(message="their write 2") as s:
        s.set_chunk_bytes("/a", "1", b"u" * 4096)
    s2.delete_node("/a")
    s2.commit("delete a", rebase_with=ConflictSolver(on_node_conflict="use_theirs"))
    sess = repo.readonly_session()
    assert "/a" in sess.list_nodes()
    assert sess.get_chunk_bytes("/a", "1") == b"u" * 4096

    # use_ours: the delete wins
    s3 = repo.writable_session("main")
    with repo.transaction(message="their write 3") as s:
        s.set_chunk_bytes("/a", "0", b"v" * 4096)
    s3.delete_node("/a")
    s3.commit("delete a", rebase_with=ConflictSolver(on_node_conflict="use_ours"))
    assert "/a" not in repo.readonly_session().list_nodes()


def test_new_node_in_deleted_group_conflicts(spark, repo):
    """We create a node under a group THEY deleted (reference
    NewNodeInInvalidGroup): fail raises; use_theirs drops our create;
    use_ours resurrects the group."""
    from icechunk_spark.repo import ConflictError, ConflictSolver

    with repo.transaction(message="init") as s:
        s.create_group("/g")

    s1 = repo.writable_session("main")
    with repo.transaction(message="their delete") as s:
        s.delete_node("/g")
    s1.create_array("/g/child", shape=[4], chunk_shape=[4])
    s1.set_chunk_bytes("/g/child", "0", b"c" * 4096)
    with pytest.raises(ConflictError) as ei:
        s1.commit("add child")
    assert any(c["kind"] == "invalid_group" for c in ei.value.conflicts)

    # use_theirs: group stays deleted, our child dropped
    with repo.transaction(message="recreate g") as s:
        s.create_group("/g")
    s2 = repo.writable_session("main")
    with repo.transaction(message="their delete 2") as s:
        s.delete_node("/g")
    s2.create_array("/g/child", shape=[4], chunk_shape=[4])
    s2.commit("add child", rebase_with=ConflictSolver(on_node_conflict="use_theirs"))
    nodes = repo.readonly_session().list_nodes()
    assert "/g/child" not in nodes and "/g" not in nodes

    # use_ours: our create wins and the group is resurrected
    with repo.transaction(message="recreate g again") as s:
        s.create_group("/g")
    s3 = repo.writable_session("main")
    with repo.transaction(message="their delete 3") as s:
        s.delete_node("/g")
    s3.create_array("/g/child", shape=[4], chunk_shape=[4])
    s3.set_chunk_bytes("/g/child", "0", b"c" * 4096)
    s3.commit("add child", rebase_with=ConflictSolver(on_node_conflict="use_ours"))
    sess = repo.readonly_session()
    assert "/g" in sess.list_nodes() and "/g/child" in sess.list_nodes()
    assert sess.get_chunk_bytes("/g/child", "0") == b"c" * 4096


def test_chunks_into_updated_array_conflicts(spark, repo):
    """ChunksUpdatedInUpdatedArray (conflicts/detector.rs): our chunk
    writes into an array THEY resized concurrently.  fail raises;
    use_theirs drops our writes; use_ours keeps them (reads crop to
    the new shape so out-of-bounds writes never surface)."""
    from icechunk_spark.repo import ConflictError, ConflictSolver

    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])

    s1 = repo.writable_session("main")
    with repo.transaction(message="their resize") as s:
        s.update_array("/a", shape=[4])
    s1.set_chunk_bytes("/a", "1", b"w" * 4096)
    with pytest.raises(ConflictError) as ei:
        s1.commit("write into resized")
    assert any(c["kind"] == "updated_node_write" for c in ei.value.conflicts)

    # use_theirs: our writes are dropped
    s2 = repo.writable_session("main")
    with repo.transaction(message="their resize 2") as s:
        s.update_array("/a", shape=[8])
    s2.set_chunk_bytes("/a", "1", b"x" * 4096)
    s2.commit("w", rebase_with=ConflictSolver(on_node_conflict="use_theirs"))
    assert repo.readonly_session().get_chunk_bytes("/a", "1") is None

    # use_ours: our writes land
    s3 = repo.writable_session("main")
    with repo.transaction(message="their resize 3") as s:
        s.update_array("/a", shape=[4])
    s3.set_chunk_bytes("/a", "0", b"y" * 4096)
    s3.commit("w", rebase_with=ConflictSolver(on_node_conflict="use_ours"))
    assert repo.readonly_session().get_chunk_bytes("/a", "0") == b"y" * 4096


def test_icechunk_errors_carry_pep678_diagnostic_note():
    """Reference #2267: the diagnostic report travels as a PEP 678
    note with the stable kind code."""
    from icechunk_spark.errors import IcechunkError
    from icechunk_spark.repo.session import RefError

    try:
        raise RefError("no such ref")
    except IcechunkError as e:
        notes = getattr(e, "__notes__", [])
        assert any("kind=" in n and "RefError" in n for n in notes), notes


def test_manifest_config_commit_concurrency_knob_round_trips():
    """Reference #2274: ManifestConfig.max_concurrent_manifest_fetches
    _during_commit — accepted, validated, persisted."""
    import pytest

    from icechunk_spark.repo.repository import ManifestConfig

    mc = ManifestConfig(max_concurrent_manifest_fetches_during_commit=8)
    assert ManifestConfig.from_dict(mc.to_dict()).max_concurrent_manifest_fetches_during_commit == 8
    assert ManifestConfig.from_dict({}).max_concurrent_manifest_fetches_during_commit == 1
    with pytest.raises(ValueError):
        ManifestConfig(max_concurrent_manifest_fetches_during_commit=0)


def test_partial_chunk_write_read_modify_writes(spark, tmp_path):
    """write_array_df on a region that partially covers a chunk must
    keep the untouched cells (zarr array semantics) — the clobber
    repo_branch_divergence exposed: cells [64, 96) used to reset to
    fill when [96, 224) was written with chunk_shape 64."""
    from pyspark.sql import functions as F

    from icechunk_spark.repo.repository import Repository

    repo = Repository.create(spark, str(tmp_path / "rmw"))
    base = spark.range(256).select(
        F.col("id").alias("i0"), (F.col("id") * 1.0).alias("value")
    )
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[256], chunk_shape=[64])
        s.write_array_df("/a", base)
    with repo.transaction(message="partial") as s:
        s.write_array_df(
            "/a",
            spark.range(96, 224).select(
                F.col("id").alias("i0"), F.lit(-1.0).alias("value")
            ),
        )
    got = {
        r["i0"]: r["value"]
        for r in repo.readonly_session(branch="main")
        .read_array_df("/a")
        .collect()
    }
    for i in range(256):
        expected = -1.0 if 96 <= i < 224 else float(i)
        assert got[i] == expected, (i, got[i])


def test_diagnostic_note_tracks_kind_override():
    """ADVICE r10: raise sites narrow ``_kind`` after construction
    (session.py:162/1451/1593) — the PEP 678 note must report the
    OVERRIDDEN kind, not the one baked at __init__ time."""
    from icechunk_spark.repo.errbase import ErrorKind, IcechunkError

    e = IcechunkError("boom")
    assert any("kind=internal" in n for n in e.__notes__)
    e._kind = ErrorKind.INVALID_INPUT.value
    assert any("kind=invalid_input" in n for n in e.__notes__)
    assert not any("kind=internal" in n for n in e.__notes__)
    # user-attached notes survive a later kind override
    e.add_note("user note")
    e._kind = ErrorKind.SESSION_STATE.value
    assert "user note" in e.__notes__
    assert sum(1 for n in e.__notes__ if n.startswith("icechunk diagnostic")) == 1


def test_duplicate_coordinate_rows_do_not_fake_full_coverage(spark, tmp_path):
    """ADVICE r10: coverage must count DISTINCT in-bounds coordinates.
    64 duplicate rows over 32 cells of a 64-cell chunk used to count
    as full coverage, skipping the RMW and clobbering the untouched
    half with fill."""
    from pyspark.sql import functions as F

    from icechunk_spark.repo.repository import Repository

    repo = Repository.create(spark, str(tmp_path / "dupcov"))
    base = spark.range(256).select(
        F.col("id").alias("i0"), (F.col("id") * 1.0).alias("value")
    )
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[256], chunk_shape=[64])
        s.write_array_df("/a", base)
    # chunk 1 covers [64,128); write [96,128) with every row duplicated
    # so the RAW count (64) equals the chunk extent
    half = spark.range(96, 128).select(
        F.col("id").alias("i0"), F.lit(-1.0).alias("value")
    )
    with repo.transaction(message="dup partial") as s:
        s.write_array_df("/a", half.unionAll(half))
    got = {
        r["i0"]: r["value"]
        for r in repo.readonly_session(branch="main").read_array_df("/a").collect()
    }
    for i in range(256):
        expected = -1.0 if 96 <= i < 128 else float(i)
        assert got[i] == expected, (i, got[i])


def test_fresh_first_write_takes_driver_only_fast_path(spark, tmp_path):
    """The first write_array_df in a fresh repo must decide
    'no merge needed' from driver-side metadata alone — no manifest
    probe job (the headline roundtrip's write is exactly this case)."""
    from unittest import mock

    from pyspark.sql import functions as F

    from icechunk_spark.repo import manifests as mf
    from icechunk_spark.repo.repository import Repository

    repo = Repository.create(spark, str(tmp_path / "fastpath"))
    df = spark.range(128).select(
        F.col("id").alias("i0"), (F.col("id") * 1.0).alias("value")
    )
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[128], chunk_shape=[64])
        with mock.patch.object(
            mf,
            "read_manifest_files",
            side_effect=AssertionError("fresh-array write read manifest files"),
        ):
            s.write_array_df("/a", df)
    got = {
        r["i0"]: r["value"]
        for r in repo.readonly_session(branch="main").read_array_df("/a").collect()
    }
    assert len(got) == 128 and got[5] == 5.0


def test_all_out_of_bounds_write_is_a_noop_on_existing_cells(spark, tmp_path):
    """A write whose rows for a chunk are ALL out of the array shape
    must not emit a chunk file at all (review r11): dropping OOB rows
    only from the coverage COUNT would skip the RMW yet still pack a
    fill-initialized buffer that clobbers the existing cells."""
    from pyspark.sql import functions as F

    from icechunk_spark.repo.repository import Repository

    repo = Repository.create(spark, str(tmp_path / "oob"))
    base = spark.range(100).select(
        F.col("id").alias("i0"), (F.col("id") * 1.0).alias("value")
    )
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[100], chunk_shape=[64])
        s.write_array_df("/a", base)
    # rows land inside chunk 1's [64,128) buffer but OUTSIDE shape 100
    with repo.transaction(message="oob") as s:
        s.write_array_df(
            "/a",
            spark.range(100, 128).select(
                F.col("id").alias("i0"), F.lit(-1.0).alias("value")
            ),
        )
    got = {
        r["i0"]: r["value"]
        for r in repo.readonly_session(branch="main").read_array_df("/a").collect()
    }
    assert len(got) == 100
    for i in range(100):
        assert got[i] == float(i), (i, got[i])
