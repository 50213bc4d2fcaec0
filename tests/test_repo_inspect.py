"""Inspection + config surface (reference parity:
Repository.inspect_repo_info / inspect_manifest /
inspect_transaction_log / RepositoryConfig round-trip)."""

from __future__ import annotations

from pyspark.sql import functions as F

from icechunk_spark.repo import Repository
from icechunk_spark.repo.repository import RepositoryConfig


def grid_df(spark, n=8, m=8):
    return spark.range(n * m).select(
        (F.col("id") / m).cast("long").alias("i0"),
        (F.col("id") % m).alias("i1"),
        F.col("id").cast("double").alias("value"),
    )


def test_config_roundtrip(spark, tmp_path):
    """A config.json with the retired ``target_chunk_file_mb`` and
    ``manifest_split_files`` keys still opens: they ride in ``extra``
    and are written back untouched."""
    repo = Repository.create(spark, str(tmp_path / "r"))
    assert repo.config() == RepositoryConfig()  # defaults when unset
    assert Repository.fetch_config(repo.root) is None
    old_keys = {"target_chunk_file_mb": 128, "manifest_split_files": 2}
    cfg = RepositoryConfig.from_dict({"inline_chunk_threshold_bytes": 256, **old_keys})
    assert cfg.extra == old_keys and cfg.inline_chunk_threshold_bytes == 256
    repo.save_config(cfg)
    assert repo.config() == cfg
    assert Repository.fetch_config(repo.root) == cfg
    assert {k: repo.config().to_dict()[k] for k in old_keys} == old_keys
    assert repo.spec_version() == 2


def test_inspect_repo_info(spark, tmp_path):
    repo = Repository.create(spark, str(tmp_path / "r"), metadata={"team": "ml"})
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8, 8], chunk_shape=[4, 4])
        s.write_array_df("/a", grid_df(spark))
    tip = repo.lookup_branch("main")
    repo.create_tag("rel", tip)
    repo.create_branch("dev", tip)
    repo.create_tag("tmp", tip)
    repo.delete_tag("tmp")

    info = repo.inspect_repo_info()
    assert info["spec_version"] == 2
    assert info["branches"]["main"] == tip and info["branches"]["dev"] == tip
    assert info["tags"] == {"rel": tip}
    assert info["deleted_tags"] == ["tmp"]
    assert tip in info["snapshots"] and len(info["snapshots"]) == 2
    assert info["metadata"] == {"team": "ml"}


def test_inspect_manifest_and_txlog(spark, tmp_path):
    repo = Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8, 8], chunk_shape=[4, 4])
        s.write_array_df("/a", grid_df(spark))
    tip = repo.lookup_branch("main")
    snap = repo.lookup_snapshot(tip)
    assert len(snap.manifests) == 1

    m = repo.inspect_manifest(snap.manifests[0])
    assert m["num_arrays"] == 1
    assert m["total_chunk_refs"] == 4  # 2x2 chunk grid
    assert m["total_native"] == 4 and m["total_virtual"] == 0
    assert m["size_bytes"] > 0
    (stats,) = m["arrays"].values()
    assert stats["chunk_refs"] == 4 and stats["bytes"] > 0

    tx = repo.inspect_transaction_log(tip)
    assert tx["id"] == tip
    (chunk_stats,) = tx["chunks_updated"].values()
    assert chunk_stats == {"set": 4}
    assert {o["op"] for o in tx["node_ops"]} == {"node_create"}


def test_inline_chunks(spark, tmp_path):
    repo = Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[24], chunk_shape=[8])
        s.set_chunk_bytes("/a", "0", b"tiny")          # below 512 => inline
        s.set_chunk_bytes("/a", "1", b"x" * 4096)      # above => chunk file
    tip = repo.lookup_branch("main")
    snap = repo.lookup_snapshot(tip)

    m = repo.inspect_manifest(snap.manifests[0])
    assert m["total_inline"] == 1 and m["total_native"] == 1

    sess = repo.readonly_session()
    assert sess.get_chunk_bytes("/a", "0") == b"tiny"
    assert sess.get_chunk_bytes("/a", "1") == b"x" * 4096

    # inline rows reference no chunk file; only the big write made one
    import os
    cdir = os.path.join(repo.root, "chunks")
    n_payload_dirs = len(os.listdir(cdir)) if os.path.isdir(cdir) else 0
    assert n_payload_dirs == 1


def test_rearrange_session_move_only(spark, tmp_path):
    import pytest
    from icechunk_spark.repo import RefError

    repo = Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"x" * 16)

    rs = repo.rearrange_session()
    with pytest.raises(RefError):
        rs.set_chunk_bytes("/a", "1", b"y")
    with pytest.raises(RefError):
        rs.create_array("/b", shape=[4], chunk_shape=[4])
    rs.move("/a", "/renamed")
    rs.commit("rename a")

    sess = repo.readonly_session()
    assert sess.get_chunk_bytes("/renamed", "0") == b"x" * 16
    assert "/renamed" in sess.list_nodes() and "/a" not in sess.list_nodes()


def test_gc_dry_run(spark, tmp_path):
    repo = Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.write_array_df("/a", grid_df(spark, 2, 4).select("i0", "value"))
    with repo.transaction(message="v2") as s:
        s.write_array_df("/a", grid_df(spark, 2, 4).select("i0", "value"))
    # orphan v1's history by resetting main onto v2's snapshot only
    expired = repo.expire_snapshots(older_than_seconds=-1)  # everything but pinned
    dry = repo.garbage_collect(dry_run=True, older_than_seconds=-1)
    assert dry.snapshots_deleted >= 1
    # nothing actually deleted
    wet = repo.garbage_collect(older_than_seconds=-1)
    assert wet.snapshots_deleted == dry.snapshots_deleted
    assert wet.chunk_files_deleted == dry.chunk_files_deleted


def test_expire_deletes_stale_refs(spark, tmp_path):
    import time as _t

    repo = Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"v1")
    old_tip = repo.lookup_branch("main")
    repo.create_branch("stale", old_tip)
    repo.create_tag("old_rel", old_tip)
    _t.sleep(0.05)
    cut = _t.time()  # refs at old_tip are now older than this cutoff
    with repo.transaction(message="v2") as s:
        s.set_chunk_bytes("/a", "0", b"v2")

    expired = repo.expire_snapshots(
        0, now=cut, delete_expired_branches=True, delete_expired_tags=True
    )
    assert old_tip in expired
    assert repo.list_branches() == {"main"}
    assert repo.list_tags() == set()
    # main history is intact
    assert repo.readonly_session().get_chunk_bytes("/a", "0") == b"v2"


def test_diff_df_chunk_changes(spark, tmp_path):
    repo = Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[24], chunk_shape=[8])
        s.set_chunk_bytes("/a", "0", b"tiny")        # inline
        s.set_chunk_bytes("/a", "1", b"x" * 4096)    # native
    v1 = repo.lookup_branch("main")
    with repo.transaction(message="v2") as s:
        s.set_chunk_bytes("/a", "0", b"tiny2")       # update inline
        s.delete_chunk("/a", "1")                    # delete native
        s.set_chunk_bytes("/a", "2", b"new")         # add inline
    v2 = repo.lookup_branch("main")

    changes = {
        (r["change"], r["chunk_key"]) for r in repo.diff_df(v1, v2).collect()
    }
    assert changes == {("updated", "0"), ("deleted", "1"), ("added", "2")}

    d = repo.diff(from_snapshot_id=v1, to_snapshot_id=v2)
    assert d.chunks_written == 2 and d.chunks_deleted == 1


def _changes(repo, a, b) -> set[tuple[str, str, str]]:
    return {(r["change"], r["node_id"], r["chunk_key"]) for r in repo.diff_df(a, b).collect()}


def test_diff_across_rewrite_manifests_is_empty(spark, tmp_path):
    """Compaction replaces every manifest file but no live ref: the
    diff compares refs, not files."""
    repo = Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8, 8], chunk_shape=[4, 4])
        s.write_array_df("/a", grid_df(spark))
    with repo.transaction(message="v2") as s:
        s.set_chunk_bytes("/a", "1.1", b"y" * 4096)
        s.delete_chunk("/a", "0.0")
    before = repo.lookup_branch("main")
    after = repo.rewrite_manifests()
    old, new = (repo.list_manifest_files(x) for x in (before, after))
    assert not set(old) & set(new)
    assert _changes(repo, before, after) == set()
    assert _changes(repo, after, before) == set()


def test_diff_lists_every_chunk_of_an_array_in_one_snapshot(spark, tmp_path):
    """An array created after ``a`` has every chunk added, and one
    deleted before ``b`` every chunk deleted, although a deleted node's
    refs stay in the manifests ``b`` lists."""
    repo = Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="v1") as s:
        s.create_array("/old", shape=[8, 8], chunk_shape=[4, 4])
        s.write_array_df("/old", grid_df(spark))
    v1 = repo.lookup_branch("main")
    with repo.transaction(message="v2") as s:
        s.delete_node("/old")
        s.create_array("/new", shape=[16], chunk_shape=[4])
        for k in range(3):
            s.set_chunk_bytes("/new", str(k), bytes([k]) * 32)
    v2 = repo.lookup_branch("main")
    old_id = repo.lookup_snapshot(v1).nodes["/old"]["node_id"]
    new_id = repo.lookup_snapshot(v2).nodes["/new"]["node_id"]
    grid = {f"{i}.{j}" for i in range(2) for j in range(2)}
    assert _changes(repo, v1, v2) == (
        {("deleted", old_id, k) for k in grid} | {("added", new_id, str(k)) for k in range(3)}
    )
    assert _changes(repo, v2, v1) == (
        {("added", old_id, k) for k in grid} | {("deleted", new_id, str(k)) for k in range(3)}
    )
    d = repo.diff(from_snapshot_id=v1, to_snapshot_id=v2)
    assert (d.chunks_written, d.chunks_deleted) == (3, 4)
    assert d.new_nodes == ["/new"] and d.deleted_nodes == ["/old"]


def test_diff_virtual_ref_repointed_is_updated(spark, tmp_path):
    ext = tmp_path / "external.bin"
    ext.write_bytes(bytes(range(256)))
    repo = Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="v1") as s:
        s.create_array("/v", shape=[8], chunk_shape=[4])
        s.set_virtual_ref("/v", "0", str(ext), 0, 32, validate_container=False)
        s.set_virtual_ref("/v", "1", str(ext), 32, 32, validate_container=False)
    v1 = repo.lookup_branch("main")
    with repo.transaction(message="v2") as s:
        s.set_virtual_ref("/v", "0", str(ext), 64, 32, validate_container=False)
        s.set_virtual_ref("/v", "1", str(ext), 32, 32, validate_container=False)
    v2 = repo.lookup_branch("main")
    assert {(c, k) for c, _, k in _changes(repo, v1, v2)} == {("updated", "0")}


def test_diff_df_counts_equal_diff_on_split_manifests(spark, tmp_path):
    """With manifests split at 4 refs per file, a diff resolves each
    node in c0 tiles; its per-change counts equal ``Repository.diff``
    and the chunks each commit touched."""
    from icechunk_spark.repo.repository import ManifestConfig

    cfg = RepositoryConfig(manifest=ManifestConfig(splitting={"max_refs_per_manifest": 4}))
    repo = Repository.create(spark, str(tmp_path / "r"), config=cfg)
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[64, 64], chunk_shape=[8, 8])
        for i in range(8):
            for j in range(8):
                s.set_chunk_bytes("/a", f"{i}.{j}", bytes([i, j]) * 512)
    v1 = repo.lookup_branch("main")
    with repo.transaction(message="v2") as s:
        for i in range(8):
            s.set_chunk_bytes("/a", f"{i}.{i}", b"u" * 1024)  # updated
        for j in range(1, 8):
            s.delete_chunk("/a", f"0.{j}")  # deleted
    v2 = repo.lookup_branch("main")
    assert len(repo.list_manifest_files(v2)) >= 16
    for a, b, want in ((v1, v2, {"updated": 8, "deleted": 7}), (v2, v1, {"updated": 8, "added": 7})):
        got = {r["change"]: r["count"] for r in repo.diff_df(a, b).groupBy("change").count().collect()}
        assert got == want
        d = repo.diff(from_snapshot_id=a, to_snapshot_id=b)
        assert (d.chunks_written, d.chunks_deleted) == (
            got.get("added", 0) + got.get("updated", 0), got.get("deleted", 0)
        )


def test_repr_surface(spark, tmp_path):
    """Notebook ergonomics: Repository/Session/ChunkStore repr and
    _repr_html_ (reference display.rs, _repr_html_ wrappers)."""
    from icechunk_spark.repo.store import ChunkStore

    repo = Repository.create(spark, str(tmp_path / "rr"))
    r = repr(repo)
    assert "Repository(" in r and "main" in r and "spec_version=2" in r
    assert "<table>" in repo._repr_html_()

    s = repo.writable_session("main")
    assert "writable" in repr(s) and "branch='main'" in repr(s)
    s.create_group("/g")
    assert "uncommitted" in repr(s)
    assert "<table>" in s._repr_html_()

    ro = repo.readonly_session()
    assert "read-only" in repr(ro)
    st = ChunkStore(ro)
    assert "ChunkStore(read-only" in repr(st)
    assert "ChunkStore" in st._repr_html_()
