"""RepositoryConfig depth: compression, caching, manifest preload,
commit retry bound, partial-values concurrency (reference parity:
icechunk-python RepositoryConfig + CompressionConfig + CachingConfig +
ManifestConfig + RepoUpdateRetryConfig)."""

from __future__ import annotations

import pytest

from icechunk_spark.repo import (
    CachingConfig,
    CompressionConfig,
    ManifestConfig,
    RefError,
    Repository,
    RepositoryConfig,
)
from icechunk_spark.repo import format as fmt
from tests.conftest import count_jobs


@pytest.fixture()
def repo(spark, tmp_path):
    return Repository.create(spark, str(tmp_path / "repo"))


def _write_array(repo, spark, msg="v"):
    with repo.transaction(message=msg) as s:
        if "/a" not in s.list_nodes():
            s.create_array("/a", shape=[8], chunk_shape=[4])
        s.write_array_df(
            "/a", spark.range(8).selectExpr("id AS i0", "CAST(id AS DOUBLE) AS value")
        )


def test_config_nested_roundtrip(spark, repo):
    cfg = RepositoryConfig(
        compression=CompressionConfig(algorithm="zlib", level=6),
        caching=CachingConfig(num_chunk_refs=1000),
        manifest=ManifestConfig(preload_paths=["/a"]),
        repo_update_retries=3,
        get_partial_values_concurrency=4,
    )
    repo.save_config(cfg)
    got = Repository.open(spark, repo.root).config()
    assert got.compression.algorithm == "zlib" and got.compression.level == 6
    assert got.caching.num_chunk_refs == 1000
    assert got.manifest.preload_paths == ["/a"]
    assert got.repo_update_retries == 3
    assert got.get_partial_values_concurrency == 4


def test_snapshot_compression_and_mixed_read(spark, repo, tmp_path):
    _write_array(repo, spark, "uncompressed era")
    plain_snap = repo.lookup_branch("main")
    # raw doc on disk is plain JSON
    raw = open(tmp_path / "repo" / "snapshots" / f"{plain_snap}.json", "rb").read()
    assert raw[:1] == b"{"

    repo.save_config(RepositoryConfig(compression=CompressionConfig(algorithm="zlib")))
    _write_array(repo, spark, "compressed era")
    comp_snap = repo.lookup_branch("main")
    raw = open(tmp_path / "repo" / "snapshots" / f"{comp_snap}.json", "rb").read()
    assert raw[:4] == b"ICZ1"

    # both eras read back transparently
    assert repo.lookup_snapshot(plain_snap).message == "uncompressed era"
    assert repo.lookup_snapshot(comp_snap).message == "compressed era"
    rows = repo.readonly_session().read_array_df("/a").collect()
    assert sorted(r["value"] for r in rows) == [float(i) for i in range(8)]


def test_repo_update_retries_bounds_cas_loop(spark, repo, monkeypatch):
    repo.save_config(RepositoryConfig(repo_update_retries=2))
    _write_array(repo, spark)
    s = repo.writable_session("main")
    s.set_chunk_bytes("/a", "0", b"y" * 16)

    calls = {"n": 0}

    def always_lose(root, name, snapshot_id, expected_gen):
        calls["n"] += 1
        raise RefError("branch moved (simulated contention)")

    monkeypatch.setattr(fmt, "update_branch", always_lose)
    with pytest.raises(RefError, match="2 times"):
        s.commit("contended")
    assert calls["n"] == 2


def test_caching_config_opens_sessions_without_a_job(spark, repo):
    """CachingConfig is accepted for reference parity and has no
    effect: a session opens with no Spark job and resolves the same
    refs on every call."""
    repo.save_config(RepositoryConfig(caching=CachingConfig(num_chunk_refs=10_000)))
    _write_array(repo, spark)
    sess, jobs = count_jobs(spark, repo.readonly_session)
    assert jobs == 0
    first = sess.chunk_manifest_df("/a").collect()
    second = sess.chunk_manifest_df("/a").collect()
    assert len(first) == 2
    assert sorted(r["chunk_id"] for r in first) == sorted(r["chunk_id"] for r in second)
    assert sorted(r["value"] for r in sess.read_array_df("/a").collect()) == [float(i) for i in range(8)]


def test_manifest_preload_config_opens_sessions_without_a_job(spark, repo):
    """With caching and both preload forms (paths, one missing, and the
    typed ManifestPreloadConfig) a session still opens with no Spark
    job and reads correct values: the preload has no effect."""
    from icechunk_spark.types import ManifestPreloadCondition, ManifestPreloadConfig

    repo.save_config(
        RepositoryConfig(
            caching=CachingConfig(num_chunk_refs=10_000),
            manifest=ManifestConfig(
                preload_paths=["/a", "/does-not-exist"],
                preload=ManifestPreloadConfig(preload_if=ManifestPreloadCondition.true()),
            ),
        )
    )
    _write_array(repo, spark)
    sess, jobs = count_jobs(spark, repo.readonly_session)
    assert jobs == 0
    assert sorted(r["value"] for r in sess.read_array_df("/a").collect()) == [float(i) for i in range(8)]
    assert sess.get_chunk_bytes("/a", "1") is not None


def test_manifest_preload_without_caching_runs_no_job(spark, repo):
    """Without caching a preload would resolve a manifest and drop it:
    opening the session skips it and launches no Spark job."""
    repo.save_config(RepositoryConfig(manifest=ManifestConfig(preload_paths=["/a"])))
    _write_array(repo, spark)
    sess, jobs = count_jobs(spark, repo.readonly_session)
    assert jobs == 0
    assert not hasattr(sess, "_manifest_cache")
    assert sorted(r["value"] for r in sess.read_array_df("/a").collect()) == [float(i) for i in range(8)]


def test_get_partial_values_concurrency(spark, repo):
    repo.save_config(RepositoryConfig(get_partial_values_concurrency=8))
    _write_array(repo, spark)
    from icechunk_spark.repo.store import ChunkStore

    store = ChunkStore(repo.readonly_session())
    keys = [("a/c/0", (0, 8)), ("a/c/1", (8, 8)), ("a/zarr.json", (None, None))]
    out = store.get_partial_values(keys)
    assert len(out) == 3 and all(v is not None for v in out)
    assert len(out[0]) == 8 and len(out[1]) == 8
