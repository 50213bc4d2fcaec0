"""Pins for the resolved-refs frame (``manifests.resolve_manifests``):
one ``mapInArrow`` over per-node c0 tiles, each tile resolved by
``manifests.live_refs`` — the resolver point reads use — with no
shuffle, window or join; and ``Repository.diff_df`` on the same tiles."""

from __future__ import annotations

import pytest

import icechunk_spark.repo.format as fmt
from icechunk_spark import engine
from icechunk_spark.repo import Repository
from icechunk_spark.repo import manifests as mf
from icechunk_spark.repo.repository import ManifestConfig, RepositoryConfig
from tests.conftest import count_jobs


@pytest.fixture
def repo(spark, tmp_path):
    """/a: 16x2 chunks in manifests of at most 4 refs, a ref whose key
    has no coordinates (c0..c3 NULL), and a commit of tombstones."""
    cfg = RepositoryConfig(manifest=ManifestConfig(splitting={"max_refs_per_manifest": 4}))
    r = Repository.create(spark, str(tmp_path / "r"), config=cfg)
    with r.transaction(message="v1") as s:
        s.create_array("/a", shape=[64, 8], chunk_shape=[4, 4])
        for i in range(16):
            for j in range(2):
                s.set_chunk_bytes("/a", f"{i}.{j}", bytes([i, j]) * 16)
        s.set_chunk_bytes("/a", "", b"no coordinates")
    with r.transaction(message="v2") as s:
        for i in range(0, 16, 3):
            s.delete_chunk("/a", f"{i}.0")
    return r


def test_tiles_lose_and_duplicate_no_row(spark, repo, monkeypatch):
    """Forced to one tile per part file, the frame holds every live ref
    exactly once — the NULL-coordinate one in the open first tile — and
    agrees with the point resolver, over the whole array and a range."""
    monkeypatch.setattr(engine, "file_split_count", lambda spark, sizes: len(sizes))
    s = repo.writable_session("main")
    s.set_chunk_bytes("/a", "5.1", b"buffered")
    s.delete_chunk("/a", "7.1")
    nid = s.array_meta("/a").node_id
    units = mf._units(spark, fmt.data_path(repo.root), [list(s._ref_layers(None))], [nid], None)
    tiles = [rng[0] for _, rng in units]
    assert len(tiles) > 4 and tiles[0][0] is None and tiles[-1][1] is None
    assert all(hi + 1 == lo for (_, hi), (lo, _) in zip(tiles, tiles[1:]))

    want = sorted(r["chunk_key"] for r in s._live_refs(nid))
    got = [r["chunk_key"] for r in s.chunk_manifest_df("/a").collect()]
    assert sorted(got) == want and len(got) == 16 * 2 - 6 - 1 + 1
    assert "" in got and "7.1" not in got
    buffered = s.chunk_manifest_df("/a").filter("chunk_key = '5.1'").collect()
    assert [bytes(r["inline"]) for r in buffered] == [b"buffered"]

    rng = ((2, 9), (1, 1))
    want = sorted(r["chunk_key"] for r in mf.live_refs(
        list(s._ref_layers(nid, chunk_range=rng)), fmt.data_path(repo.root), nid, chunk_range=rng))
    got = sorted(r["chunk_key"] for r in s._resolved_manifest(nid, rng).collect())
    assert got == want == [f"{i}.1" for i in range(2, 10) if i != 7]


def test_resolve_and_diff_are_one_job_without_exchange(spark, repo):
    ro = repo.readonly_session()
    frame = ro.chunk_manifest_df()
    assert count_jobs(spark, lambda: frame.write.format("noop").mode("overwrite").save())[1] == 1
    v1, v2 = [snap.id for snap in repo.ancestry(branch="main")][1::-1]
    diff = repo.diff_df(v1, v2)
    assert count_jobs(spark, lambda: diff.write.format("noop").mode("overwrite").save())[1] == 1
    for df in (frame, diff):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Window" not in plan
    assert sorted(r["chunk_key"] for r in diff.collect()) == sorted(f"{i}.0" for i in range(0, 16, 3))
    assert {r["change"] for r in diff.collect()} == {"deleted"}
