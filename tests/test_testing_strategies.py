"""icechunk_spark.testing.strategies — the reference-shaped hypothesis
strategies a downstream user's property tests import (reference
testing/strategies.py, same __all__), driven end-to-end against a real
repo."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from icechunk_spark import ManifestConfig, RepositoryConfig
from icechunk_spark.repo import Repository
from icechunk_spark.testing import strategies as ics


def test_all_reference_names_exported():
    # the reference module's __all__ (icechunk-python testing/strategies.py)
    ref_names = {
        "chunk_coordinates",
        "chunk_paths",
        "chunk_slicers",
        "draw_older_than",
        "repository_configs",
        "splitting_configs",
    }
    assert ref_names == set(ics.__all__)
    for n in ics.__all__:
        assert callable(getattr(ics, n))


@given(data=st.data())
@settings(max_examples=20, deadline=None)
def test_chunk_coordinate_family(data):
    numblocks = data.draw(
        st.tuples(*([st.integers(min_value=1, max_value=5)] * data.draw(st.integers(1, 3))))
    )
    coord = data.draw(ics.chunk_coordinates(numblocks))
    assert all(0 <= c < b for c, b in zip(coord, numblocks))
    path = data.draw(ics.chunk_paths(numblocks))
    parts = [int(p) for p in path.split("/")]
    assert all(0 <= c < b for c, b in zip(parts, numblocks))
    chunk_shape = tuple(data.draw(st.integers(1, 4)) for _ in numblocks)
    slicer = data.draw(ics.chunk_slicers(numblocks, chunk_shape))
    for sl, size, b in zip(slicer, chunk_shape, numblocks):
        assert sl.stop - sl.start == size
        assert 0 <= sl.start < b * size


@given(data=st.data())
@settings(max_examples=10, deadline=None)
def test_splitting_and_repository_configs(data):
    from icechunk_spark.repo.format import ArrayMeta

    arrays = [
        ("/a", ArrayMeta(node_id="n1", shape=[40, 8], chunk_shape=[10, 4], dtype="float64", fill_value=0.0)),
        ("/g/b", ArrayMeta(node_id="n2", shape=[16], chunk_shape=[4], dtype="float64", fill_value=0.0)),
    ]
    cfg = data.draw(
        ics.repository_configs(
            inline_chunk_threshold_bytes=st.integers(0, 1024),
            splitting=ics.splitting_configs(arrays=arrays),
        )
    )
    assert isinstance(cfg, RepositoryConfig)
    assert isinstance(cfg.manifest, ManifestConfig)
    # the typed splitting compiled to the persisted dict form and
    # round-trips through config serde
    assert cfg.manifest.splitting is None or isinstance(cfg.manifest.splitting, dict)
    assert RepositoryConfig.from_dict(cfg.to_dict()).to_dict() == cfg.to_dict()


@pytest.fixture(scope="module")
def strat_repo(spark, tmp_path_factory):
    """ONE fixed repo for the whole module: hypothesis requires the
    strategy's draw bounds (snapshot written_at stamps) to be stable
    across replays, so the repo must not be rebuilt per example."""
    root = str(tmp_path_factory.mktemp("strat") / "repo")
    repo = Repository.create(spark, root)
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"x" * 600)
    return repo, root


@given(data=st.data())
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_draw_older_than_band(strat_repo, data):
    from icechunk_spark.repo import format as fmt

    repo, root = strat_repo
    stamps = [fmt.read_snapshot(root, s).written_at for s in fmt.list_snapshot_ids(root)]
    cutoff = ics.draw_older_than(data, root)
    assert isinstance(cutoff, datetime.datetime)
    assert cutoff.tzinfo is not None
    # datetime truncates to microseconds, so allow that much slack at
    # the band edges
    assert min(stamps) - 1.0 - 1e-5 <= cutoff.timestamp() <= max(stamps) + 1.0 + 1e-5


def test_drawn_cutoff_drives_expire(spark, strat_repo):
    repo, root = strat_repo
    from icechunk_spark.repo import format as fmt

    stamps = [fmt.read_snapshot(root, s).written_at for s in fmt.list_snapshot_ids(root)]
    cutoff = datetime.datetime.fromtimestamp(
        max(stamps) + 1.0, tz=datetime.timezone.utc
    )
    expired = repo.expire_snapshots(older_than=cutoff)
    assert isinstance(expired, set)
