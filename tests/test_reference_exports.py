"""Full public-API surface conformance vs the reference.

The reference's top-level ``__all__``
(icechunk-python/python/icechunk/__init__.py:130-260) is vendored
below; every name must be importable from ``icechunk_spark`` so a
reference user's imports work unchanged.  Functional smokes cover the
pieces with real behavior behind them: the error hierarchy, the
conflict-solver algebra in an actual rebase, credential factory
dispatch, manifest split/preload rule evaluation end-to-end, the
ancestry graph, typed ops-log entries, and the HTTP / redirect
storage backends (served by a stdlib http.server).
"""

from __future__ import annotations

import json
import threading

import pytest

import icechunk_spark as ics
from tests.conftest import count_jobs

# Vendored from the reference __init__ (public repo) — the compatibility
# contract this engine promises.
REFERENCE_ALL = [
    "AlreadyExistsError", "AncestryGraph", "AnyAzureCredential",
    "AnyAzureStaticCredential", "AnyCredential", "AnyGcsCredential",
    "AnyGcsStaticCredential", "AnyObjectStoreConfig", "AnyS3Credential",
    "AzureCredentials", "AzureRefreshableCredential", "AzureStaticCredentials",
    "BasicConflictSolver", "CachingConfig", "ChecksumAlgorithm", "ChunkType",
    "CommitMethod", "CompressionAlgorithm", "CompressionConfig", "Conflict",
    "ConflictDetector", "ConflictError", "ConflictSolver", "ConflictType",
    "Credentials", "Diff", "ErrorKind", "FeatureFlag", "ForkSession",
    "FormatError", "GCSummary", "GcsBearerCredential", "GcsCredentials",
    "GcsStaticCredentials", "IcechunkError", "IcechunkStore", "InternalError",
    "InvalidInputError", "ManifestConfig", "ManifestFileInfo",
    "ManifestPreloadCondition", "ManifestPreloadConfig",
    "ManifestSplitCondition", "ManifestSplitDimCondition",
    "ManifestSplittingConfig",
    "ManifestVirtualChunkLocationCompressionConfig", "NodeNotFoundError",
    "NotFoundError", "ObjectStoreConfig", "ReadOnlyError",
    "RebaseFailedError", "RefNotFoundError", "RepoAvailability", "RepoStatus",
    "Repository", "RepositoryConfig", "RepositoryNotFoundError",
    "S3Credentials", "S3Options", "S3StaticCredentials", "Session",
    "SessionMode", "SessionStateError", "SnapshotInfo",
    "SnapshotNotFoundError", "SpecVersion", "Storage",
    "StorageConcurrencySettings", "StorageError", "StorageRetriesSettings",
    "StorageSettings", "StorageTimeoutSettings", "Update", "UpdateType",
    "VersionSelection", "VirtualChunkContainer", "VirtualChunkSpec",
    "azure_anonymous_credentials", "azure_credentials",
    "azure_from_env_credentials", "azure_refreshable_credentials",
    "azure_static_credentials", "azure_storage", "containers_credentials",
    "gcs_credentials", "gcs_from_env_credentials",
    "gcs_refreshable_credentials", "gcs_static_credentials", "gcs_storage",
    "gcs_store", "http_storage", "http_store", "in_memory_storage",
    "initialize_logs", "local_filesystem_storage", "local_filesystem_store",
    "print_debug_info", "r2_storage", "redirect_storage",
    "s3_anonymous_credentials", "s3_credentials", "s3_from_env_credentials",
    "s3_refreshable_credentials", "s3_static_credentials", "s3_storage",
    "s3_store", "set_logs_filter", "shutdown_telemetry", "spec_version",
    "tigris_storage", "user_agent", "__version__",
]


def test_every_reference_name_is_exported():
    missing = [n for n in REFERENCE_ALL if not hasattr(ics, n)]
    assert not missing, f"missing reference exports: {missing}"
    # and the engine's own __all__ is importable/resolvable
    bad = [n for n in ics.__all__ if not hasattr(ics, n)]
    assert not bad


def test_error_hierarchy_and_kinds():
    # engine-core exceptions are IcechunkError and carry stable kinds
    from icechunk_spark.repo.format import RefError

    assert issubclass(RefError, ics.IcechunkError)
    assert issubclass(ics.ConflictError, ics.IcechunkError)
    assert issubclass(ics.RebaseFailedError, ics.ConflictError)
    assert issubclass(ics.StorageConflict, ics.IcechunkError)
    assert issubclass(ics.CASUnsupported, ics.IcechunkError)
    e = RefError("branch gone")
    assert e.kind == "ref_not_found" and "branch gone" in e.message
    ce = ics.ConflictError([{"kind": "chunk", "node_id": "n", "chunk_key": "c/0"}])
    assert ce.kind == "rebase_failed" and ce.conflicts
    try:
        raise RefError("x")
    except ics.IcechunkError:
        pass  # catchable via the reference base, like the reference


def test_conflict_objects_and_detector_in_real_rebase(spark, tmp_path):
    repo = ics.Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"x" * 4096)
    s1 = repo.writable_session("main")
    s2 = repo.writable_session("main")
    s1.set_chunk_bytes("/a", "0", b"a" * 4096)
    s1.commit("w1")
    s2.set_chunk_bytes("/a", "0", b"b" * 4096)
    with pytest.raises(ics.RebaseFailedError) as ei:
        s2.rebase(ics.ConflictDetector())
    typed = ics.conflicts_of(ei.value)
    assert typed and typed[0].conflict_type == ics.ConflictType.ChunkDoubleUpdate
    assert typed[0].conflicted_chunks == [[0]]
    # BasicConflictSolver(UseOurs) resolves the same conflict
    s2.rebase(ics.BasicConflictSolver(on_chunk_conflict=ics.VersionSelection.UseOurs))
    s2.commit("w2")
    ro = repo.readonly_session()
    assert ro.get_chunk_bytes("/a", "0") == b"b" * 4096


def test_credential_factories_dispatch():
    st = ics.s3_credentials(access_key_id="k", secret_access_key="s")
    assert isinstance(st, ics.S3Credentials.Static)
    assert st.credentials.access_key_id == "k"
    assert isinstance(ics.s3_credentials(anonymous=True), ics.S3Credentials.Anonymous)
    assert isinstance(ics.s3_credentials(from_env=True), ics.S3Credentials.FromEnv)
    refreshed = []

    def fetch():
        refreshed.append(1)
        return ics.S3StaticCredentials("a", "b")

    r = ics.s3_refreshable_credentials(fetch, scatter_initial_credentials=True)
    assert refreshed == [1] and r.current.access_key_id == "a"
    with pytest.raises(ValueError):
        ics.s3_credentials(access_key_id="k", anonymous=True)
    creds = ics.containers_credentials(
        {"c1": st}, c2=ics.gcs_credentials(anonymous=True), c3=None
    )
    assert isinstance(creds["c1"], ics.Credentials.S3)
    assert isinstance(creds["c2"], ics.Credentials.Gcs)
    assert creds["c3"] is None


def test_s3_storage_accepts_credential_objects():
    st = ics.s3_storage(
        "bucket", "p", credentials=ics.s3_credentials(access_key_id="k", secret_access_key="s")
    )
    assert st._s3_opts["aws_access_key_id"] == "k"  # CAS plane gets the same identity


def test_manifest_split_condition_algebra():
    c = ics.ManifestSplitCondition.name_matches("temp") | ics.ManifestSplitCondition.path_matches("^/model/")
    assert c.matches("/obs/temperature")
    assert c.matches("/model/x")
    assert not c.matches("/obs/humidity")
    both = ics.ManifestSplitCondition.and_conditions(
        [ics.ManifestSplitCondition.path_matches("^/model/"), ics.ManifestSplitCondition.name_matches("x")]
    )
    assert both.matches("/model/x") and not both.matches("/model/y")
    # dict round-trip survives
    from icechunk_spark.types import _Cond

    assert _Cond.from_dict(c.to_dict()).matches("/model/x")


def test_manifest_splitting_config_end_to_end(spark, tmp_path):
    """An array matching the split rule gets size-capped per-array
    manifests; a non-matching array stays in one file."""
    cfg = ics.ManifestSplittingConfig.from_dict(
        {ics.ManifestSplitCondition.name_matches("^big$"): {ics.ManifestSplitDimCondition.Any(): 2}}
    )
    repo = ics.Repository.create(
        spark,
        str(tmp_path / "r"),
        config=ics.RepositoryConfig(manifest=ics.ManifestConfig(splitting=cfg)),
    )
    with repo.transaction(message="w") as s:
        s.create_array("/big", shape=[24], chunk_shape=[4])
        s.create_array("/small", shape=[24], chunk_shape=[4])
        for i in range(6):
            s.set_chunk_bytes("/big", str(i), bytes([i]) * 4096)
            s.set_chunk_bytes("/small", str(i), bytes([i]) * 4096)
    tip = repo.lookup_snapshot(repo.lookup_branch("main"))
    big_id = repo.readonly_session().array_meta("/big").node_id
    small_id = repo.readonly_session().array_meta("/small").node_id
    big_files = [m for m in tip.manifests if f"__node={big_id}" in m]
    small_files = [m for m in tip.manifests if f"__node={small_id}" in m]
    # 6 refs, cap 2 -> 3 split files for /big; /small has exactly one
    assert len(big_files) == 3, tip.manifests
    assert len(small_files) == 1, tip.manifests
    ro = repo.readonly_session()
    assert ro.get_chunk_bytes("/big", "5") == bytes([5]) * 4096
    assert ro.get_chunk_bytes("/small", "0") == b"\x00" * 4096


def test_manifest_preload_config_rules():
    cfg = ics.ManifestPreloadConfig(
        max_total_refs=100,
        preload_if=ics.ManifestPreloadCondition.name_matches("^(time|lat|lon)$"),
    )
    pairs = [("/data/lat", 10), ("/data/lon", 10), ("/data/values", 10), ("/data/time", 200)]
    # /data/time exceeds nothing individually but 200 > budget left
    assert cfg.paths_to_preload(pairs) == ["/data/lat", "/data/lon"]
    # default preload condition targets CF coordinate names only
    default = ics.ManifestPreloadConfig()
    assert default.paths_to_preload([("/a/time", 5), ("/a/values", 5)]) == ["/a/time"]


def test_preload_config_in_repository(spark, tmp_path):
    cfg = ics.RepositoryConfig(
        manifest=ics.ManifestConfig(
            preload=ics.ManifestPreloadConfig(
                preload_if=ics.ManifestPreloadCondition.true()
            )
        )
    )
    repo = ics.Repository.create(spark, str(tmp_path / "r"), config=cfg)
    with repo.transaction(message="w") as s:
        s.create_array("/x", shape=[8], chunk_shape=[4])
        s.set_chunk_bytes("/x", "0", b"x" * 4096)
    ro = repo.readonly_session()  # accepted; the preload has no effect
    assert ro.get_chunk_bytes("/x", "0") == b"x" * 4096


def test_ancestry_graph_render(spark, tmp_path):
    repo = ics.Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="first commit") as s:
        s.create_group("/g")
    repo.create_tag("v1", repo.lookup_branch("main"))
    g = repo.ancestry_graph()
    text = str(g)
    assert isinstance(g, ics.AncestryGraph)
    assert "branch:main" in text and "tag:v1" in text and "first commit" in text
    svg = g._repr_svg_()
    assert svg.startswith("<svg") and "first commit" in svg
    plain = repo.ancestry_graph(plain=True)
    assert "●" not in str(plain)


def test_ops_log_typed_updates(spark, tmp_path):
    repo = ics.Repository.create(spark, str(tmp_path / "r"))
    repo.create_branch("dev", repo.lookup_branch("main"))
    repo.create_tag("v1", repo.lookup_branch("main"))
    kinds = [u.kind_typed for u in repo.ops_log()]
    assert any(isinstance(k, ics.UpdateType.BranchCreated) and k.name == "dev" for k in kinds)
    assert any(isinstance(k, ics.UpdateType.TagCreated) and k.name == "v1" for k in kinds)


def test_spec_version_surface():
    assert ics.spec_version() == int(ics.SpecVersion.current())
    assert ics.SpecVersion.v1 < ics.SpecVersion.v2
    assert ics.supported_spec_versions()
    assert ics.user_agent().startswith("icechunk_spark/")
    ics.initialize_logs("WARNING")
    ics.set_logs_filter("icechunk_spark=ERROR")
    ics.shutdown_telemetry()


@pytest.fixture()
def http_repo_server(tmp_path):
    """Serve a directory over HTTP; also answer /redirect with a 302
    pointing at a file:// URI (for redirect_storage)."""
    import http.server

    root = tmp_path / "served"
    root.mkdir()
    (root / "repo.json").write_text(json.dumps({"format_version": 2}))

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(root), **kw)

        def do_HEAD(self):  # noqa: N802
            if self.path.startswith("/redirect-ic"):
                # a redirect service marking an http Location TERMINAL
                # via the +icechunk scheme tag (#2262)
                host, port = self.server.server_address
                self.send_response(302)
                self.send_header("Location", f"http+icechunk://{host}:{port}/")
                self.end_headers()
                return
            if self.path.startswith("/redirect"):
                self.send_response(302)
                self.send_header("Location", "memory://redirect-target")
                self.end_headers()
                return
            super().do_HEAD()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", root
    srv.shutdown()


def test_http_storage_read_only(http_repo_server):
    url, root = http_repo_server
    st = ics.http_storage(url, headers={"x-test": "1"})
    assert st.exists("repo.json")
    assert json.loads(st.get("repo.json"))["format_version"] == 2
    assert st.getsize("repo.json") == len((root / "repo.json").read_bytes())
    with pytest.raises(FileNotFoundError):
        st.get("missing.json")
    with pytest.raises(ics.ReadOnlyError):
        st.put("x", b"data")
    with pytest.raises(ics.ReadOnlyError):
        st.delete("repo.json")


def test_redirect_storage_follows_to_scheme(http_repo_server, tmp_path):
    url, _ = http_repo_server
    st = ics.redirect_storage(f"{url}/redirect")
    # the 302 Location names a storage scheme -> resolves to that backend
    assert isinstance(st, ics.InMemoryObjectStorage)


@pytest.mark.parametrize("tag", ["http+icechunk", "http+ic"])
def test_redirect_storage_strips_icechunk_scheme(http_repo_server, tag):
    """A Location of ``http+icechunk://…`` is TERMINAL http storage
    with the scheme tag stripped — not a resolve_storage failure
    (reference redirect.rs:211-221, #2262)."""
    url, _ = http_repo_server
    st = ics.redirect_storage(f"{url}/redirect-ic")
    assert json.loads(st.get("repo.json"))["format_version"] == 2
    assert st.data_root.startswith("http://")
    # the documented user flow: pasting the tagged URL as base_url
    direct = ics.redirect_storage(url.replace("http://", f"{tag}://"))
    assert json.loads(direct.get("repo.json"))["format_version"] == 2
    assert "+ic" not in direct.data_root


def test_store_config_helpers():
    s3c = ics.s3_store(region="r", s3_compatible=True)
    assert isinstance(s3c, ics.ObjectStoreConfig.S3Compatible)
    assert isinstance(ics.s3_store(), ics.ObjectStoreConfig.S3)
    assert isinstance(ics.gcs_store({"a": "b"}), ics.ObjectStoreConfig.Gcs)
    assert isinstance(ics.local_filesystem_store("/x"), ics.ObjectStoreConfig.LocalFileSystem)
    assert isinstance(ics.http_store(), ics.ObjectStoreConfig.Http)
    with pytest.raises(ValueError):
        ics.VirtualChunkContainer(url_prefix="s3://b/no-trailing-slash")
    vc = ics.VirtualChunkContainer(url_prefix="s3://b/p/", store=ics.s3_store(), name="c")
    assert vc.name == "c"
    spec = ics.VirtualChunkSpec(index=[0, 1], location="s3://b/p/f.nc", offset=0, length=10)
    assert spec.index == [0, 1]


def test_cli_graph_command(spark, tmp_path, capsys):
    from icechunk_spark.cli import main

    root = str(tmp_path / "repo")
    repo = ics.Repository.create(spark, root)
    with repo.transaction(message="seed commit") as s:
        s.create_group("/g")
    assert main(["graph", root, "--plain"]) == 0
    out = capsys.readouterr().out
    assert "branch:main" in out and "seed commit" in out and "●" not in out


def test_basic_solver_flags_scope_to_their_kinds(spark, tmp_path):
    """fail_on_delete_of_updated_array must NOT fail an unrelated
    metadata-double-update conflict (review r5): the flag scopes to
    delete/write races only."""
    repo = ics.Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
    s1 = repo.writable_session("main")
    s2 = repo.writable_session("main")
    s1.update_attrs("/a", {"v": 1})
    s1.commit("m1")
    s2.update_attrs("/a", {"v": 2})
    # unrelated node conflict (double metadata update) resolves use_ours
    s2.rebase(ics.BasicConflictSolver(fail_on_delete_of_updated_array=True))
    s2.commit("m2")
    assert repo.readonly_session().array_meta("/a").attrs == {"v": 2}


def test_bare_credentials_default_to_from_env():
    assert isinstance(ics.s3_credentials(), ics.S3Credentials.FromEnv)
    assert isinstance(ics.gcs_credentials(), ics.GcsCredentials.FromEnv)
    assert isinstance(ics.azure_credentials(), ics.AzureCredentials.FromEnv)


def test_open_create_raise_reference_error_types(spark, tmp_path):
    with pytest.raises(ics.RepositoryNotFoundError):
        ics.Repository.open(spark, str(tmp_path / "missing"))
    root = str(tmp_path / "r")
    ics.Repository.create(spark, root)
    with pytest.raises(ics.AlreadyExistsError):
        ics.Repository.create(spark, root)
    # both remain catchable via the common base
    with pytest.raises(ics.IcechunkError):
        ics.Repository.open(spark, str(tmp_path / "missing2"))


def test_open_or_create_forwards_virtual_auth(spark, tmp_path):
    root = str(tmp_path / "r")
    ics.Repository.create(spark, root)
    repo = ics.Repository.open_or_create(
        spark, root, authorize_virtual_chunk_access={"c1": None}
    )
    assert "c1" in repo.authorized_virtual_container_prefixes or True
    # the kwarg must reach open() — absence would throw nothing, so
    # assert via the repo's recorded auth map
    assert repo._virtual_auth == {"c1": None}


def test_manifests_rewritten_is_typed(spark, tmp_path):
    repo = ics.Repository.create(spark, str(tmp_path / "r"))
    with repo.transaction(message="w") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"x" * 4096)
    repo.rewrite_manifests()
    kinds = [u.kind_typed for u in repo.ops_log()]
    assert any(isinstance(k, ics.UpdateType.ManifestsRewritten) for k in kinds)


def test_ancestry_graph_deep_history_no_recursion_error():
    from icechunk_spark.repo.format import SnapshotInfo
    from icechunk_spark.snapshots import AncestryGraph

    n = 3000
    snaps = {}
    for i in range(n):
        sid = f"s{i:05d}"
        snaps[sid] = SnapshotInfo(
            id=sid,
            parent_id=f"s{i - 1:05d}" if i else None,
            message=f"c{i}",
            metadata={},
            written_at=0.0,
            seq=i,
            manifests=[],
            nodes={},
        )
    g = AncestryGraph(snaps, {"branch:main": f"s{n - 1:05d}"}, plain=True)
    text = str(g)  # must not RecursionError
    assert text.splitlines()[0].lstrip().startswith("* s00000")
    assert len(text.splitlines()) == n


def test_testing_module_parity(spark, tmp_path):
    from icechunk_spark.testing import LatencyStorage, assert_ancestry_invariants

    repo = ics.Repository.create(spark, str(tmp_path / "r"))
    for i in range(3):
        with repo.transaction(message=f"c{i}") as s:
            s.create_group(f"/g{i}")
    chain = list(repo.ancestry(branch="main"))
    assert_ancestry_invariants(chain)
    with pytest.raises(AssertionError):
        assert_ancestry_invariants(chain + [chain[0]])  # duplicate
    assert LatencyStorage is not None


def test_compaction_preserves_split_layout(spark, tmp_path):
    """rewrite_manifests on a repo configured with per-rule splitting
    must keep the split layout (reference design-docs/005) — not
    collapse everything into one monolithic manifest."""
    cfg = ics.ManifestSplittingConfig.from_dict(
        {ics.ManifestSplitCondition.AnyArray(): {ics.ManifestSplitDimCondition.Any(): 2}}
    )
    repo = ics.Repository.create(
        spark,
        str(tmp_path / "r"),
        config=ics.RepositoryConfig(manifest=ics.ManifestConfig(splitting=cfg)),
    )
    with repo.transaction(message="w1") as s:
        s.create_array("/a", shape=[24], chunk_shape=[4])
        for i in range(4):
            s.set_chunk_bytes("/a", str(i), bytes([i]) * 4096)
    with repo.transaction(message="w2") as s:
        for i in range(4, 6):
            s.set_chunk_bytes("/a", str(i), bytes([i]) * 4096)
    snap_id = repo.rewrite_manifests()
    tip = repo.lookup_snapshot(snap_id)
    # 6 refs, cap 2 -> the compacted snapshot still has 3 split files
    assert len(tip.manifests) == 3, tip.manifests
    ro = repo.readonly_session()
    for i in range(6):
        assert ro.get_chunk_bytes("/a", str(i)) == bytes([i]) * 4096


def _parent_map(repo) -> dict:
    """snapshot id -> parent id over every ref's history, walked with
    the public ``ancestry()``: the oracle for the history-graph helpers."""
    out: dict = {}
    refs = [{"branch": b} for b in repo.list_branches()]
    refs += [{"tag": t} for t in repo.list_tags()]
    for ref in refs:
        for s in repo.ancestry(**ref):
            if s.id in out:
                break
            out[s.id] = s.parent_id
    return out


@pytest.fixture(scope="module")
def history_template(spark, tmp_path_factory):
    """A history with every shape the graph helpers must handle:

    * main: root <- m1 <- m2 <- m3 <- m4, each commit writing one native
      chunk (m2 and m4 overwrite m1's and m3's chunk);
    * a tag-only chain: ``keep`` -> s2 <- s1 <- m2 (its branch deleted),
      plus s3 past the tag, reachable from no ref;
    * an orphan txlog: a txlog whose snapshot file does not exist.

    Expiring everything older than now drops m1..m3 and s1, so m4 and s2
    become expiration boundaries that carry txlogs.  Tests copy the
    template (mtimes preserved) instead of rebuilding it."""
    import shutil

    from icechunk_spark.repo.format import new_id

    root = str(tmp_path_factory.mktemp("history") / "r")
    repo = ics.Repository.create(spark, root)
    ids: dict = {}

    def commit(branch, name, key, fill):
        with repo.transaction(branch, message=name) as s:
            if name == "m1":
                s.create_array("/a", shape=[16], chunk_shape=[4])
            s.set_chunk_bytes("/a", key, bytes([fill]) * 1024)
        ids[name] = repo.lookup_branch(branch)

    commit("main", "m1", "0", 1)
    commit("main", "m2", "0", 2)
    repo.create_branch("feat", ids["m2"])
    commit("feat", "s1", "2", 11)
    commit("feat", "s2", "2", 12)
    repo.create_tag("keep", ids["s2"])
    commit("feat", "s3", "3", 13)
    repo.delete_branch("feat")
    commit("main", "m3", "1", 3)
    commit("main", "m4", "1", 4)
    ids["root"] = next(
        s.id for s in repo.ancestry(branch="main") if s.parent_id is None
    )
    ids["orphan"] = new_id()
    shutil.copytree(
        f"{root}/txlogs/{ids['m1']}.parquet", f"{root}/txlogs/{ids['orphan']}.parquet"
    )
    return root, ids


@pytest.fixture(params=["driver", "executor"])
def history(request, spark, tmp_path, monkeypatch, history_template):
    """A fresh copy of the template history, with ``Repository._map_names``
    forced onto the executor side (threshold 1) for ``executor``."""
    import shutil

    from icechunk_spark.repo.repository import Repository

    if request.param == "executor":
        monkeypatch.setattr(Repository, "_PARALLEL_SNAPSHOT_READ_MIN", 1)
    src, ids = history_template
    root = str(tmp_path / "r")
    shutil.copytree(src, root)
    return request.param, ics.Repository.open(spark, root), ids


def _names(root: str, sub: str) -> set:
    import os

    if sub != "chunks":
        return set(os.listdir(f"{root}/{sub}"))
    return {
        f"{shard}/{name}"
        for shard in os.listdir(f"{root}/chunks")
        for name in os.listdir(f"{root}/chunks/{shard}")
    }


def test_snapshot_reachability_matches_ancestry(history):
    """_reachable_snapshots (one graph read + _chain per ref) equals the
    ancestry() oracle in both dispatch modes: the tag-only chain is
    reachable, the dangling s3 is not."""
    _mode, repo, ids = history
    live = repo._reachable_snapshots()
    oracle = _parent_map(repo)
    assert set(live) == set(oracle)
    assert {i: n.parent_id for i, n in live.items()} == oracle
    assert {ids["s1"], ids["s2"]} <= set(live)
    assert ids["s3"] not in live


def test_expire_matches_ancestry_oracle(spark, history):
    """expire_snapshots expires exactly the non-tip, non-root snapshots
    of every ref's chain, re-parents both boundaries onto the root with
    the dropped txlogs carried in order (design-doc 016), and runs a
    Spark job only on the executor side."""
    mode, repo, ids = history
    oracle = _parent_map(repo)
    tips = {repo.lookup_branch("main"), repo.lookup_tag("keep")}
    expected = {i for i, p in oracle.items() if p is not None} - tips
    expired, n_jobs = count_jobs(spark, lambda: repo.expire_snapshots(older_than_seconds=0))
    assert expired == expected == {ids[k] for k in ("m1", "m2", "m3", "s1")}
    assert (n_jobs == 0) == (mode == "driver"), n_jobs
    m4, s2 = repo.lookup_snapshot(ids["m4"]), repo.lookup_snapshot(ids["s2"])
    assert m4.parent_id == s2.parent_id == ids["root"]
    assert list(m4.pruned_ancestor_tx_logs) == [ids["m1"], ids["m2"], ids["m3"]]
    assert list(s2.pruned_ancestor_tx_logs) == [ids["m1"], ids["m2"], ids["s1"]]
    assert set(_parent_map(repo)) == {ids["root"], ids["m4"], ids["s2"]}


def test_gc_reaps_exact_sets(history):
    """After expiration, GC deletes exactly the unreachable snapshots,
    and the surviving txlogs/, manifests/ and chunks/ names are exactly
    what the live snapshots need (their own and carried txlogs, their
    manifests, the chunk files those manifests name), in both dispatch
    modes.  A dry run reports the same counts and changes nothing."""
    import pyarrow.parquet as pq

    _mode, repo, ids = history
    root = repo.root
    repo.expire_snapshots(older_than_seconds=0)
    live = {i: repo.lookup_snapshot(i) for i in _parent_map(repo)}
    keep_tx = set(live) | {t for s in live.values() for t in s.pruned_ancestor_tx_logs}
    live_manifests = {m for s in live.values() for m in s.manifests}
    before = {sub: _names(root, sub) for sub in ("snapshots", "txlogs", "manifests", "chunks")}
    expected = {
        "snapshots": {f"{i}.json" for i in live},
        "txlogs": {n for n in before["txlogs"] if n.removesuffix(".parquet") in keep_tx},
        "manifests": {m.split("/", 1)[1] for m in live_manifests},
        "chunks": {
            f.split("/", 1)[1]
            for m in live_manifests
            for f in pq.read_table(f"{root}/{m}", columns=["file"]).column("file").to_pylist()
            if f is not None
        },
    }
    # every kind of object has something to reap
    for sub in expected:
        assert expected[sub] < before[sub], sub
    assert f"{ids['orphan']}.parquet" not in expected["txlogs"]
    assert {f"{ids[k]}.parquet" for k in ("m1", "m2", "m3", "s1")} <= expected["txlogs"]

    dry = repo.garbage_collect(dry_run=True, older_than_seconds=0)
    assert {sub: _names(root, sub) for sub in before} == before
    real = repo.garbage_collect(dry_run=False, older_than_seconds=0)
    assert dry == real
    after = {sub: _names(root, sub) for sub in before}
    assert after == expected
    assert before["snapshots"] - after["snapshots"] == {
        f"{ids[k]}.json" for k in ("m1", "m2", "m3", "s1", "s3")
    }
    assert real.snapshots_deleted == 5
    assert real.txlogs_deleted == len(before["txlogs"] - after["txlogs"])
    assert real.manifests_deleted == len(before["manifests"] - after["manifests"])
    assert real.chunk_files_deleted == len(before["chunks"] - after["chunks"])
    ro = repo.readonly_session(tag="keep")
    assert ro.get_chunk_bytes("/a", "2") == bytes([12]) * 1024
    assert repo.readonly_session().get_chunk_bytes("/a", "1") == bytes([4]) * 1024


def test_walk_live_resolves_ids_missing_from_stale_graph(spark, tmp_path):
    """A ref tip absent from the (stale) snapshot graph must be resolved
    by _chain with a fresh read, and memoised into the graph —
    truncating the chain there would hand live history to GC."""
    repo = ics.Repository.create(spark, str(tmp_path / "r"))
    ids = []
    for i in range(3):
        with repo.transaction(message=f"c{i}") as s:
            s.create_group(f"/g{i}")
        ids.append(repo.lookup_branch("main"))
    root_id = next(s.id for s in repo.ancestry(branch="main") if s.parent_id is None)
    graph = repo._snapshot_graph()
    assert {i: n.parent_id for i, n in graph.items()} == _parent_map(repo)
    # simulate a tip that landed after the graph was read
    del graph[ids[-1]]
    chain = repo._chain(graph, ids[-1])
    assert [n.id for n in chain] == ids[::-1] + [root_id]
    assert graph[ids[-1]].parent_id == ids[-2]
