"""inspect_metadata_file (reference #2216 analog: fetch_header /
parse_file_header — a single read-only entry point that discovers any
metadata file's kind, format, and compression from CONTENT, plus the
repo's pinned spec version)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import icechunk_spark.repo.format as fmt
from icechunk_spark.repo import Repository, RepositoryConfig


@pytest.fixture
def repo(spark, tmp_path):
    r = Repository.create(spark, str(tmp_path / "repo"))
    with r.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[2])
        s.write_array_df(
            "/a",
            spark.range(4).select(F.col("id").alias("i0"), F.lit(1.0).alias("value")),
        )
    r.create_tag("v1", r.lookup_branch("main"))
    return r


def test_every_metadata_kind_is_discovered(spark, repo):
    tip_id = repo.lookup_branch("main")
    tip = fmt.read_snapshot(repo.root, tip_id)

    snap = repo.inspect_metadata_file(f"snapshots/{tip_id}.json")
    assert (snap["kind"], snap["format"], snap["compression"]) == (
        "snapshot",
        "json",
        "none",
    )
    assert snap["spec_version"] == repo.spec_version()

    info = repo.inspect_metadata_file("repo.json")
    assert (info["kind"], info["format"]) == ("repo-info", "json")

    tag = repo.inspect_metadata_file("refs/tag.v1/ref.json")
    assert tag["kind"] == "ref"
    gens = [
        f
        for f in fmt.resolve_storage(repo.root).list_dir("refs/branch.main")
        if f.endswith(".json")
    ]
    branch = repo.inspect_metadata_file(f"refs/branch.main/{sorted(gens)[-1]}")
    assert branch["kind"] == "ref"

    man = repo.inspect_metadata_file(tip.manifests[0])
    assert (man["kind"], man["format"]) == ("manifest", "parquet")
    assert man["compression"] in ("snappy", "uncompressed", "none", "zstd", "gzip")

    tx = repo.inspect_metadata_file(f"txlogs/{tip_id}.parquet")
    assert (tx["kind"], tx["format"]) == ("transaction-log", "parquet")

    # a write_array_df chunk dir carries its rows' manifest columns next
    # to payload: the dir and its part file are still chunk data, and a
    # manifest part file is still a manifest
    chunk_dir = repo.readonly_session().chunk_manifest_df("/a").first()["file"]
    assert repo.inspect_metadata_file(chunk_dir)["kind"] == "chunk-data"
    for rel, kind in ((chunk_dir, "chunk-data"), (tip.manifests[0], "manifest")):
        part = next(p for p in sorted(os.listdir(fmt.data_path(repo.root, rel))) if p.endswith(".parquet"))
        out = repo.inspect_metadata_file(f"{rel}/{part}")
        assert (out["kind"], out["format"]) == (kind, "parquet")


def test_zlib_snapshots_and_tombstones_and_unknown(spark, tmp_path):
    root = str(tmp_path / "zrepo")
    repo = Repository.create(
        spark, root, config=RepositoryConfig.from_dict({"compression": {"algorithm": "zlib"}})
    )
    with repo.transaction(message="c1") as s:
        s.create_group("/g")
    tip_id = repo.lookup_branch("main")
    snap = repo.inspect_metadata_file(f"snapshots/{tip_id}.json")
    assert (snap["kind"], snap["compression"]) == ("snapshot", "zlib")

    cfg = repo.inspect_metadata_file("config.json")
    assert cfg["kind"] == "config"

    repo.create_tag("gone", tip_id)
    repo.delete_tag("gone")
    tomb = repo.inspect_metadata_file("refs/tag-deleted.gone.json")
    assert tomb["kind"] == "ref-tombstone"

    # unreadable / nonsense content: best-effort unknown, never a crash
    fmt.resolve_storage(root).put("weird.bin", b"\x00\x01\x02garbage")
    weird = repo.inspect_metadata_file("weird.bin")
    assert weird["kind"] == "unknown"
    missing = repo.inspect_metadata_file("nope/missing.json")
    assert missing["kind"] == "unknown"


def test_cli_inspect_file(spark, repo, capsys):
    from icechunk_spark.cli import main

    tip_id = repo.lookup_branch("main")
    assert main(["inspect-file", repo.root, f"snapshots/{tip_id}.json"]) == 0
    doc = json.loads(capsys.readouterr().out)
    assert doc["kind"] == "snapshot" and doc["format"] == "json"


def test_corrupt_zlib_and_additive_txlog_columns(spark, repo):
    """Best-effort contract under damage and extension (review r13):
    a truncated ICZ1 doc reports zlib/unknown instead of crashing, and
    an additive txlog column must not demote the kind."""
    fmt.resolve_storage(repo.root).put("snapshots/broken.json", b"ICZ1\x01trunc")
    out = repo.inspect_metadata_file("snapshots/broken.json")
    assert (out["kind"], out["compression"]) == ("unknown", "zlib")

    import os

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    tip_id = repo.lookup_branch("main")
    src = fmt.data_path(repo.root, f"txlogs/{tip_id}.parquet")
    t = ds.dataset(src, format="parquet").to_table()
    t = t.append_column("reason", pa.array(["r"] * len(t), pa.string()))
    dest = fmt.data_path(repo.root, "txlogs/future.parquet")
    os.makedirs(dest)
    pq.write_table(t.replace_schema_metadata(None), os.path.join(dest, "p0.parquet"))
    out = repo.inspect_metadata_file("txlogs/future.parquet")
    assert out["kind"] == "transaction-log"
