"""A region read and a point read of the same session agree.

``read_array_df`` runs one task per share of the payload part files;
each task resolves the range's live refs from the session's ref layers
(chunk buffer, staged items, base snapshot — ``manifests.live_refs``)
and reads the payloads of its share itself.  ``get_chunk_bytes`` resolves one key
through the same layers on the driver.  For every chunk in range, the
cells a region read returns must be exactly the bytes the point read
returns (cropped to the array shape and the slice), and a chunk the
point read reports missing must yield no cells.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pytest

from icechunk_spark.engine import local_df
from icechunk_spark.repo import ConflictSolver, Repository
from icechunk_spark.repo import format as fmt

SHAPE, CHUNK = [5, 6], [2, 2]  # 3 x 3 chunks, the last row cropped


def _full(v):
    return np.full(4, v, "<f8").tobytes()


def _expected(session, path, slices=None):
    """The cells of the range, chunk by chunk, from ``get_chunk_bytes``."""
    meta = session.array_meta(path)
    grid = meta.grid_shape()
    want, present = {}, 0
    for ci in range(grid[0]):
        for cj in range(grid[1]):
            raw = session.get_chunk_bytes(path, f"{ci}.{cj}")
            if raw is None:
                continue
            present += 1
            buf = np.frombuffer(raw, "<f8").reshape(CHUNK)
            for a in range(CHUNK[0]):
                for b in range(CHUNK[1]):
                    i, j = ci * CHUNK[0] + a, cj * CHUNK[1] + b
                    inside = i < SHAPE[0] and j < SHAPE[1]
                    if slices is not None:
                        inside &= slices[0][0] <= i < slices[0][1] and slices[1][0] <= j < slices[1][1]
                    if inside:
                        want[(i, j)] = float(buf[a, b])
    return want, present


def _agree(session, path="/h", slices=None):
    rows = session.read_array_df(path, slices).collect()
    got = {(r["i0"], r["i1"]): r["value"] for r in rows}
    assert len(got) == len(rows)  # no cell twice (shares are disjoint)
    want, present = _expected(session, path, slices)
    assert got == want
    return present


def _agree_everywhere(session, path="/h"):
    """Whole array and two slices (one inside a chunk row, one across
    the cropped boundary); returns the number of chunks present."""
    n = _agree(session, path)
    _agree(session, path, [(1, 4), (0, 5)])
    _agree(session, path, [(3, 5), (2, 6)])
    return n


def _base(spark, root):
    repo = Repository.create(spark, root)
    with repo.transaction(message="base") as s:
        s.create_array("/h", shape=SHAPE, chunk_shape=CHUNK)
        s.write_array_df("/h", local_df(
            spark,
            [{"i0": i, "i1": j, "value": float(10 * i + j)} for i in range(4) for j in range(6)],
            "i0 bigint, i1 bigint, value double",
        ))
    return repo


@pytest.fixture()
def repo(spark, tmp_path):
    return _base(spark, str(tmp_path / "repo"))


def test_base_and_committed_history(repo):
    ro = repo.readonly_session()
    assert _agree_everywhere(ro) == 6
    with repo.transaction(message="v2") as s:
        s.set_chunk_bytes("/h", "2.2", _full(5.0))
        s.delete_chunk("/h", "0.1")
    assert _agree_everywhere(repo.readonly_session()) == 6
    assert _agree_everywhere(ro) == 6  # the old snapshot still reads as it was


def test_buffer_and_merged_fork_file_item(repo):
    w = repo.writable_session("main")
    f = w.fork()
    f.set_chunk_bytes("/h", "1.1", _full(3.0))
    f.set_chunk_bytes("/h", "2.0", _full(4.0))
    w.merge(f)
    assert [kind for kind, _ in w._staged] == ["file"]
    w.set_chunk_bytes("/h", "2.0", _full(6.0))  # the buffer shadows the file item
    w.delete_chunk("/h", "0.0")
    w.set_chunk_bytes("/h", "2.1", _full(1.5))
    assert _agree_everywhere(w) == 7
    assert w.get_chunk_bytes("/h", "2.0") == _full(6.0)
    w.commit("fork and buffer")
    assert _agree_everywhere(repo.readonly_session()) == 7


def test_write_delete_and_shift_items(spark, repo):
    s = repo.writable_session("main")
    s.write_array_df("/h", local_df(
        spark, [{"i0": 4, "i1": j, "value": -1.0 * j} for j in range(6)],
        "i0 bigint, i1 bigint, value double",
    ))
    assert [kind for kind, _ in s._staged] == ["file"]
    assert _agree_everywhere(s) == 9
    s.delete_chunks_prefix("/h", (1,))
    assert _agree_everywhere(s) == 6
    s.shift_array("/h", [0, 1])  # column 2 falls off, column 0 is vacated
    # every item is a file from the moment it is staged
    assert [kind for kind, _ in s._staged] == ["file"] * 4
    assert _agree_everywhere(s) == 4
    s.commit("write, delete and shift")
    assert _agree_everywhere(repo.readonly_session()) == 4


def test_items_after_a_rebase(spark, repo):
    a = repo.writable_session("main")
    a.write_array_df("/h", local_df(
        spark, [{"i0": i, "i1": j, "value": 100.0 + i} for i in range(2) for j in range(6)],
        "i0 bigint, i1 bigint, value double",
    ))
    a.set_chunk_bytes("/h", "2.2", _full(8.0))
    a.delete_chunks_prefix("/h", (1,))
    with repo.transaction(message="theirs") as b:
        b.set_chunk_bytes("/h", "0.1", _full(-3.0))
    a.rebase(ConflictSolver(on_chunk_conflict="use_theirs"))
    assert a.get_chunk_bytes("/h", "0.1") == _full(-3.0)
    assert _agree_everywhere(a) == 4
    a.commit("after rebase")
    assert _agree_everywhere(repo.readonly_session()) == 4


def test_inline_and_vcc_virtual_refs(spark, tmp_path):
    ext = tmp_path / "external.bin"
    ext.write_bytes(b"HDR!" + np.arange(8, dtype="<f8").tobytes())
    prefix = f"file://{tmp_path}/"
    repo = _base(spark, str(tmp_path / "repo"))
    repo.set_virtual_chunk_container("data", prefix)
    with repo.transaction(message="virtual") as s:
        s.set_virtual_ref("/h", "2.2", "vcc://data/external.bin", offset=4, length=32)
        s.set_virtual_ref("/h", "0.2", f"{prefix}external.bin", offset=36, length=32)
        s.set_chunk_bytes("/h", "1.2", _full(2.5))  # 32 bytes: inlined at flush
    auth = Repository.open(spark, repo.root, authorize_virtual_chunk_access={prefix: None})
    ro = auth.readonly_session()
    assert [ro.chunk_type("/h", (c, 2)).name for c in range(3)] == ["virtual", "inline", "virtual"]
    assert _agree_everywhere(ro) == 7
    w = auth.writable_session("main")
    w.set_virtual_ref("/h", "2.0", "vcc://data/external.bin", offset=4, length=32)
    assert _agree_everywhere(w) == 8


def test_memory_root(spark):
    from icechunk_spark.repo import InMemoryObjectStorage

    bucket = f"t{uuid.uuid4().hex[:8]}"
    try:
        repo = _base(spark, f"memory://{bucket}/repo")
        w = repo.writable_session("main")
        w.set_chunk_bytes("/h", "2.1", _full(9.0))
        assert _agree_everywhere(w) == 7
        w.commit("memory")
        assert _agree_everywhere(repo.readonly_session()) == 7
    finally:
        InMemoryObjectStorage.wipe_bucket(bucket)


def test_task_reads_map_hadoop_schemes(spark, repo, monkeypatch):
    """The tasks read manifests and payloads under the data root the
    driver resolved; an ``s3a://`` root maps through ``fsio._fs_path``
    (stubbed onto the local repo, so no object store is contacted).
    The task body runs here on the driver, where the stub applies."""
    from pyarrow import fs as pafs

    from icechunk_spark.repo import fsio

    w = repo.writable_session("main")
    f = w.fork()
    f.set_chunk_bytes("/h", "1.1", _full(3.0))
    w.merge(f)
    w.set_chunk_bytes("/h", "0.0", _full(4.0))
    local = fmt.data_path(repo.root)
    real = fsio._fs_path

    def fake(path):
        if path.startswith("s3a://bucket/"):
            return pafs.LocalFileSystem(), os.path.join(local, path[len("s3a://bucket/"):])
        return real(path)

    monkeypatch.setattr(fsio, "_fs_path", fake)
    meta = w.array_meta("/h")
    layers = list(w._ref_layers(meta.node_id))
    got = _decode_on_driver(spark, "s3a://bucket", meta, layers, ((0, 2), (0, 2)))
    assert got == _expected(w, "/h")[0]
    assert got[(2, 2)] == 3.0 and got[(0, 0)] == 4.0


def _decode_on_driver(spark, data_root, meta, layers, rng, slices=None):
    """A region read's task bodies, share by share, run here on the
    driver (where monkeypatches apply): the cells they return."""
    from icechunk_spark.repo import arrays

    n, parts = arrays.read_shares(spark, data_root, layers, rng)
    got = {}
    for share in range(n):
        for pdf in arrays.decode_share(share, n, rng, data_root, layers, meta, slices, None, parts):
            cells = {(int(a), int(b)): float(v) for a, b, v in zip(pdf["i0"], pdf["i1"], pdf["value"])}
            assert not set(cells) & set(got)
            got.update(cells)
    return got


def test_each_payload_file_is_read_by_one_share(spark, tmp_path, monkeypatch):
    """One write's payloads land in several part files, and the read of
    that write runs several shares.  Each part file is opened by exactly
    one share, and the whole read still returns every cell."""
    from icechunk_spark.repo import arrays

    repo = Repository.create(spark, str(tmp_path / "repo"))
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")  # one part file per shuffle partition
    try:
        with repo.transaction(message="many parts") as s:
            s.create_array("/m", shape=[16, 16], chunk_shape=[2, 2])
            s.write_array_df("/m", local_df(
                spark, [{"i0": i, "i1": j, "value": float(16 * i + j)} for i in range(16) for j in range(16)],
                "i0 bigint, i1 bigint, value double",
            ))
    finally:
        spark.conf.set(key, old)
    ro = repo.readonly_session()
    meta = ro.array_meta("/m")
    layers = list(ro._ref_layers(meta.node_id))
    rng = ((0, 7), (0, 7))
    n, parts = arrays.read_shares(spark, fmt.data_path(repo.root), layers, rng)
    assert len(parts) >= 2 and n >= 2, (len(parts), n)
    opened = []
    real = arrays.read_native_payloads

    def counting(path, chunk_ids):
        opened.append(path)
        return real(path, chunk_ids)

    monkeypatch.setattr(arrays, "read_native_payloads", counting)
    got = _decode_on_driver(spark, fmt.data_path(repo.root), meta, layers, rng)
    assert got == {(i, j): float(16 * i + j) for i in range(16) for j in range(16)}
    assert sorted(opened) == sorted(
        os.path.join(fmt.data_path(repo.root), rel, part) for rel, part, _ in parts
    )
    assert {(r["i0"], r["i1"]): r["value"] for r in ro.read_array_df("/m").collect()} == got


def test_pack_parts_deals_every_part_once():
    from icechunk_spark.repo.arrays import pack_parts

    parts = [("a", f"p{i}", size) for i, size in enumerate([9, 1, 5, 5, 3, 7, 2])]
    for n in (1, 2, 3, 7, 9):
        groups = pack_parts(parts, n)
        assert len(groups) == n
        assert sorted(p for g in groups for p in g) == sorted(parts)
        assert groups == pack_parts(list(reversed(parts)), n)  # order-free
    loads = [sum(p[2] for p in g) for g in pack_parts(parts, 3)]
    assert max(loads) - min(loads) <= 1
