"""Pins for the read-modify-write (RMW) merge of ``write_array_df``:
a chunk the incoming rows only partly cover must keep the cells they
do not touch.  The merge runs inside the encode — one shuffle
cogroups the rows with the pre-dedup manifest rows of the chunks they
touch, and the
pack reads the latest ref's bytes for partly covered chunks.  The
subtle cases are FILELESS existing refs (a committed virtual ref, or
an inline/buffered payload: their manifest rows have file IS NULL),
tombstones, boundary chunks, duplicate and out-of-bounds rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import numpy as np
import pytest

from icechunk_spark.engine import local_df
from icechunk_spark.repo import Repository
from tests.conftest import count_jobs


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"icrmw_{uuid.uuid4().hex}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(spark, coords_vals):
    return local_df(
        spark,
        [{"i0": int(i), "value": float(v)} for i, v in coords_vals],
        "i0 bigint, value double",
    )


def _read(session, path="/a"):
    return {int(r["i0"]): r["value"] for r in session.read_array_df(path).collect()}


def _chunk_ids(session, path="/a"):
    return {
        r["chunk_key"]: r["chunk_id"]
        for r in session.chunk_manifest_df(path).select("chunk_key", "chunk_id").collect()
    }


def _committed_0_to_7(spark, root, shape=8):
    repo = Repository.create(spark, root)
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[shape], chunk_shape=[4], fill_value=-1.0)
        s.write_array_df("/a", _rows(spark, [(i, float(i)) for i in range(shape)]))
    return repo


def test_partial_write_over_committed_virtual_ref_still_merges(
    spark, root, tmp_path
):
    """Existing cells live behind a VIRTUAL ref (manifest row with
    file IS NULL); a later partial write into that chunk must
    read-modify-write through the virtual read path, not clobber."""
    ext = tmp_path / "external.bin"
    with open(ext, "wb") as f:
        f.write(b"HDR!")
        f.write(np.array([10.0, 11.0, 12.0, 13.0]).tobytes())
    repo = Repository.create(spark, root)
    prefix = str(tmp_path) + "/"
    repo.set_virtual_chunk_container("data", prefix)
    repo = Repository.open(
        spark, root, authorize_virtual_chunk_access={prefix: None}
    )
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
        s.set_virtual_ref("/a", "0", str(ext), offset=4, length=32)
    with repo.transaction(message="v2") as s:
        s.write_array_df("/a", _rows(spark, [(0, 99.0), (2, 98.0)]))
    got = {
        int(r["i0"]): r["value"]
        for r in repo.readonly_session().read_array_df("/a").collect()
    }
    assert got[0] == 99.0 and got[2] == 98.0  # incoming rows win
    assert got[1] == 11.0 and got[3] == 13.0  # untouched cells kept


def test_partial_write_over_committed_chunk_still_merges(spark, root):
    """Plain committed-file case (regression pin for the fused probe)."""
    repo = Repository.create(spark, root)
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.write_array_df("/a", _rows(spark, [(i, float(i)) for i in range(8)]))
    with repo.transaction(message="v2") as s:
        s.write_array_df("/a", _rows(spark, [(1, 101.0), (6, 106.0)]))
    got = {
        int(r["i0"]): r["value"]
        for r in repo.readonly_session().read_array_df("/a").collect()
    }
    assert got[1] == 101.0 and got[6] == 106.0
    for i in (0, 2, 3, 4, 5, 7):
        assert got[i] == float(i)


def test_fully_covering_write_skips_merge_without_probe_regression(spark, root):
    """A second write covering every cell of its chunks must not pull
    existing cells in (values fully replaced)."""
    repo = Repository.create(spark, root)
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.write_array_df("/a", _rows(spark, [(i, 1.0) for i in range(8)]))
    with repo.transaction(message="v2") as s:
        s.write_array_df("/a", _rows(spark, [(i, 2.0) for i in range(4)]))
    got = {
        int(r["i0"]): r["value"]
        for r in repo.readonly_session().read_array_df("/a").collect()
    }
    assert all(got[i] == 2.0 for i in range(4))
    assert all(got[i] == 1.0 for i in range(4, 8))


def test_duplicate_rows_cannot_fake_full_coverage(spark, root):
    """Four rows for chunk 0 (of size 4) but only two distinct cells:
    the chunk is partly covered and must merge."""
    repo = _committed_0_to_7(spark, root)
    with repo.transaction(message="v2") as s:
        s.write_array_df("/a", _rows(spark, [(0, 50.0), (1, 51.0), (1, 51.0), (1, 51.0)]))
    got = _read(repo.readonly_session())
    assert [got[i] for i in range(8)] == [50.0, 51.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]


def test_boundary_chunk_of_uneven_shape(spark, root):
    """shape 5x6 over 4x4 chunks: chunk (1, 1) holds only cells
    (4, 4) and (4, 5).  Writing one of them is partial (the other
    keeps its value); writing both covers the clamped chunk fully."""
    repo = Repository.create(spark, root)
    cells = [(a, b) for a in range(5) for b in range(6)]
    schema = "i0 bigint, i1 bigint, value double"

    def frame(vals):
        return local_df(spark, [{"i0": a, "i1": b, "value": v} for (a, b), v in vals], schema)

    with repo.transaction(message="v1") as s:
        s.create_array("/b", shape=[5, 6], chunk_shape=[4, 4])
        s.write_array_df("/b", frame([(c, float(10 * c[0] + c[1])) for c in cells]))
    with repo.transaction(message="v2") as s:
        s.write_array_df("/b", frame([((4, 4), -44.0)]))
    got = {(int(r["i0"]), int(r["i1"])): r["value"]
           for r in repo.readonly_session().read_array_df("/b").collect()}
    assert got[(4, 4)] == -44.0 and got[(4, 5)] == 45.0
    assert all(got[c] == float(10 * c[0] + c[1]) for c in cells if c[0] < 4 or c[1] < 4)
    with repo.transaction(message="v3") as s:
        s.write_array_df("/b", frame([((4, 4), 1.0), ((4, 5), 2.0)]))
    got = {(int(r["i0"]), int(r["i1"])): r["value"]
           for r in repo.readonly_session().read_array_df("/b").collect()}
    assert got[(4, 4)] == 1.0 and got[(4, 5)] == 2.0 and len(got) == 30


def test_out_of_bounds_rows_dropped_and_their_chunk_not_rewritten(spark, root):
    """shape 6 over chunks of 4: rows i=6, 7 fall in chunk 1's grid
    cell but outside the array.  They are dropped, so chunk 1 keeps
    its ref, while the in-bounds row still merges into chunk 0."""
    repo = _committed_0_to_7(spark, root, shape=6)
    before = _chunk_ids(repo.readonly_session())
    with repo.transaction(message="v2") as s:
        s.write_array_df("/a", _rows(spark, [(6, 60.0), (7, 70.0), (-1, -10.0), (2, 20.0)]))
    ro = repo.readonly_session()
    after = _chunk_ids(ro)
    assert after["1"] == before["1"]
    assert after["0"] != before["0"]
    got = _read(ro)
    assert sorted(got) == list(range(6))
    assert [got[i] for i in range(6)] == [0.0, 1.0, 20.0, 3.0, 4.0, 5.0]


def test_partial_write_over_chunk_deleted_in_same_txn_gives_fill(spark, root):
    repo = _committed_0_to_7(spark, root)
    with repo.transaction(message="v2") as s:
        s.delete_chunk("/a", "0")
        s.write_array_df("/a", _rows(spark, [(1, 11.0)]))
    got = _read(repo.readonly_session())
    assert [got[i] for i in range(4)] == [-1.0, 11.0, -1.0, -1.0]
    assert [got[i] for i in range(4, 8)] == [4.0, 5.0, 6.0, 7.0]


def test_partial_write_over_earlier_write_in_same_txn(spark, root):
    """No committed manifest for the array: the only existing ref is
    the transaction's own staged write."""
    repo = Repository.create(spark, root)
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4], fill_value=-1.0)
        s.write_array_df("/a", _rows(spark, [(i, float(i)) for i in range(4)]))
        s.write_array_df("/a", _rows(spark, [(2, 22.0)]))
    got = _read(repo.readonly_session())
    assert got == {0: 0.0, 1: 1.0, 2: 22.0, 3: 3.0}  # chunk 1 never written


def test_partial_write_over_buffered_set_chunk_bytes(spark, root):
    """The earlier buffered chunk keeps its untouched cells, and the
    later write's cell shadows it."""
    repo = Repository.create(spark, root)
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4], fill_value=-1.0)
        s.set_chunk_bytes("/a", "1", np.array([10.0, 11.0, 12.0, 13.0]).tobytes())
        s.write_array_df("/a", _rows(spark, [(6, 66.0)]))
    got = _read(repo.readonly_session())
    assert [got[i] for i in range(4, 8)] == [10.0, 11.0, 66.0, 13.0]


def test_chunk_with_refs_but_no_rows_gets_no_new_ref(spark, root):
    repo = _committed_0_to_7(spark, root)
    before = _chunk_ids(repo.readonly_session())
    with repo.transaction(message="v2") as s:
        s.write_array_df("/a", _rows(spark, [(1, 101.0)]))
        staged = s._staged_manifest_df().select("chunk_key").collect()
    assert [r["chunk_key"] for r in staged] == ["0"]
    after = _chunk_ids(repo.readonly_session())
    assert after["1"] == before["1"] and after["0"] != before["0"]


def test_unaligned_write_commit_job_count(spark, root):
    """An unaligned write that partly covers 2x2 chunks, plus its
    commit, runs the merge inside the encode's one cogroup: at most 6
    Spark jobs (the coverage aggregate + probe + decode design took 19;
    a Spark-written txlog took 2 more)."""
    repo = Repository.create(spark, root)
    schema = "i0 bigint, i1 bigint, value double"
    with repo.transaction(message="v1") as s:
        s.create_array("/g", shape=[64, 64], chunk_shape=[32, 32])
        s.write_array_df("/g", local_df(
            spark, [{"i0": a, "i1": b, "value": 1.0} for a in range(64) for b in range(64)], schema))
    block = local_df(
        spark, [{"i0": a, "i1": b, "value": 2.0} for a in range(20, 44) for b in range(20, 44)], schema)

    def write_and_commit():
        with repo.transaction(message="v2") as s:
            s.write_array_df("/g", block)

    _, n_jobs = count_jobs(spark, write_and_commit)
    assert n_jobs <= 6, n_jobs
    got = repo.readonly_session().read_array_df("/g").groupBy("value").count().collect()
    assert {r["value"]: r["count"] for r in got} == {1.0: 64 * 64 - 24 * 24, 2.0: 24 * 24}


def test_cold_read_reread_and_lookup_job_counts(spark, root):
    """A region read is one job of one stage: its tasks resolve their
    tiles' refs and read the payloads themselves, so a cold read to the
    noop sink runs exactly 1 job, a reread too (the dedup shuffle, the
    payload scan and the chunk_id join made 3).  Point lookups
    (get_chunk_bytes, chunk_type, store.getsize) run no job at all: a
    read-only session's, and a writable session's whose staged items
    are files and buffered entries (the Spark point path took 3)."""
    from icechunk_spark.repo import ManifestConfig, RepositoryConfig

    cfg = RepositoryConfig(manifest=ManifestConfig(splitting={"max_refs_per_manifest": 4}))
    repo = Repository.create(spark, root, config=cfg)
    with repo.transaction(message="base") as s:
        s.create_array("/h", shape=[64, 64], chunk_shape=[16, 16])
        for ci in range(4):
            for cj in range(4):
                s.set_chunk_bytes("/h", f"{ci}.{cj}", np.full(256, ci * 4 + cj, "<f8").tobytes())
    with repo.transaction(message="update") as s:
        s.set_chunk_bytes("/h", "1.1", np.full(256, 99.0, "<f8").tobytes())
    slices = [(8, 40), (8, 40)]

    def noop(session):
        session.read_array_df("/h", slices=slices).write.format("noop").mode("overwrite").save()

    ro = repo.readonly_session()
    assert count_jobs(spark, lambda: noop(ro))[1] == 1
    assert count_jobs(spark, lambda: noop(ro))[1] == 1
    got = repo.readonly_session().read_array_df("/h", slices=slices).groupBy("value").count().collect()
    assert {r["value"]: r["count"] for r in got} == {
        0.0: 64, 1.0: 128, 2.0: 64, 4.0: 128, 99.0: 256, 6.0: 128, 8.0: 64, 9.0: 128, 10.0: 64,
    }
    box = {}

    def lookups(session):
        box.update(
            b=[session.get_chunk_bytes("/h", k) for k in ("1.1", "2.2", "3.3")],
            t=[session.chunk_type("/h", (i, i)).name for i in (1, 2, 3)],
            n=[session.store.getsize(f"h/c/{i}/{i}") for i in (1, 2, 3)],
        )

    n = count_jobs(spark, lambda: lookups(repo.readonly_session()))[1]
    assert n == 0, n
    assert box["b"] == [np.full(256, v, "<f8").tobytes() for v in (99.0, 10.0, 15.0)]
    assert box["t"] == ["native"] * 3 and box["n"] == [2048] * 3
    # a writable session whose staged items are files (a merged fork's
    # flush) and buffered entries still looks up without a job
    w = repo.writable_session("main")
    f = w.fork()
    f.set_chunk_bytes("/h", "2.2", b"F" * 1024)
    w.merge(f)
    w.set_chunk_bytes("/h", "3.3", b"B" * 16)
    assert [kind for kind, _ in w._staged] == ["file"] and w._chunk_buffer
    n = count_jobs(spark, lambda: lookups(w))[1]
    assert n == 0, n
    assert box["b"] == [np.full(256, 99.0, "<f8").tobytes(), b"F" * 1024, b"B" * 16]
    assert box["t"] == ["native", "native", "inline"] and box["n"] == [2048, 1024, 16]
    # write_array_df stages its chunk dir as a file item: the read after
    # it is still one job
    staged = repo.writable_session("main")
    staged.write_array_df("/h", local_df(
        spark, [{"i0": 9, "i1": 9, "value": -5.0}], "i0 bigint, i1 bigint, value double"))
    assert [kind for kind, _ in staged._staged] == ["file"]
    assert count_jobs(spark, lambda: noop(staged))[1] == 1
    got = staged.read_array_df("/h", slices=[(9, 10), (8, 11)]).collect()
    assert sorted((r["i1"], r["value"]) for r in got) == [(8, 0.0), (9, -5.0), (10, 0.0)]


def test_staged_chunk_dir_is_read_without_a_write(spark, root):
    """``write_array_df`` stages the chunk dir it has just written,
    which holds its manifest rows: the first lookup after it runs no
    job and the first region read one, like the next ones.  The commit
    publishes the cells the reads saw."""
    schema = "i0 bigint, i1 bigint, value double"
    repo = Repository.create(spark, root)
    with repo.transaction(message="base") as s:
        s.create_array("/h", shape=[8, 8], chunk_shape=[4, 4])
        s.write_array_df("/h", local_df(
            spark, [{"i0": a, "i1": b, "value": float(a * 8 + b)} for a in range(8) for b in range(8)], schema))
    block = [{"i0": a, "i1": b, "value": -1.0} for a in range(2, 6) for b in range(2, 6)]
    want = {(a, b): -1.0 if 2 <= a < 6 and 2 <= b < 6 else float(a * 8 + b) for a in range(8) for b in range(8)}
    chunk00 = np.array([[want[a, b] for b in range(4)] for a in range(4)]).tobytes()

    lookup = repo.writable_session("main")
    lookup.write_array_df("/h", local_df(spark, block, schema))
    assert [kind for kind, _ in lookup._staged] == ["file"]
    assert lookup._staged[0][1].startswith("chunks/")
    box = {}
    assert count_jobs(spark, lambda: box.update(first=lookup.get_chunk_bytes("/h", "0.0")))[1] == 0
    assert count_jobs(spark, lambda: box.update(second=lookup.get_chunk_bytes("/h", "0.0")))[1] == 0
    assert box == {"first": chunk00, "second": chunk00}

    read = repo.writable_session("main")
    read.write_array_df("/h", local_df(spark, block, schema))

    def noop():
        read.read_array_df("/h").write.format("noop").mode("overwrite").save()

    assert count_jobs(spark, noop)[1] == 1
    assert count_jobs(spark, noop)[1] == 1
    cells = {(r["i0"], r["i1"]): r["value"] for r in read.read_array_df("/h").collect()}
    assert cells == want
    read.commit("staged chunk dir")
    committed = repo.readonly_session().read_array_df("/h").collect()
    assert {(r["i0"], r["i1"]): r["value"] for r in committed} == want


def test_lookups_see_staged_write_delete_and_shift(spark, root):
    """A driver session's staged items (write_array_df's chunk dir,
    delete_chunks_prefix tombstones, shift_array's remap) are files from
    the moment they are staged: each lookup sees the newest item, and
    agrees with the committed result."""
    repo = Repository.create(spark, root)

    def full(v):
        return np.full(4, v, "<f8").tobytes()

    with repo.transaction(message="base") as s:
        s.create_array("/h", shape=[4, 4], chunk_shape=[2, 2])
        for ci in range(2):
            for cj in range(2):
                s.set_chunk_bytes("/h", f"{ci}.{cj}", full(ci * 2 + cj))
    s = repo.writable_session("main")
    s.write_array_df("/h", local_df(
        spark, [{"i0": a, "i1": b, "value": 7.0} for a in range(2) for b in range(2)],
        "i0 bigint, i1 bigint, value double"))
    assert [kind for kind, _ in s._staged] == ["file"]
    assert s.get_chunk_bytes("/h", "0.0") == full(7.0)
    assert s.store.getsize("h/c/0/0") == 32
    s.delete_chunks_prefix("/h", (1,))
    assert s.get_chunk_bytes("/h", "1.0") is None and s.get_chunk_bytes("/h", "1.1") is None
    assert s.chunk_type("/h", (1, 1)).name == "uninitialized"
    assert s.get_chunk_bytes("/h", "0.1") == full(1.0)
    s.shift_array("/h", [0, 1])  # 0.0 -> 0.1; 0.1 falls off the grid
    want = {"0.0": None, "0.1": full(7.0), "1.0": None, "1.1": None}
    assert {k: s.get_chunk_bytes("/h", k) for k in want} == want
    assert [kind for kind, _ in s._staged] == ["file"] * 4
    assert list(s.chunk_coordinates("/h")) == [(0, 1)]
    s.commit("staged items")
    ro = repo.readonly_session()
    assert {k: ro.get_chunk_bytes("/h", k) for k in want} == want


def test_partial_write_merges_native_ref_under_uri_root(spark, tmp_path):
    """A URI data root (here file://): the pack's point read of the
    existing native payload resolves the URI like the rest of fsio."""
    repo = _committed_0_to_7(spark, f"file://{tmp_path}/repo")
    with repo.transaction(message="v2") as s:
        s.write_array_df("/a", _rows(spark, [(5, 55.0)]))
    got = _read(repo.readonly_session())
    assert [got[i] for i in range(8)] == [0.0, 1.0, 2.0, 3.0, 4.0, 55.0, 6.0, 7.0]


def test_native_point_read_maps_hadoop_schemes(tmp_path, monkeypatch):
    """``s3a://`` (Hadoop's S3 scheme, which object-store data roots
    keep) is unknown to pyarrow: the point read must go through
    ``fsio._fs_path``, which maps it.  The mapping is stubbed onto a
    local directory so no object store is contacted."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    from icechunk_spark.repo import fsio
    from icechunk_spark.repo.arrays import read_native_payload

    os.makedirs(tmp_path / "chunks")
    pq.write_table(
        pa.table({"chunk_id": ["x", "y"], "payload": [b"xx", b"yy"]}),
        tmp_path / "chunks" / "part-0.parquet",
    )
    real = fsio._fs_path

    def fake(path):
        if path.startswith("s3a://bucket/"):
            return pafs.LocalFileSystem(), str(tmp_path / path[len("s3a://bucket/"):])
        return real(path)

    monkeypatch.setattr(fsio, "_fs_path", fake)
    assert read_native_payload("s3a://bucket/chunks", "y") == b"yy"
    assert read_native_payload("s3a://bucket/chunks", "z") is None
