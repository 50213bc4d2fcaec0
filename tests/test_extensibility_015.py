"""Design-docs/015 analog ("extra data in manifests and snapshots"):
the reference reserves opaque extensibility fields on snapshots,
manifests, and manifest refs.  This layout's mechanisms, pinned here:

- Snapshot JSON: unknown top-level keys from a future writer are NOT
  an error — they round-trip through read_snapshot/write_snapshot in
  place, survive this version's snapshot rewrites (expire re-parent,
  amend), and commit/GC never disturb other snapshots' docs.
- Manifest parquet: additive NULLABLE columns are the mechanism (the
  virtual-ref checksum column set the precedent).  A manifest with a
  column this version doesn't know still reads (fixed-schema scans
  prune it), existing files are immutable through commit/GC, and
  compaction (rewrite_manifests) carries the unknown column into the
  compacted file instead of dropping it.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import icechunk_spark.repo.format as fmt
from icechunk_spark.repo import Repository
from icechunk_spark.repo import manifests as mf


@pytest.fixture
def repo(spark, tmp_path):
    r = Repository.create(spark, str(tmp_path / "repo"))
    with r.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[2])
        s.write_array_df(
            "/a",
            spark.range(4).select(F.col("id").alias("i0"), F.lit(1.0).alias("value")),
        )
    return r


def _inject_snapshot_key(root, snap_id, key, value):
    """Simulate a FUTURE writer: add an unknown top-level key to the
    snapshot doc on disk."""
    storage = fmt.resolve_storage(root)
    raw = storage.get(f"snapshots/{snap_id}.json")
    doc = json.loads(raw.decode())
    doc[key] = value
    storage.put(f"snapshots/{snap_id}.json", json.dumps(doc).encode())


def test_unknown_snapshot_keys_roundtrip_and_survive_maintenance(spark, repo):
    tip_id = repo.lookup_branch("main")
    _inject_snapshot_key(repo.root, tip_id, "future_stats", {"rows": 99, "v": [1, 2]})

    # read tolerance: the unknown key lands in .extra, nothing crashes
    snap = fmt.read_snapshot(repo.root, tip_id)
    assert snap.extra == {"future_stats": {"rows": 99, "v": [1, 2]}}

    # a rewrite by THIS version re-emits the key at top level
    fmt.write_snapshot(repo.root, snap)
    raw = json.loads(fmt.resolve_storage(repo.root).get(f"snapshots/{tip_id}.json").decode())
    assert raw["future_stats"] == {"rows": 99, "v": [1, 2]}
    assert "extra" not in raw  # emitted in place, not under a wrapper key

    # commit + GC leave the doc untouched
    with repo.transaction(message="later") as s:
        s.write_array_df(
            "/a",
            spark.range(2).select(F.col("id").alias("i0"), F.lit(2.0).alias("value")),
        )
    repo.garbage_collect(older_than_seconds=-1)
    raw2 = json.loads(
        fmt.resolve_storage(repo.root).get(f"snapshots/{tip_id}.json").decode()
    )
    assert raw2["future_stats"] == {"rows": 99, "v": [1, 2]}

    # amend-compaction REWRITES the tip: extra must be carried
    new_tip = repo.rewrite_manifests(commit_method="amend")
    carried = fmt.read_snapshot(repo.root, new_tip)
    # (the injected key was on the OLD tip; inject on the new one and amend again)
    _inject_snapshot_key(repo.root, new_tip, "future_flag", True)
    newer = repo.rewrite_manifests(commit_method="amend")
    assert fmt.read_snapshot(repo.root, newer).extra == {"future_flag": True}
    assert carried is not None


def _append_future_manifest(root, snap, name, value):
    """Simulate a FUTURE writer: a NEW immutable manifest file (the
    real extension path — manifest files are never rewritten in place)
    whose rows shadow the old ones (higher seq) and carry an additive
    nullable column, registered on the snapshot."""
    import os

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    src = fmt.data_path(root, snap.manifests[0])
    table = ds.dataset(src, format="parquet").to_table()
    seq = pa.compute.add(table["seq"], 1_000_000)
    table = table.set_column(table.schema.get_field_index("seq"), "seq", seq)
    table = table.append_column(name, pa.array([value] * len(table), pa.string()))
    # drop the footer metadata inherited from the Spark-written source
    # file: it embeds Spark's OLD 17-column schema JSON
    # (org.apache.spark.sql.parquet.row.metadata), which Spark prefers
    # over the physical parquet schema on read — a real future writer
    # embeds metadata matching its own columns
    table = table.replace_schema_metadata(None)
    rel = f"manifests/{fmt.new_id()}.parquet"
    full = fmt.data_path(root, rel)
    os.makedirs(full)
    pq.write_table(table, os.path.join(full, "part-0.parquet"))
    snap.manifests = [*snap.manifests, rel]
    fmt.write_snapshot(root, snap)
    return rel


def test_unknown_manifest_columns_read_fine_and_survive_compaction(spark, repo):
    tip = fmt.read_snapshot(repo.root, repo.lookup_branch("main"))
    assert len(tip.manifests) == 1
    _append_future_manifest(repo.root, tip, "future_col", "opaque")
    tip = fmt.read_snapshot(repo.root, tip.id)

    # fixed-schema read path: the unknown column is pruned, not fatal
    assert repo.readonly_session().read_array_df("/a").count() == 4

    # union-schema read exposes it
    extra = mf.read_manifest_files(
        spark, repo.root, tip.manifests, with_extra_columns=True
    )
    assert "future_col" in extra.columns

    # compaction carries the column into the compacted manifest
    snap_id = repo.rewrite_manifests()
    compacted = fmt.read_snapshot(repo.root, snap_id)
    out = mf.read_manifest_files(
        spark, repo.root, compacted.manifests, with_extra_columns=True
    )
    assert "future_col" in out.columns
    vals = [r["future_col"] for r in out.select("future_col").collect()]
    assert vals and all(v == "opaque" for v in vals)

    # GC after compaction: the array still reads, values intact
    repo.expire_snapshots(older_than_seconds=-1)
    repo.garbage_collect(older_than_seconds=-1)
    rows = repo.readonly_session().read_array_df("/a").collect()
    assert len(rows) == 4 and all(r["value"] == 1.0 for r in rows)


def test_commit_path_frames_gain_no_stray_columns(spark, repo):
    """The additive-column mechanism must not let INTERNAL helper
    columns leak into written manifests: a fresh commit's manifest has
    exactly the known schema."""
    with repo.transaction(message="w2") as s:
        s.write_array_df(
            "/a",
            spark.range(2).select(F.col("id").alias("i0"), F.lit(3.0).alias("value")),
        )
    tip = fmt.read_snapshot(repo.root, repo.lookup_branch("main"))
    df = mf.read_manifest_files(
        spark, repo.root, tip.manifests, with_extra_columns=True
    )
    known = [c.strip().split(" ")[0] for c in mf.MANIFEST_SCHEMA.split(",")]
    assert sorted(df.columns) == sorted(known)


def test_compaction_fills_absent_known_columns(spark, repo):
    """The union-schema compaction read must behave like the fixed-
    schema read for columns an OLD manifest lacks (pre-vchecksum
    files): filled as NULL, never an AnalysisException (review r13)."""
    import os

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    tip = fmt.read_snapshot(repo.root, repo.lookup_branch("main"))
    src = fmt.data_path(repo.root, tip.manifests[0])
    table = ds.dataset(src, format="parquet").to_table()
    table = table.drop_columns(["vchecksum"]).replace_schema_metadata(None)
    rel = f"manifests/{fmt.new_id()}.parquet"
    full = fmt.data_path(repo.root, rel)
    os.makedirs(full)
    pq.write_table(table, os.path.join(full, "part-0.parquet"))
    # an "old-writer" snapshot referencing ONLY the legacy-shaped file
    tip.manifests = [rel]
    fmt.write_snapshot(repo.root, tip)

    snap_id = repo.rewrite_manifests()
    compacted = fmt.read_snapshot(repo.root, snap_id)
    out = mf.read_manifest_files(spark, repo.root, compacted.manifests)
    rows = out.collect()
    assert rows and all(r["vchecksum"] is None for r in rows)
    assert repo.readonly_session().read_array_df("/a").count() == 4


def test_session_amend_carries_extra_and_pruned_logs(spark, repo):
    """Session.amend REPLACES the tip: a future writer's unknown
    fields and the expire carry-list must ride along (review r13 —
    the rewrite_manifests amend path carried them, this one didn't)."""
    tip_id = repo.lookup_branch("main")
    _inject_snapshot_key(repo.root, tip_id, "future_flag", {"x": 1})
    snap = fmt.read_snapshot(repo.root, tip_id)
    snap.pruned_ancestor_tx_logs = ["txdead"]
    fmt.write_snapshot(repo.root, snap)

    s = repo.writable_session("main")
    s.update_attrs("/a", {"k": "v"})
    new_id = s.amend(message="amended")
    amended = fmt.read_snapshot(repo.root, new_id)
    assert amended.extra == {"future_flag": {"x": 1}}
    assert amended.pruned_ancestor_tx_logs == ["txdead"]


def test_unknown_key_roundtrip_property(spark, tmp_path):
    """Property: ANY JSON-representable unknown top-level key set
    round-trips byte-placement-compatibly through read/write — module-
    scoped repo, pure driver-side loop (no per-example Spark jobs)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    r = Repository.create(spark, str(tmp_path / "prop"))
    tip_id = r.lookup_branch("main")
    storage = fmt.resolve_storage(r.root)
    pristine = storage.get(f"snapshots/{tip_id}.json")
    known = {f.name for f in __import__("dataclasses").fields(fmt.SnapshotInfo)}

    json_vals = st.recursive(
        st.none() | st.booleans() | st.integers(-1e9, 1e9) | st.text(max_size=8),
        lambda c: st.lists(c, max_size=3) | st.dictionaries(st.text(max_size=6), c, max_size=3),
        max_leaves=6,
    )

    @settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(extra=st.dictionaries(st.text(min_size=1, max_size=10).filter(lambda k: k not in known), json_vals, max_size=4))
    def prop(extra):
        doc = {**json.loads(pristine.decode()), **extra}
        storage.put(f"snapshots/{tip_id}.json", json.dumps(doc).encode())
        snap = fmt.read_snapshot(r.root, tip_id)
        assert snap.extra == extra
        fmt.write_snapshot(r.root, snap)
        back = json.loads(storage.get(f"snapshots/{tip_id}.json").decode())
        for k, v in extra.items():
            assert back[k] == v
        assert "extra" not in back

    try:
        prop()
    finally:
        storage.put(f"snapshots/{tip_id}.json", pristine)


def test_extension_never_taxes_the_hot_read_path(spark, repo):
    """Scale pin: with a future-writer column PRESENT in the manifest,
    the default resolve still returns only the ``MANIFEST_SCHEMA``
    columns, and its pyarrow read (``read_manifest_rows_local``) reads
    only the known columns and applies the chunk-grid range —
    extensibility costs nothing on the hot path."""
    tip = fmt.read_snapshot(repo.root, repo.lookup_branch("main"))
    _append_future_manifest(repo.root, tip, "future_col", "opaque")
    tip = fmt.read_snapshot(repo.root, tip.id)

    resolved = mf.resolve_manifests(
        spark, repo.root, tip, chunk_range=((1, 1),)
    )
    assert resolved.columns == mf.MANIFEST_COLUMNS
    rows = resolved.collect()
    assert [r["chunk_key"] for r in rows] == ["1"]
    local = mf.read_manifest_rows_local(fmt.data_path(repo.root), tip.manifests, chunk_range=((1, 1),))
    assert len(local) == 2  # the chunk's row in each file, c0 = 0 filtered out
    assert all(r["c0"] == 1 and list(r) == mf.MANIFEST_COLUMNS for r in local)
