"""On-disk format for the versioned chunk store.

Layout (object-store compatible — every file is written once and never
mutated; ref updates use create-exclusive generation files, the same
scheme icechunk uses for S3 conditional writes — icechunk/src/refs.rs):

    <repo>/repo.json                       repo info + user metadata
    <repo>/refs/branch.<name>/<gen>.json   {"snapshot_id": ...}; highest gen wins
    <repo>/refs/tag.<name>/ref.json        immutable once created
    <repo>/snapshots/<id>.json             snapshot doc (parent, nodes, manifests)
    <repo>/manifests/<id>.parquet          chunk-ref rows (LSM: later shadows earlier)
    <repo>/chunks/<id>.parquet             chunk payloads (chunk_id, payload binary);
                                           a write_array_df chunk dir also holds its
                                           rows' manifest columns and is staged as is
    <repo>/txlogs/<id>.parquet             per-commit change log (conflict detection)
    <repo>/staging/<session>/<id>.parquet  other staged manifest rows (deleted on
                                           commit or discard)

Manifest row schema (MANIFEST_SCHEMA): chunk refs keyed by stable
node_id (so `move` never rewrites manifests — same reason icechunk
keys manifests by NodeId), with materialized chunk-grid coordinates
c0..c3 as plain int columns so slice pruning pushes down to the
parquet scan.

Snapshot doc (``snapshots/<id>.json``, one JSON object, optionally
zlib-compressed behind the ``ICZ1`` magic)::

    {"id", "parent_id", "message", "metadata", "written_at", "seq",
     "manifests": [relpath, ...],            # oldest first; later shadow
     "nodes": {path: node dict},
     "pruned_ancestor_tx_logs": [id, ...],    # design-doc 016
     "manifest_summaries": {relpath: {        # additive; {} when absent
         "extents": [[lo, hi] | null] * 4,    # c0..c3 min/max; null = no values
         "refs": n,                           # manifest row count
         "files": [chunk-file relpath, ...]}},
     ...unknown top-level keys of a future writer (design-doc 015)}

``manifest_summaries`` is the analog of icechunk's ``ManifestRef {
object_id, extents }`` (design-doc 005): readers plan an array read —
which manifests to open and which payload files to join — from it
alone.  A summary is looked up only for relpaths listed in
``manifests``; a listed manifest without one is always kept and its
payload files come from a scan.  Manifest files are immutable with
unique ids, so a summary can never describe different rows than its
file holds.  ``files`` may over-list (a harmless superset) but never
under-lists.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field, fields
from typing import Any

from icechunk_spark.repo.errbase import ErrorKind, IcechunkError

# ``inline`` carries the payload itself for chunks below the repo's
# inline_chunk_threshold_bytes (reference parity: ChunkPayload::Inline
# in icechunk-format) — small writes cost zero extra files/reads.
# ``vchecksum`` (added r6, nullable — pre-r6 manifests read as NULL
# since Spark/pyarrow fill absent parquet columns) carries the virtual
# ref's write-time checksum: ``etag:<value>`` or ``mtime:<epoch>``
# (reference store.py:253 set_virtual_ref(checksum=str|datetime)).
MANIFEST_SCHEMA = (
    "node_id string, chunk_key string, c0 int, c1 int, c2 int, c3 int, "
    "chunk_id string, file string, n_bytes bigint, op string, "
    "is_virtual boolean, vpath string, voffset bigint, vlength bigint, "
    "inline binary, seq bigint, vchecksum string"
)

TXLOG_SCHEMA = "node_id string, chunk_key string, op string"


def ddl_fields(ddl: str) -> list[tuple[str, str]]:
    """The ``(name, type)`` pairs of a DDL string above, in order."""
    return [tuple(c.split()) for c in ddl.split(",")]


#: MANIFEST_SCHEMA's column names, in order
MANIFEST_COLUMNS = [name for name, _ in ddl_fields(MANIFEST_SCHEMA)]


def arrow_schema(ddl: str):
    """The pyarrow schema of a DDL string above (``MANIFEST_SCHEMA``,
    ``TXLOG_SCHEMA``, ``arrays.PAYLOAD_SCHEMA``), for the parquet
    readers and writers that run without a SparkSession."""
    import pyarrow as pa

    types = {
        "string": pa.string(), "int": pa.int32(), "bigint": pa.int64(),
        "boolean": pa.bool_(), "binary": pa.binary(),
    }
    return pa.schema([(name, types[typ]) for name, typ in ddl_fields(ddl)])

DTYPES = {"float64": 8, "float32": 4, "int64": 8, "int32": 4}


class RefError(IcechunkError):
    default_kind = ErrorKind.REF_NOT_FOUND.value


def new_id() -> str:
    return uuid.uuid4().hex


def chunk_rel(chunk_id: str) -> str:
    """Chunk-file path sharded by the id's first two hex chars:
    ``chunks/<hh>/<id>.parquet`` (spec v2).  256-way fan-out keeps any
    single LIST bounded (GC lists shards on executors, never the full
    set on the driver) and spreads object-store request load across
    key prefixes — the same reason the reference shards object keys
    (icechunk/src/storage/mod.rs key layout)."""
    return f"chunks/{chunk_id[:2]}/{chunk_id}.parquet"


@dataclass
class ArrayMeta:
    node_id: str
    shape: list[int]
    # None = non-regular (rectilinear) grid, described by
    # zarr_extra["chunk_grid"] instead
    chunk_shape: list[int] | None
    dtype: str = "float64"
    fill_value: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)
    # per-dimension names, None entries allowed (reference parity:
    # ArrayMetadata.dimension_names, icechunk/src/store.rs:1167)
    dimension_names: list[str | None] | None = None
    # client-supplied zarr v3 doc fields preserved verbatim so the store
    # facade round-trips real zarr client documents byte-for-byte
    # (icechunk/src/store.rs:1495 set/get roundtrip test): optional keys
    # "codecs", "storage_transformers", "chunk_key_encoding",
    # "chunk_grid" (non-regular grids, e.g. rectilinear).
    zarr_extra: dict[str, Any] | None = None
    kind: str = "array"

    def __post_init__(self) -> None:
        if self.dtype not in DTYPES:
            raise ValueError(f"unsupported dtype {self.dtype}; one of {sorted(DTYPES)}")
        if self.chunk_shape is None:
            # rectilinear chunk grid (icechunk/src/store.rs:1206): chunk
            # sizes vary along a dimension, recorded verbatim in
            # zarr_extra["chunk_grid"].  Key-addressed chunk IO works;
            # regular-grid array ops (write_array_df / shift / reindex)
            # are gated at the session layer (design-docs/018).
            if not (self.zarr_extra or {}).get("chunk_grid"):
                raise ValueError("chunk_shape=None requires a zarr_extra chunk_grid")
        elif len(self.shape) != len(self.chunk_shape):
            raise ValueError("shape and chunk_shape rank mismatch")
        if len(self.shape) > 4:
            raise ValueError("at most 4 dimensions supported")
        if self.dimension_names is not None and len(self.dimension_names) != len(self.shape):
            raise ValueError("dimension_names rank mismatch")

    @property
    def is_regular_grid(self) -> bool:
        return self.chunk_shape is not None

    def grid_shape(self) -> list[int]:
        """Per-dimension chunk counts (reference parity: the num_chunks
        computation in store.rs:1181-1238, including run-length-encoded
        rectilinear chunk_shapes like ``[[2, 3]]`` = size-2 x3)."""
        if self.chunk_shape is not None:
            return [(s + c - 1) // c if c else 0 for s, c in zip(self.shape, self.chunk_shape)]
        shapes = (self.zarr_extra or {})["chunk_grid"]["configuration"]["chunk_shapes"]
        out: list[int] = []
        for dim in shapes:
            n = 0
            for entry in dim:
                if isinstance(entry, (int, float)):
                    n += 1  # fully listed chunk size
                else:
                    n += int(entry[1])  # RLE pair [size, count]
            out.append(n)
        return out


@dataclass
class GroupMeta:
    node_id: str
    attrs: dict[str, Any] = field(default_factory=dict)
    kind: str = "group"


def node_from_dict(d: dict[str, Any]) -> ArrayMeta | GroupMeta:
    d = dict(d)
    if d.pop("kind") == "array":
        return ArrayMeta(**d)
    return GroupMeta(**d)


@dataclass
class SnapshotInfo:
    id: str
    parent_id: str | None
    message: str
    metadata: dict[str, Any]
    written_at: float
    seq: int
    manifests: list[str]
    nodes: dict[str, dict[str, Any]]  # path -> node dict
    # Tx-log ids of ancestor commits removed by expiration, oldest
    # first (design-docs/016-expired-transaction-logs.md): carried on
    # the re-parented boundary snapshot so diff/rebase across the
    # pruned gap stay exact, and GC keeps these txlogs alive even
    # after the snapshots themselves are reclaimed.  Additive field:
    # old snapshot docs parse fine (default []).
    pruned_ancestor_tx_logs: list[str] = field(default_factory=list)
    # relpath -> {"extents", "refs", "files"} per manifest written by
    # this version (see the module docstring).  Additive: old docs
    # parse with {} and every manifest is then kept and scanned.
    manifest_summaries: dict[str, dict[str, Any]] = field(default_factory=dict)
    # Reserved extensibility (design-docs/015, "extra data in
    # manifests and snapshots"): top-level JSON keys this version does
    # not know are collected here on read and re-emitted AT TOP LEVEL
    # on write, so a snapshot rewrite by an old reader (expiration's
    # re-parenting, amend) round-trips a future writer's fields in
    # place instead of crashing or dropping them.  Opaque by design —
    # nothing in this version interprets the contents.
    extra: dict[str, Any] = field(default_factory=dict)

    @property
    def written_at_iso(self) -> str:
        return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(self.written_at))


# --- storage routing ------------------------------------------------------
# Every metadata read/write below goes through the pluggable Storage
# backend (storage.py — local filesystem, in-memory object store, or
# any user-provided Storage).  ``root`` stays a string (or a Storage)
# at every call site; parquet bulk IO resolves through data_path().

from icechunk_spark.repo.storage import (  # noqa: E402
    Storage,
    StorageConflict,
    resolve_storage,
)


def data_path(root: "str | Storage", rel: str = "") -> str:
    """Path/URI for Spark parquet IO under this repo's data plane."""
    s = resolve_storage(root)
    return s.data_path(rel) if rel else s.data_root


# --- snapshots -----------------------------------------------------------

def _snapshot_key(snapshot_id: str) -> str:
    return f"snapshots/{snapshot_id}.json"


# Snapshot docs optionally compress (config.json compression section —
# the reference zstd-compresses snapshot metadata in icechunk-format;
# zlib here).  Self-describing magic prefix so mixed repos read fine.
_ZMAGIC = b"ICZ1"


def write_snapshot(root: "str | Storage", snap: SnapshotInfo) -> None:
    s = resolve_storage(root)
    doc = asdict(snap)
    # design-docs/015: unknown keys captured at read time go back at
    # top level (known fields win any collision), so rewrites preserve
    # a future writer's fields byte-placement-compatibly
    extra = doc.pop("extra", None) or {}
    doc = {**extra, **doc}  # known fields win any collision
    raw = json.dumps(doc).encode()
    cfg = read_config_doc(s)
    comp = (cfg or {}).get("compression") or {}
    if comp.get("algorithm") == "zlib":
        import zlib

        raw = _ZMAGIC + zlib.compress(raw, int(comp.get("level", 3)))
    s.put(_snapshot_key(snap.id), raw)


def read_snapshot(root: "str | Storage", snapshot_id: str) -> SnapshotInfo:
    s = resolve_storage(root)
    if not s.exists(_snapshot_key(snapshot_id)):
        raise RefError(f"snapshot {snapshot_id} not found")
    raw = s.get(_snapshot_key(snapshot_id))
    if raw[:4] == _ZMAGIC:
        import zlib

        raw = zlib.decompress(raw[4:])
    data = json.loads(raw.decode())
    # design-docs/015 tolerance: a future writer's unknown top-level
    # keys are not an error — they ride in .extra and write_snapshot
    # re-emits them, so this version can rewrite (expire/amend) newer
    # snapshots without destroying what it doesn't understand
    known = {f.name for f in fields(SnapshotInfo)}
    unknown = {k: data.pop(k) for k in [k for k in data if k not in known]}
    if unknown:
        data["extra"] = {**unknown, **data.get("extra", {})}
    return SnapshotInfo(**data)


def inspect_metadata_file(root: "str | Storage", relpath: str) -> dict[str, Any]:
    """Read-only header inspection of ANY repo metadata file
    (reference #2216: AssetManager.fetch_header / parse_file_header —
    icechunk/src/asset_manager.rs:601, icechunk-format/src/lib.rs:575).

    Like the reference, the kind is DISCOVERED from content wherever
    content can decide: the zlib magic prefix, the JSON document's
    keys, or the parquet footer's columns.  Two JSON kinds are
    content-indistinguishable and fall back to PATH tiebreaks (ADVICE
    r13 — both named here): an EMPTY doc is a ref-tombstone only under
    `/refs/tag-deleted.`, and an otherwise-unrecognized doc is
    "config" only when the path ends in `config.json`.  Returns::

        {"path", "kind", "format", "compression", "spec_version"}

    kind ∈ {repo-info, snapshot, ref, ref-tombstone, config,
    manifest, transaction-log, chunk-data, unknown}; format ∈
    {json, parquet, unknown}; compression is "zlib"/"none" for JSON
    docs and the parquet codec (e.g. "snappy") for parquet files.
    spec_version is the repo's pinned format_version (this layout
    versions the REPO, not each file — the header-analog field)."""
    s = resolve_storage(root)
    out: dict[str, Any] = {
        "path": relpath,
        "kind": "unknown",
        "format": "unknown",
        "compression": "none",
        "spec_version": None,
    }
    try:
        out["spec_version"] = int(read_repo_info(s).get("format_version"))
    except Exception:
        pass

    raw: bytes | None = None
    if s.exists(relpath):
        try:
            raw = s.get(relpath)
        except OSError:
            pass  # a directory (parquet dataset) — handled below
    if raw is not None and raw[:4] == _ZMAGIC:
        import zlib

        out["compression"] = "zlib"
        try:
            raw = zlib.decompress(raw[4:])
        except zlib.error:
            # truncated/bit-rotted compressed doc: best-effort unknown —
            # an inspection tool must survive exactly these files
            return out
    if raw is not None and raw[:4] == b"PAR1":
        return {**out, **_inspect_parquet_bytes(raw)}
    if raw is not None:
        try:
            doc = json.loads(raw.decode())
        except (UnicodeDecodeError, ValueError):
            return out
        out["format"] = "json"
        out["kind"] = _classify_json_doc(doc, relpath)
        return out

    # not a storage key: a parquet dir on the bulk plane (manifest /
    # txlog / chunk files are directories of part files)
    try:
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        from icechunk_spark.repo import fsio

        fs, p = fsio._fs_path(data_path(s, relpath))
        dataset = ds.dataset(p, filesystem=fs, format="parquet")
        cols = set(dataset.schema.names)
        files = list(dataset.files)
        comp = None
        if files:
            with fs.open_input_file(files[0]) as f:
                md = pq.ParquetFile(f).metadata
            if md.num_row_groups:
                comp = md.row_group(0).column(0).compression
        out["format"] = "parquet"
        out["kind"] = _classify_parquet_columns(cols)
        out["compression"] = (comp or "none").lower()
    except Exception:
        pass
    return out


def _inspect_parquet_bytes(raw: bytes) -> dict[str, Any]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = pq.ParquetFile(pa.BufferReader(raw))
    comp = (
        f.metadata.row_group(0).column(0).compression
        if f.metadata.num_row_groups
        else None
    )
    return {
        "format": "parquet",
        "kind": _classify_parquet_columns(set(f.schema_arrow.names)),
        "compression": (comp or "none").lower(),
    }


def _classify_parquet_columns(cols: set) -> str:
    # payload first: a write_array_df chunk dir also carries the
    # manifest columns of its rows, but it is chunk data
    if {"chunk_id", "payload"} <= cols:
        return "chunk-data"
    if {"node_id", "chunk_key", "chunk_id"} <= cols:
        return "manifest"
    # SUBSET test (manifest already ruled out above): additive nullable
    # columns are the extensibility mechanism, so a future txlog column
    # must not demote the kind to unknown (review r13)
    if {name for name, _ in ddl_fields(TXLOG_SCHEMA)} <= cols:
        return "transaction-log"
    return "unknown"


def _classify_json_doc(doc: Any, relpath: str) -> str:
    if not isinstance(doc, dict):
        return "unknown"
    if {"parent_id", "manifests", "nodes"} <= doc.keys():
        return "snapshot"
    if "snapshot_id" in doc:
        return "ref"
    if "format_version" in doc:
        return "repo-info"
    # content can't distinguish an EMPTY tombstone doc — the one
    # path-based tiebreak (the doc is {} by construction)
    if not doc and "/refs/tag-deleted." in f"/{relpath}":
        return "ref-tombstone"
    if relpath.rstrip("/").endswith("config.json"):
        return "config"
    return "unknown"


def delete_snapshot(root: "str | Storage", snapshot_id: str) -> None:
    resolve_storage(root).delete(_snapshot_key(snapshot_id))


def snapshot_mtime(root: "str | Storage", snapshot_id: str) -> float:
    return resolve_storage(root).mtime(_snapshot_key(snapshot_id))


def list_snapshot_ids(root: "str | Storage") -> list[str]:
    s = resolve_storage(root)
    return [f[: -len(".json")] for f in s.list_dir("snapshots") if f.endswith(".json")]


# --- refs ----------------------------------------------------------------
# Branches: directory of generation files; the highest generation is
# current.  Commit appends gen N+1 with create-exclusive semantics: two
# racing commits collide on the same key and exactly one wins
# (icechunk/src/refs.rs uses the identical scheme on object storage,
# via If-None-Match conditional writes).

def _branch_prefix(name: str) -> str:
    return f"refs/branch.{name}"


def _tag_key(name: str) -> str:
    return f"refs/tag.{name}/ref.json"


def branch_tip(root: "str | Storage", name: str) -> tuple[int, str]:
    """Return (generation, snapshot_id) of the branch tip."""
    s = resolve_storage(root)
    files = [f for f in s.list_dir(_branch_prefix(name)) if f.endswith(".json")]
    if not files:
        raise RefError(f"branch {name} does not exist")
    gens = sorted(int(f.split(".")[0]) for f in files)
    gen = gens[-1]
    doc = s.get_json(f"{_branch_prefix(name)}/{gen:010d}.json")
    return gen, doc["snapshot_id"]


def update_branch(root: "str | Storage", name: str, snapshot_id: str, expected_gen: int) -> int:
    """CAS-advance the branch: write generation expected_gen+1
    exclusively.  Raises RefError if another commit got there first."""
    s = resolve_storage(root)
    gen = expected_gen + 1
    try:
        s.put_json_cas(
            f"{_branch_prefix(name)}/{gen:010d}.json",
            {"snapshot_id": snapshot_id},
        )
    except StorageConflict as e:
        raise RefError(f"branch {name} moved (lost CAS race at gen {gen})") from e
    return gen


def create_branch(root: "str | Storage", name: str, snapshot_id: str) -> None:
    s = resolve_storage(root)
    if any(f.endswith(".json") for f in s.list_dir(_branch_prefix(name))):
        raise RefError(f"branch {name} already exists")
    try:
        s.put_json_cas(
            f"{_branch_prefix(name)}/{0:010d}.json",
            {"snapshot_id": snapshot_id},
        )
    except StorageConflict as e:
        raise RefError(f"branch {name} already exists") from e


def delete_branch(root: "str | Storage", name: str) -> None:
    s = resolve_storage(root)
    if not s.list_dir(_branch_prefix(name)):
        raise RefError(f"branch {name} does not exist")
    s.delete_prefix(_branch_prefix(name))


def list_branches(root: "str | Storage") -> set[str]:
    s = resolve_storage(root)
    return {f[len("branch.") :] for f in s.list_dir("refs") if f.startswith("branch.")}


def create_tag(root: "str | Storage", name: str, snapshot_id: str) -> None:
    try:
        resolve_storage(root).put_json_cas(
            _tag_key(name), {"snapshot_id": snapshot_id}
        )
    except StorageConflict as e:
        raise RefError(f"tag {name} already exists (tags are immutable)") from e


def read_tag(root: "str | Storage", name: str) -> str:
    s = resolve_storage(root)
    if not s.exists(_tag_key(name)):
        raise RefError(f"tag {name} does not exist")
    return s.get_json(_tag_key(name))["snapshot_id"]


def delete_tag(root: "str | Storage", name: str) -> None:
    s = resolve_storage(root)
    if not s.exists(_tag_key(name)):
        raise RefError(f"tag {name} does not exist")
    # a deleted tag name can never be recreated (design-docs/006-tag-delete.md)
    s.delete_prefix(f"refs/tag.{name}")
    s.put_json(f"refs/tag-deleted.{name}.json", {})


def tag_was_deleted(root: "str | Storage", name: str) -> bool:
    return resolve_storage(root).exists(f"refs/tag-deleted.{name}.json")


def list_tags(root: "str | Storage") -> set[str]:
    s = resolve_storage(root)
    return {
        f[len("tag.") :]
        for f in s.list_dir("refs")
        if f.startswith("tag.") and not f.startswith("tag-deleted")
    }


# --- repo info + config ---------------------------------------------------

def write_repo_info(root: "str | Storage", doc: dict) -> None:
    resolve_storage(root).put_json("repo.json", doc)


def read_repo_info(root: "str | Storage") -> dict:
    return resolve_storage(root).get_json("repo.json")


def repo_exists(root: "str | Storage") -> bool:
    return resolve_storage(root).exists("repo.json")


def read_config_doc(root: "str | Storage") -> dict | None:
    s = resolve_storage(root)
    if not s.exists("config.json"):
        return None
    return s.get_json("config.json")


def write_config_doc(root: "str | Storage", doc: dict) -> None:
    resolve_storage(root).put_json("config.json", doc)
