"""Sessions: transactional read/write views over the chunk store.

Mirrors icechunk-python/python/icechunk/session.py — commit, amend,
rebase with conflict solvers, fork/merge for cooperative distributed
writes, status/discard, move/shift/reindex array ops, and a Zarr-ish
byte-store facade (store.py).

Commit protocol (optimistic concurrency, icechunk/src/session.rs):
  1. stage writes (chunk parquet + staged manifest files, node ops)
  2. at commit: if the branch tip moved past our base, detect
     conflicts by joining our staged chunk keys and node ops against
     the txlogs of the intervening snapshots; a ConflictSolver
     resolves or we raise
  3. write the staged items as new manifest files (one Spark write),
     then the txlog — those files' (node_id, chunk_key, op) rows plus
     the node ops, copied with pyarrow — then the snapshot doc (all
     immutable files)
  4. CAS-advance the branch ref (generation file create-exclusive);
     losing the race re-enters step 2
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from enum import IntEnum
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icechunk_spark.engine import local_df
from icechunk_spark.tracing import traced as _traced

from icechunk_spark.repo import format as fmt
from icechunk_spark.repo import fsio
from icechunk_spark.repo import manifests as mf
from icechunk_spark.repo.arrays import (
    PAYLOAD_SCHEMA,
    decode_chunks_to_rows,
    encode_array_chunks,
    read_native_payload,
    ref_bytes,
    slice_chunk_range,
    staged_manifest_from_chunk_dir,
)
from icechunk_spark.repo.errbase import ErrorKind, IcechunkError
from icechunk_spark.repo.format import (
    MANIFEST_COLUMNS,
    MANIFEST_SCHEMA,
    TXLOG_SCHEMA,
    ArrayMeta,
    GroupMeta,
    RefError,
    SnapshotInfo,
    new_id,
    node_from_dict,
)


#: ``seq`` offsets that order a transaction's layers above the base
#: snapshot's rows (whose seq stays far below): staged items, then
#: the chunk buffer
_STAGED_SEQ = 10**15
_BUFFERED_SEQ = 2 * 10**15


def _dp(root: str, *parts: str) -> str:
    """Data-plane (Spark parquet) path under the repo's storage."""
    return fmt.data_path(root, os.path.join(*parts))


class SessionMode(IntEnum):
    """Session access mode (reference parity: SessionMode — READONLY,
    WRITABLE, or REARRANGE)."""

    readonly = 0
    writable = 1
    rearrange = 2


class ChunkType(IntEnum):
    """Zarr chunk storage kinds (reference parity: icechunk.ChunkType)."""

    uninitialized = 0
    native = 1
    virtual = 2
    inline = 3


def ref_kind(ref: dict, inline_threshold: int) -> ChunkType:
    """The storage kind of a live manifest ref (with ``seq`` offsets
    as ``Session._ref_layers`` sets them).  The chunk buffer carries native
    payloads in the ``inline`` column, so a buffered one is inline only
    when its flush will inline it (<= ``inline_threshold``)."""
    if ref["is_virtual"]:
        return ChunkType.virtual
    if ref["inline"] is not None and (
        ref["seq"] < _BUFFERED_SEQ or len(ref["inline"]) <= inline_threshold
    ):
        return ChunkType.inline
    return ChunkType.native


class ConflictError(IcechunkError):
    """Rebase/commit found concurrent changes that overlap ours.

    Doubles as the reference's ``RebaseFailedError`` (both are exported
    from ``icechunk_spark.errors``): ``conflicts`` carries the
    structured conflict list a solver can act on, and
    ``expected_parent``/``actual_parent`` carry the commit-parent
    mismatch when the error came from the branch CAS."""

    default_kind = ErrorKind.REBASE_FAILED.value

    def __init__(
        self,
        conflicts: list[dict[str, Any]],
        *,
        expected_parent: str | None = None,
        actual_parent: str | None = None,
    ):
        self.conflicts = conflicts
        self.expected_parent = expected_parent
        self.actual_parent = actual_parent
        super().__init__(f"{len(conflicts)} conflicting change(s); sample: {conflicts[:5]}")


def resolve_vcc(vpath: str, names: dict[str, str] | None) -> str:
    """Resolve a ``vcc://<name>/<relative>`` virtual-chunk location to
    its absolute URL via the named container's url_prefix (design-docs/
    014-virtual-chunk-ref-efficiency.md).  Module-level so executor
    tasks (mapInPandas decode, unpickled read-only sessions) can
    resolve without a Session or JVM.  Absolute locations pass
    through unchanged."""
    if not vpath or not vpath.startswith("vcc://"):
        return vpath
    name, _, rel = vpath[len("vcc://") :].partition("/")
    prefix = (names or {}).get(name)
    if prefix is None:
        raise RefError(
            f"virtual chunk ref {vpath!r} names an unknown container "
            f"{name!r} (configured: {sorted(names or {})})"
        )
    return prefix + rel  # url_prefix always ends with "/"


def encode_virtual_checksum(checksum) -> str | None:
    """Serialize the reference's ``checksum: str | datetime`` virtual-ref
    parameter (store.py:253) into the manifest's ``vchecksum`` column:
    ``etag:<value>`` for strings, ``mtime:<epoch>`` for datetimes
    (naive datetimes are taken as UTC — the session tz convention)."""
    if checksum is None:
        return None
    import datetime as _dt

    if isinstance(checksum, _dt.datetime):
        ts = checksum
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        return f"mtime:{ts.timestamp()}"
    return f"etag:{checksum}"


def check_virtual_checksum(vp: str, vchecksum: str | None) -> None:
    """Fail the read if the external object visibly changed since the
    virtual ref was written (reference semantics: a stale ref must not
    silently return different bytes).  ``mtime:`` checksums compare the
    object's modification time via pyarrow (any scheme, any process —
    executor-safe).  ``etag:`` checksums can only be verified where an
    etag is obtainable; filesystems without one skip the check (the
    reference's object-store If-Match has no filesystem analog), so the
    value still round-trips for parity and audits."""
    if not vchecksum:
        return
    if vchecksum.startswith("mtime:"):
        from icechunk_spark.repo import fsio

        recorded = float(vchecksum[len("mtime:") :])
        actual = fsio.mtime(vp)
        # strictly newer than the recorded write-time stamp = modified
        if actual is not None and actual > recorded:
            err = IcechunkError(
                f"virtual chunk at {vp!r} was modified after its recorded "
                f"checksum time (mtime {actual} > {recorded}); the reference "
                "is stale"
            )
            err._kind = ErrorKind.INVALID_INPUT.value
            raise err


@dataclass
class ConflictSolver:
    """Resolution policy, mirroring icechunk's BasicConflictSolver:
    ``fail`` raises, ``use_ours`` keeps the session's writes,
    ``use_theirs`` keeps the committed writes.  ``fail_node_kinds``
    scopes failure to specific node-conflict kinds while the rest
    resolve per ``on_node_conflict`` (the reference's
    fail_on_delete_of_updated_* flags)."""

    on_chunk_conflict: str = "fail"  # fail | use_ours | use_theirs
    on_node_conflict: str = "fail"
    fail_node_kinds: tuple[str, ...] = ()


@dataclass
class Diff:
    new_nodes: list[str] = field(default_factory=list)
    deleted_nodes: list[str] = field(default_factory=list)
    updated_nodes: list[str] = field(default_factory=list)
    chunks_written: int = 0
    chunks_deleted: int = 0

    def __bool__(self) -> bool:
        return bool(
            self.new_nodes
            or self.deleted_nodes
            or self.updated_nodes
            or self.chunks_written
            or self.chunks_deleted
        )


@dataclass
class VersionSelector:
    """Pick a version by branch, tag, or snapshot id (exactly one)."""

    branch: str | None = None
    tag: str | None = None
    snapshot_id: str | None = None

    def resolve(self, root: str) -> str:
        picks = [x for x in (self.branch, self.tag, self.snapshot_id) if x is not None]
        if len(picks) != 1:
            raise ValueError("specify exactly one of branch/tag/snapshot_id")
        if self.branch:
            return fmt.branch_tip(root, self.branch)[1]
        if self.tag:
            return fmt.read_tag(root, self.tag)
        return self.snapshot_id  # type: ignore[return-value]


class Session:
    """A transaction over the repo at a base snapshot."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        snapshot_id: str,
        branch: str | None = None,
        read_only: bool = True,
        _session_id: str | None = None,
    ):
        self.spark = spark
        self.root = root
        self._base = fmt.read_snapshot(root, snapshot_id)
        self._branch = branch
        self._read_only = read_only
        self.session_id = _session_id or new_id()
        # path -> node dict; mutated by node ops
        self._nodes: dict[str, dict[str, Any]] = dict(self._base.nodes)
        # staged items, each ("file", relpath) of manifest-layout
        # parquet written when it was staged: a write_array_df chunk
        # dir under chunks/, or a file under staging/.  Order matters:
        # an item's index is its seq, so later items shadow earlier.
        self._staged: list[tuple[str, str]] = []
        self._node_ops: list[dict[str, str]] = []  # {op, path, node_id}
        self._chunk_buffer: list[dict[str, Any]] = []  # small set_bytes/virtual writes
        # virtual chunk container scoping (icechunk/src/virtual_chunks.rs):
        # configured url prefixes, and the subset this session may READ.
        # None = no containers configured (legacy/local mode: unscoped).
        self._virtual_containers: list[str] | None = None
        self._virtual_authorized: set[str] = set()
        # name -> url_prefix for vcc:// relative refs (design-doc 014):
        # manifests may store `vcc://<name>/<relative>` instead of a
        # full absolute URL — smaller manifests, relocatable chunks
        self._virtual_container_names: dict[str, str] | None = None
        # runtime config override (Repository.reopen(config=...)):
        # shadows the persisted config.json for this session only
        self._config_override: dict | None = None

    def _config_doc(self) -> dict | None:
        if self._config_override is not None:
            return self._config_override
        return fmt.read_config_doc(self.root)

    @property
    def _spec(self) -> int:
        """The repo's pinned spec version (lazy, cached): decides the
        chunk-file layout this session writes (v1 = flat
        chunks/<id>.parquet, v2+ = sharded format.chunk_rel)."""
        if self.__dict__.get("_spec_version") is None:
            self._spec_version = int(
                fmt.read_repo_info(self.root).get("format_version", 1)
            )
        return self._spec_version

    def _new_chunk_rel(self) -> str:
        cid = new_id()
        if self._spec >= 2:
            return fmt.chunk_rel(cid)
        return f"chunks/{cid}.parquet"

    # --- spark handle (lazy: executor-side sessions have none) -------------
    # An unpickled session inside a Spark task has no JVM gateway:
    # ``getActiveSession()`` is None there, so ``spark`` must not be
    # resolved eagerly at unpickle time, and DataFrame APIs fail with a
    # clear error.  The point reads (get_chunk_bytes / chunk_type /
    # ChunkStore.getsize) need no Spark on either side: they resolve
    # buffer -> staged -> base with pyarrow (``_live_refs``), and the
    # buffer flush writes with pyarrow everywhere.  Only
    # ``chunk_coordinates`` (streams from Spark on the driver) branches
    # on ``_has_spark`` (reference parity: sessions are pickled into
    # tasks for read scaling — icechunk-python session.py:39-60).

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self._spark = SparkSession.getActiveSession()
        if self._spark is None:
            raise RefError(
                "no active SparkSession in this process (executor-side "
                "session?): only point reads — get_chunk_bytes, chunk_type, "
                "chunk_coordinates — are available without a driver"
            )
        return self._spark

    @spark.setter
    def spark(self, value: SparkSession | None) -> None:
        self._spark = value

    @property
    def _has_spark(self) -> bool:
        if self._spark is None:
            self._spark = SparkSession.getActiveSession()
        return self._spark is not None

    # --- virtual chunk authorization --------------------------------------

    def _resolve_vcc(self, vpath: str) -> str:
        """Resolve a ``vcc://<name>/<relative>`` ref to its absolute
        location via the named container's url_prefix (design-doc 014);
        absolute locations pass through unchanged."""
        return resolve_vcc(vpath, self._virtual_container_names)

    def _virtual_write_ok(self, location: str) -> bool:
        """Would this location pass container validation?  vcc:// refs
        validate by NAME (the named container must exist); absolute
        refs validate by prefix, as before."""
        if location.startswith("vcc://"):
            name = location[len("vcc://") :].partition("/")[0]
            return bool(self._virtual_container_names) and name in self._virtual_container_names
        if self._virtual_containers is None:
            return True
        return any(location.startswith(p) for p in self._virtual_containers)

    def _check_virtual_write(self, location: str) -> None:
        if location.startswith("vcc://"):
            if not self._virtual_write_ok(location):
                raise RefError(
                    f"virtual chunk ref {location!r} names an unknown "
                    f"container (configured: "
                    f"{sorted(self._virtual_container_names or {})})"
                )
            return
        if self._virtual_containers is None:
            return
        if not any(location.startswith(p) for p in self._virtual_containers):
            raise RefError(
                f"virtual ref location {location!r} matches no configured "
                f"virtual chunk container (prefixes: {self._virtual_containers})"
            )

    def _check_virtual_read(self, vpath: str) -> None:
        if self._virtual_containers is None:
            return
        if not any(vpath.startswith(p) for p in self._virtual_authorized):
            raise RefError(
                f"virtual chunk at {vpath!r} is not under an authorized "
                "container; pass authorize_virtual_chunk_access when opening "
                "the repository"
            )

    # --- introspection ----------------------------------------------------

    # notebook ergonomics (reference parity: display.rs,
    # icechunk-python session.py:25-32)
    def __repr__(self) -> str:
        mode = "read-only" if self._read_only else "writable"
        dirty = ", uncommitted" if self.has_uncommitted_changes() else ""
        at = f"branch={self._branch!r}" if self._branch else f"snapshot={self._base.id!r}"
        return f"Session({mode}, {at}{dirty})"

    def _repr_html_(self) -> str:
        import html as _html

        rows = "".join(
            f"<tr><td><b>{k}</b></td><td>{_html.escape(str(v))}</td></tr>"
            for k, v in (
                ("mode", "read-only" if self._read_only else "writable"),
                ("branch", self._branch or "—"),
                ("snapshot_id", self._base.id),
                ("uncommitted_changes", self.has_uncommitted_changes()),
            )
        )
        return f"<table><caption>icechunk_spark.Session</caption>{rows}</table>"

    @property
    def read_only(self) -> bool:
        return self._read_only

    @property
    def mode(self) -> SessionMode:
        """Reference parity: Session.mode (session.py:74)."""
        if self._read_only:
            return SessionMode.readonly
        if getattr(self, "_rearrange_only", False):
            return SessionMode.rearrange
        return SessionMode.writable

    @property
    def store(self):
        """The zarr-style key/value facade over this session
        (reference parity: Session.store, session.py:139)."""
        from icechunk_spark.repo.store import ChunkStore

        return ChunkStore(self)

    def config(self):
        """The RepositoryConfig in effect for this session, including
        any Repository.reopen override (reference parity:
        Session.config, session.py:151)."""
        from icechunk_spark.repo.repository import RepositoryConfig

        doc = self._config_doc()
        return RepositoryConfig() if doc is None else RepositoryConfig.from_dict(doc)

    @property
    def branch(self) -> str | None:
        return self._branch

    @property
    def snapshot_id(self) -> str:
        return self._base.id

    def has_uncommitted_changes(self) -> bool:
        return bool(self._staged or self._node_ops or self._chunk_buffer)

    def status(self) -> Diff:
        d = Diff()
        for op in self._node_ops:
            if op["op"] == "create":
                d.new_nodes.append(op["path"])
            elif op["op"] == "delete":
                d.deleted_nodes.append(op["path"])
            else:
                d.updated_nodes.append(op["path"])
        # each chunk once, by its newest op: a later staged item
        # overrides an earlier one and the buffer overrides them all
        # (pyarrow, no Spark job)
        ops: dict[tuple[str, str], str] = {}
        for t in txlog_tables([_dp(self.root, rel) for _, rel in self._staged]):
            ops.update(zip(zip(t["node_id"].to_pylist(), t["chunk_key"].to_pylist()), t["op"].to_pylist()))
        ops.update(((e["node_id"], e["chunk_key"]), e["op"]) for e in self._buffer_entries())
        d.chunks_written = sum(op == "set" for op in ops.values())
        d.chunks_deleted = len(ops) - d.chunks_written
        return d

    def discard_changes(self) -> None:
        self._drop_staged_files()
        self._node_ops.clear()
        self._chunk_buffer.clear()
        self._nodes = dict(self._base.nodes)

    # --- node ops ---------------------------------------------------------

    def _require_writable(self) -> None:
        if self._read_only:
            raise RefError("session is read-only")

    def _require_repo_online(self) -> None:
        """Re-check the repo-level availability gate at COMMIT time,
        not just at session open: an admin flipping the repo to
        read_only must stop in-flight writers too (reference parity:
        repository status gating, repository.py:798+)."""
        try:
            doc = fmt.read_repo_info(self.root).get("status")
        except (FileNotFoundError, KeyError, RefError):
            # pre-status-era repo layout (no repo.json / no status key).
            # Genuine IO errors (e.g. an S3 timeout) must propagate —
            # swallowing them would silently bypass the admin gate
            # (ADVICE r4).
            return
        if doc and doc.get("availability") not in (None, "online"):
            reason = doc.get("limited_availability_reason") or "repository is read-only"
            raise RefError(f"cannot commit: {reason}")

    def _require_data_writable(self) -> None:
        """Data-mutation guard: rearrange sessions (move-only) pass the
        writable check but may not create/write/delete data."""
        self._require_writable()
        if getattr(self, "_rearrange_only", False):
            raise RefError("rearrange session: only move() is allowed")

    def create_group(self, path: str, attrs: dict | None = None) -> GroupMeta:
        self._require_data_writable()
        path = _norm(path)
        if path in self._nodes:
            raise RefError(f"node exists at {path}")
        meta = GroupMeta(node_id=new_id(), attrs=attrs or {})
        self._nodes[path] = _asdict(meta)
        self._node_ops.append({"op": "create", "path": path, "node_id": meta.node_id})
        return meta

    def create_array(
        self,
        path: str,
        shape: list[int],
        chunk_shape: list[int],
        dtype: str = "float64",
        fill_value: float = 0.0,
        attrs: dict | None = None,
        dimension_names: list | None = None,
        zarr_extra: dict | None = None,
    ) -> ArrayMeta:
        self._require_data_writable()
        path = _norm(path)
        if path in self._nodes:
            raise RefError(f"node exists at {path}")
        meta = ArrayMeta(
            node_id=new_id(),
            shape=list(shape),
            chunk_shape=list(chunk_shape) if chunk_shape is not None else None,
            dtype=dtype,
            fill_value=fill_value,
            attrs=attrs or {},
            dimension_names=list(dimension_names) if dimension_names else None,
            zarr_extra=zarr_extra or None,
        )
        self._nodes[path] = _asdict(meta)
        self._node_ops.append({"op": "create", "path": path, "node_id": meta.node_id})
        return meta

    def update_attrs(self, path: str, attrs: dict) -> None:
        self._require_data_writable()
        # copy-on-write (review r14): the per-node dicts are SHARED
        # with self._base.nodes and with every ForkSession (fork()
        # copies only the container) — mutating one in place leaked
        # the update into the base snapshot view (discard_changes
        # could not undo it) and into the parent/sibling forks
        # (wall-clock application order beat merge order)
        node = dict(self._node(path))
        node["attrs"] = {**node.get("attrs", {}), **attrs}
        self._nodes[_norm(path)] = node
        self._node_ops.append({"op": "update", "path": _norm(path), "node_id": node["node_id"]})

    def update_array(
        self,
        path: str,
        *,
        shape: list[int] | None = None,
        fill_value: float | None = None,
        attrs: dict | None = None,
        dimension_names: list | None = None,
        zarr_extra: dict | None = None,
    ) -> ArrayMeta:
        """Update an array's zarr metadata IN PLACE — the resize/append
        workflow (a zarr client re-writes zarr.json with a larger
        shape to append along a dimension; the reference accepts this
        through store.set on an existing key — icechunk/src/store.rs
        update_array path).  The node id is preserved, so existing
        chunk refs stay valid; chunks beyond a SHRUNK shape stop being
        read (boundary crop) and are reclaimed by GC once
        unreferenced.  dtype and chunk_shape are immutable — changing
        them would reinterpret existing chunk payloads."""
        self._require_data_writable()
        # copy-on-write: see update_attrs — never mutate the shared
        # per-node dict in place
        node = dict(self._node(path))
        if node.get("kind") != "array":
            raise RefError(f"{path} is not an array")
        if shape is not None:
            if len(shape) != len(node["shape"]):
                raise RefError("resize cannot change the array's rank")
            node["shape"] = [int(s) for s in shape]
        if fill_value is not None:
            node["fill_value"] = fill_value
        if attrs is not None:
            node["attrs"] = dict(attrs)
        if dimension_names is not None:
            # [] clears (replace semantics for whole-doc rewrites)
            node["dimension_names"] = list(dimension_names) or None
        if zarr_extra is not None:
            node["zarr_extra"] = dict(zarr_extra) or None
        self._nodes[_norm(path)] = node
        self._node_ops.append(
            {"op": "update", "path": _norm(path), "node_id": node["node_id"]}
        )
        return node_from_dict(node)  # type: ignore[return-value]

    def update_group_attrs(self, path: str, attrs: dict) -> None:
        """REPLACE a group's attributes (whole-doc rewrite semantics,
        unlike update_attrs which merges)."""
        self._require_data_writable()
        # copy-on-write: see update_attrs
        node = dict(self._node(path))
        if node.get("kind") != "group":
            raise RefError(f"{path} is not a group")
        node["attrs"] = dict(attrs)
        self._nodes[_norm(path)] = node
        self._node_ops.append(
            {"op": "update", "path": _norm(path), "node_id": node["node_id"]}
        )

    def delete_node(self, path: str) -> None:
        """Delete an array or group (group deletes cascade).  Chunk refs
        of deleted nodes become unreachable (no tombstones needed: the
        node_id is never reused) and are reclaimed by GC."""
        self._require_data_writable()
        path = _norm(path)
        doomed = [p for p in self._nodes if p == path or p.startswith(path.rstrip("/") + "/")]
        if not doomed:
            raise RefError(f"no node at {path}")
        for p in doomed:
            node = self._nodes.pop(p)
            self._node_ops.append({"op": "delete", "path": p, "node_id": node["node_id"]})

    def move(
        self, from_path: str, to_path: str, *, require_parent: bool = False
    ) -> None:
        """Rename a node (and descendants).  Pure metadata: manifests
        key chunks by node_id, so no chunk or manifest rewrite happens
        (same design as icechunk-types Move / session.move).

        Validation parity with the reference's move_node
        (icechunk/src/session.rs:857-900, #2102 / Changelog 2.0.5),
        checked in the reference's order: source exists →
        self/descendant → destination overwrite → destination under an
        array.  The reference additionally requires the destination's
        immediate parent group to exist ("move never creates
        intermediate groups" — MoveDestinationParentMissing); this
        tree allows implicit parents everywhere (create_group("/a/b")
        without "/a"), so by default the analog is the array-ancestor
        check alone: no EXISTING ancestor of the destination may be an
        array.  Pass ``require_parent=True`` for strict reference
        parity: the destination's immediate parent must then be an
        existing group (ADVICE r13 — documented divergence made
        opt-in)."""
        self._require_writable()
        from icechunk_spark.repo.admin import check_flag

        check_flag(
            fmt.read_repo_info(self.root).get("feature_flags", {}), "move_node", "move()"
        )
        src, dst = _norm(from_path), _norm(to_path)
        moved = {p: n for p, n in self._nodes.items() if p == src or p.startswith(src.rstrip("/") + "/")}
        if not moved:
            raise RefError(f"no node at {src}")
        if dst == src or dst.startswith(src.rstrip("/") + "/"):
            raise RefError(
                f"cannot move `{src}` into itself or its own descendant `{dst}`: "
                f"this would require `{src}` to be both an ancestor and a "
                "descendant of itself"
            )
        if dst in self._nodes:
            raise RefError(f"move cannot overwrite existing node at `{dst}`")
        parent = dst.rsplit("/", 1)[0]
        if require_parent and parent and parent not in self._nodes:
            raise RefError(
                f"cannot move to `{dst}`: the destination's parent "
                f"`{parent}` does not exist (strict reference-parity "
                "mode: move never creates intermediate groups)"
            )
        anc = parent
        while anc:
            node = self._nodes.get(anc)
            if node is not None and node.get("kind") == "array":
                raise RefError(
                    f"cannot move to `{dst}`: the destination's parent "
                    f"`{anc}` is an array, not a group"
                )
            anc = anc.rsplit("/", 1)[0]
        for p, node in moved.items():
            np_ = dst + p[len(src) :]
            del self._nodes[p]
            self._nodes[np_] = node
            self._node_ops.append(
                {"op": "move", "path": np_, "from": p, "node_id": node["node_id"]}
            )

    def get_node_id(self, path: str) -> str:
        return self._node(path)["node_id"]

    def list_nodes(self) -> dict[str, str]:
        return {p: n["kind"] for p, n in sorted(self._nodes.items())}

    def array_meta(self, path: str) -> ArrayMeta:
        node = self._node(path)
        if node["kind"] != "array":
            raise RefError(f"{path} is not an array")
        return node_from_dict(node)  # type: ignore[return-value]

    def _node(self, path: str) -> dict[str, Any]:
        path = _norm(path)
        if path not in self._nodes:
            raise RefError(f"no node at {path}")
        return self._nodes[path]

    # --- chunk data plane -------------------------------------------------

    @staticmethod
    def _require_regular_grid(meta: ArrayMeta, op: str) -> None:
        """Regular-grid array ops are undefined on rectilinear arrays
        (reference parity: session.rs rejects shift_array etc. on
        rectilinear grids — design-docs/018); key-addressed chunk IO
        (set/get_chunk_bytes, virtual refs) remains available."""
        if not meta.is_regular_grid:
            raise RefError(
                f"{op} requires a regular chunk grid; this array uses a "
                "rectilinear grid (use key-addressed chunk IO instead)"
            )

    def write_array_df(self, path: str, df: DataFrame) -> None:
        """Distributed write: pack (i0..ik, value) rows into chunks.

        Zarr ARRAY semantics: a write that only partially covers a
        chunk read-modify-writes that chunk — pre-existing cells the
        incoming rows don't touch keep their values.  The merge is part
        of the encode (arrays.encode_array_chunks): one shuffle
        cogroups the rows with the array's pre-dedup manifest rows of
        the chunks they touch (base files pruned to this node, plus
        this transaction's staged overlay, semi-joined on the rows'
        chunk keys), and the pack reads the latest ref's bytes only for
        chunks its rows partly cover.  Invariants:

        - stray rows are dropped at the source, so coverage and encode
          see the same rows and an all-stray chunk is never rewritten;
        - coverage counts distinct cells, so duplicate rows cannot
          make a partly covered chunk look full;
        - incoming cells win over existing ones;
        - fileless refs (inline payloads, virtual refs) merge like
          native ones, and a tombstone merges as fill.

        Buffered set/delete ops are flushed to a staged item first, so
        this write's cells shadow them.  When the base snapshot has no
        manifest file for this node and nothing is staged, no existing
        ref can exist: that driver-only check skips the cogroup (the
        same pack runs over a plain groupBy).

        Out-of-shape rows (any i{d} < 0 or >= shape[d]) are silently
        DROPPED, not errored — the documented contract (ADVICE r11).
        This diverges from the reference, which rejects out-of-grid
        writes with InvalidIndex (session.rs:987): raising here would
        require a validation pass (a Spark job) on every hot-path
        write, so the row-level API ignores strays the way it ignores
        unmentioned cells.  Callers that need strictness can bound-
        check their frame themselves (one filter + isEmpty) before
        calling; the drop is tested in test_repo_advice_fixes."""
        self._require_data_writable()
        meta = self.array_meta(path)
        self._require_regular_grid(meta, "write_array_df")
        # earlier buffered set/delete ops become a staged item BEFORE
        # this write's, so its cells shadow them (the buffer otherwise
        # overlays every staged item, and flushes last at commit)
        self._flush_chunk_buffer()
        ndim = len(meta.shape)
        # stray rows dropped at the source (a lazy filter, no job)
        inb = F.lit(True)
        for d in range(ndim):
            inb = inb & (F.col(f"i{d}") >= 0) & (F.col(f"i{d}") < F.lit(int(meta.shape[d])))
        src = df.select(*[f"i{d}" for d in range(ndim)], "value").filter(inb)
        base_files = mf.prune_manifest_paths(
            self._base.manifests, meta.node_id, self._base.manifest_summaries
        )
        refs = None
        if base_files or self._staged:
            refs = mf.read_manifest_files(self.spark, self.root, base_files)
            staged = self._staged_manifest_df()
            if staged is not None:
                refs = refs.unionByName(staged.withColumn("seq", F.col("seq") + _STAGED_SEQ))
            refs = refs.filter(F.col("node_id") == meta.node_id)
        rel = self._new_chunk_rel()
        encode_array_chunks(
            src, meta, fmt.data_path(self.root), rel, refs,
            vcc_map=self._virtual_container_names,
        )
        self._staged.append(("file", rel))  # the chunk dir holds its manifest rows

    def read_array_df(
        self, path: str, slices: list[tuple[int, int]] | None = None
    ) -> DataFrame:
        """Distributed read of an array region as coordinate rows: one
        Spark job of one stage whose tasks resolve their refs, staged
        files included, and read the payloads
        (``decode_chunks_to_rows``)."""
        meta = self.array_meta(path)
        self._require_regular_grid(meta, "read_array_df")
        rng = slice_chunk_range(meta, slices)
        if self._virtual_containers is not None:
            # container scoping is active: refuse the read if any chunk
            # in range points outside an authorized prefix (one cheap
            # metadata-only probe; no payloads are touched).  vcc://
            # refs authorize through their named container's prefix
            # (design-doc 014: auth stays prefix-based, names are only
            # a manifest-compression device).
            manifest = self._resolved_manifest(meta.node_id, rng)
            ok = F.lit(False)
            for p in sorted(self._virtual_authorized):
                ok = ok | F.col("vpath").startswith(p)
            for name, prefix in sorted((self._virtual_container_names or {}).items()):
                if prefix in self._virtual_authorized:
                    ok = ok | F.col("vpath").startswith(f"vcc://{name}/")
            bad = manifest.filter(F.col("is_virtual") & ~ok).select("vpath").limit(1).collect()
            if bad:
                self._check_virtual_read(self._resolve_vcc(bad[0]["vpath"]))  # raises
        return decode_chunks_to_rows(
            self.spark, fmt.data_path(self.root), meta,
            list(self._ref_layers(meta.node_id, chunk_range=rng)), slices,
            vcc_map=self._virtual_container_names,
        )

    def chunk_manifest_df(self, path: str | None = None) -> DataFrame:
        """The live chunk-ref manifest (optionally for one node) as a
        DataFrame — the queryable metadata surface."""
        node_id = self.array_meta(path).node_id if path else None
        return self._resolved_manifest(node_id, None)

    def set_chunk_bytes(
        self, path: str, chunk_key: str, payload: bytes, _meta=None
    ) -> None:
        """Store-level single-chunk write (buffered; flushed at commit).
        ``_meta`` lets a caller that already resolved the array meta
        (ChunkStore.set's grid check) skip the second node lookup on
        the per-chunk hot path."""
        self._require_data_writable()
        meta = self.array_meta(path) if _meta is None else _meta
        self._chunk_buffer.append(
            {
                "node_id": meta.node_id,
                "chunk_key": chunk_key,
                "payload": payload,
                "op": "set",
                "is_virtual": False,
            }
        )

    def delete_chunk(self, path: str, chunk_key: str) -> None:
        self._require_data_writable()
        meta = self.array_meta(path)
        self._chunk_buffer.append(
            {"node_id": meta.node_id, "chunk_key": chunk_key, "payload": None, "op": "del", "is_virtual": False}
        )

    def delete_chunks_prefix(self, path: str, coord_prefix=()) -> None:
        """Bulk-delete every initialized chunk of ``path`` whose grid
        coordinates start with ``coord_prefix`` — ONE distributed
        staging job over the resolved manifest (the reference's
        delete_chunks fold behind store.delete_dir, store.rs:447-512).
        Never lists chunk keys on the driver: a 10^8-chunk subtree is
        a filter + tombstone projection, not a loop."""
        self._require_data_writable()
        meta = self.array_meta(path)
        grid = meta.grid_shape()
        # coordinates that cannot address any chunk (rank overflow or
        # out-of-grid values) ⇒ the subtree is empty: no-op, matching
        # store.delete's impossible-key contract (reference PR #2312)
        if len(coord_prefix) > len(grid) or any(
            int(v) < 0 or int(v) >= g for v, g in zip(coord_prefix, grid)
        ):
            return
        # buffered sets inside the prefix must be shadowed too: flush
        # them to a staged manifest first so the tombstones (staged
        # later = higher index) overlay them
        self._flush_chunk_buffer()
        live = self._resolved_manifest(meta.node_id, None)
        for d, v in enumerate(coord_prefix):
            live = live.filter(F.col(f"c{d}") == int(v))
        self._staged.append(self._write_item(_tombstones(live)))

    def set_virtual_ref(
        self,
        path: str,
        chunk_key: str,
        location: str,
        offset: int,
        length: int,
        *,
        checksum=None,
        validate_container: bool = True,
    ) -> None:
        """Reference a byte range in an external file as a chunk
        (icechunk/src/virtual_chunks.rs).  ``validate_container=False``
        skips the configured-container check (the store facade's bulk
        ``set_virtual_refs_arr(validate_containers=False)`` contract —
        reads remain subject to read authorization regardless).
        ``checksum`` (reference store.py:253: etag str or
        last-modified datetime) is persisted with the ref and verified
        on every read — a stale ref fails instead of silently
        returning different bytes."""
        self._require_data_writable()
        if validate_container:
            self._check_virtual_write(location)
        meta = self.array_meta(path)
        self._chunk_buffer.append(
            {
                "node_id": meta.node_id,
                "chunk_key": chunk_key,
                "payload": None,
                "op": "set",
                "is_virtual": True,
                "vpath": location,
                "voffset": offset,
                "vlength": length,
                "vchecksum": encode_virtual_checksum(checksum),
            }
        )

    def set_virtual_refs(self, path: str, refs: list[tuple]) -> None:
        """Bulk variant: (chunk_key, location, offset, length) tuples,
        optionally with a 5th checksum element."""
        for ref in refs:
            chunk_key, location, offset, length = ref[:4]
            checksum = ref[4] if len(ref) > 4 else None
            self.set_virtual_ref(
                path, chunk_key, location, offset, length, checksum=checksum
            )

    def all_virtual_chunk_locations(self) -> list[str]:
        """Reference parity (list-returning API).  At ~10^8 virtual
        refs this driver list is the wrong tool — use
        :meth:`virtual_chunk_locations_df`."""
        df = self._resolved_manifest(None, None).filter(F.col("is_virtual"))
        return sorted({r["vpath"] for r in df.select("vpath").distinct().collect()})

    def virtual_chunk_locations_df(self) -> DataFrame:
        """Spark-native audit surface over virtual refs: one row per
        distinct stored location with its ref count, total referenced
        bytes, and the ``vcc://``-resolved absolute URL — the DataFrame
        analog of :meth:`all_virtual_chunk_locations` for repos whose
        virtual-ref count makes a driver-side list unreasonable
        (SURVEY §4 sizing: ~10^8 refs at 100 TB).  Nothing is
        collected; vcc resolution is a pure column expression over a
        literal name→url_prefix map, so a ref naming an unknown
        container surfaces as resolved_location NULL (an audit signal)
        instead of failing the scan."""
        agg = (
            self._resolved_manifest(None, None)
            .filter(F.col("is_virtual"))
            .groupBy(F.col("vpath").alias("location"))
            .agg(
                F.count(F.lit(1)).alias("ref_count"),
                F.sum("vlength").alias("total_bytes"),
            )
        )
        names = self._virtual_container_names or {}
        loc = F.col("location")
        if names:
            pairs: list = []
            for k, v in sorted(names.items()):
                pairs += [F.lit(k), F.lit(v)]
            rest = F.substring(loc, 7, 2**30)  # after 'vcc://'
            name = F.substring_index(rest, "/", 1)
            rel = F.expr("substring(location, 8 + length(split_part(substring(location, 7), '/', 1)))")
            resolved = F.when(
                loc.startswith("vcc://"),
                F.concat(F.element_at(F.create_map(*pairs), name), rel),
            ).otherwise(loc)
        else:
            resolved = F.when(loc.startswith("vcc://"), F.lit(None).cast("string")).otherwise(loc)
        return agg.select(
            "location", resolved.alias("resolved_location"), "ref_count", "total_bytes"
        )

    def chunk_coordinates(self, array_path: str, batch_size: int = 1000):
        """Iterator over the grid coordinates of every initialized
        chunk of an array (reference parity: Session.chunk_coordinates,
        icechunk-python session.py:327).  On the driver it streams the
        resolved manifest partition-by-partition — never materializes
        it there; a session unpickled in a task lists its layered
        refs (``_live_refs``) instead."""
        meta = self.array_meta(array_path)
        if not self._has_spark:
            keys = sorted(r["chunk_key"] for r in self._live_refs(meta.node_id))
            for k in keys:
                yield tuple(int(x) for x in k.split("."))
            return
        rows = (
            self._resolved_manifest(meta.node_id, None)
            .select("chunk_key")
            .orderBy("chunk_key")
            .toLocalIterator()
        )
        for r in rows:
            yield tuple(int(x) for x in r["chunk_key"].split("."))

    def chunk_type(self, array_path: str, chunk_coordinates) -> "ChunkType":
        """The storage kind of one chunk (reference parity:
        Session.chunk_type, session.py:343): uninitialized / native /
        virtual / inline.  A buffered native payload reports inline
        only when its flush will inline it (<= the threshold)."""
        meta = self.array_meta(array_path)
        key = ".".join(str(int(x)) for x in chunk_coordinates)
        ref = self._point_ref(meta.node_id, key)
        if ref is None:
            return ChunkType.uninitialized
        return ref_kind(ref, self._inline_threshold())

    def _point_ref(self, node_id: str, chunk_key: str) -> dict | None:
        """The live manifest ref of one chunk, or None (never written,
        or deleted): the one lookup behind get_chunk_bytes, chunk_type
        and ChunkStore.getsize."""
        refs = self._live_refs(node_id, chunk_key)
        return refs[0] if refs else None

    def _live_refs(self, node_id: str, chunk_key: str | None = None) -> list[dict]:
        """Live refs of one node (of one key, or of all keys): no Spark
        job."""
        return mf.live_refs(
            self._ref_layers(node_id, chunk_key), fmt.data_path(self.root), node_id, chunk_key
        )

    def _ref_layers(self, node_id, chunk_key=None, chunk_range=None):
        """``mf.live_refs`` layers, newest first, lazily (a lookup stops
        at the first layer holding its key): the chunk buffer's rows of
        the node (None: every node); staged items by relpath; the base
        manifests kept for the node and the key or range.  ``seq``
        carries the layer offsets."""
        rng = mf.key_chunk_range(chunk_key) if chunk_key is not None else chunk_range
        buffered = [{**e, "seq": _BUFFERED_SEQ + e["seq"]} for e in reversed(self._buffer_entries())]
        yield ("rows", [e for e in buffered if mf.row_matches(e, node_id, chunk_key, rng)])
        for i in reversed(range(len(self._staged))):
            yield ("file", self._staged[i][1], _STAGED_SEQ + i)
        summaries = self._base.manifest_summaries
        kept = mf.prune_manifest_paths(self._base.manifests, node_id, summaries, rng)
        yield ("base", kept, {m: summaries[m] for m in kept if m in summaries})

    def get_chunk_bytes(self, path: str, chunk_key: str) -> bytes | None:
        """One chunk's bytes (read-your-writes), or None: the newest
        ref (``_point_ref``) and one payload read, no Spark job."""
        meta = self.array_meta(path)
        ref = self._point_ref(meta.node_id, chunk_key)
        if ref is None:
            return None
        if ref["is_virtual"]:
            self._check_virtual_read(self._resolve_vcc(ref["vpath"]))
        return ref_bytes(
            ref,
            self._virtual_container_names,
            set(),
            lambda r: read_native_payload(_dp(self.root, r["file"]), r["chunk_id"]),
        )

    # --- array reorganization (rearrange sessions) ------------------------

    def shift_array(self, array_path: str, chunk_offset: list[int]) -> None:
        """Shift all chunks by a per-dimension chunk offset;
        out-of-bounds chunks are discarded, vacated positions cleared
        (session.py:shift_array, design-docs/018)."""
        self._require_data_writable()
        meta = self.array_meta(array_path)
        self._require_regular_grid(meta, "shift_array")
        ndim = len(meta.shape)
        if len(chunk_offset) != ndim:
            raise ValueError("chunk_offset rank mismatch")
        live = self._resolved_manifest(meta.node_id, None)
        grid = meta.grid_shape()
        newc = [F.col(f"c{d}") + chunk_offset[d] for d in range(ndim)]
        in_bounds = F.lit(True)
        for d in range(ndim):
            in_bounds = in_bounds & (newc[d] >= 0) & (newc[d] < grid[d])
        moved = live.filter(in_bounds)
        for d in range(ndim):
            moved = moved.withColumn(f"c{d}", F.col(f"c{d}") + chunk_offset[d])
        moved = moved.withColumn(
            "chunk_key", F.concat_ws(".", *[F.col(f"c{d}").cast("string") for d in range(ndim)])
        ).withColumn("op", F.lit("set"))
        # vacate every previously occupied position not re-covered:
        # tombstones first, then moved rows (higher staged idx shadows)
        self._staged.append(self._write_item(_tombstones(live)))
        self._staged.append(self._write_item(moved))

    def reindex_array(self, array_path: str, forward, backward=None) -> None:
        """Remap chunk coordinates with a Python function — applied
        distributed over the manifest rows (mapInPandas), never over
        chunk payloads (session.py:reindex_array)."""
        self._require_data_writable()
        import pandas as pd

        meta = self.array_meta(array_path)
        self._require_regular_grid(meta, "reindex_array")
        ndim = len(meta.shape)
        grid = meta.grid_shape()
        live = self._resolved_manifest(meta.node_id, None)

        def remap(batches):
            for pdf in batches:
                rows = []
                for _, r in pdf.iterrows():
                    old = [int(x) for x in r["chunk_key"].split(".")]
                    new = forward(old)
                    if new is None:
                        continue
                    new = list(new)
                    if len(new) != ndim or any(x < 0 or x >= g for x, g in zip(new, grid)):
                        raise ValueError(f"forward mapped {old} out of bounds: {new}")
                    d = r.to_dict()
                    d["chunk_key"] = ".".join(str(x) for x in new)
                    for i in range(4):
                        d[f"c{i}"] = new[i] if i < ndim else None
                    rows.append(d)
                yield pd.DataFrame(rows, columns=pdf.columns) if rows else pd.DataFrame(
                    columns=pdf.columns
                )

        moved = live.mapInPandas(remap, MANIFEST_SCHEMA)
        if backward is not None:
            # visit every grid position; clear positions whose source is
            # empty.  The grid is generated DISTRIBUTED (crossJoin of
            # per-dim ranges) and checked with a left-anti join against
            # live keys — a 10^8-cell grid never touches the driver.
            pos_df = None
            for d, g in enumerate(grid):
                dim = self.spark.range(g).select(F.col("id").cast("int").alias(f"p{d}"))
                pos_df = dim if pos_df is None else pos_df.crossJoin(dim)

            def src_map(batches):
                for pdf in batches:
                    out_pos: list[str] = []
                    out_src: list[str] = []
                    for _, r in pdf.iterrows():
                        pos = [int(r[f"p{d}"]) for d in range(ndim)]
                        src = backward(list(pos))
                        if src is None:
                            continue
                        out_pos.append(".".join(str(x) for x in pos))
                        out_src.append(".".join(str(int(x)) for x in src))
                    yield pd.DataFrame({"pos_key": out_pos, "src_key": out_src})

            pairs = pos_df.mapInPandas(src_map, "pos_key string, src_key string")
            missing = pairs.join(
                live.select(F.col("chunk_key").alias("src_key")), "src_key", "left_anti"
            )
            parts = F.split(F.col("pos_key"), "\\.")
            keys = missing.select(
                F.lit(meta.node_id).alias("node_id"),
                F.col("pos_key").alias("chunk_key"),
                *[
                    (F.element_at(parts, i + 1) if i < ndim else F.lit(None)).alias(f"c{i}")
                    for i in range(4)
                ],
            )
            self._staged.append(self._write_item(_tombstones(keys)))
        self._staged.append(self._write_item(moved))

    # --- staging ----------------------------------------------------------

    def _inline_threshold(self) -> int:
        """Inline-chunk threshold from the repo's config.json (default
        512, matching the reference's inline_chunk_threshold_bytes)."""
        try:
            doc = self._config_doc()
            if doc is not None:
                return int(doc.get("inline_chunk_threshold_bytes", 512))
        except (ValueError, OSError):
            pass
        return 512

    def _staging_rel(self) -> str:
        """A new relpath for a staged item's parquet."""
        return os.path.join("staging", self.session_id, f"{new_id()}.parquet")

    def _write_item(self, df: DataFrame) -> tuple[str, str]:
        """A staged item of ``df``'s manifest rows: one job writes them
        to a new staging file."""
        rel = self._staging_rel()
        df.select(*MANIFEST_COLUMNS).write.parquet(_dp(self.root, rel))
        return ("file", rel)

    def _drop_staged_files(self) -> None:
        """Forget the staged items and delete their staging files, with
        each session dir they leave empty (a merged fork's too).  A
        chunk dir under ``chunks/`` holds payload: it stays, for the
        snapshot that lists it or for GC."""
        dirs = set()
        for _, rel in self._staged:
            if rel.startswith("staging/"):
                fsio.delete_dir(_dp(self.root, rel))
                dirs.add(os.path.dirname(rel))
        for d in dirs:
            if not fsio.list_child_names(_dp(self.root, d)):
                fsio.delete_dir(_dp(self.root, d))
        self._staged.clear()

    def _flush_chunk_buffer(self) -> None:
        if not self._chunk_buffer:
            return
        import pyarrow as pa

        rel = self._new_chunk_rel()
        threshold = self._inline_threshold()
        rows = []
        refs = []
        for e in self._buffer_last():
            e = {**e, "seq": 0}
            if e["inline"] is not None and len(e["inline"]) > threshold:
                chunk_id = new_id()
                rows.append({"chunk_id": chunk_id, "payload": e["inline"]})
                e.update(chunk_id=chunk_id, file=rel, inline=None)
            refs.append(e)
        # payloads and refs are driver-resident rows: one pyarrow write
        # each, no Spark job, the same on the driver and in an
        # executor-side ForkSession (reference dask.py:store_dask
        # worker shape), where no SparkSession exists
        payload, manifest = fmt.arrow_schema(PAYLOAD_SCHEMA), fmt.arrow_schema(MANIFEST_SCHEMA)
        if rows:
            _write_parquet_rows(_dp(self.root, rel), [pa.Table.from_pylist(rows, schema=payload)], payload)
        mrel = self._staging_rel()
        _write_parquet_rows(_dp(self.root, mrel), [pa.Table.from_pylist(refs, schema=manifest)], manifest)
        self._staged.append(("file", mrel))
        self._chunk_buffer.clear()

    def _staged_manifest_df(self) -> DataFrame | None:
        """The staged items as one frame whose ``seq`` is the staging
        index (the intra-commit sub-sequence); None when there are
        none."""
        out = None
        for i, (_, rel) in enumerate(self._staged):
            d = staged_manifest_from_chunk_dir(self.spark, _dp(self.root, rel))
            d = d.withColumn("seq", F.lit(i).cast("bigint"))
            out = d if out is None else out.unionByName(d)
        return out

    def _buffer_last(self) -> list[dict]:
        """The buffer's last entry per (node_id, chunk_key): overlay
        semantics WITHIN the buffer (set-after-delete must resurrect the
        chunk).  Manifest seq can't express intra-buffer order because
        the whole flush is one staging item, so it collapses first."""
        last: dict[tuple[str, str], dict] = {}
        for e in self._buffer_entries():
            last[(e["node_id"], e["chunk_key"])] = e
        return list(last.values())

    def _buffer_entries(self) -> list[dict]:
        """The uncommitted ``set_chunk_bytes``/virtual-ref buffer as
        manifest rows, oldest first (``seq`` is the buffer index, so
        later entries win).  Native payloads ride in the ``inline``
        column, so readers see them without any flush — full
        read-your-writes inside the transaction."""
        entries = []
        for i, c in enumerate(self._chunk_buffer):
            ck = [int(x) for x in c["chunk_key"].split(".")] if c["chunk_key"] else []
            payload = c.get("payload")
            entries.append(
                {
                    "node_id": c["node_id"],
                    "chunk_key": c["chunk_key"],
                    **{f"c{d}": (ck[d] if d < len(ck) else None) for d in range(4)},
                    "chunk_id": None,
                    "file": None,
                    "n_bytes": len(payload) if payload else None,
                    "op": c["op"],
                    "is_virtual": bool(c.get("is_virtual")),
                    "vpath": c.get("vpath"),
                    "voffset": c.get("voffset"),
                    "vlength": c.get("vlength"),
                    "vchecksum": c.get("vchecksum"),
                    "inline": payload if c["op"] == "set" and not c.get("is_virtual") else None,
                    "seq": i,
                }
            )
        return entries

    def _resolved_manifest(self, node_id, rng) -> DataFrame:
        """The live refs of one node (None: every array), read-your-
        writes, in the chunk range ``rng`` (None = all chunks): the
        resolved-refs frame (``mf.resolve_manifests``) over
        ``_ref_layers``."""
        layers = list(self._ref_layers(node_id, chunk_range=rng))
        return mf.resolve_manifests(
            self.spark, self.root, self._base, node_id, rng, layers=layers, nodes=self._nodes
        )

    # --- commit machinery -------------------------------------------------

    def commit(
        self,
        message: str,
        metadata: dict | None = None,
        rebase_with: ConflictSolver | None = None,
        *,
        rebase_tries: int = 1_000,
        allow_empty: bool = False,
    ) -> str:
        """Commit staged changes; returns the new snapshot id.

        Reference parity (session.py:411): ``rebase_with`` retries the
        commit through ``rebase`` when another session committed first,
        up to ``rebase_tries`` times; ``allow_empty=False`` (the
        default, matching the reference) refuses a commit that changes
        nothing."""
        from icechunk_spark.tracing import span

        with span("icechunk.commit", branch=self._branch, message=message):
            return self._commit_impl(
                message,
                metadata,
                rebase_with,
                rebase_tries=rebase_tries,
                allow_empty=allow_empty,
            )

    def _commit_impl(
        self,
        message: str,
        metadata: dict | None = None,
        rebase_with: ConflictSolver | None = None,
        *,
        rebase_tries: int = 1_000,
        allow_empty: bool = False,
    ) -> str:
        self._require_writable()
        self._require_repo_online()
        if self._branch is None:
            raise RefError("no branch to commit to")
        if (
            not allow_empty
            and not self._chunk_buffer
            and not self._staged
            and not self._node_ops
        ):
            err = IcechunkError(
                "nothing to commit (pass allow_empty=True to create an "
                "empty commit)"
            )
            err._kind = ErrorKind.SESSION_STATE.value
            raise err
        self._flush_chunk_buffer()
        doc = self._config_doc()
        max_attempts = int((doc or {}).get("repo_update_retries", 10) or 10)
        if rebase_with is not None:
            max_attempts = min(max_attempts, max(1, int(rebase_tries)))
        attempts = 0
        while True:
            attempts += 1
            if attempts > max_attempts:
                raise RefError(
                    f"commit lost the branch CAS race {max_attempts} times "
                    "(repo_update_retries); branch is too contended"
                )
            gen, tip_id = fmt.branch_tip(self.root, self._branch)
            if tip_id != self._base.id:
                self._rebase_onto(tip_id, rebase_with)  # the base becomes the tip
            snap = self._write_snapshot(self._base, message, metadata, doc)
            try:
                fmt.update_branch(self.root, self._branch, snap.id, expected_gen=gen)
            except RefError:
                continue  # lost the CAS race: re-detect conflicts against the new tip
            self._published(snap)
            return snap.id

    @_traced("icechunk.flush")
    def flush(self, message: str, *, metadata: dict | None = None) -> str:
        """Save staged changes to a new snapshot WITHOUT modifying any
        branch; on success the session becomes read-only, based on the
        new snapshot, and its id is returned (reference parity:
        Session.flush, session.py:589 — the building block for
        coordinator-driven distributed commits: workers flush, the
        coordinator later publishes a ref to the flushed snapshot).
        No branch CAS is involved, so a flush can never lose a race."""
        self._require_writable()
        self._require_repo_online()
        self._flush_chunk_buffer()
        snap = self._write_snapshot(self._base, message, metadata, self._config_doc())
        self._published(snap)
        self._branch = None
        self._read_only = True
        return snap.id

    def amend(
        self,
        message: str | None = None,
        metadata: dict | None = None,
        *,
        allow_empty: bool = False,
    ) -> str:
        """Replace the tip commit with tip+staged (same parent) —
        session.py:509.  ``allow_empty=False`` (reference default)
        refuses an amend that changes nothing beyond message/metadata
        when neither was given."""
        self._require_writable()
        self._require_repo_online()
        if self._branch is None:
            raise RefError("no branch to amend")
        if (
            not allow_empty
            and message is None
            and metadata is None
            and not self._chunk_buffer
            and not self._staged
            and not self._node_ops
        ):
            err = IcechunkError(
                "nothing to amend (pass allow_empty=True, or a new "
                "message/metadata)"
            )
            err._kind = ErrorKind.SESSION_STATE.value
            raise err
        self._flush_chunk_buffer()
        gen, tip_id = fmt.branch_tip(self.root, self._branch)
        tip = fmt.read_snapshot(self.root, tip_id)
        if tip.parent_id is None:
            raise RefError("cannot amend the root snapshot")
        if tip_id != self._base.id:
            raise RefError("session base is not the branch tip; rebase first")
        snap = self._write_snapshot(
            tip,
            message if message is not None else tip.message,
            metadata if metadata is not None else tip.metadata,
            self._config_doc(),
            replace=True,
        )
        fmt.update_branch(self.root, self._branch, snap.id, expected_gen=gen)
        self._published(snap)
        return snap.id

    def _write_snapshot(
        self,
        parent: SnapshotInfo,
        message: str,
        metadata: dict | None,
        doc: dict | None,
        *,
        replace: bool = False,
    ) -> SnapshotInfo:
        """Write the staged changes as a new snapshot on top of
        ``parent`` — the one publish step of commit, flush and amend;
        no ref moves.  One scan of the staged items writes the new
        manifest files (split per the config ``doc``); the txlog is
        copied from those files with pyarrow (``write_txlog``); then the
        snapshot doc is written.  ``replace`` (amend) makes the snapshot
        REPLACE ``parent``: it takes ``parent``'s parent and carries its
        txlog, its expire carry-list and a future writer's unknown
        fields (design-docs/015, 016)."""
        snap_id = new_id()
        manifests, summaries, added = self._manifests_after(parent, doc)
        carry = parent.id if replace else None
        write_txlog(self.root, snap_id, added, self._node_ops, carry_from=carry)
        snap = SnapshotInfo(
            id=snap_id,
            parent_id=parent.parent_id if replace else parent.id,
            message=message,
            metadata=metadata or {},
            written_at=time.time(),
            seq=parent.seq + 1,
            manifests=manifests,
            nodes=self._nodes,
            manifest_summaries=summaries,
        )
        if replace:
            snap.pruned_ancestor_tx_logs = list(parent.pruned_ancestor_tx_logs)
            snap.extra = dict(parent.extra)
        fmt.write_snapshot(self.root, snap)
        return snap

    def _published(self, snap: SnapshotInfo) -> None:
        """The staged changes now live in ``snap``: it becomes the base
        and the staging state is cleared."""
        self._drop_staged_files()
        self._node_ops.clear()
        self._base = snap

    @_traced("icechunk.rebase")
    def rebase(self, solver: ConflictSolver) -> None:
        """Move the session base to the branch tip, resolving conflicts."""
        self._require_writable()
        # buffered (small) chunk writes must be visible to conflict
        # detection — without the flush, a rebase() called before any
        # commit attempt silently under-detects chunk conflicts
        self._flush_chunk_buffer()
        _, tip_id = fmt.branch_tip(self.root, self._branch or "")
        if tip_id != self._base.id:
            self._rebase_onto(tip_id, solver)

    def _manifests_after(
        self, parent: SnapshotInfo, doc: dict | None
    ) -> tuple[list[str], dict[str, dict], list[str]]:
        """The manifest list and summaries of a snapshot on top of
        ``parent``, and the manifest files it adds: the parent's list,
        plus the staged items written as new manifest files (split per
        the config ``doc``) whose seqs order above every parent row —
        one write job; the summaries cost no extra job.  A file the
        staged rows left empty (refs == 0) is not added."""
        manifests = list(parent.manifests)
        summaries = dict(parent.manifest_summaries)
        added: list[str] = []
        staged = self._staged_manifest_df()
        if staged is not None:
            rels, new = mf.write_manifests(
                staged.withColumn("seq", F.col("seq") + (parent.seq + 1) * 100_000),
                self.root,
                splitting=((doc or {}).get("manifest") or {}).get("splitting"),
                node_paths=self._node_paths(),
            )
            added = [m for m in rels if m not in new or new[m]["refs"]]
            summaries.update(new)
        manifests += added
        return manifests, {m: summaries[m] for m in manifests if m in summaries}, added

    def _node_paths(self) -> dict[str, str]:
        """node_id -> array path for the session's current node set —
        driver-side metadata (#arrays entries), used by write_manifests
        to evaluate per-array ManifestSplittingConfig rules."""
        return {n["node_id"]: p for p, n in self._nodes.items()}

    def _txlogs_between(self, old_id: str, new_id_: str) -> list[str]:
        """Snapshot ids on the path new_id_ → ... → old_id (exclusive)."""
        out = []
        cur = fmt.read_snapshot(self.root, new_id_)
        while cur.id != old_id:
            out.append(cur.id)
            if cur.parent_id is None:
                raise RefError(f"{old_id} is not an ancestor of {new_id_}")
            cur = fmt.read_snapshot(self.root, cur.parent_id)
        return out

    def _rebase_onto(self, tip_id: str, solver: ConflictSolver | None) -> None:
        theirs_ids = self._txlogs_between(self._base.id, tip_id)
        # design-doc 016: a commit on the path may be a re-parented
        # expiration boundary; its pruned_ancestor_tx_logs carry the
        # changes of commits squashed out of history, and skipping a
        # missing one would silently hide conflicts — so rebase ERRORS
        # on a missing carried log (the reference's rule), while a
        # commit's own log may legitimately be absent (node-only
        # pre-txlog commits).
        expanded: list[tuple[str, bool]] = []  # (snapshot_id, carried)
        for sid in theirs_ids:
            for carried in fmt.read_snapshot(self.root, sid).pruned_ancestor_tx_logs:
                expanded.append((carried, True))
            expanded.append((sid, False))
        their_logs = []
        for sid, carried in expanded:
            p = _dp(self.root, "txlogs", f"{sid}.parquet")
            if fsio.exists(p):
                their_logs.append(p)
            elif carried:
                raise RefError(
                    f"rebase needs the txlog of expired commit {sid} "
                    "(carried by an expiration boundary) but it is "
                    "missing — conflicts against it cannot be checked"
                )
        staged = self._staged_manifest_df()
        ours_chunks = (
            staged.select("node_id", "chunk_key").distinct()
            if staged is not None
            else local_df(self.spark, [], "node_id string, chunk_key string")
        )
        if their_logs:
            theirs = self.spark.read.schema(TXLOG_SCHEMA).parquet(*their_logs)
        else:
            theirs = local_df(self.spark, [], TXLOG_SCHEMA)
        chunk_conf = (
            ours_chunks.join(
                theirs.filter(F.col("chunk_key") != ""), ["node_id", "chunk_key"]
            )
            .select("node_id", "chunk_key")
            .distinct()
        )
        # one collect: every conflicted key when use_theirs drops them
        # below, else a sample; the conflict list holds the first 100
        if solver is None or solver.on_chunk_conflict != "use_theirs":
            chunk_conf = chunk_conf.limit(100)
        conf_keys = [(r["node_id"], r["chunk_key"]) for r in chunk_conf.collect()]
        conflicts = [{"kind": "chunk", "node_id": n, "chunk_key": k} for n, k in conf_keys[:100]]
        tip = fmt.read_snapshot(self.root, tip_id)
        ours_nodes = {op["node_id"] for op in self._node_ops}
        their_node_rows = theirs.filter(F.col("chunk_key") == "").collect()
        their_nodes = {r["node_id"] for r in their_node_rows}
        their_deleted = {r["node_id"] for r in their_node_rows if r["op"] == "node_delete"}
        node_conflicts = ours_nodes & their_nodes
        conflicts += [{"kind": "node", "node_id": n} for n in sorted(node_conflicts)]
        # reference's DeleteOfUpdatedArray: we wrote chunks to a node
        # they deleted — without this check the writes would silently
        # orphan (conflicts/detector.rs)
        ours_chunk_nodes = {r["node_id"] for r in ours_chunks.select("node_id").distinct().collect()}
        deleted_write = sorted((ours_chunk_nodes - ours_nodes) & their_deleted)
        conflicts += [{"kind": "deleted_node_write", "node_id": n} for n in deleted_write]
        # reference's NewNodeConflictsWithExisting: both sides created
        # (or delete+recreated) the SAME PATH with different node ids —
        # node-id matching can't see it, and without this check the
        # rebase silently let the last writer's node shadow the
        # committed one (conflicts/detector.rs)
        ours_by_path: dict[str, list[dict]] = {}
        for op in self._node_ops:
            if op["op"] != "delete":
                ours_by_path.setdefault(op["path"], []).append(op)
        their_touched_paths = {
            p for p, n in tip.nodes.items() if n["node_id"] in their_nodes
        }
        their_deleted_paths = {
            p for p, n in self._base.nodes.items() if n["node_id"] in their_deleted
        }
        path_conflicts = sorted(
            p
            for p, ops in ours_by_path.items()
            if (p in their_touched_paths or p in their_deleted_paths)
            and all(op.get("node_id") not in node_conflicts for op in ops)
        )
        conflicts += [{"kind": "path", "path": p} for p in path_conflicts]
        # reference's DeleteOfUpdatedArray/Group seen from OUR side: we
        # delete a node THEY wrote chunks into — without this check our
        # delete silently discards their committed writes
        # (conflicts/detector.rs DeleteOfUpdatedArray)
        their_chunk_nodes = {
            r["node_id"]
            for r in theirs.filter(F.col("chunk_key") != "")
            .select("node_id")
            .distinct()
            .collect()
        }
        ours_deleted_ids = {
            op["node_id"] for op in self._node_ops if op["op"] == "delete"
        }
        delete_of_written = sorted(
            (ours_deleted_ids & their_chunk_nodes) - node_conflicts
        )
        conflicts += [
            {"kind": "delete_of_written", "node_id": n} for n in delete_of_written
        ]
        # reference's ChunksUpdatedInUpdatedArray: we wrote chunks into
        # an array whose METADATA they updated (e.g. a concurrent
        # resize) — our writes may land outside the new bounds
        # (conflicts/detector.rs)
        their_updated = {
            r["node_id"] for r in their_node_rows if r["op"] == "node_update"
        }
        updated_write = sorted(
            (ours_chunk_nodes & their_updated) - node_conflicts - set(deleted_write)
        )
        conflicts += [
            {"kind": "updated_node_write", "node_id": n} for n in updated_write
        ]
        # reference's NewNodeInInvalidGroup: we created a node under a
        # group THEY deleted — the new node would dangle under a path
        # that no longer exists (conflicts/detector.rs)
        def _strict_ancestors(p: str):
            parts = p.strip("/").split("/")
            for i in range(1, len(parts)):
                yield "/" + "/".join(parts[:i])

        invalid_group = sorted(
            p
            for p in ours_by_path
            if p not in path_conflicts
            and any(a in their_deleted_paths for a in _strict_ancestors(p))
        )
        conflicts += [{"kind": "invalid_group", "path": p} for p in invalid_group]
        if conflicts:
            if solver is None:
                raise ConflictError(conflicts)
            mode = solver.on_chunk_conflict
            node_kinds = (
                "node",
                "deleted_node_write",
                "path",
                "delete_of_written",
                "invalid_group",
                "updated_node_write",
            )
            if any(c["kind"] in node_kinds for c in conflicts) and solver.on_node_conflict == "fail":
                raise ConflictError([c for c in conflicts if c["kind"] in node_kinds])
            # scoped fail set (BasicConflictSolver's
            # fail_on_delete_of_updated_* flags): resolve every node
            # conflict EXCEPT the listed kinds, which still fail —
            # without the scoping, a flag meant for delete-of-updated
            # would fail unrelated metadata-double-update conflicts too
            fail_kinds = set(getattr(solver, "fail_node_kinds", ()) or ())
            scoped = [c for c in conflicts if c["kind"] in fail_kinds]
            if scoped:
                raise ConflictError(scoped)
            chunk_conflicts = any(c["kind"] == "chunk" for c in conflicts)
            if mode == "fail" and chunk_conflicts:
                raise ConflictError([c for c in conflicts if c["kind"] == "chunk"])
            # what the resolutions drop from our staged rows, applied in
            # one pass at the end: whole nodes, and (use_theirs) the
            # conflicted chunk keys collected above — they are bounded
            # by the conflicts, not by everything we staged.  use_ours
            # drops nothing: our staged rows get a higher seq.
            drop_nodes: set[str] = set()
            drop_chunks = conf_keys if mode == "use_theirs" else []
            if solver.on_node_conflict == "use_theirs":
                # their side wins every node conflict; the merge below
                # then keeps tip's entry (or its absence).  We drop:
                # - our node ops on conflicted nodes (a metadata
                #   double-update or update-vs-delete; replaying them
                #   made use_theirs behave as use_ours, found by the
                #   r14 model-based conflict test);
                # - our ops at paths they also changed and under
                #   groups they deleted, and those nodes from our view;
                # - our delete ops on nodes they wrote chunks into
                #   (their chunks stay reachable).
                # Our staged chunks drop with the nodes that lose: a
                # conflicted node they deleted or resized (node-level
                # use_theirs supersedes chunk-level keeps, review r14),
                # a node they deleted or resized under our writes (the
                # writes would orphan or fall out of bounds), and the
                # node ids at the contested paths.
                contested = set(path_conflicts) | set(invalid_group)
                lost = {
                    op["node_id"]
                    for p in contested
                    for op in ours_by_path[p]
                    if op.get("node_id")
                }
                drop_nodes = (
                    (node_conflicts & (their_deleted | their_updated))
                    | set(deleted_write)
                    | set(updated_write)
                    | lost
                )
                kept_deletes = set(delete_of_written)
                self._node_ops = [
                    op
                    for op in self._node_ops
                    if op["node_id"] not in node_conflicts
                    and op["path"] not in contested
                    and not (op["op"] == "delete" and op["node_id"] in kept_deletes)
                ]
                for p in contested:
                    self._nodes.pop(p, None)
            elif solver.on_node_conflict == "use_ours":
                # our side wins.  A node they deleted under our writes,
                # and the groups they deleted above our creates, are
                # resurrected from our view so the hierarchy stays
                # consistent.  Otherwise the merge below replays our
                # ops over tip: at a contested path our node wins; our
                # delete of a node they wrote makes their chunk refs
                # unreachable (reclaimed by GC, like a post-commit
                # delete); our writes into a node they resized stay
                # (reads crop to the new shape).
                for nid in deleted_write:
                    for path, node in self._nodes.items():
                        if node["node_id"] == nid:
                            self._node_ops.append(
                                {"op": "create", "path": path, "node_id": nid}
                            )
                            break
                for p in invalid_group:
                    for anc in _strict_ancestors(p):
                        if anc in their_deleted_paths and anc in self._nodes:
                            self._node_ops.append(
                                {
                                    "op": "create",
                                    "path": anc,
                                    "node_id": self._nodes[anc]["node_id"],
                                }
                            )
            if drop_nodes or drop_chunks:
                self._drop_staged_rows(drop_nodes, drop_chunks)
        # merge their node table with our ops replayed on top
        merged = dict(tip.nodes)
        for op in self._node_ops:
            path = op["path"]
            if op["op"] == "delete":
                merged.pop(path, None)
            else:
                if op["op"] == "move":
                    # drop the source path inherited from tip.nodes, or
                    # the node would exist at both old and new paths
                    merged.pop(op.get("from"), None)
                if path in self._nodes:
                    merged[path] = self._nodes[path]
        self._nodes = merged
        self._base = tip

    def _drop_staged_rows(self, node_ids: set[str], chunks: list[tuple[str, str]]) -> None:
        """Drop the staged rows of ``node_ids`` and of the (node_id,
        chunk_key) pairs ``chunks`` from each staged item in place: one
        job writes the rest of an item to a new staging file, and a
        replaced staging file is deleted.  An item whose footers admit
        none of those rows (``mf.footers_admit``) stays as it is, with
        no job.  Items are never merged: an item's list index is its
        seq, so rows of different items would tie."""
        rows = [{"node_id": n, "chunk_key": k} for n, k in chunks]
        keys = local_df(self.spark, rows, "node_id string, chunk_key string") if rows else None
        for i, (_, rel) in enumerate(self._staged):
            if not mf.footers_admit(_dp(self.root, rel), node_ids, chunks):
                continue
            df = staged_manifest_from_chunk_dir(self.spark, _dp(self.root, rel))
            if node_ids:
                df = df.filter(~F.col("node_id").isin(sorted(node_ids)))
            if keys is not None:
                df = df.join(keys, ["node_id", "chunk_key"], "left_anti")
            self._staged[i] = self._write_item(df)
            if rel.startswith("staging/"):
                fsio.delete_dir(_dp(self.root, rel))

    # --- fork/merge (distributed cooperative writes) ----------------------

    def fork(self) -> "ForkSession":
        """A picklable writer session for cooperative multi-writer jobs
        (session.py:fork / ForkSession).  Forks stage independently;
        ``merge`` folds their staged manifests back before one commit."""
        return ForkSession(
            spark=self.spark,
            root=self.root,
            snapshot_id=self._base.id,
            nodes=dict(self._nodes),
        )

    def merge(self, *others: "ForkSession") -> None:
        self._require_writable()
        for o in others:
            # a fork that wrote through the buffered store API
            # (set_chunk_bytes / set_virtual_ref) holds those ops in
            # its chunk buffer, not in staged manifests — flush them
            # so the merge folds in EVERYTHING the fork wrote
            o._flush_chunk_buffer()
            self._staged.extend(o._staged)
            # fold the fork's node-level ops (create/update/delete/move)
            # into the parent's node table — commit publishes
            # ``self._nodes``, so without this a fork's create_array
            # would leave manifests referencing a node absent from the
            # snapshot (same fold as the rebase path above; merge
            # argument order wins on conflicting paths, matching the
            # chunk-overlap contract)
            for op in o._node_ops:
                path = op["path"]
                if op["op"] == "delete":
                    self._nodes.pop(path, None)
                else:
                    if op["op"] == "move":
                        self._nodes.pop(op.get("from"), None)
                    if path in o._nodes:
                        self._nodes[path] = o._nodes[path]
            self._node_ops.extend(o._node_ops)

    # --- pickling (read-scaling across workers) ---------------------------
    # Reference parity: Session.__getstate__ (session.py:39-60) — only
    # read-only sessions serialize; writers must fork().

    def __getstate__(self):
        if not self._read_only:
            raise ValueError(
                "You must opt-in to pickle writable sessions in a distributed "
                "context using Session.fork()"
            )
        return {
            "root": self.root,
            "snapshot_id": self._base.id,
            "session_id": self.session_id,
            "virtual_containers": self._virtual_containers,
            "virtual_authorized": sorted(self._virtual_authorized),
            "virtual_container_names": self._virtual_container_names,
        }

    def __setstate__(self, state):
        # Resolved lazily by the ``spark`` property: inside an executor
        # there is no active session and point reads use pyarrow.
        self.spark = None
        self.root = state["root"]
        self._base = fmt.read_snapshot(self.root, state["snapshot_id"])
        self._branch = None
        self._read_only = True
        self.session_id = state["session_id"]
        self._nodes = dict(self._base.nodes)
        self._staged = []
        self._node_ops = []
        self._chunk_buffer = []
        self._virtual_containers = state.get("virtual_containers")
        self._virtual_authorized = set(state.get("virtual_authorized") or [])
        self._virtual_container_names = state.get("virtual_container_names")
        self._config_override = None


class ForkSession(Session):
    def __init__(self, spark, root, snapshot_id, nodes):
        super().__init__(spark, root, snapshot_id, branch=None, read_only=False)
        self._nodes = nodes

    def commit(self, *a, **k):  # type: ignore[override]
        raise RefError("ForkSession cannot commit; merge into the parent session")

    def __getstate__(self):
        # buffered store-API writes (set_chunk_bytes / set_virtual_ref)
        # must survive the trip back to the coordinator: flush them to
        # staged parquet first (a pyarrow write: works with OR without
        # a SparkSession)
        self._flush_chunk_buffer()
        return {
            "root": self.root,
            "snapshot_id": self._base.id,
            "nodes": self._nodes,
            "staged": self._staged,
            "node_ops": self._node_ops,
            "session_id": self.session_id,
        }

    def __setstate__(self, state):
        self.spark = None  # lazy (see Session.spark property)
        self.root = state["root"]
        self._base = fmt.read_snapshot(self.root, state["snapshot_id"])
        self._branch = None
        self._read_only = False
        self.session_id = state["session_id"]
        self._nodes = state["nodes"]
        self._staged = state["staged"]
        # node ops must survive the executor->coordinator trip or a
        # fork's create_array/delete_node/move is silently dropped by
        # Session.merge (which folds via the op log)
        self._node_ops = state.get("node_ops", [])
        self._chunk_buffer = []
        self._virtual_containers = None
        self._virtual_authorized = set()
        self._virtual_container_names = None
        self._config_override = None


def write_txlog(root: str, snap_id: str, manifests=(), node_ops=(), carry_from=None) -> None:
    """Record what snapshot ``snap_id`` changed as ``txlogs/<snap_id>.parquet``
    (one ``TXLOG_SCHEMA`` part), with pyarrow and no Spark job: the
    (node_id, chunk_key, op) rows of the manifest files the snapshot
    added (``manifests``, relpaths), one row group at a time; then the
    txlog of ``carry_from``, a snapshot it REPLACES (an amend, a
    ``rewrite_manifests`` amend), or a rebase over the replacement would
    miss its changes; then one ``node_<op>`` row (chunk_key ``""``) per
    node op — a node-only commit (e.g. a bare delete_node) MUST log
    these or later sessions can't detect conflicts against it.  A
    snapshot that changed nothing gets no txlog."""
    import pyarrow as pa

    schema = fmt.arrow_schema(TXLOG_SCHEMA)
    sources = [_dp(root, m) for m in manifests]
    carry = _dp(root, "txlogs", f"{carry_from}.parquet") if carry_from else None
    if carry is not None and fsio.exists(carry):
        sources.append(carry)
    node_rows = [
        {"node_id": op["node_id"], "chunk_key": "", "op": f"node_{op['op']}"}
        for op in node_ops
    ]
    if not sources and not node_rows:
        return
    nodes = [pa.Table.from_pylist(node_rows, schema=schema)] if node_rows else []
    _write_parquet_rows(
        _dp(root, "txlogs", f"{snap_id}.parquet"), itertools.chain(txlog_tables(sources), nodes), schema
    )


def txlog_tables(paths):
    """The (node_id, chunk_key, op) columns of the parquet parts under
    each of ``paths`` (manifest files, staged items, txlogs), read with
    pyarrow one row group at a time (``mf._open_parts``)."""
    names = [name for name, _ in fmt.ddl_fields(TXLOG_SCHEMA)]
    for path in paths:
        for _, pf in mf._open_parts(path):
            for g in range(pf.num_row_groups):
                yield pf.read_row_group(g, columns=names, use_threads=False)


def _write_parquet_rows(path: str, tables, schema) -> None:
    """Write a stream of Arrow ``tables`` (each cast to ``schema``) as a
    single-part parquet DIRECTORY (the layout of Spark's coalesce(1)
    write) using only pyarrow, one table in memory at a time — usable
    inside executors where no SparkSession exists.  The part is written
    under a ``_``-prefixed name, which Spark's file listing,
    ``fsio.parquet_parts`` and pyarrow datasets all skip, and moved into
    place once complete, so no reader sees a half-written part.  The
    path resolves through fsio._fs_path, which maps Hadoop schemes
    (s3a://) that pyarrow does not know."""
    import pyarrow.parquet as pq

    fs, p = fsio._fs_path(path)
    fs.create_dir(p, recursive=True)
    with fs.open_output_stream(f"{p}/_part-00000.parquet") as f, pq.ParquetWriter(f, schema) as w:
        for t in tables:
            w.write_table(t.select(schema.names).cast(schema))
    fs.move(f"{p}/_part-00000.parquet", f"{p}/part-00000.parquet")


_TOMBSTONE_KEYS = ("node_id", "chunk_key", "c0", "c1", "c2", "c3")


def _tombstones(keys: DataFrame) -> DataFrame:
    """Tombstone manifest rows (``op='del'``, every ref column NULL)
    for the chunks of ``keys`` (columns node_id, chunk_key, c0..c3)."""
    return mf.manifest_frame(keys.select(*_TOMBSTONE_KEYS), op="del", is_virtual=False, seq=0)


def _norm(path: str) -> str:
    return "/" + path.strip("/")


def _asdict(meta: ArrayMeta | GroupMeta) -> dict[str, Any]:
    from dataclasses import asdict

    return asdict(meta)
