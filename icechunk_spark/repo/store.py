"""Zarr-style key/value store facade over a Session — the analog of
IcechunkStore (icechunk-python/python/icechunk/store.py).

Keys: ``<path>/zarr.json`` (node metadata documents) and
``<path>/c/<i>/<j>/...`` (chunk payloads).  Listing walks the node
table plus the resolved manifest.
"""

from __future__ import annotations

import json
from typing import Iterator

from icechunk_spark.repo.format import RefError
from icechunk_spark.repo.session import Session


class ChunkStore:
    def __init__(self, session: Session, read_only: bool | None = None):
        self.session = session
        # store-level read-only flag (reference parity: with_read_only
        # flips the STORE's flag over the same session, store.py:102)
        self.read_only = session.read_only if read_only is None else bool(read_only)

    # notebook ergonomics (reference parity: store.py:71-78)
    def __repr__(self) -> str:
        mode = "read-only" if self.read_only else "writable"
        return f"ChunkStore({mode}, snapshot={self.session.snapshot_id!r})"

    def _repr_html_(self) -> str:
        return f"<code>{self!r}</code>"

    def _require_store_writable(self) -> None:
        if self.read_only:
            raise RefError("store is read-only (see with_read_only)")

    # --- capability flags (store.py parity) -------------------------------

    @property
    def supports_writes(self) -> bool:
        return not self.read_only and not self.session.read_only

    @property
    def supports_deletes(self) -> bool:
        return not self.read_only and not self.session.read_only

    @property
    def supports_partial_writes(self) -> bool:
        return False

    @property
    def supports_consolidated_metadata(self) -> bool:
        # reference parity: icechunk manages its own consolidated view
        # of metadata, so the zarr-level feature is declined
        # (store.py:610)
        return False

    @property
    def supports_listing(self) -> bool:
        return True

    def with_read_only(self, read_only: bool = False) -> "ChunkStore":
        """A view over the SAME session with the store-level read_only
        flag toggled (reference parity: store.py:102) — a read-only
        view still sees the session's uncommitted changes.  Escalating
        to writable is only possible when the underlying session is
        itself writable."""
        if read_only == self.read_only:
            return self
        if not read_only and self.session.read_only:
            raise RefError(
                "cannot make a store over a read-only session writable; "
                "open a writable session on the repository instead"
            )
        return ChunkStore(self.session, read_only=read_only)

    # --- virtual ref passthroughs (store.py:246, :363) --------------------

    def set_virtual_ref(
        self,
        key: str,
        location: str,
        *,
        offset: int,
        length: int,
        checksum=None,
        validate_container: bool = True,
    ) -> None:
        """Reference parity: store.py:245 — ``checksum`` is the etag
        (str) or last-modified datetime of the external object; reads
        of a ref whose object has visibly changed fail."""
        self._require_store_writable()
        path, chunk = self._parse(key)
        if chunk is None:
            raise RefError(f"{key} is a metadata key, not a chunk key")
        self.session.set_virtual_ref(
            path,
            chunk,
            location,
            offset,
            length,
            checksum=checksum,
            validate_container=validate_container,
        )

    def set_virtual_refs(
        self, array_path: str, chunks: list, *, validate_containers: bool = True
    ) -> "list[tuple[int, ...]] | None":
        """Bulk virtual refs (reference store.py:363): a list of
        :class:`~icechunk_spark.types.VirtualChunkSpec` objects (index
        + location + offset + length + etag_checksum /
        last_updated_at_checksum) — or plain (chunk_key, location,
        offset, length[, checksum]) tuples.  With
        ``validate_containers=True``, refs whose location matches no
        configured container are SKIPPED and their grid coordinates
        returned (the reference's partial-failure contract); with
        False they are stored unvalidated."""
        self._require_store_writable()
        sess = self.session
        failed: list[tuple[int, ...]] = []
        for r in chunks:
            if hasattr(r, "index"):  # VirtualChunkSpec
                index = tuple(int(x) for x in r.index)
                key = ".".join(str(x) for x in index)
                loc = r.location
                offset, length = r.offset, r.length
                checksum = (
                    getattr(r, "etag_checksum", None)
                    or getattr(r, "last_updated_at_checksum", None)
                )
            else:
                key, loc, offset, length = r[:4]
                checksum = r[4] if len(r) > 4 else None
                index = tuple(int(x) for x in key.split("."))
            if validate_containers and (
                sess._virtual_containers is not None or loc.startswith("vcc://")
            ):
                if not sess._virtual_write_ok(loc):
                    failed.append(index)
                    continue
            sess.set_virtual_ref(
                array_path, key, loc, offset, length,
                checksum=checksum, validate_container=False,
            )
        return failed or None

    # --- key codec --------------------------------------------------------

    @staticmethod
    def _parse(key: str) -> tuple[str, str | None]:
        """Return (node_path, chunk_key|None); None means metadata doc."""
        if key.endswith("zarr.json"):
            p = key[: -len("zarr.json")].rstrip("/")
            return "/" + p, None
        if "/c/" in key or key.startswith("c/"):
            path, _, coords = key.partition("/c/") if "/c/" in key else ("", "c", key[2:])
            return "/" + path, coords.replace("/", ".")
        raise RefError(f"unrecognized store key: {key}")

    # --- byte API ---------------------------------------------------------

    # internal dtype <-> zarr v3 data_type names
    _ZARR_DTYPES = {
        "float64": "float64",
        "float32": "float32",
        "int64": "int64",
        "int32": "int32",
    }

    def _zarr_doc(self, node: dict) -> dict:
        """Render a node as a real Zarr v3 metadata document in the
        reference's canonical serde field order (icechunk/src/store.rs
        roundtrip fixtures, e.g. :1495): zarr_format, node_type,
        [attributes], shape, data_type, chunk_grid, chunk_key_encoding,
        fill_value, codecs, [storage_transformers], [dimension_names].
        Client-supplied codecs / storage_transformers /
        chunk_key_encoding survive via the node's zarr_extra dict so a
        zarr client reads back exactly what it wrote."""
        if node.get("kind") == "array":
            extra = node.get("zarr_extra") or {}
            doc: dict = {"zarr_format": 3, "node_type": "array"}
            if node.get("attrs"):
                doc["attributes"] = node["attrs"]
            doc["shape"] = list(node["shape"])
            doc["data_type"] = self._ZARR_DTYPES.get(node.get("dtype", "float64"), "float64")
            doc["chunk_grid"] = extra.get("chunk_grid") or {
                "name": "regular",
                "configuration": {"chunk_shape": list(node["chunk_shape"])},
            }
            doc["chunk_key_encoding"] = extra.get("chunk_key_encoding") or {
                "name": "default",
                "configuration": {"separator": "/"},
            }
            doc["fill_value"] = node.get("fill_value", 0.0)
            doc["codecs"] = extra.get("codecs") or [
                {"name": "bytes", "configuration": {"endian": "little"}}
            ]
            if extra.get("storage_transformers"):
                doc["storage_transformers"] = extra["storage_transformers"]
            if node.get("dimension_names") is not None:
                doc["dimension_names"] = node["dimension_names"]
            return doc
        doc = {"zarr_format": 3, "node_type": "group"}
        if node.get("attrs"):
            doc["attributes"] = node["attrs"]
        return doc

    def _doc_bytes(self, node: dict) -> bytes:
        return json.dumps(self._zarr_doc(node), separators=(",", ":")).encode()

    def get(self, key: str, prototype=None, byte_range=None) -> bytes | None:
        """Reference-parity extras (store.py:148): ``prototype`` (the
        zarr BufferPrototype) is accepted and ignored — this store
        returns plain bytes; ``byte_range`` may be a (start, end)
        tuple (end exclusive, either side None), an int offset, or an
        object with ``start``/``end``/``offset``/``suffix`` attributes
        (zarr's Range/Offset/Suffix byte requests)."""
        raw = self._get_full(key)
        if raw is None or byte_range is None:
            return raw
        if isinstance(byte_range, int):
            return raw[byte_range:]
        if isinstance(byte_range, tuple):
            start, end = byte_range
            return raw[start or 0 : end]
        if hasattr(byte_range, "suffix"):
            return raw[len(raw) - int(byte_range.suffix) :]
        if hasattr(byte_range, "start") or hasattr(byte_range, "end"):
            start = int(getattr(byte_range, "start", 0) or 0)
            end = getattr(byte_range, "end", None)
            return raw[start : None if end is None else int(end)]
        if hasattr(byte_range, "offset"):
            return raw[int(byte_range.offset) :]
        raise RefError(f"unsupported byte_range: {byte_range!r}")

    def _get_full(self, key: str) -> bytes | None:
        path, chunk = self._parse(key)
        if chunk is None:
            try:
                node = self.session._node(path)
            except RefError:
                return None
            # compact separators: byte-parity with the reference's serde
            # output (icechunk/src/store.rs metadata roundtrip tests)
            return self._doc_bytes(node)
        return self.session.get_chunk_bytes(path, chunk)

    def set(self, key: str, value: bytes) -> None:
        self._require_store_writable()
        path, chunk = self._parse(key)
        if chunk is None:
            doc = json.loads(value)
            node_type = doc.get("node_type") or ("array" if doc.get("kind") == "array" else None)
            if doc.get("kind") == "group":
                node_type = "group"
            if node_type == "array":
                extra = {
                    k: doc[k]
                    for k in ("codecs", "storage_transformers", "chunk_key_encoding")
                    if doc.get(k)
                }
                grid = doc.get("chunk_grid") or {}
                if doc.get("chunk_shape") is not None or grid.get("name", "regular") == "regular":
                    chunk_shape = (
                        doc.get("chunk_shape") or grid["configuration"]["chunk_shape"]
                    )
                elif grid.get("name") == "rectilinear":
                    # non-regular grid (store.rs:1206): keep the grid
                    # verbatim; chunk IO stays key-addressed, regular-
                    # grid array ops are gated at the session layer
                    extra["chunk_grid"] = grid
                    chunk_shape = None
                else:
                    raise RefError(
                        f"Unsupported chunk grid {grid.get('name')!r}. Only "
                        "'regular' and 'rectilinear' chunk grids are supported."
                    )
                try:
                    existing = self.session._node(path)
                except RefError:
                    existing = None
                dtype = doc.get("dtype") or doc.get("data_type", "float64")
                if existing is not None and existing.get("kind") != "array":
                    # node-type change at a path = replace (zarr set
                    # overwrites the doc wholesale)
                    self.session.delete_node(path)
                    existing = None
                if existing is not None:
                    # metadata UPDATE on an existing array — the zarr
                    # resize/append workflow (client re-writes zarr.json
                    # with a larger shape).  dtype / chunk grid are
                    # immutable: changing them would reinterpret the
                    # existing chunk payloads.
                    if dtype != existing.get("dtype"):
                        raise RefError(
                            f"cannot change dtype of existing array {path} "
                            f"({existing.get('dtype')} -> {dtype})"
                        )
                    old_grid = (existing.get("zarr_extra") or {}).get("chunk_grid")
                    if (
                        (chunk_shape is None) != (existing.get("chunk_shape") is None)
                        or (
                            chunk_shape is not None
                            and [int(c) for c in chunk_shape] != list(existing["chunk_shape"])
                        )
                        or (chunk_shape is None and extra.get("chunk_grid") != old_grid)
                    ):
                        raise RefError(
                            f"cannot change the chunk grid of existing array {path}"
                        )
                    self.session.update_array(
                        path,
                        shape=doc["shape"],
                        fill_value=doc.get("fill_value", 0.0),
                        attrs=doc.get("attrs") or doc.get("attributes") or {},
                        dimension_names=doc.get("dimension_names") or [],
                        zarr_extra=extra or {},
                    )
                    return
                self.session.create_array(
                    path,
                    shape=doc["shape"],
                    chunk_shape=chunk_shape,
                    dtype=dtype,
                    fill_value=doc.get("fill_value", 0.0),
                    attrs=doc.get("attrs") or doc.get("attributes") or {},
                    dimension_names=doc.get("dimension_names"),
                    zarr_extra=extra or None,
                )
            elif node_type == "group":
                try:
                    existing = self.session._node(path)
                except RefError:
                    existing = None
                if existing is not None and existing.get("kind") == "group":
                    self.session.update_group_attrs(
                        path, doc.get("attrs") or doc.get("attributes") or {}
                    )
                    return
                if existing is not None:
                    self.session.delete_node(path)
                self.session.create_group(path, attrs=doc.get("attrs") or doc.get("attributes") or {})
            else:
                # reference parity: store.rs rejects docs whose node_type
                # is neither array nor group (store.rs:1684 "zarr")
                raise RefError(f"invalid zarr.json node_type: {doc.get('node_type')!r}")
            return
        # writing outside the grid stays rejected (PR #2312: only
        # DELETES of impossible keys became no-ops)
        meta = self.session.array_meta(path)
        if not self._in_grid(meta, self._coords_of(chunk)):
            raise RefError(
                f"chunk coordinates {chunk!r} outside the chunk grid of {path}"
            )
        self.session.set_chunk_bytes(path, chunk, value, _meta=meta)

    def exists(self, key: str) -> bool:
        return self.get(key) is not None

    def get_partial_values(self, prototype=None, key_ranges=None) -> list[bytes | None]:
        """Byte-range reads: (key, (offset, length)); None offset = 0,
        None length = to end (store.py:get_partial_values).  Callable
        either as ``get_partial_values(key_ranges)`` or with the zarr
        convention ``get_partial_values(prototype, key_ranges)`` (the
        prototype is ignored — plain bytes come back).  Fans out over
        a thread pool when the repo config sets
        get_partial_values_concurrency > 1 (the reference's knob)."""
        if key_ranges is None:
            # single-argument convention: the first positional IS the ranges
            key_ranges = prototype

        def one(kr):
            key, (offset, length) = kr
            raw = self.get(key)
            if raw is None:
                return None
            start = offset or 0
            end = len(raw) if length is None else start + length
            return raw[start:end]

        from icechunk_spark.repo import format as fmt

        doc = fmt.read_config_doc(self.session.root)
        conc = int((doc or {}).get("get_partial_values_concurrency", 1) or 1)
        if conc > 1 and len(key_ranges) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=conc) as pool:
                return list(pool.map(one, key_ranges))
        return [one(kr) for kr in key_ranges]

    def set_partial_values(
        self, key_start_values: list[tuple[str, int, bytes]]
    ) -> None:
        """Byte-range writes: (key, range_start, value) triples
        (reference store.py:587-602).  A key may occur multiple times
        with different range_starts; ranges for the same key must not
        overlap.  Semantics are read-modify-write over the session's
        buffered chunk bytes: the existing value (empty if the key is
        absent) is zero-extended to cover every range, the ranges are
        spliced in, and the result is written back through ``set`` —
        so read-your-writes and commit flushing behave exactly like a
        whole-value ``set``.  Note ``supports_partial_writes`` stays
        False, matching the reference (zarr itself no longer uses the
        capability; the method exists for sharding-style writers)."""
        self._require_store_writable()
        by_key: dict[str, list[tuple[int, bytes]]] = {}
        for key, start, value in key_start_values:
            start = int(start)
            if start < 0:
                raise RefError(f"set_partial_values: negative range_start {start} for {key}")
            by_key.setdefault(key, []).append((start, bytes(value)))
        for key, ranges in by_key.items():
            ranges.sort(key=lambda sv: sv[0])
            prev_end = -1
            for start, value in ranges:
                if start < prev_end:
                    raise RefError(
                        f"set_partial_values: overlapping ranges for {key} "
                        f"(range starting at {start} overlaps previous end {prev_end})"
                    )
                prev_end = start + len(value)
            existing = self.get(key) or b""
            end = max(prev_end, len(existing))
            buf = bytearray(end)
            buf[: len(existing)] = existing
            for start, value in ranges:
                buf[start : start + len(value)] = value
            self.set(key, bytes(buf))

    def set_if_not_exists(self, key: str, value: bytes) -> None:
        if not self.exists(key):
            self.set(key, value)

    def is_empty(self, prefix: str = "") -> bool:
        return next(iter(self.list_prefix(prefix)), None) is None

    @staticmethod
    def _coords_of(chunk: str) -> list[int]:
        try:
            return [int(x) for x in chunk.split(".")] if chunk else []
        except ValueError:
            raise RefError(f"invalid chunk coordinates: {chunk!r}") from None

    @staticmethod
    def _in_grid(meta, coords: list[int]) -> bool:
        grid = meta.grid_shape()
        return len(coords) == len(grid) and all(0 <= c < g for c, g in zip(coords, grid))

    def delete(self, key: str) -> None:
        """Reference parity (store.rs:515-549, PR #2312): deleting a
        key that CANNOT exist is a no-op, not an error — a missing
        node's zarr.json, a chunk under a missing node or a group
        path, or coordinates outside the chunk grid.  Malformed keys
        still raise, and out-of-grid WRITES stay rejected (see set)."""
        self._require_store_writable()
        path, chunk = self._parse(key)
        if chunk is None:
            try:
                self.session._node(path)
            except RefError:
                return  # no node at the given key: nothing to do
            self.session.delete_node(path)
            return
        try:
            meta = self.session.array_meta(path)
        except RefError:
            return  # missing node or group path: the chunk cannot exist
        if not self._in_grid(meta, self._coords_of(chunk)):
            return  # out-of-grid coordinates: the chunk cannot exist
        self.session.delete_chunk(path, chunk)

    def delete_dir(self, prefix: str) -> None:
        """Delete every key under a prefix (reference store.rs:447-512):
        a prefix naming a node short-circuits to ONE delete_node (the
        subtree's chunk refs become unreachable — no per-chunk-key
        driver loop); a ``<array>/c[/coords...]`` prefix bulk-deletes
        the matching chunks distributed; anything else is a no-op."""
        self._require_store_writable()
        norm = "/" + prefix.strip("/") if prefix.strip("/") else "/"
        nodes = self.session._nodes
        if norm in nodes:
            self.session.delete_node(norm)
            return
        # descendant nodes under a prefix that is not itself a node
        # (arrays can be created without materialized parent groups):
        # each is one metadata delete — the loop is over NODES, never
        # chunk keys (the sync_clear shape)
        sub = norm.rstrip("/") + "/"
        descendants = [p for p in list(nodes) if p.startswith(sub)]
        if descendants:
            for p in descendants:
                try:
                    self.session.delete_node(p)
                except RefError:
                    pass  # an earlier delete may have covered it
            return
        parts = [p for p in norm.strip("/").split("/") if p]
        for i in range(len(parts) - 1, -1, -1):
            anc = "/" + "/".join(parts[:i]) if i else "/"
            if anc not in nodes:
                continue
            rest = parts[i:]
            if rest and rest[0] == "c" and nodes[anc].get("kind") == "array":
                try:
                    coords = [int(x) for x in rest[1:]]
                except ValueError:
                    return  # non-numeric coordinates cannot address chunks
                self.session.delete_chunks_prefix(anc, coords)
            return  # closest ancestor is a group / non-chunk remainder: no-op

    def sync_clear(self) -> None:
        self._require_store_writable()
        for p in [p for p in self.session.list_nodes() if p != "/"]:
            try:
                self.session.delete_node(p)
            except RefError:
                pass

    def clear(self) -> None:
        """Reference parity: store.clear (store.py:116)."""
        self.sync_clear()

    # --- sizes (store.py:668-671) -----------------------------------------

    def getsize(self, key: str) -> int:
        """Byte size of one key WITHOUT fetching chunk payloads —
        native/virtual sizes come from the manifest."""
        path, chunk = self._parse(key)
        if chunk is None:
            return len(self._doc_bytes(self.session._node(path)))
        meta = self.session.array_meta(path)
        r = self.session._point_ref(meta.node_id, chunk)
        if r is None:
            raise RefError(f"no chunk at {key}")
        if r["is_virtual"]:
            return int(r["vlength"])
        if r["inline"] is not None:
            return len(r["inline"])
        return int(r["n_bytes"])

    def getsize_prefix(self, prefix: str) -> int:
        """Total bytes under a prefix — one distributed aggregation
        over the manifest (no payload reads, nothing collected but the
        final sum)."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import broadcast

        from icechunk_spark.engine import local_df

        prefix = prefix.lstrip("/")
        total = 0
        for p in self.session.list_nodes():
            k = (p.lstrip("/") + "/zarr.json").lstrip("/")
            if k.startswith(prefix):
                total += len(self._doc_bytes(self.session._node(p)))
        nodes = self.session.list_nodes()
        paths = local_df(
            self.session.spark,
            [(self.session._nodes[p]["node_id"], p.lstrip("/")) for p in nodes],
            "node_id string, path string",
        )
        size = (
            F.when(F.col("is_virtual"), F.col("vlength"))
            .when(F.col("inline").isNotNull(), F.octet_length("inline"))
            .otherwise(F.coalesce(F.col("n_bytes"), F.lit(0)))
        )
        sized = (
            self.session.chunk_manifest_df()
            .join(broadcast(paths), "node_id")
            .select(
                F.concat_ws(
                    "/",
                    F.when(F.col("path") != "", F.concat(F.col("path"), F.lit("/c"))).otherwise(
                        "c"
                    ),
                    F.translate("chunk_key", ".", "/"),
                ).alias("key"),
                size.alias("size"),
            )
        )
        if prefix:
            sized = sized.filter(F.col("key").startswith(prefix))
        row = sized.agg(F.sum("size").alias("b")).collect()[0]
        return total + int(row["b"] or 0)

    # --- columnar chunk-ref iteration (store.py:278) ----------------------

    def array_chunk_iterator(self, array_path: str, batch_size: int = 100_000):
        """Yield columnar batches of chunk references for one array,
        mirroring the reference's 6-tuple layout: (coords uint32 (n,
        ndim), kinds uint8 (native=1, virtual=2, inline=3), paths
        list[str], offsets uint64, lengths uint64, inlined {row:
        bytes}).  Streams the manifest; driver holds one batch at a
        time."""
        import numpy as np
        from pyspark.sql import functions as F

        from icechunk_spark.repo.session import ChunkType, ref_kind

        meta = self.session.array_meta(array_path)
        ndim = len(meta.shape)
        threshold = self.session._inline_threshold()
        rows = (
            self.session._resolved_manifest(meta.node_id, None)
            .select(
                "chunk_key", "chunk_id", "n_bytes", "is_virtual", "vpath", "voffset",
                "vlength", "inline", "seq",
            )
            .orderBy("chunk_key")
            .toLocalIterator()
        )

        def flush(batch):
            n = len(batch)
            coords = np.zeros((n, ndim), dtype=np.uint32)
            kinds = np.zeros(n, dtype=np.uint8)
            paths: list[str] = []
            offsets = np.zeros(n, dtype=np.uint64)
            lengths = np.zeros(n, dtype=np.uint64)
            inlined: dict[int, bytes] = {}
            for i, r in enumerate(batch):
                coords[i] = [int(x) for x in r["chunk_key"].split(".")]
                kind = ref_kind(r, threshold)
                kinds[i] = int(kind)
                if kind == ChunkType.virtual:
                    paths.append(r["vpath"])
                    offsets[i] = int(r["voffset"] or 0)
                    lengths[i] = int(r["vlength"] or 0)
                elif kind == ChunkType.inline:
                    paths.append("")
                    inlined[i] = bytes(r["inline"])
                    lengths[i] = len(inlined[i])
                else:
                    paths.append(r["chunk_id"] or "")
                    lengths[i] = int(r["n_bytes"] or 0)
            return coords, kinds, paths, offsets, lengths, inlined

        batch: list = []
        for r in rows:
            batch.append(r)
            if len(batch) >= batch_size:
                yield flush(batch)
                batch = []
        if batch:
            yield flush(batch)

    # --- bulk virtual refs (store.py:421) ---------------------------------

    def set_virtual_refs_arr(
        self,
        array_path: str,
        chunk_grid_shape: tuple[int, ...],
        locations: list[str],
        offsets,
        lengths,
        *,
        validate_containers: bool = True,
        arr_offset: tuple[int, ...] | None = None,
        checksum=None,
        checksums: list | None = None,
    ) -> list[tuple[int, ...]] | None:
        """Store virtual refs from flat C-order arrays of locations /
        offsets / lengths.  ``checksum`` (reference store.py:421: one
        etag str or last-modified datetime applied to every ref) or
        per-ref ``checksums`` are persisted and read-verified.  Empty
        locations are skipped; refs failing container validation are
        skipped and their grid coordinates returned (reference parity:
        store.set_virtual_refs_arr)."""
        import itertools

        n = 1
        for g in chunk_grid_shape:
            n *= g
        if not (len(locations) == len(offsets) == len(lengths) == n):
            raise ValueError("array lengths must equal prod(chunk_grid_shape)")
        base = arr_offset or tuple(0 for _ in chunk_grid_shape)
        failed: list[tuple[int, ...]] = []
        sess = self.session
        for i, pos in enumerate(itertools.product(*[range(g) for g in chunk_grid_shape])):
            loc = locations[i]
            if not loc:
                continue
            coord = tuple(p + b for p, b in zip(pos, base))
            if validate_containers and (
                sess._virtual_containers is not None or loc.startswith("vcc://")
            ):
                if not sess._virtual_write_ok(loc):
                    failed.append(coord)
                    continue
            key = ".".join(str(x) for x in coord)
            sess.set_virtual_ref(
                array_path,
                key,
                loc,
                int(offsets[i]),
                int(lengths[i]),
                checksum=checksums[i] if checksums is not None else checksum,
                validate_container=validate_containers,
            )
        return failed or None

    # --- listing ----------------------------------------------------------

    def list(self) -> Iterator[str]:
        yield from self.list_prefix("")

    def list_prefix(self, prefix: str) -> Iterator[str]:
        for key in self._all_keys():
            if key.startswith(prefix):
                yield key

    def list_dir(self, prefix: str) -> Iterator[str]:
        prefix = prefix.rstrip("/")
        seen = set()
        plen = len(prefix) + 1 if prefix else 0
        for key in self._all_keys():
            if prefix and not key.startswith(prefix + "/"):
                continue
            head = key[plen:].split("/")[0]
            if head not in seen:
                seen.add(head)
                yield head

    def list_keys_df(self):
        """Chunk keys as a DataFrame (path-sorted) — the bulk listing
        surface; ``list()``/``_all_keys`` stream this with
        toLocalIterator so a 10^8-chunk manifest never materializes on
        the driver."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import broadcast

        from icechunk_spark.engine import local_df

        nodes = self.session.list_nodes()
        id_to_path = {self.session._nodes[p]["node_id"]: p.lstrip("/") for p in nodes}
        paths = local_df(
            self.session.spark,
            [(nid, p) for nid, p in id_to_path.items()],
            "node_id string, path string",
        )
        return (
            self.session.chunk_manifest_df()
            .select("node_id", "chunk_key")
            .join(broadcast(paths), "node_id")
            .select(
                F.concat_ws(
                    "/",
                    F.when(F.col("path") != "", F.concat(F.col("path"), F.lit("/c"))).otherwise("c"),
                    F.translate("chunk_key", ".", "/"),
                ).alias("key")
            )
            .orderBy("key")
        )

    def _all_keys(self) -> Iterator[str]:
        nodes = self.session.list_nodes()
        for p in sorted(nodes):
            yield (p.lstrip("/") + "/zarr.json").lstrip("/")
        # stream, don't collect: partitions arrive one at a time
        for r in self.list_keys_df().toLocalIterator():
            yield r["key"]
