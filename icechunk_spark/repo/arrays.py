"""Distributed ND-array encode/decode between DataFrames and chunk
payloads.

Write path: rows (i0..ik, value) → chunk-grid assignment (JVM-side
floor-div) → ONE shuffle that groups the rows by chunk, cogrouped with
the array's existing manifest refs when it may have any →
``applyInPandas`` packs each chunk into a dense numpy buffer (C-order
bytes) → one parquet dir under ``chunks/`` holds the payloads AND the
complete manifest rows (``manifests.manifest_frame``), so the session
stages that dir itself as a file item: readers take its manifest
columns and never read the payload column.
The pack is also the read-modify-write merge of Zarr array semantics:
a chunk the rows cover fully starts from the fill value, and a chunk
they cover partly starts from the bytes of its latest ref (by seq;
a tombstone means fill), fetched executor-side — inline, virtual and
native refs alike.  Its invariants: stray (out-of-shape) rows are
dropped at the source by the caller, so no chunk is rewritten for
them; coverage is marked per distinct cell and clamped to the array
shape at boundary chunks, so duplicate rows cannot fake full
coverage; incoming cells win; chunks with refs but no rows emit
nothing (a semi-join on the rows' distinct chunk keys keeps their refs
out of the cogroup).  No driver collect or persist.

Read path: ONE job of one stage, no shuffle or join (store.rs: resolve
the refs, then fetch each chunk's bytes from storage): the payload part
files the read touches are dealt into shares, one task each; a task
resolves the range's live refs with pyarrow, reads each part file of
its share once and unpacks the buffers to coordinate rows.

This is the Spark-native equivalent of icechunk's Zarr chunk I/O
(icechunk/src/store.rs): same chunk-grid model, but the codec runs
data-parallel on executors instead of in a client process.
"""

from __future__ import annotations

import os
import uuid
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icechunk_spark.engine import file_split_count, local_df
from icechunk_spark.repo.format import MANIFEST_SCHEMA, ArrayMeta
from icechunk_spark.repo.manifests import ChunkRange, manifest_frame

#: what the pack emits per chunk; the encode adds the constant
#: manifest columns before writing
CHUNK_FILE_SCHEMA_SUFFIX = (
    "chunk_key string, c0 int, c1 int, c2 int, c3 int, chunk_id string, "
    "n_bytes bigint, payload binary"
)

#: the payload columns every chunk file has (encode dirs add the
#: manifest columns, buffer flushes write only these)
PAYLOAD_SCHEMA = "chunk_id string, payload binary"


def coord_cols(ndim: int) -> list[str]:
    return [f"i{d}" for d in range(ndim)]


#: manifest columns the read-modify-write pack needs from each
#: existing ref (the latest by ``seq`` wins; ``op='del'`` is a tombstone)
REF_COLUMNS = [
    "seq", "op", "chunk_id", "file", "is_virtual", "vpath", "voffset", "vlength",
    "inline", "vchecksum",
]


def encode_array_chunks(
    df: DataFrame,
    meta: ArrayMeta,
    data_root: str,
    rel: str,
    refs: DataFrame | None = None,
    vcc_map: dict[str, str] | None = None,
) -> None:
    """Pack coordinate rows into dense chunk payloads and write them to
    the chunk dir ``rel`` under ``data_root`` (``fmt.data_path(root)``),
    each next to its manifest row: ``node_id``, ``file`` (``rel``
    itself), ``op='set'``, ``seq=0`` and NULL ref columns are
    constants.  The dir is then a staged item as it stands.

    ``refs`` are the array's existing manifest rows, pre-dedup (base
    files plus seq-offset overlays).  When given, ONE shuffle cogroups
    them with the incoming rows by chunk coordinates, and a chunk the
    rows only partly cover starts from the bytes of its latest ref
    (fetched executor-side through :func:`ref_bytes`) instead of from
    the fill value.  A lazy semi-join on the rows' distinct chunk keys
    keeps refs of untouched chunks out of the cogroup, so they emit
    nothing.  ``df`` must already be
    in-bounds: coverage is counted over the rows it holds."""
    ndim = len(meta.shape)
    cols = coord_cols(ndim)
    keys = [f"__ck{d}" for d in range(ndim)]
    for d, c in enumerate(cols):
        if c not in df.columns:
            raise ValueError(f"missing coordinate column {c}")
        # integer floor-div (``div``), not double divide + truncate:
        # exact above 2^53 and correct for negative coordinates
        df = df.withColumn(
            keys[d],
            F.expr(f"CAST({c} AS BIGINT) div {meta.chunk_shape[d]}").cast("int"),
        )
    shape = list(meta.shape)
    chunk_shape = list(meta.chunk_shape)
    dtype = meta.dtype
    fill = meta.fill_value
    no_refs = pd.DataFrame(columns=REF_COLUMNS)

    def native_point_read(ref) -> bytes | None:
        return read_native_payload(os.path.join(data_root, ref["file"]), ref["chunk_id"])

    def pack(key, pdf: pd.DataFrame, existing: pd.DataFrame) -> pd.DataFrame:
        ck = [int(k) for k in key]
        origin = [ck[d] * chunk_shape[d] for d in range(ndim)]
        idx = tuple(pdf[f"i{d}"].to_numpy(dtype=np.int64) - origin[d] for d in range(ndim))
        # coverage over the chunk's extent clamped to the array shape,
        # marked per DISTINCT cell: duplicate rows cannot fake it
        covered = np.zeros(
            [min(chunk_shape[d], shape[d] - origin[d]) for d in range(ndim)], dtype=bool
        )
        covered[idx] = True
        buf = None
        if len(existing) and not covered.all():
            latest = existing.loc[existing["seq"].idxmax()]
            raw = None
            if latest["op"] == "set":
                raw = ref_bytes(latest, vcc_map, set(), native_point_read)
            if raw is not None:
                buf = np.frombuffer(bytes(raw), dtype=dtype).reshape(chunk_shape).copy()
        if buf is None:
            buf = np.full(chunk_shape, fill, dtype=dtype)
        buf[idx] = pdf["value"].to_numpy(dtype=dtype)  # incoming cells win
        payload = buf.tobytes()
        c = ck + [None] * (4 - ndim)
        return pd.DataFrame(
            {
                "chunk_key": [".".join(str(x) for x in ck)],
                "c0": pd.array([c[0]], dtype="Int32"),
                "c1": pd.array([c[1]], dtype="Int32"),
                "c2": pd.array([c[2]], dtype="Int32"),
                "c3": pd.array([c[3]], dtype="Int32"),
                "chunk_id": [uuid.uuid4().hex],
                "n_bytes": [len(payload)],
                "payload": [payload],
            }
        )

    grouped = df.groupBy(*keys)
    if refs is None:
        packed = grouped.applyInPandas(
            lambda key, pdf: pack(key, pdf, no_refs), CHUNK_FILE_SCHEMA_SUFFIX
        )
    else:
        # only refs of chunks the rows touch reach the pack: a small
        # write into an array of many chunks makes as many Python
        # group calls as it touches chunks, not one per chunk it has.
        # A sort-merge semi-join leaves the refs partitioned for the
        # cogroup; a broadcast of the keys would cost its own job.
        existing = refs.select(
            *[F.col(f"c{d}").alias(keys[d]) for d in range(ndim)], *REF_COLUMNS
        ).join(df.select(*keys).distinct().hint("merge"), keys, "left_semi")
        packed = grouped.cogroup(existing.groupBy(*keys)).applyInPandas(
            pack, CHUNK_FILE_SCHEMA_SUFFIX
        )
    manifest_frame(
        packed, node_id=meta.node_id, file=rel, op="set", is_virtual=False, seq=0
    ).write.parquet(os.path.join(data_root, rel))


def staged_manifest_from_chunk_dir(spark: SparkSession, path: str) -> DataFrame:
    """The one Spark reader of a staged item — a chunk dir
    (:func:`encode_array_chunks`) or a staging file — as manifest rows:
    a fixed-schema scan, so the payload column is never read and no
    footer schema inference runs."""
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def slice_chunk_range(meta: ArrayMeta, slices: list[tuple[int, int]] | None) -> ChunkRange:
    """The chunk range of a coordinate slice (None: the whole array):
    per dimension, the inclusive chunk indices ``[start // cs,
    (stop - 1) // cs]`` clamped to the grid (empty when lo > hi)."""
    return tuple(
        (max(start // cs, 0), min(max(stop - 1, start) // cs, g - 1))
        for (start, stop), cs, g in zip(
            slices or [(0, n) for n in meta.shape], meta.chunk_shape, meta.grid_shape()
        )
    )


def decode_chunks_to_rows(
    spark: SparkSession,
    data_root: str,
    meta: ArrayMeta,
    layers: list[tuple],
    slices: list[tuple[int, int]] | None = None,
    vcc_map: dict[str, str] | None = None,
) -> DataFrame:
    """An array region as (i0..ik, value) rows: a ``mapInPandas`` over a
    ``local_df`` of the :func:`read_shares` of the range, one
    :func:`decode_share` task each.  ``layers``: the session's ref
    layers (``manifests.live_refs``); ``data_root``:
    ``fmt.data_path(root)``, resolved on the driver.  The closure holds
    plain values and imports package functions in-task."""
    rng = slice_chunk_range(meta, slices)
    n, parts = read_shares(spark, data_root, layers, rng)

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from icechunk_spark.repo.arrays import decode_share

        for pdf in batches:
            for share in pdf["share"]:
                yield from decode_share(share, n, rng, data_root, layers, meta, slices, vcc_map, parts)

    value_type = {"float64": "double", "float32": "float", "int64": "bigint", "int32": "int"}[meta.dtype]
    schema = ", ".join([f"i{d} bigint" for d in range(len(meta.shape))] + [f"value {value_type}"])
    return local_df(spark, [{"share": i} for i in range(n)], "share int").mapInPandas(unpack, schema)


def read_shares(spark: SparkSession, data_root: str, layers, rng: ChunkRange) -> tuple[int, list]:
    """``(n, parts)`` of a read of ``rng``: the :func:`payload_parts` the
    kept base summaries name (no Spark job), and ``n`` shares of them —
    Spark's file-split count of their bytes, at most one per part file,
    at least 1 (0 for an empty range)."""
    if not all(lo <= hi for lo, hi in rng):
        return 0, []
    rels = {f for kind, *spec in layers if kind == "base" for st in spec[1].values() for f in st["files"]}
    parts = payload_parts(data_root, rels)
    return max(1, min(len(parts), file_split_count(spark, [size for _, _, size in parts]))), parts


def decode_share(share, n, rng, data_root, layers, meta, slices, vcc_map, parts) -> Iterator[pd.DataFrame]:
    """The rows of share ``share`` of ``n``, in its task.  Every share
    resolves the range's live refs (``manifests.live_refs``) and decodes
    the inline and virtual ones whose chunk key hashes to it
    (:func:`ref_bytes`) and the native ones in its :func:`pack_parts`
    group of the part files the refs name (``parts`` from the driver,
    the rest listed here), each part file read once.  Each chunk is
    cropped to the array shape and the slices."""
    from icechunk_spark.repo import manifests as mf

    def payloads():
        # many refs share one external file: each (path, checksum) pair
        # is validated once per task, not once per chunk
        checked: set[tuple[str, str]] = set()
        by_file: dict[str, dict[str, list[str]]] = {}  # file -> chunk_id -> keys
        for ref in mf.live_refs(layers, data_root, meta.node_id, chunk_range=rng):
            if ref["is_virtual"] or ref["inline"] is not None:
                if zlib.crc32(ref["chunk_key"].encode()) % n == share:
                    yield ref["chunk_key"], ref_bytes(ref, vcc_map, checked, None)
            elif ref["file"] is not None:
                by_file.setdefault(ref["file"], {}).setdefault(ref["chunk_id"], []).append(
                    ref["chunk_key"]
                )
        found = [p for p in parts if p[0] in by_file]
        found += payload_parts(data_root, set(by_file) - {p[0] for p in parts})
        missing = set(by_file) - {p[0] for p in found}
        if missing:
            raise FileNotFoundError(f"payload files missing: {sorted(missing)}")
        for rel, part, _ in pack_parts(found, n)[share]:
            keys = by_file[rel]
            for cid, raw in read_native_payloads(os.path.join(data_root, rel, part).rstrip("/"), keys):
                yield from ((key, raw) for key in keys[cid])

    chunk_shape = np.array(meta.chunk_shape)
    grids = np.indices(meta.chunk_shape).reshape(len(chunk_shape), -1)
    bounds = [(lo, min(hi, s)) for (lo, hi), s in zip(slices or [(0, s) for s in meta.shape], meta.shape)]
    for chunk_key, raw in payloads():
        coords = grids + (np.array([int(x) for x in chunk_key.split(".")]) * chunk_shape)[:, None]
        mask = np.all([(c >= lo) & (c < hi) for c, (lo, hi) in zip(coords, bounds)], axis=0)
        if mask.any():
            out = {f"i{d}": c[mask] for d, c in enumerate(coords)}
            yield pd.DataFrame({**out, "value": np.frombuffer(raw, dtype=meta.dtype)[mask]})


def payload_parts(data_root: str, rels) -> list[tuple[str, str, int]]:
    """``(rel, part, bytes)`` of the part files (``fsio.parquet_parts``)
    of the payload files ``rels`` under ``data_root``."""
    from icechunk_spark.repo import fsio

    return [(rel, *part) for rel in sorted(rels) for part in fsio.parquet_parts(os.path.join(data_root, rel))]


def pack_parts(parts, n: int) -> list[list[tuple[str, str, int]]]:
    """``parts`` dealt into ``n`` groups of near-equal bytes, largest
    first onto the lightest group: the same groups in every task."""
    groups: list[list] = [[] for _ in range(n)]
    load = [0] * n
    for part in sorted(parts, key=lambda p: (-p[2], p[0], p[1])):
        g = load.index(min(load))
        groups[g].append(part)
        load[g] += part[2]
    return groups


def ref_bytes(ref, vcc_map: dict[str, str] | None, checked: set, native) -> bytes | None:
    """The bytes behind one manifest ref, fetched executor-side (no
    Spark job): a virtual ref reads its byte range after its checksum
    check (once per ``(path, checksum)`` in ``checked``), an inline ref
    carries them, and a native ref's come from ``native(ref)`` (a point
    read; the region read fetches native payloads file by file itself
    and passes None).  None when a native payload is missing."""
    from icechunk_spark.repo import fsio
    from icechunk_spark.repo.session import check_virtual_checksum, resolve_vcc

    if ref["is_virtual"]:
        vp = resolve_vcc(ref["vpath"], vcc_map)
        vchk = ref.get("vchecksum")
        if vchk and (vp, vchk) not in checked:
            check_virtual_checksum(vp, vchk)
            checked.add((vp, vchk))
        return fsio.read_range(vp, int(ref["voffset"]), int(ref["vlength"]))
    if ref["inline"] is not None:
        return ref["inline"]
    return native(ref)


def read_native_payloads(path: str, chunk_ids) -> Iterator[tuple[str, bytes]]:
    """``(chunk_id, payload)`` of the native chunks ``chunk_ids`` in one
    chunk file (or dir of part files), read with pyarrow a record batch
    at a time (row-group stats prune on ``chunk_id``); usable where no
    SparkSession exists.  ``path`` may be a URI (``s3a://`` included)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from icechunk_spark.repo import fsio

    fs, p = fsio._fs_path(path)
    batches = ds.dataset(p, filesystem=fs, format="parquet").to_batches(
        columns=["chunk_id", "payload"], filter=pc.field("chunk_id").isin(list(chunk_ids))
    )
    for batch in batches:
        yield from zip(*batch.to_pydict().values())


def read_native_payload(path: str, chunk_id: str) -> bytes | None:
    """One native chunk's payload (:func:`read_native_payloads`), or None."""
    return next((raw for _, raw in read_native_payloads(path, [chunk_id])), None)
