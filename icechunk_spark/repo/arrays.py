"""Distributed ND-array encode/decode between DataFrames and chunk
payloads.

Write path: rows (i0..ik, value) → chunk-grid assignment (JVM-side
floor-div) → ONE shuffle that groups the rows by chunk, cogrouped with
the array's existing manifest refs when it may have any →
``applyInPandas`` packs each chunk into a dense numpy buffer (C-order
bytes) → one parquet dir holds payloads AND the manifest columns, so
the staged manifest is a column-pruned re-scan (payload never read).
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

Read path: resolved manifest (pruned on c0..c3) → join payload files
on chunk_id → ``mapInPandas`` unpacks buffers back to coordinate rows,
applying slice bounds per chunk before emitting.

This is the Spark-native equivalent of icechunk's Zarr chunk I/O
(icechunk/src/store.rs): same chunk-grid model, but the codec runs
data-parallel on executors instead of in a client process.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icechunk_spark.repo.format import ArrayMeta, data_path
from icechunk_spark.repo.manifests import ChunkRange

CHUNK_FILE_SCHEMA_SUFFIX = (
    "chunk_key string, c0 int, c1 int, c2 int, c3 int, chunk_id string, "
    "n_bytes bigint, payload binary"
)

#: the payload columns every chunk file has (encode dirs add the
#: manifest columns, buffer flushes write only these); pinned on every
#: Spark payload read so it skips the footer schema-inference job
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
    out_dir: str,
    refs: DataFrame | None = None,
    data_root: str | None = None,
    vcc_map: dict[str, str] | None = None,
) -> None:
    """Pack coordinate rows into dense chunk payloads and write them
    (with manifest columns) to ``out_dir``.

    ``refs`` are the array's existing manifest rows, pre-dedup (base
    files plus seq-offset overlays).  When given, ONE shuffle cogroups
    them with the incoming rows by chunk coordinates, and a chunk the
    rows only partly cover starts from the bytes of its latest ref
    (fetched executor-side through :func:`ref_bytes`, relative to
    ``data_root``) instead of from the fill value.  A lazy semi-join on
    the rows' distinct chunk keys keeps refs of untouched chunks out
    of the cogroup, so they emit nothing.  ``df`` must already be
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
    packed.write.parquet(out_dir)


def staged_manifest_from_chunk_dir(
    spark: SparkSession, chunk_dir_abs: str, chunk_file_rel: str, node_id: str
) -> DataFrame:
    """Manifest rows for a freshly written chunk dir — column pruning
    means the payload column is never read here.  The schema is pinned
    (it is exactly what encode_array_chunks just wrote), so the read
    skips the driver-side footer schema-inference pass."""
    scan = spark.read.schema(CHUNK_FILE_SCHEMA_SUFFIX).parquet(chunk_dir_abs)
    return scan.select(
        F.lit(node_id).alias("node_id"),
        "chunk_key",
        "c0",
        "c1",
        "c2",
        "c3",
        "chunk_id",
        F.lit(chunk_file_rel).alias("file"),
        "n_bytes",
        F.lit("set").alias("op"),
        F.lit(False).alias("is_virtual"),
        F.lit(None).cast("string").alias("vpath"),
        F.lit(None).cast("bigint").alias("voffset"),
        F.lit(None).cast("bigint").alias("vlength"),
        F.lit(None).cast("binary").alias("inline"),
        F.lit(0).cast("bigint").alias("seq"),
        F.lit(None).cast("string").alias("vchecksum"),
    )


def slice_chunk_range(meta: ArrayMeta, slices: list[tuple[int, int]] | None) -> ChunkRange | None:
    """The chunk range of a coordinate slice: per dimension, the
    inclusive chunk indices ``[start // cs, (stop - 1) // cs]``."""
    if slices is None:
        return None
    return tuple(
        (start // cs, max(stop - 1, start) // cs)
        for (start, stop), cs in zip(slices, meta.chunk_shape)
    )


def decode_chunks_to_rows(
    spark: SparkSession,
    root: str,
    manifest: DataFrame,
    meta: ArrayMeta,
    slices: list[tuple[int, int]] | None = None,
    vcc_map: dict[str, str] | None = None,
    *,
    files: list[str],
) -> DataFrame:
    """Unpack chunk payloads back into (i0..ik, value) rows.
    ``vcc_map`` (name -> url_prefix) resolves ``vcc://`` relative
    virtual refs inside executor tasks (design-doc 014).

    ``files`` is the chunk-file list to open; a SUPERSET of the live
    files is harmless (extra payload rows simply find no match in the
    left join on chunk_id), so callers list them from manifest
    summaries instead of executing the resolve plan to enumerate them.
    The payload schema is pinned, so the scan infers nothing."""
    ndim = len(meta.shape)
    files = [f for f in files if f is not None]
    refs = manifest.select(
        "chunk_key", "chunk_id", "is_virtual", "vpath", "voffset", "vlength", "inline",
        "vchecksum",
    )
    if files:
        payloads = spark.read.schema(PAYLOAD_SCHEMA).parquet(
            *[data_path(root, f) for f in files]
        )
        joined = refs.join(payloads, "chunk_id", "left")
    else:
        joined = refs.withColumn("payload", F.lit(None).cast("binary"))

    shape = list(meta.shape)
    chunk_shape = list(meta.chunk_shape)
    dtype = meta.dtype
    bounds = slices

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # many refs share one external file: validate each (path,
        # checksum) pair once per task, not once per chunk row
        checked: set[tuple[str, str]] = set()

        for pdf in batches:
            for _, row in pdf.iterrows():
                ck = [int(x) for x in row["chunk_key"].split(".")]
                raw = ref_bytes(row, vcc_map, checked, lambda r: r["payload"])
                if raw is None:
                    continue
                buf = np.frombuffer(bytes(raw), dtype=dtype).reshape(chunk_shape)
                grids = np.indices(chunk_shape).reshape(ndim, -1)
                coords = [grids[d] + ck[d] * chunk_shape[d] for d in range(ndim)]
                mask = np.ones(coords[0].shape, dtype=bool)
                for d in range(ndim):
                    mask &= coords[d] < shape[d]  # crop boundary chunks
                    if bounds is not None:
                        mask &= (coords[d] >= bounds[d][0]) & (coords[d] < bounds[d][1])
                if not mask.any():
                    continue
                out = {f"i{d}": coords[d][mask] for d in range(ndim)}
                out["value"] = buf.reshape(-1)[mask]
                yield pd.DataFrame(out)

    value_type = {"float64": "double", "float32": "float", "int64": "bigint", "int32": "int"}[dtype]
    schema = ", ".join([f"i{d} bigint" for d in range(ndim)] + [f"value {value_type}"])
    return joined.mapInPandas(unpack, schema)


def ref_bytes(ref, vcc_map: dict[str, str] | None, checked: set, native) -> bytes | None:
    """The bytes behind one manifest ref, fetched executor-side (no
    Spark job): a virtual ref reads its byte range after its checksum
    check (once per ``(path, checksum)`` in ``checked``), an inline ref
    carries them, and a native ref's come from ``native(ref)`` — the
    read path's joined payload column, the merge's point read.  None
    when a native payload is missing."""
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


def read_native_payload(path: str, chunk_id: str) -> bytes | None:
    """Pyarrow point read of one native chunk's payload from its chunk
    file (row-group stats prune on ``chunk_id``); usable where no
    SparkSession exists.  ``path`` may be a URI (``s3a://`` included)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from icechunk_spark.repo import fsio

    fs, p = fsio._fs_path(path)
    tbl = ds.dataset(p, filesystem=fs, format="parquet").to_table(
        filter=pc.field("chunk_id") == chunk_id, columns=["payload"]
    )
    return tbl["payload"][0].as_py() if tbl.num_rows else None
