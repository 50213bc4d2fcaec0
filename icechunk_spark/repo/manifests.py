"""Manifest resolution: snapshots carry an ordered list of manifest
parquet files; later rows shadow earlier ones per (node_id, chunk_key)
and ``op='del'`` rows are tombstones (LSM semantics — the Spark
re-expression of icechunk's manifest-split design, design-docs/005).

``rewrite_manifests`` (repository.py) compacts the list back to one
sorted file.

One resolver, ``live_refs`` (pyarrow), applies that rule over ref
layers (a session's chunk buffer and staged files, then a snapshot's
manifests), the same on the driver and in executors.  Point reads and
region-read tasks call it directly.  Every other reader goes through
the resolved-refs frame, ``resolve_manifests``: ONE ``mapInArrow`` over
a ``local_df`` of work units, no shuffle or join.  A unit is one node's
tile of c0 values; each node gets ``engine.file_split_count`` tiles of
the part-file bytes its kept manifests hold.  ``diff_refs`` runs the
same units over two snapshots.

Pruning rules (one rule, ``prune_manifest_paths``, shared by every
reader above):

- a read is described by ONE :data:`ChunkRange` (per-dimension
  inclusive chunk-index bounds, or None for the whole array); its
  row filter and its manifest-file test (``_may_hold``) both derive
  from it, so they cannot disagree;
- node: a split file of another node (``/__node=<id>/`` in its path)
  is skipped; unsplit files may hold any node and are kept;
- summary: a listed manifest whose snapshot summary has no rows, or
  whose extents miss the range in some dimension, is skipped (rows
  with a NULL coordinate pass a range only where its lower bound is
  open, and extents never prune such a dimension);
- a listed manifest WITHOUT a summary (older writers, hand-appended
  files) is always kept.

``write_manifests`` builds the summaries after its one write job,
with no further Spark job: the driver opens the parquet part files it
just wrote (pyarrow, through ``fsio._fs_path``) and takes the row
count and c0..c3 extents from their footers and the distinct payload
files from their ``file`` column (``_part_files``).  A summary's
``files`` may over-list but must never under-list: GC
(``Repository.garbage_collect``) keeps exactly the chunk files the
live manifests' summaries name, and reads a live manifest that has no
summary with the same reader (``payload_files``); reads take payload
files from the refs themselves.  A commit lists no manifest file its
staged rows left empty.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from icechunk_spark.repo import fsio
from icechunk_spark.repo.format import (
    MANIFEST_COLUMNS,
    MANIFEST_SCHEMA,
    SnapshotInfo,
    arrow_schema,
    data_path,
    ddl_fields,
    new_id,
)

#: per-dimension inclusive chunk-index bounds ``((lo, hi), ...)`` over
#: c0, c1, ... of one read, lookup or tile (dimensions past the fourth
#: have no coordinate column and are not bounded); None means the whole
#: array.  A None bound is open, and an open lower bound also admits a
#: NULL coordinate (NULL sorts first), so open-ended tiles lose no row.
ChunkRange = tuple[tuple[int | None, int | None], ...]


def _range_expr(rng: ChunkRange | None, col, is_null, true):
    """The c0..c3 predicate of a chunk range over ``col(name)``
    expressions (Spark columns or pyarrow fields)."""
    cond = true
    for d, (lo, hi) in enumerate((rng or ())[:4]):
        c, b = col(f"c{d}"), true
        if lo is not None:
            b = b & (c >= lo)
        if hi is not None:
            b = b & (c <= hi)
        cond = cond & (b | is_null(c) if lo is None else b)
    return cond


def chunk_range_filter(rng: ChunkRange | None) -> Column:
    """The c0..c3 row predicate of a chunk range as a Spark column
    (``true``, which Catalyst drops, for None)."""
    return _range_expr(rng, F.col, Column.isNull, F.lit(True))


def key_chunk_range(chunk_key: str) -> ChunkRange | None:
    """The one-chunk range of a ``"i.j.k"`` chunk key; None when the key
    does not spell grid coordinates (then only the key string filters)."""
    try:
        coords = [int(x) for x in chunk_key.split(".")]
    except ValueError:
        return None
    return tuple((c, c) for c in coords) if 0 < len(coords) <= 4 else None


def _may_hold(summary: dict, rng: ChunkRange | None) -> bool:
    """Whether a summarized manifest can hold a row of ``rng``."""
    if not summary["refs"]:
        return False
    for ext, (lo, hi) in zip(summary["extents"], rng or ()):
        if lo is None:
            continue  # admits NULL, which extents do not bound
        if ext is None or ext[1] < lo or (hi is not None and ext[0] > hi):
            return False
    return True


def _manifest_out_columns(df: DataFrame) -> list[str]:
    """Write column set: the known MANIFEST_SCHEMA columns plus any
    ADDITIVE columns present on the frame (design-docs/015: additive
    nullable columns are the extensibility mechanism for this parquet
    layout — the virtual-ref checksum column set the precedent).
    "__"-prefixed columns are internal helpers (never persisted
    data), so they are excluded."""
    extras = [c for c in df.columns if c not in MANIFEST_COLUMNS and not c.startswith("__")]
    return MANIFEST_COLUMNS + extras


def manifest_frame(df: DataFrame, **consts) -> DataFrame:
    """``df`` in the manifest layout: each ``MANIFEST_SCHEMA`` column,
    in order, is the literal ``consts[name]``, else ``df``'s column of
    that name, else NULL; ``df``'s other columns (a chunk dir's
    ``payload``) follow.  No job."""
    cols = [
        (F.lit(consts[name]) if name in consts else F.col(name) if name in df.columns else F.lit(None))
        .cast(typ).alias(name)
        for name, typ in ddl_fields(MANIFEST_SCHEMA)
    ]
    return df.select(*cols, *[c for c in df.columns if c not in MANIFEST_COLUMNS])


def read_manifest_files(
    spark: SparkSession,
    root: str,
    relpaths: list[str],
    with_extra_columns: bool = False,
) -> DataFrame:
    """Fixed-schema read by default (column pruning; a future writer's
    additive columns are simply not scanned).  ``with_extra_columns``
    reads the UNION schema instead (design-docs/015: additive nullable
    columns are the manifest extensibility mechanism here) so a
    rewrite can carry columns this version doesn't interpret.  The
    union read costs one distributed footer-merge pass over the
    manifest files — acceptable for the maintenance ops that use it
    (compaction); the hot read path keeps the fixed schema and pays
    nothing (pinned in test_extensibility_015)."""
    if not relpaths:
        from icechunk_spark.engine import local_df

        # empty LocalRelation, not the RDD path: a fresh repo resolves
        # manifests often and the RDD-path empty frame schedules
        # defaultParallelism python tasks in every consumer (r15)
        return local_df(spark, [], MANIFEST_SCHEMA)
    paths = [data_path(root, p) for p in relpaths]
    if with_extra_columns:
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
        # "__"-prefixed names are this engine's own helper columns
        # (split partition dirs), never future-format data
        df = df.select(*[c for c in df.columns if not c.startswith("__")])
        # a fixed-schema read fills ABSENT known columns (e.g. a
        # pre-vchecksum manifest) with NULLs; the union read must do
        # the same or compaction of old repos would fail to select
        for name, typ in ddl_fields(MANIFEST_SCHEMA):
            if name not in df.columns:
                df = df.withColumn(name, F.lit(None).cast(typ))
        return df
    return spark.read.schema(MANIFEST_SCHEMA).parquet(*paths)


def resolve_manifests(
    spark: SparkSession,
    root: str,
    snap: SnapshotInfo,
    node_id: str | None = None,
    chunk_range: ChunkRange | None = None,
    with_extra_columns: bool = False,
    *,
    layers: list | None = None,
    nodes: dict | None = None,
) -> DataFrame:
    """The resolved-refs frame: the live chunk refs (``live_refs``) of
    one node, or of every array, at ``snap`` — or over a session's ref
    ``layers`` and node table ``nodes``, which then replace the
    snapshot's manifests and nodes — in ``chunk_range``.  ONE
    ``mapInArrow`` over the :func:`_units` (no shuffle or join); each
    task pushes its node and tile down to the summaries and the
    row-group statistics.  ``with_extra_columns`` reads and returns the
    union schema of ``read_manifest_files`` (design-docs/015)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from icechunk_spark.engine import local_df

    data_root = data_path(root)
    layers = [("base", snap.manifests, snap.manifest_summaries)] if layers is None else layers
    ids = [node_id] if node_id is not None else array_ids(snap.nodes if nodes is None else nodes)
    schema, arrow = MANIFEST_SCHEMA, arrow_schema(MANIFEST_SCHEMA)
    if with_extra_columns:
        schema = read_manifest_files(spark, root, snap.manifests, with_extra_columns=True).schema
        arrow = to_arrow_schema(schema)
    units = _units(spark, data_root, [layers], ids, chunk_range)

    def resolve(batches):
        import pyarrow as pa

        from icechunk_spark.repo.manifests import live_refs

        for i in (i for batch in batches for i in batch.column(0).to_pylist()):
            nid, rng = units[i]
            if rows := live_refs(layers, data_root, nid, chunk_range=rng, schema=arrow):
                yield pa.RecordBatch.from_pylist(rows, schema=arrow)

    return local_df(spark, [{"unit": i} for i in range(len(units))], "unit int").mapInArrow(resolve, schema)


def diff_refs(spark: SparkSession, root: str, a: SnapshotInfo, b: SnapshotInfo) -> DataFrame:
    """``(change, node_id, chunk_key)`` of every chunk whose live ref
    differs from snapshot ``a`` to ``b``: added, deleted, or updated
    (another :func:`ref_identity`).  The :func:`_units` of both
    snapshots, one ``mapInArrow``: each unit resolves its tile on both
    sides and compares.  A node absent from a snapshot's node table has
    no chunks there."""
    from icechunk_spark.engine import local_df

    data_root = data_path(root)
    sides = [("base", a.manifests, a.manifest_summaries)], [("base", b.manifests, b.manifest_summaries)]
    ids = set(array_ids(a.nodes)), set(array_ids(b.nodes))
    units = _units(spark, data_root, sides, sorted(ids[0] | ids[1]), None)

    def diff(batches):
        import pyarrow as pa

        from icechunk_spark.repo.manifests import live_refs, ref_identity

        for i in (i for batch in batches for i in batch.column(0).to_pylist()):
            nid, rng = units[i]
            x, y = [
                {r["chunk_key"]: ref_identity(r) for r in live_refs(layers, data_root, nid, chunk_range=rng)}
                if nid in side else {}
                for layers, side in zip(sides, ids)
            ]
            changes = []
            for key in sorted(x.keys() | y.keys()):
                old, new = x.get(key), y.get(key)
                change = "added" if old is None else "deleted" if new is None else "updated" if old != new else None
                if change:
                    changes.append({"change": change, "node_id": nid, "chunk_key": key})
            if changes:
                yield pa.RecordBatch.from_pylist(changes)

    frame = local_df(spark, [{"unit": i} for i in range(len(units))], "unit int")
    return frame.mapInArrow(diff, "change string, node_id string, chunk_key string")


def ref_identity(ref: dict) -> str | None:
    """What a live ref points at: its native ``chunk_id``, its virtual
    ``vpath@voffset``, or the md5 of its inline bytes."""
    if ref["chunk_id"] is not None:
        return ref["chunk_id"]
    if ref["vpath"] is not None:
        return "@".join(str(v) for v in (ref["vpath"], ref["voffset"]) if v is not None)
    if ref["inline"] is not None:
        import hashlib

        return hashlib.md5(ref["inline"]).hexdigest()
    return None


def array_ids(nodes: dict) -> list[str]:
    """The node ids of the arrays in a node table (path -> node)."""
    return sorted(n["node_id"] for n in nodes.values() if n.get("kind") == "array")


def _units(spark: SparkSession, data_root: str, sides, node_ids, rng: ChunkRange | None) -> list[tuple]:
    """The ``(node_id, chunk_range)`` work units of a resolved-refs job
    (no Spark job): per node, tiles of c0.  A node gets
    ``engine.file_split_count`` tiles of the part files
    (``fsio.parquet_parts``) of its kept manifests and staged files in
    ``sides`` (ref-layer lists), at most one per part file and per c0
    value.  They split the c0 span of the kept summaries (within
    ``rng``) evenly; the outer bounds are ``rng``'s, or open (NULLs
    too) without one, so every row falls in exactly one tile."""
    from icechunk_spark.engine import file_split_count

    parts: dict[str, list] = {}
    units = []
    for nid in node_ids:
        rels, exts = set(), []
        for layers in sides:
            for kind, *spec in layers:
                if kind == "file":
                    rels.add(spec[0])
                elif kind == "base":
                    kept = prune_manifest_paths(spec[0], nid, spec[1], rng)
                    rels.update(kept)
                    exts += [spec[1][m]["extents"][0] for m in kept if m in spec[1]]
        for rel in rels - parts.keys():
            parts[rel] = fsio.parquet_parts(os.path.join(data_root, rel))
        sizes = [size for rel in rels for _, size in parts[rel]]
        exts = [e for e in exts if e is not None]
        span = (min(e[0] for e in exts), max(e[1] for e in exts)) if exts else (0, -1)
        if rng:
            span = (max(span[0], rng[0][0]), min(span[1], rng[0][1]))
        n = 1
        if span[0] <= span[1] and len(sizes) > 1:
            n = min(file_split_count(spark, sizes), len(sizes), span[1] - span[0] + 1)
        outer = rng[0] if rng else (None, None)
        cuts = [span[0] + k * (span[1] - span[0] + 1) // n for k in range(1, n)]
        for lo, hi in zip([outer[0], *cuts], [c - 1 for c in cuts] + [outer[1]]):
            units.append((nid, rng if (lo, hi) == (None, None) else ((lo, hi), *(rng or ())[1:])))
    return units


def write_manifest(df: DataFrame, root: str) -> tuple[list[str], dict[str, dict]]:
    """Write manifest rows as a new immutable manifest file (a dir of
    one parquet part); returns ``([relpath], {relpath: summary})``."""
    rel = os.path.join("manifests", f"{new_id()}.parquet")
    full = data_path(root, rel)
    df.select(*_manifest_out_columns(df)).repartition(1).write.parquet(full)
    # an empty write may leave no part file: the file then has no rows
    return [rel], _known(_written_summaries(full, rel) or {rel: _no_rows()})


def write_manifests(
    df: DataFrame,
    root: str,
    splitting: dict | None = None,
    node_paths: dict[str, str] | None = None,
) -> tuple[list[str], dict[str, dict]]:
    """Write manifest rows as one or more immutable manifest files.

    With ``splitting`` (the persisted form of the reference's
    ManifestSplittingConfig / ManifestSplitCondition —
    icechunk-python/python/icechunk/config.py:59-64, design-docs/005),
    one snapshot's refs are split into per-array files, optionally
    capped at ``max_refs_per_manifest`` rows each, so a snapshot of a
    huge repo never produces one monolithic manifest and readers of a
    single array fetch only that array's files.

    Spark-first: the split is ONE partitioned parquet write
    (``partitionBy`` on a copied node column + a range-ordered bucket),
    not N driver-side writes.  Buckets are ordered by chunk grid
    coordinates so parquet min/max stats on c0..c3 still prune inside
    each split file.  Returns the snapshot-relative paths (leaf
    partition dirs), which ``SnapshotInfo.manifests`` stores and
    ``resolve_manifests`` prunes before reading, and their summaries
    (``SnapshotInfo.manifest_summaries``), built without another job.
    """
    splitting = splitting or {}
    # ``is None`` (not falsy) checks: max_refs_per_manifest=0 is a
    # configured value (clamped to the smallest real cap, 1 ref/file),
    # not "unset" — the persisted ManifestSplittingConfig must
    # round-trip with predictable behavior.  A size cap IMPLIES
    # per-array splitting (the partition layout always includes the
    # node dir — documented reference semantics here).
    max_refs = splitting.get("max_refs_per_manifest")
    rules = splitting.get("rules")
    if not splitting.get("split_by_array") and max_refs is None and not rules:
        return write_manifest(df, root)
    base = os.path.join("manifests", f"{new_id()}.parquet")
    out = df.select(*_manifest_out_columns(df)).withColumn("__node", F.col("node_id"))
    if rules and node_paths:
        # Per-rule caps (the reference's ManifestSplittingConfig,
        # _icechunk_python.pyi:921+): the FIRST condition matching an
        # array's path decides its ref cap.  Rule evaluation happens
        # driver-side over node METADATA (#arrays entries, not #refs)
        # and ships as a broadcast (node_id, cap) join — the refs
        # DataFrame itself never leaves executors.
        from icechunk_spark.types import _Cond

        conds = [(_Cond.from_dict(r["cond"]), int(r["max_refs"])) for r in rules]
        caps: list[tuple[str, int]] = []
        for node_id_, path in node_paths.items():
            for cond, cap in conds:
                if cond.matches(path):
                    caps.append((node_id_, max(1, cap)))
                    break
        if caps:
            cap_df = F.broadcast(
                df.sparkSession.createDataFrame(caps, "node_id string, __cap int")
            )
            w = Window.partitionBy("node_id").orderBy("c0", "c1", "c2", "c3", "chunk_key")
            out = (
                out.join(cap_df, "node_id", "left")
                .withColumn(
                    "__split",
                    F.when(
                        F.col("__cap").isNotNull(),
                        ((F.row_number().over(w) - 1) / F.col("__cap")).cast("int"),
                    ).otherwise(F.lit(0)),
                )
                .drop("__cap")
            )
        else:
            out = out.withColumn("__split", F.lit(0))
    elif max_refs is not None:
        w = Window.partitionBy("node_id").orderBy("c0", "c1", "c2", "c3", "chunk_key")
        out = out.withColumn(
            "__split",
            ((F.row_number().over(w) - 1) / F.lit(max(1, int(max_refs)))).cast("int"),
        )
    else:
        out = out.withColumn("__split", F.lit(0))
    full = data_path(root, base)
    out.write.partitionBy("__node", "__split").parquet(full)
    summaries = _written_summaries(full, base)
    if not summaries:  # empty change set still needs a (single) manifest file
        if not fsio.exists(full):
            return [], {}
        summaries = {base: _no_rows()}
    return sorted(summaries), _known(summaries)


def _no_rows() -> dict:
    return {"extents": [None] * 4, "refs": 0, "files": []}


def _written_summaries(full: str, base: str) -> dict[str, dict | None]:
    """The summary of each manifest file just written under ``full``
    (relpath ``base``), keyed by the leaf dir's relpath (``base`` itself
    for an unsplit write): one recursive listing, then per parquet part
    its footer (row count, c0..c3 min/max) and its :func:`_part_files`
    — exactly the payload files its rows name.  None for a leaf whose
    footers lack the coordinate statistics (readers then keep and scan
    it)."""
    stats: dict[str, dict | None] = {}
    for part, pf in _open_parts(full):
        sub = part.rpartition("/")[0]
        if sub and not all(c.startswith(("__node=", "__split=")) for c in sub.split("/")):
            continue  # not a partition dir of this write
        rel = f"{base}/{sub}" if sub else base
        if stats.setdefault(rel, _no_rows()) is None:
            continue
        if _add_footer(stats[rel], pf.metadata):
            stats[rel]["files"] = sorted(_part_files(pf).union(stats[rel]["files"]))
        else:
            stats[rel] = None
    return stats


def _open_parts(full: str):
    """``(part, pyarrow ParquetFile)`` of each parquet part under
    ``full`` (``fsio.parquet_parts``), open one at a time."""
    import pyarrow.parquet as pq

    fs, p = fsio._fs_path(full.rstrip("/"))
    for part, _ in fsio.parquet_parts(full):
        with fs.open_input_file(f"{p}/{part}".rstrip("/")) as f:
            yield part, pq.ParquetFile(f)


def _part_files(pf) -> set[str]:
    """The distinct non-NULL ``file`` values of one open parquet part
    (a ``pyarrow.parquet.ParquetFile``), one row group in memory at a
    time: the payload files its rows name."""
    import pyarrow.compute as pc

    seen: set[str] = set()
    for g in range(pf.num_row_groups):
        col = pf.read_row_group(g, columns=["file"], use_threads=False).column(0)
        seen.update(pc.unique(col.drop_null()).to_pylist())
    return seen


def payload_files(data_root: str, relpath: str) -> list[str]:
    """The payload files the rows of manifest ``relpath`` name, read
    from its parquet parts with pyarrow (:func:`_part_files`, the reader
    that builds a summary's ``files``): the liveness of a manifest that
    has no summary.  No Spark job; runs on the driver or in a task."""
    parts = _open_parts(os.path.join(data_root, relpath))
    return sorted(set().union(*(_part_files(pf) for _, pf in parts)))


def _known(summaries: dict[str, dict | None]) -> dict[str, dict]:
    return {rel: st for rel, st in summaries.items() if st is not None}


def _add_footer(st: dict, md) -> bool:
    """Fold one part file's parquet footer into a summary's row count
    and c0..c3 extents.  False when a row group holds coordinate values
    without min/max statistics (or lacks a coordinate column)."""
    names = md.schema.names
    st["refs"] += md.num_rows
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for d in range(4):
            cs = rg.column(names.index(f"c{d}")).statistics if f"c{d}" in names else None
            if cs is not None and cs.has_min_max:
                ext = st["extents"][d]
                st["extents"][d] = (
                    [cs.min, cs.max] if ext is None else [min(ext[0], cs.min), max(ext[1], cs.max)]
                )
            elif cs is None or not cs.has_null_count or cs.null_count != rg.num_rows:
                return False
    return True


def footers_admit(full: str, node_ids: set[str], keys: list[tuple[str, str]]) -> bool:
    """Whether the parquet footers of the manifest-layout dir ``full``
    (a staged item) admit a row of a node in ``node_ids`` or of a
    ``(node_id, chunk_key)`` in ``keys``: the node_id min/max of each
    row group, and the row count and c0..c3 extents (``_add_footer``)
    under ``_may_hold``, the test reads prune with.  True whenever the
    statistics cannot tell.  Footers only, no Spark job."""
    wanted, st, nodes = set(node_ids) | {n for n, _ in keys}, _no_rows(), set()
    for _, pf in _open_parts(full):
        md = pf.metadata
        if not _add_footer(st, md) or "node_id" not in md.schema.names:
            return True
        col = md.schema.names.index("node_id")
        for cs in (md.row_group(g).column(col).statistics for g in range(md.num_row_groups)):
            nodes |= {n for n in wanted if cs is None or not cs.has_min_max or cs.min <= n <= cs.max}
    return bool(nodes & node_ids) or any(n in nodes and _may_hold(st, key_chunk_range(k)) for n, k in keys)


def read_manifest_rows_local(
    data_root: str, relpaths: list[str], node_id=None, chunk_key=None, chunk_range=None, schema=None
) -> list[dict]:
    """Pre-dedup rows of manifest-layout parquet dirs (manifest files,
    staged items) under ``data_root`` (``fmt.data_path(root)``), read
    with pyarrow, no Spark job: the node, key and chunk-range filters
    push down to row-group statistics.  Read with the Arrow ``schema``
    (default ``MANIFEST_SCHEMA``'s), like the Spark reader: absent
    columns read as NULL and columns outside it are not read."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    flt = _range_expr(chunk_range, pc.field, pc.Expression.is_null, pc.scalar(True))
    if node_id is not None:
        flt = flt & (pc.field("node_id") == node_id)
    if chunk_key is not None:
        flt = flt & (pc.field("chunk_key") == chunk_key)
    schema = schema or arrow_schema(MANIFEST_SCHEMA)
    rows: list[dict] = []
    for rel in relpaths:
        fs, p = fsio._fs_path(os.path.join(data_root, rel))
        dataset = ds.dataset(p, schema=schema, filesystem=fs, format="parquet")
        rows.extend(dataset.to_table(filter=flt).to_pylist())
    return rows


def resolve_manifest_rows_local(
    data_root: str, manifests: list[str], summaries: dict, node_id=None, chunk_key=None,
    chunk_range=None, schema=None,
) -> list[dict]:
    """Spark-free resolution (pyarrow) of a snapshot's ``manifests``,
    the base layer of ``live_refs``: latest seq per (node_id,
    chunk_key) wins, tombstones dropped.  Files prune by ``summaries``
    first (``prune_manifest_paths``), then ``read_manifest_rows_local``
    filters rows."""
    kept = prune_manifest_paths(manifests, node_id, summaries, chunk_range)
    best: dict[tuple[str, str], dict] = {}
    for r in read_manifest_rows_local(data_root, kept, node_id, chunk_key, chunk_range, schema):
        key = (r["node_id"], r["chunk_key"])
        if key not in best or r["seq"] > best[key]["seq"]:
            best[key] = r
    return [r for r in best.values() if r["op"] == "set"]


def live_refs(
    layers, data_root: str, node_id: str, chunk_key=None, chunk_range=None, schema=None
) -> list[dict]:
    """Live refs of one node (one key, or a chunk range) from ref
    ``layers``, newest first — plain values: ``("rows", rows)`` already
    read, newest first (the chunk buffer); ``("file", relpath, seq)``
    (a staged item); ``("base", manifests, summaries)``.  A key's
    newest row decides it (a newer tombstone shadows older layers); a
    lookup stops at the first layer holding its key.  Files are read
    with the Arrow ``schema`` (``read_manifest_rows_local``).  No Spark
    job."""
    rng = key_chunk_range(chunk_key) if chunk_key is not None else chunk_range
    best: dict[str, dict] = {}
    for kind, *spec in layers:
        if kind == "rows":
            rows = [r for r in spec[0] if row_matches(r, node_id, chunk_key, rng)]
        elif kind == "file":
            rows = read_manifest_rows_local(data_root, spec[:1], node_id, chunk_key, rng, schema)
            rows = [{**r, "seq": spec[1]} for r in rows]
        else:
            rows = resolve_manifest_rows_local(data_root, *spec, node_id, chunk_key, rng, schema)
        for r in rows:
            best.setdefault(r["chunk_key"], r)
        if chunk_key in best:
            break
    return [r for r in best.values() if r["op"] == "set"]


def row_matches(row: dict, node_id, chunk_key, rng: ChunkRange | None) -> bool:
    """``read_manifest_rows_local``'s filter, on a row already read."""
    return node_id in (None, row["node_id"]) and chunk_key in (None, row["chunk_key"]) and all(
        lo is None if v is None else (lo is None or lo <= v) and (hi is None or v <= hi)
        for v, (lo, hi) in zip((row[f"c{d}"] for d in range(4)), (rng or ())[:4])
    )


_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def _escape_partition_value(value: str) -> str:
    """Escape a partition value the way Spark's partitioned writer does
    (Hive ``escapePathName``): node ids are uuid hex today, but if they
    ever carry escapable characters the on-disk dir name would differ
    from the raw id and a raw-substring match would silently prune ALL
    of that node's split files (empty reads instead of errors)."""
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPE else c for c in value)


def prune_manifest_paths(
    relpaths: list[str],
    node_id: str | None,
    summaries: dict[str, dict] | None = None,
    chunk_range: ChunkRange | None = None,
) -> list[str]:
    """File-level pruning (the module docstring's rules): when
    resolving a single node, skip split files belonging to other nodes
    (unsplit manifests are kept — they may contain any node); then skip
    files whose summary shows no row in ``chunk_range``.  Files without
    a summary are always kept."""
    summaries = summaries or {}
    marker = f"/__node={_escape_partition_value(node_id)}/" if node_id is not None else None
    return [
        p
        for p in relpaths
        if (marker is None or "/__node=" not in p or marker in p)
        and (p not in summaries or _may_hold(summaries[p], chunk_range))
    ]
