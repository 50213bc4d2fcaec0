"""The benchmark's workloads: seeded inputs, set-up and one round each.

Every input comes from the seed through the pure functions at the top
(plans and cell values), so the same seed gives the same op sequence
and the same arrays, and every output can be checked against what the
generator predicts.  The program under test only ever sees the
generated frames and chunk bytes.

Cell values are a closed-form function of the coordinates and a salt,
evaluated with identical integer and IEEE double arithmetic in numpy
(for the expected values) and in Spark (for bulk input frames that
never visit the driver).
"""

from __future__ import annotations

import math
import os

import numpy as np

# --- seeded inputs (pure; no Spark) -----------------------------------------

_MOD = 2_147_483_647


def cell_values(i0, i1, salt: int) -> np.ndarray:
    """Value of each cell (i0, i1) under ``salt``, in [0, 1)."""
    i0 = np.asarray(i0, dtype=np.int64)
    i1 = np.asarray(i1, dtype=np.int64)
    return ((i0 * 1_000_003 + i1 * 7_919 + salt) % _MOD).astype(np.float64) / float(_MOD)


def block_values(r0: int, r1: int, c0: int, c1: int, salt: int) -> np.ndarray:
    i0, i1 = np.meshgrid(np.arange(r0, r1), np.arange(c0, c1), indexing="ij")
    return cell_values(i0, i1, salt)


def _salt(seed: int, *parts: int) -> int:
    """A salt below 2^40 (so cell arithmetic stays exact in int64)."""
    return int(np.random.default_rng([seed, *parts]).integers(1, 1 << 40))


# repo_write sizes
GRID, GRID_CHUNK = (256, 256), (32, 32)  # 64 chunks, 512 KiB
BULK, BULK_CHUNK = (2048, 1024), (64, 128)  # 256 chunks, 16 MiB
TXN_SHAPE = (40, 40)  # each small write spans 2x2 partly covered chunks
TXNS_PER_ROUND = 4


def write_plan(seed: int, rnd: int) -> dict:
    """One repo_write round: the small transactions and the bulk salt.

    Every small write starts 1..23 cells into a chunk in both
    dimensions, so each one partly covers exactly 2x2 chunks and takes
    the read-modify-write path."""
    rng = np.random.default_rng([seed, 1, rnd])
    txns = []
    for k in range(TXNS_PER_ROUND):
        r0 = int(rng.integers(0, GRID[0] // GRID_CHUNK[0] - 1)) * GRID_CHUNK[0]
        c0 = int(rng.integers(0, GRID[1] // GRID_CHUNK[1] - 1)) * GRID_CHUNK[1]
        r0 += int(rng.integers(1, 24))
        c0 += int(rng.integers(1, 24))
        txns.append({"r0": r0, "c0": c0, "salt": _salt(seed, 2, rnd, k)})
    probe = (int(rng.integers(0, BULK[0] // BULK_CHUNK[0])), int(rng.integers(0, BULK[1] // BULK_CHUNK[1])))
    return {"txns": txns, "bulk_salt": _salt(seed, 3, rnd), "bulk_probe": probe}


# repo_history sizes
H1, H2, H_CHUNK = (256, 256), (128, 128), (32, 32)  # 64 + 16 chunks
READ_SHAPE = (96, 96)  # starts 16 cells into a chunk: always 4x4 chunks
MAIN_DATA_COMMITS = 5
BRANCH_DATA_COMMITS = 1
ATTRS_COMMITS_PER_DATA = 2  # cheap (no Spark job): history depth without build time
CHUNKS_PER_COMMIT = 8
DIFFS_PER_ROUND = 2


def history_plan(seed: int) -> list[dict]:
    """The commits that build repo_history, in order.

    A base commit writes every chunk of both arrays; then main gets
    data commits (each rewriting 8 seeded chunks of one array), each
    followed by attrs-only commits; two branches fork off main and
    get their own data commits.  Kinds: "data", "attrs", "branch"."""
    rng = np.random.default_rng([seed, 10])
    n1 = (H1[0] // H_CHUNK[0], H1[1] // H_CHUNK[1])
    n2 = (H2[0] // H_CHUNK[0], H2[1] // H_CHUNK[1])

    def data(branch: str, i: int) -> dict:
        # two in three commits touch h1, the rest h2
        arr, grid = ("h1", n1) if i % 3 != 2 else ("h2", n2)
        flat = rng.choice(grid[0] * grid[1], size=CHUNKS_PER_COMMIT, replace=False)
        chunks = sorted((int(f) // grid[1], int(f) % grid[1]) for f in flat)
        return {"kind": "data", "branch": branch, "array": arr, "chunks": chunks,
                "salt": _salt(seed, 11, i)}

    plan = [{"kind": "base", "branch": "main", "salt1": _salt(seed, 12), "salt2": _salt(seed, 13)}]
    i = 0
    for d in range(MAIN_DATA_COMMITS):
        plan.append(data("main", i)); i += 1
        for a in range(ATTRS_COMMITS_PER_DATA):
            plan.append({"kind": "attrs", "branch": "main", "attrs": {"step": d, "a": a}})
        if d in (1, 3):
            name = f"b{1 if d == 1 else 2}"
            plan.append({"kind": "branch", "branch": name})
            for _ in range(BRANCH_DATA_COMMITS):
                plan.append(data(name, i)); i += 1
    return plan


def history_round_plan(seed: int, rnd: int, n_versions: int, n_main: int) -> dict:
    """One repo_history round: every version is read once, in a seeded
    order, at a seeded region and lookup chunk (so every run does the
    same work); diffs are between seeded consecutive main versions."""
    rng = np.random.default_rng([seed, 20, rnd])
    reads = []
    for v in rng.permutation(n_versions):
        a, b = (int(x) for x in rng.integers(0, H1[0] // H_CHUNK[0] - 3, size=2))
        reads.append({
            "version": int(v),
            "r0": a * H_CHUNK[0] + 16, "c0": b * H_CHUNK[1] + 16,
            "lookup": (int(rng.integers(0, H1[0] // H_CHUNK[0])), int(rng.integers(0, H1[1] // H_CHUNK[1]))),
        })
    diffs = [(int(a), int(a) + 1) for a in rng.integers(0, n_main - 1, size=DIFFS_PER_ROUND)]
    return {"reads": reads, "diffs": diffs}


def region_summary(block: np.ndarray, r0: int, c0: int) -> dict:
    """The order-insensitive summary a region read is checked against."""
    i0, i1 = np.meshgrid(np.arange(r0, r0 + block.shape[0]), np.arange(c0, c0 + block.shape[1]), indexing="ij")
    return {"n": int(block.size), "sum": float(block.sum()), "min": float(block.min()),
            "max": float(block.max()), "keys": int((i0 * 100_000 + i1).sum())}


def summary_matches(got: dict, want: dict) -> bool:
    return (
        int(got["n"]) == want["n"] and int(got["keys"]) == want["keys"]
        and float(got["min"]) == want["min"] and float(got["max"]) == want["max"]
        and math.isclose(float(got["sum"]), want["sum"], rel_tol=1e-12, abs_tol=1e-9)
    )


def chunk_of(grid: np.ndarray, ci: int, cj: int, chunk=H_CHUNK) -> np.ndarray:
    return grid[ci * chunk[0]:(ci + 1) * chunk[0], cj * chunk[1]:(cj + 1) * chunk[1]]


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


# --- Spark-side helpers -----------------------------------------------------


def _noop_observing(df, *aggs) -> dict:
    """Write ``df`` to the noop sink (forcing all of it) while an
    Observation computes ``aggs`` over its rows in the same job."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def _observed_noop(df) -> dict:
    """The region read to noop, with its summary (see region_summary)."""
    from pyspark.sql import functions as F

    return _noop_observing(
        df, F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum"),
        F.min("value").alias("min"), F.max("value").alias("max"),
        F.sum(F.col("i0") * 100_000 + F.col("i1")).alias("keys"))


def _range_frame(spark, shape, salt: int):
    """All cells of a 2-D array as (i0, i1, value) rows, built lazily
    on the executors (bulk inputs never visit the driver)."""
    from pyspark.sql import functions as F

    n1 = shape[1]
    value = ((F.col("i0") * 1_000_003 + F.col("i1") * 7_919 + F.lit(salt)) % _MOD).cast("double") / F.lit(float(_MOD))
    return (
        spark.range(0, shape[0] * shape[1])
        .select(F.expr(f"id div {n1}").alias("i0"), (F.col("id") % n1).alias("i1"))
        .withColumn("value", value)
    )


def _block_frame(spark, block: np.ndarray, r0: int, c0: int):
    """A small block as a driver-local frame (pandas + Arrow, no job)."""
    import pandas as pd

    i0, i1 = np.meshgrid(np.arange(r0, r0 + block.shape[0]), np.arange(c0, c0 + block.shape[1]), indexing="ij")
    return spark.createDataFrame(pd.DataFrame({"i0": i0.ravel(), "i1": i1.ravel(), "value": block.ravel()}))


# --- workloads ----------------------------------------------------------------


class RepoWrite:
    """Writers: small read-modify-write transactions, one bulk
    fork/merge ingest, then maintenance that returns the repo to its
    base state, so every round starts from the same state."""

    name = "repo_write"
    headline = "commit"
    nominal_round_s = 20.0

    def __init__(self, spark, storage, seed: int, rec):
        self.spark, self.storage, self.seed, self.rec = spark, storage, seed, rec
        self.last = {}

    def setup(self) -> None:
        from icechunk_spark.repo import Repository

        self.repo = Repository.create(self.spark, self.storage)
        base_salt = _salt(self.seed, 0)
        with self.repo.transaction(message="base") as s:
            s.create_array("/grid", shape=list(GRID), chunk_shape=list(GRID_CHUNK))
            s.create_array("/bulk", shape=list(BULK), chunk_shape=list(BULK_CHUNK))
            s.write_array_df("/grid", _range_frame(self.spark, GRID, base_salt))
        self.repo.create_tag("base", self.repo.lookup_branch("main"))
        self.base_grid = block_values(0, GRID[0], 0, GRID[1], base_salt)
        self.base_summary = region_summary(self.base_grid, 0, 0)

    def warm_up(self) -> None:
        """One op of every kind, untimed: round 0 with one small write
        and an eighth of the bulk rows (same code paths, less data)."""
        self.run_round(0, txns=1, bulk_rows=BULK[0] // 8)

    def run_round(self, rnd: int, txns: int | None = None, bulk_rows: int = BULK[0]) -> None:
        rec, repo = self.rec, self.repo
        plan = write_plan(self.seed, rnd)
        plan["txns"] = plan["txns"][:txns]
        branch = f"w{rnd}"
        grid = self.base_grid.copy()
        repo.create_branch(branch, repo.lookup_tag("base"))
        root = self.storage.data_root
        bytes0 = tree_bytes(root)
        for k, t in enumerate(plan["txns"]):
            block = block_values(t["r0"], t["r0"] + TXN_SHAPE[0], t["c0"], t["c0"] + TXN_SHAPE[1], t["salt"])

            def txn(t=t, block=block, k=k):
                with repo.transaction(branch, message=f"txn {k}") as s:
                    s.write_array_df("/grid", _block_frame(self.spark, block, t["r0"], t["c0"]))
                    s.update_attrs("/grid", {"round": rnd, "txn": k})

            if rec.op("commit", txn) is not None:
                grid[t["r0"]:t["r0"] + TXN_SHAPE[0], t["c0"]:t["c0"] + TXN_SHAPE[1]] = block

        def bulk():
            s = repo.writable_session(branch)
            fork = s.fork()
            fork.write_array_df("/bulk", _range_frame(self.spark, (bulk_rows, BULK[1]), plan["bulk_salt"]))
            s.merge(fork)
            return s.commit(f"bulk {rnd}")

        rec.op("ingest", bulk)
        user_bytes = 8 * (len(plan["txns"]) * TXN_SHAPE[0] * TXN_SHAPE[1] + bulk_rows * BULK[1])
        self.last["bytes_per_user_byte"] = (tree_bytes(root) - bytes0) / user_bytes

        # outputs: one chunk of the last small write and one bulk chunk
        t = plan["txns"][-1]
        ci, cj = t["r0"] // GRID_CHUNK[0], t["c0"] // GRID_CHUNK[1]
        bi, bj = plan["bulk_probe"]
        bi %= bulk_rows // BULK_CHUNK[0]
        want_bulk = block_values(bi * BULK_CHUNK[0], (bi + 1) * BULK_CHUNK[0],
                                 bj * BULK_CHUNK[1], (bj + 1) * BULK_CHUNK[1], plan["bulk_salt"])
        rec.op("verify", lambda: repo.readonly_session(branch).store.get(f"grid/c/{ci}/{cj}"),
               check=lambda b: _same_chunk(b, chunk_of(grid, ci, cj, GRID_CHUNK)))
        rec.op("verify", lambda: repo.readonly_session(branch).store.get(f"bulk/c/{bi}/{bj}"),
               check=lambda b: _same_chunk(b, want_bulk))

        def maint():
            repo.rewrite_manifests(branch)
            repo.delete_branch(branch)
            return repo.garbage_collect(older_than_seconds=0)

        before = tree_bytes(root)
        gc = rec.op("maint", maint)
        if gc is not None:
            self.last["gc_objects_deleted"] = (gc.chunk_files_deleted + gc.manifests_deleted
                                               + gc.snapshots_deleted + gc.txlogs_deleted)
            self.last["gc_bytes_freed"] = before - tree_bytes(root)
        # the base tag must read back intact after GC
        rec.op("verify", lambda: _observed_noop(
            repo.readonly_session(tag="base").read_array_df("/grid")),
            check=lambda got: summary_matches(got, self.base_summary))

    def sizes(self) -> dict:
        return {"grid": {"shape": GRID, "chunk": GRID_CHUNK, "bytes": 8 * GRID[0] * GRID[1]},
                "bulk": {"shape": BULK, "chunk": BULK_CHUNK, "bytes": 8 * BULK[0] * BULK[1]},
                "txn": {"shape": TXN_SHAPE, "per_round": TXNS_PER_ROUND},
                "commits_per_round": TXNS_PER_ROUND + 2}

    def extra_metrics(self) -> dict:
        """The workload's own named metrics: (value, unit) pairs."""
        rec = self.rec
        ingest = rec.median("ingest")
        return {
            "commit_p50_ms": (rec.median("commit"), "ms"),
            "commit_tail_ms": rec.tail("commit"),
            "ingest_mb_s": (8 * BULK[0] * BULK[1] / 1e6 / (ingest / 1000.0) if ingest else float("nan"), "MB/s"),
            "maint_s": (rec.median("maint") / 1000.0, "s"),
            "bytes_per_user_byte": (self.last.get("bytes_per_user_byte", float("nan")), "ratio"),
            "gc_objects_deleted": (self.last.get("gc_objects_deleted", float("nan")), "count"),
            "gc_bytes_freed": (self.last.get("gc_bytes_freed", float("nan")), "B"),
        }


class RepoHistory:
    """Time travel, no writes: cold region reads at seeded versions,
    rereads in the same session, one-chunk lookups and diffs over a
    history of 17 commits on main, two branches and split manifests."""

    name = "repo_history"
    headline = "read"
    nominal_round_s = 21.0

    def __init__(self, spark, storage, seed: int, rec):
        self.spark, self.storage, self.seed, self.rec = spark, storage, seed, rec

    def setup(self) -> None:
        from icechunk_spark.repo import Repository
        from icechunk_spark.repo.repository import ManifestConfig, RepositoryConfig

        cfg = RepositoryConfig(manifest=ManifestConfig(
            splitting={"split_by_array": True, "max_refs_per_manifest": 4}))
        repo = self.repo = Repository.create(self.spark, self.storage, config=cfg)
        state: dict[str, dict] = {}
        # each version read: snapshot id, expected /h1 cells, the commit
        # that last wrote each chunk of /h1 and /h2 (w1, w2; for diffs),
        # and the number of manifest files its snapshot lists
        self.versions, self.main_versions = [], []
        for step in history_plan(self.seed):
            br = step["branch"]
            if step["kind"] == "branch":
                repo.create_branch(br, repo.lookup_branch("main"))
                state[br] = {k: v.copy() for k, v in state["main"].items()}
                continue
            with repo.transaction(br, message=f"{step['kind']} on {br}") as s:
                if step["kind"] == "base":
                    s.create_array("/h1", shape=list(H1), chunk_shape=list(H_CHUNK))
                    s.create_array("/h2", shape=list(H2), chunk_shape=list(H_CHUNK))
                    g1 = block_values(0, H1[0], 0, H1[1], step["salt1"])
                    g2 = block_values(0, H2[0], 0, H2[1], step["salt2"])
                    w1 = np.zeros((H1[0] // H_CHUNK[0], H1[1] // H_CHUNK[1]), dtype=np.int64)
                    w2 = np.zeros((H2[0] // H_CHUNK[0], H2[1] // H_CHUNK[1]), dtype=np.int64)
                    for arr, g, w in (("h1", g1, w1), ("h2", g2, w2)):
                        for ci in range(w.shape[0]):
                            for cj in range(w.shape[1]):
                                s.store.set(f"{arr}/c/{ci}/{cj}", chunk_of(g, ci, cj).tobytes())
                    state["main"] = {"h1": g1, "h2": g2, "w1": w1, "w2": w2}
                elif step["kind"] == "attrs":
                    s.update_attrs("/h1", step["attrs"])
                else:
                    st = state[br]
                    g, w = st[step["array"]], st["w1" if step["array"] == "h1" else "w2"]
                    tag = len(self.versions) + 1
                    for ci, cj in step["chunks"]:
                        blk = block_values(ci * H_CHUNK[0], (ci + 1) * H_CHUNK[0],
                                           cj * H_CHUNK[1], (cj + 1) * H_CHUNK[1], step["salt"])
                        g[ci * H_CHUNK[0]:(ci + 1) * H_CHUNK[0], cj * H_CHUNK[1]:(cj + 1) * H_CHUNK[1]] = blk
                        w[ci, cj] = tag
                        s.store.set(f"{step['array']}/c/{ci}/{cj}", blk.tobytes())
            if step["kind"] in ("base", "data"):
                st = state[br]
                sid = repo.lookup_branch(br)
                v = {"id": sid, "h1": st["h1"].copy(), "w1": st["w1"].copy(), "w2": st["w2"].copy(),
                     "manifests": len(repo.list_manifest_files(sid))}
                self.versions.append(v)
                if br == "main":
                    self.main_versions.append(v)
                    repo.create_tag(f"v{len(self.main_versions)}", sid)
        self.commits = sum(1 for _ in repo.ancestry(branch="main"))
        self.manifest_files = len(repo.list_manifest_files(repo.lookup_branch("main")))

    def warm_up(self) -> None:
        """One op of every kind, untimed (round 0, one read, one diff)."""
        self.run_round(0, reads=1, diffs=1)

    def run_round(self, rnd: int, reads: int | None = None, diffs: int | None = None) -> None:
        rec, repo = self.rec, self.repo
        plan = history_round_plan(self.seed, rnd, len(self.versions), len(self.main_versions))
        plan = {"reads": plan["reads"][:reads], "diffs": plan["diffs"][:diffs]}
        for r in plan["reads"]:
            v = self.versions[r["version"]]
            want = region_summary(
                v["h1"][r["r0"]:r["r0"] + READ_SHAPE[0], r["c0"]:r["c0"] + READ_SHAPE[1]], r["r0"], r["c0"])
            slices = [(r["r0"], r["r0"] + READ_SHAPE[0]), (r["c0"], r["c0"] + READ_SHAPE[1])]
            box = {}

            def read(v=v, slices=slices):
                box["s"] = repo.readonly_session(snapshot_id=v["id"])
                return _observed_noop(box["s"].read_array_df("/h1", slices=slices))

            ok = lambda got, want=want: summary_matches(got, want)  # noqa: E731
            rec.op("read", read, check=ok, listed=v["manifests"])
            if "s" in box:
                rec.op("reread", lambda s=box["s"], slices=slices: _observed_noop(
                    s.read_array_df("/h1", slices=slices)), check=ok)
            ci, cj = r["lookup"]
            rec.op("lookup", lambda v=v, ci=ci, cj=cj: repo.readonly_session(snapshot_id=v["id"]).store.get(
                f"h1/c/{ci}/{cj}"), check=lambda b, v=v, ci=ci, cj=cj: _same_chunk(b, chunk_of(v["h1"], ci, cj)))
        for a, b in plan["diffs"]:
            va, vb = self.main_versions[a], self.main_versions[b]
            want = int((va["w1"] != vb["w1"]).sum() + (va["w2"] != vb["w2"]).sum())
            rec.op("diff", lambda va=va, vb=vb: _diff_counts(repo.diff_df(va["id"], vb["id"])),
                   check=lambda got, want=want: got == {"updated": want})

    def sizes(self) -> dict:
        return {"h1": {"shape": H1, "chunk": H_CHUNK}, "h2": {"shape": H2, "chunk": H_CHUNK},
                "read": {"shape": READ_SHAPE, "per_round": len(self.versions)}, "diffs_per_round": DIFFS_PER_ROUND,
                "commits_on_main": self.commits, "versions_read": len(self.versions),
                "manifest_files_at_main_tip": self.manifest_files}

    def extra_metrics(self) -> dict:
        rec = self.rec
        return {
            "read_p50_ms": (rec.median("read"), "ms"),
            "read_tail_ms": rec.tail("read"),
            "reread_p50_ms": (rec.median("reread"), "ms"),
            "lookup_p50_ms": (rec.median("lookup"), "ms"),
            "diff_p50_ms": (rec.median("diff"), "ms"),
        }


def _diff_counts(df) -> dict:
    """The diff to noop, with its row count per change kind (nonzero only)."""
    from pyspark.sql import functions as F

    kinds = ("added", "deleted", "updated")
    got = _noop_observing(df, *[F.sum((F.col("change") == k).cast("long")).alias(k) for k in kinds])
    return {k: int(got[k]) for k in kinds if got.get(k)}


def _same_chunk(raw, want: np.ndarray) -> bool:
    return raw is not None and np.array_equal(np.frombuffer(raw, dtype="<f8"), want.ravel())


WORKLOADS = {w.name: w for w in (RepoWrite, RepoHistory)}
