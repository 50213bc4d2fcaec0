"""Traced runs: spans around each layer's entry points, Spark job
attribution per op, and the per-layer table.

Spans come only from this file.  ``Tracer.install`` wraps the public
entry points of the repo modules at the attribute their callers
resolve (module attributes for ``fmt.``/``mf.`` calls, the names
``session`` imported from ``arrays``, methods on the classes), and the
repository's ``Storage`` is wrapped with the public ``LatencyStorage``.
Every op runs under its own Spark job group, so ``statusTracker``
counts and Spark's own event log (enabled from outside the program by
conf) can be joined to it.  Spans stay in memory until ``write_jsonl``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from icechunk_spark.repo.storage import LatencyStorage

# layer -> (module path, owner attribute or None for module level, names)
ENTRY_POINTS = [
    ("repo.session", "icechunk_spark.repo.session", "Session",
     ["write_array_df", "read_array_df", "commit", "fork", "merge", "update_attrs", "get_chunk_bytes"]),
    ("repo.arrays", "icechunk_spark.repo.session", None,
     ["encode_array_chunks", "decode_chunks_to_rows", "staged_manifest_from_chunk_dir"]),
    ("repo.manifests", "icechunk_spark.repo.manifests", None,
     ["read_manifest_files", "resolve_manifests", "write_manifests", "write_manifest",
      "resolve_manifest_rows_local"]),
    ("repo.format", "icechunk_spark.repo.format", None,
     ["read_snapshot", "write_snapshot", "branch_tip", "update_branch", "read_tag", "read_config_doc",
      "read_repo_info"]),
    ("repo.repository", "icechunk_spark.repo.repository", "Repository",
     ["readonly_session", "writable_session", "diff_df", "rewrite_manifests", "garbage_collect",
      "create_branch", "delete_branch", "lookup_branch", "lookup_tag"]),
    ("repo.store", "icechunk_spark.repo.store", "ChunkStore", ["get", "set"]),
]

LAYERS = ["op"] + [e[0] for e in ENTRY_POINTS] + ["repo.storage"]


class BenchStorage(LatencyStorage):
    """``LatencyStorage`` that also opens a span per call and counts
    the bytes put, so storage time is a child of the calling layer."""

    def __init__(self, inner, tracer: "Tracer"):
        super().__init__(inner)
        self.tracer = tracer

    def _observe(self, op, key, fn):
        with self.tracer.span("repo.storage", op):
            return super()._observe(op, key, fn)

    def put(self, key, data, *, if_none_match=False):
        if self.tracer.active:
            self.tracer.count("repo.storage.bytes_put", len(data))
        return super().put(key, data, if_none_match=if_none_match)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []

    # --- spans ----------------------------------------------------------------

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.active or not self._stack:
            yield
            return
        rec = {"op": self._stack[0]["op"], "layer": layer, "name": name,
               "parent": self._stack[-1]["id"], "id": len(self.spans), "child_ms": 0.0}
        self.spans.append(rec)
        self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            ms = (time.perf_counter() - t0) * 1000.0
            self._stack.pop()
            rec["ms"] = ms
            self._stack[-1]["child_ms"] += ms

    def count(self, name: str, n: int = 1) -> None:
        if self._stack:
            counts = self.ops[self._stack[0]["op"]]["counts"]
            counts[name] = counts.get(name, 0) + n

    def _wrap(self, layer: str, name: str, fn):
        tracer = self
        counter = {"read_manifest_files": lambda a, k: len(a[2] if len(a) > 2 else k.get("relpaths", [])),
                   "read_snapshot": lambda a, k: 1, "write_snapshot": lambda a, k: 1,
                   "decode_chunks_to_rows": lambda a, k: 1}.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active or not tracer._stack:
                return fn(*args, **kwargs)
            if counter is not None:
                tracer.count(f"{layer}.{name}", counter(args, kwargs))
            if name == "read_manifest_files":
                rel = args[2] if len(args) > 2 else kwargs.get("relpaths", [])
                tracer.ops[tracer._stack[0]["op"]]["files"].update(rel)
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        traced.__perfbench_wrapped__ = fn
        return traced

    def install(self) -> None:
        import importlib

        for layer, modname, owner, names in ENTRY_POINTS:
            target = importlib.import_module(modname)
            if owner is not None:
                target = getattr(target, owner)
            for name in names:
                fn = getattr(target, name)
                if not hasattr(fn, "__perfbench_wrapped__"):
                    setattr(target, name, self._wrap(layer, name, fn))

    # --- ops ------------------------------------------------------------------

    @contextmanager
    def op(self, kind: str, listed: int | None = None):
        if not self.active:
            yield
            return
        op_id = len(self.ops)
        group = f"perfbench-op-{op_id}"
        rec = {"op": op_id, "kind": kind, "group": group, "listed": listed, "counts": {}, "files": set(),
               "t0": time.time()}
        root = {"op": op_id, "layer": "op", "name": kind, "parent": None, "id": len(self.spans),
                "child_ms": 0.0}
        self.ops.append(rec)
        self.spans.append(root)
        self._stack = [root]
        self.sc.setJobGroup(group, kind)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            root["ms"] = (time.perf_counter() - t0) * 1000.0
            rec["t1"] = time.time()
            self._stack = []
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs = list(self.status.getJobIdsForGroup(group))
            stages = set()
            for j in jobs:
                info = self.status.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks, ran = 0, 0
            for s in stages:
                info = self.status.getStageInfo(s)
                if info is not None and info.numCompletedTasks:
                    tasks += info.numCompletedTasks
                    ran += 1
            rec.update(jobs=len(jobs), stages=ran, tasks=tasks)

    # --- output ---------------------------------------------------------------

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.ops:
                f.write(json.dumps({"type": "op", **rec}, default=str) + "\n")
            for s in self.spans:
                f.write(json.dumps({"type": "span", "self_ms": s.get("ms", 0.0) - s["child_ms"], **s}) + "\n")


def read_event_log(log_dir: str) -> dict:
    """Per job group: task count, run/CPU ms, shuffle and spill bytes,
    empty tasks, and job intervals, from Spark's JSON event log."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        job_group[ev["Job ID"]] = g
                        job_start[ev["Job ID"]] = ev["Submission Time"]
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(ev["Job ID"])
                    if g:
                        intervals[g].append((job_start[ev["Job ID"]] / 1000.0, ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if not g or not m:
                        continue
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    inp, outp = m.get("Input Metrics", {}), m.get("Output Metrics", {})
                    o = out[g]
                    o["tasks"] += 1
                    o["task_ms"] += m.get("Executor Run Time", 0)
                    o["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    read = inp.get("Records Read", 0) + sr.get("Total Records Read", 0)
                    wrote = outp.get("Records Written", 0) + sw.get("Shuffle Records Written", 0)
                    o["empty_tasks"] += int(read == 0 and wrote == 0)
    for g, iv in intervals.items():
        out[g]["_intervals"] = iv
    return out


def _covered(intervals, t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by the union of the intervals."""
    total, end = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


#: the per-layer metrics of the result line (BENCHMARK.json ``per_layer``):
#: means per op over every traced op, so each workload fills every one
PER_LAYER = (
    "engine.jobs_per_op", "engine.stages_per_op", "engine.tasks_per_op", "engine.empty_task_frac_op",
    "engine.driver_ms_per_op", "engine.task_ms_per_op", "engine.task_cpu_ms_per_op",
    "engine.shuffle_write_bytes_per_op", "engine.shuffle_read_bytes_per_op", "engine.spill_bytes_per_op",
    "repo.manifests.files_read_per_op", "repo.format.snapshot_reads_per_op", "repo.storage.calls_per_op",
    *(f"{layer}.self_ms_per_op" for layer in LAYERS),
)

#: (reported name, counter name, unit) of the counts kept per op
_COUNTS = (
    ("repo.manifests.files_read", "repo.manifests.read_manifest_files", "count"),
    ("repo.format.snapshot_reads", "repo.format.read_snapshot", "count"),
    ("repo.format.snapshot_writes", "repo.format.write_snapshot", "count"),
    ("repo.arrays.decode_calls", "repo.arrays.decode_chunks_to_rows", "count"),
    ("repo.storage.bytes_put", "repo.storage.bytes_put", "B"),
)
_EVENTS = (("task_ms", "ms"), ("task_cpu_ms", "ms"), ("shuffle_write_bytes", "B"),
           ("shuffle_read_bytes", "B"), ("spill_bytes", "B"))


def _table(recs: list[dict], spans: list[dict], suffix: str) -> dict:
    """Means per op over ``recs``, named ``<metric>_per_<suffix>``
    (fractions ``<metric>_<suffix>``), as (value, unit) pairs."""
    k = len(recs)
    ids = {r["op"] for r in recs}
    spans = [s for s in spans if s["op"] in ids and "ms" in s]
    tasks = sum(r["ev"].get("tasks", 0) for r in recs)
    t = {f"engine.{key}_per_{suffix}": (sum(r[key] for r in recs) / k, "count")
         for key in ("jobs", "stages", "tasks")}
    t[f"engine.empty_task_frac_{suffix}"] = (
        sum(r["ev"].get("empty_tasks", 0) for r in recs) / tasks if tasks else 0.0, "frac")
    t[f"engine.driver_ms_per_{suffix}"] = (sum(r["driver_ms"] for r in recs) / k, "ms")
    for key, unit in _EVENTS:
        t[f"engine.{key}_per_{suffix}"] = (sum(r["ev"].get(key, 0.0) for r in recs) / k, unit)
    for name, key, unit in _COUNTS:
        t[f"{name}_per_{suffix}"] = (sum(r["counts"].get(key, 0) for r in recs) / k, unit)
    listed = [r for r in recs if r["listed"]]
    if listed:
        t[f"repo.manifests.pruned_frac_{suffix}"] = (
            sum(1 - len(r["files"]) / r["listed"] for r in listed) / len(listed), "frac")
    self_ms: dict[str, float] = dict.fromkeys(LAYERS, 0.0)
    incl: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    for s in spans:
        self_ms[s["layer"]] += s["ms"] - s["child_ms"]
        if s["layer"] != "op":
            incl[f"{s['layer']}.{s['name']}_ms"] += s["ms"]
        if s["layer"] == "repo.storage":
            calls[f"repo.storage.{s['name']}_calls"] += 1
    t[f"repo.storage.calls_per_{suffix}"] = (sum(calls.values()) / k, "count")
    for name, n in calls.items():
        t[f"{name}_per_{suffix}"] = (n / k, "count")
    for name, ms in incl.items():
        t[f"{name}_per_{suffix}"] = (ms / k, "ms")
    for layer, ms in self_ms.items():
        t[f"{layer}.self_ms_per_{suffix}"] = (ms / k, "ms")
    return t


def layer_table(tracer: Tracer, events: dict) -> tuple[dict, dict]:
    """(the ``PER_LAYER`` metrics, the full report with every metric
    over all ops and per op kind)."""
    by_kind: dict[str, list] = defaultdict(list)
    for rec in tracer.ops:
        by_kind[rec["kind"]].append(rec)
        rec["ev"] = ev = events.get(rec["group"], {})
        wall = rec["t1"] - rec["t0"]
        rec["driver_ms"] = max(0.0, wall - _covered(ev.get("_intervals", []), rec["t0"], rec["t1"])) * 1000.0
    report = _table(tracer.ops, tracer.spans, "op")
    for kind, recs in sorted(by_kind.items()):
        report.update(_table(recs, tracer.spans, kind))
    return {name: report[name] for name in PER_LAYER}, report
