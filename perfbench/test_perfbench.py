"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The first three need no Spark.  The traced-count test runs the
benchmark four times (about four minutes); it runs only with
``PERFBENCH_SPARK_TESTS=1``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, CHECKOUT)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_ops_and_arrays():
    for seed in (0, 7):
        assert wl.write_plan(seed, 3) == wl.write_plan(seed, 3)
        assert wl.history_plan(seed) == wl.history_plan(seed)
        assert wl.history_round_plan(seed, 2, 17, 7) == wl.history_round_plan(seed, 2, 17, 7)
        salt = wl.write_plan(seed, 1)["txns"][0]["salt"]
        assert np.array_equal(wl.block_values(3, 43, 9, 49, salt), wl.block_values(3, 43, 9, 49, salt))
    assert wl.write_plan(0, 1) != wl.write_plan(1, 1)
    assert wl.history_plan(0) != wl.history_plan(1)
    assert wl.write_plan(0, 1) != wl.write_plan(0, 2)  # rounds differ within a run


def test_plans_keep_every_op_the_same_shape():
    for seed in range(20):
        for t in wl.write_plan(seed, 1)["txns"]:
            # unaligned at both ends and inside the grid: 2x2 partly covered chunks
            for start, size, chunk, dim in ((t["r0"], wl.TXN_SHAPE[0], wl.GRID_CHUNK[0], wl.GRID[0]),
                                            (t["c0"], wl.TXN_SHAPE[1], wl.GRID_CHUNK[1], wl.GRID[1])):
                assert start % chunk and (start + size) % chunk and start + size <= dim
                assert (start + size - 1) // chunk - start // chunk == 1
        for r in wl.history_round_plan(seed, 1, 11, 7)["reads"]:
            assert r["r0"] % 32 == 16 and r["r0"] + wl.READ_SHAPE[0] <= wl.H1[0]
            assert r["c0"] % 32 == 16 and r["c0"] + wl.READ_SHAPE[1] <= wl.H1[1]


def test_printed_metric_names_match_benchmark_json():
    spec = _spec()

    class W:
        headline = "commit"

    rec = run.Recorder()
    rec.samples = {"commit": [1.0, 2.0], "ingest": [3.0], "verify": [1.0]}
    rec.cpu_samples = {"commit": [1.0, 1.5], "ingest": [2.0], "verify": [0.5]}
    e2e = run.end_to_end({"rec": rec, "w": W(), "setup_s": 1.0, "rounds": [2.0], "round_cpu": [1.5]})
    assert [m["name"] for m in spec["end_to_end"]] == list(e2e)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}

    class FakeTracer:
        ops = [{"op": 0, "kind": "commit", "group": "g", "listed": None, "counts": {}, "files": set(),
                "t0": 0.0, "t1": 1.0, "jobs": 1, "stages": 1, "tasks": 4}]
        spans = [{"op": 0, "layer": "op", "name": "commit", "parent": None, "id": 0, "child_ms": 0.0, "ms": 1.0}]

    per_layer, report = layers.layer_table(FakeTracer(), {})
    per_layer["trace.overhead_s"] = (0.0, "s")
    assert sorted(m["name"] for m in spec["per_layer"]) == sorted(per_layer)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {k: u for k, (_, u) in per_layer.items()}
    assert [w["name"] for w in spec["workloads"]] == list(wl.WORKLOADS)


def _traced_counts(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(_spec()["run_seconds"]), "--trace", "1"],
        cwd=CHECKOUT, capture_output=True, text=True, check=True, timeout=300,
    ).stdout.splitlines()
    table = next(json.loads(line)["layer_table"] for line in out if line.startswith('{"layer_table"'))
    assert json.loads(out[-1])["correct"]
    # task counts are not compared: GC's listing job ran 19 tasks in one
    # run and 21 in the next for identical input
    return {k: v["value"] for k, v in table.items()
            if k.startswith(("engine.jobs_per_", "engine.stages_per_"))}


@pytest.mark.skipif(os.environ.get("PERFBENCH_SPARK_TESTS") != "1", reason="set PERFBENCH_SPARK_TESTS=1")
@pytest.mark.parametrize("workload", list(wl.WORKLOADS))
def test_traced_job_counts_repeat_exactly(workload):
    first, second = _traced_counts(workload, 5), _traced_counts(workload, 5)
    assert first == second
    assert any(k.startswith("engine.jobs_per_") and v > 0 for k, v in first.items())
