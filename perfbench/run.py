"""Benchmark of icechunk_spark's versioned store.

    python3 perfbench/run.py --workload repo_write --seed 1 --seconds 20 --trace 0

Runs one seeded, closed-loop, single-client workload against the
public API of ``icechunk_spark.repo`` from the root of a checkout, for
``--seconds`` of measured rounds after an untimed set-up and warm-up.
Every op's output is checked against what the seeded generator
predicts.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of BENCHMARK.json under ``--trace 0`` and its per-layer
metrics under ``--trace 1``.  Earlier lines carry the run's
environment and the workload's own named metrics (and, traced, the
full layer table).  Everything the run writes stays under
``.perfbench_work/`` and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
#: a latency tail is the highest percentile with at least this many samples beyond it
TAIL_BEYOND = 10


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    Spark JVM and its Python workers), reaped children included.  Time
    the hypervisor steals is not CPU time, so on a loaded machine this
    moves much less than wall time does."""
    children, stats = defaultdict(list), {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited meanwhile
            continue
        stats[int(name)] = fields
        children[int(fields[1])].append(int(name))
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])  # utime stime cutime cstime
        stack.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


class Recorder:
    """Counts attempted and failed ops and keeps the latency and CPU
    samples of the ops that succeeded with correct output."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.cpu_samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timing = False
        self.tracer = None

    def op(self, kind: str, fn, check=None, listed: int | None = None):
        self.attempted += 1
        traced = self.tracer.op(kind, listed) if self.tracer is not None else nullcontext()
        cpu0 = tree_cpu_s() if self.timing else 0.0
        t0 = time.perf_counter()
        try:
            with traced:
                out = fn()
        except Exception as e:  # a failed op counts, and stays out of the latencies
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {str(e)[:200]}")
            return None
        ms = (time.perf_counter() - t0) * 1000.0
        cpu_ms = (tree_cpu_s() - cpu0) * 1000.0 if self.timing else 0.0
        if check is not None and not check(out):
            self.failed += 1
            self.errors.append(f"{kind}: output does not match the generator")
            return None
        if self.timing:
            self.samples.setdefault(kind, []).append(ms)
            self.cpu_samples.setdefault(kind, []).append(cpu_ms)
        return out if out is not None else True

    def median(self, kind: str, cpu: bool = False) -> float:
        xs = (self.cpu_samples if cpu else self.samples).get(kind)
        return statistics.median(xs) if xs else float("nan")

    def tail(self, kind: str) -> tuple[float, str]:
        """(value, unit): the highest percentile with TAIL_BEYOND samples
        beyond it; with too few samples, the maximum (level recorded in
        the named metrics block)."""
        xs = sorted(self.samples.get(kind, []))
        if not xs:
            return float("nan"), "ms"
        return (xs[-1 - TAIL_BEYOND] if len(xs) > TAIL_BEYOND else xs[-1]), "ms"

    def tail_level(self, kind: str) -> str:
        n = len(self.samples.get(kind, []))
        if n <= TAIL_BEYOND:
            return f"max of {n}"
        return f"p{100.0 * (n - 1 - TAIL_BEYOND) / (n - 1):.0f} of {n}"


def _steal_ticks() -> int | None:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def _floor_probe_ms() -> float:
    """A fixed single-thread CPU workload; flat on an idle machine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def _geomean(xs) -> float:
    xs = [x for x in xs if x > 0 and not math.isnan(x)]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def _configure_env(work: str, trace: bool) -> int:
    """Keep every file the run writes inside ``work`` and run Spark at
    half the cores through the program's own knob: the driver JVM, the
    Python driver and the Python workers need the other half (on 4
    cores, local[2] measured both faster and steadier than local[4])."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "2g"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p),
        # every JVM (the launcher too): temp files here, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    os.environ.pop("ICECHUNK_TRACE_FILE", None)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None
    return cpus


def _stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    t_start = time.perf_counter()
    work = os.path.join(CHECKOUT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus = _configure_env(work, trace)
    load_before, steal_before = os.getloadavg(), _steal_ticks()

    sys.path.insert(0, CHECKOUT)
    sys.path.insert(0, HERE)
    from icechunk_spark.engine import get_spark
    from icechunk_spark.repo.storage import LocalFilesystemStorage

    import workloads as wl

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    parallelism = spark.sparkContext.defaultParallelism
    spark_start_s = time.perf_counter() - t_start
    rec = Recorder()
    tracer = None
    storage = LocalFilesystemStorage(os.path.join(work, "repo"))
    if trace:
        import layers

        tracer = layers.Tracer(spark)
        storage = layers.BenchStorage(storage, tracer)
    w = wl.WORKLOADS[workload](spark, storage, seed, rec)
    try:
        w.setup()
        build_s = time.perf_counter() - t_start - spark_start_s
        w.warm_up()
        setup_s = time.perf_counter() - t_start

        rec.timing = True
        rounds, round_cpu, probes = [], [], []
        traced_rounds, untraced_rounds = [], []
        t_measure = time.perf_counter()
        # a fixed amount of work per run: as many rounds as fit in
        # ``seconds`` at the workload's nominal round time (at least 2
        # when traced, so one untraced round measures the overhead)
        n_rounds = max(2 if tracer is not None else 1, round(seconds / w.nominal_round_s))
        for rnd in range(1, n_rounds + 1):
            if tracer is not None and rnd == 2:
                tracer.install()
                tracer.active = True
                rec.tracer = tracer
            probes.append(_floor_probe_ms())
            r0, c0 = time.perf_counter(), tree_cpu_s()
            w.run_round(rnd)
            dt = time.perf_counter() - r0
            rounds.append(dt)
            round_cpu.append(tree_cpu_s() - c0)
            (traced_rounds if tracer is not None and tracer.active else untraced_rounds).append(dt)
        measured_s = time.perf_counter() - t_measure
    finally:
        if tracer is not None:
            tracer.active = False
        _stop_spark(spark)

    env = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "spark_default_parallelism": parallelism, "SPARK_GRAFT_CPUS": cpus, "nproc": os.cpu_count(),
        "storage_root": os.path.relpath(os.path.join(work, "repo"), CHECKOUT),
        "storage": "local filesystem (LocalFilesystemStorage), no fsync",
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "steal_ticks_delta": (None if steal_before is None else (_steal_ticks() or 0) - steal_before),
        "cpu_floor_probe_ms": {"median": statistics.median(probes), "max": max(probes), "n": len(probes)},
        "spark_start_s": spark_start_s, "build_s": build_s, "warmup_s": setup_s - spark_start_s - build_s,
        "round_s": rounds, "round_cpu_s": round_cpu, "measured_s": measured_s, "workload_sizes": w.sizes(),
    }
    result = {"rec": rec, "w": w, "env": env, "setup_s": setup_s, "rounds": rounds, "round_cpu": round_cpu}
    if tracer is not None:
        import layers

        events = layers.read_event_log(os.path.join(work, "eventlog"))
        per_layer, report = layers.layer_table(tracer, events)
        overhead = statistics.median(traced_rounds) - statistics.median(untraced_rounds)
        per_layer["trace.overhead_s"] = (overhead, "s")
        report["trace.overhead_s"] = (overhead, "s")
        out_dir = os.path.join(CHECKOUT, ".perfbench_out")
        tracer.write_jsonl(os.path.join(out_dir, f"trace-{workload}-{seed}.jsonl"))
        result.update(per_layer=per_layer, report=report)
    shutil.rmtree(work, ignore_errors=True)
    return result


def end_to_end(res: dict) -> dict:
    rec, w = res["rec"], res["w"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "round_s": (statistics.median(res["rounds"]), "s"),
        "round_cpu_s": (statistics.median(res["round_cpu"]), "s"),
        "op_p50_ms": (rec.median(w.headline), "ms"),
        "op_cpu_ms": (rec.median(w.headline, cpu=True), "ms"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["repo_write", "repo_history"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(CHECKOUT, "icechunk_spark")):
        print(f"perfbench: no icechunk_spark package under {CHECKOUT}; run from a checkout",
              file=sys.stderr)
        return 2

    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    rec, w = res["rec"], res["w"]
    e2e = end_to_end(res)
    kinds = [k for k in rec.samples if k != "verify"]
    named = {**e2e, "op_geomean_ms": (_geomean(rec.median(k) for k in kinds), "ms"),
             **w.extra_metrics(), "ops_failed_frac": (rec.failed / rec.attempted, "frac")}
    named_out = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    named_out[f"{w.headline}_tail_level"] = rec.tail_level(w.headline)
    print(json.dumps({"env": res["env"]}))
    print(json.dumps({"named_metrics": named_out,
                      "latency_ms": {k: sorted(v) for k, v in rec.samples.items()},
                      "errors": rec.errors[:20]}))
    if args.trace:
        print(json.dumps({"layer_table": {k: {"value": v, "unit": u} for k, (v, u) in sorted(res["report"].items())}}))
        metrics = res["per_layer"]
    else:
        metrics = e2e
    for k, (v, u) in sorted(named.items()):
        print(f"  {k:<24} {v:>14.4f} {u}", file=sys.stderr)
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
