"""Phase-level timing of the repo lifecycle hot spots for r15
(guide §1: find where the seconds go before changing anything).

Instruments, per trial:
  1. repo_branch_divergence's write path, phase by phase — each
     write_array_df with its encode (which carries the read-modify-write
     merge) timed separately, plus commit.
  2. A metadata-only commit (create_group) microbench — the floor the
     model/property tests pay hundreds of times.

    python tools/profile_lifecycle_r15.py [sf_dir] [n_trials]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from icechunk_spark.engine import get_spark
    from icechunk_spark.operators.repo_queries import CHUNK, N_DAYS, _daily_revenue
    from icechunk_spark.repo import Repository
    from icechunk_spark.repo import session as sess_mod

    spark = get_spark("profile-lifecycle-r15")
    spark.sparkContext.setLogLevel("ERROR")
    from icechunk_spark.registry import all_queries

    all_queries()["q6_forecast_revenue"](spark, sf_dir).count()
    warm = spark.range(64).withColumn("g", (F.col("id") % 4).cast("int"))
    warm.groupBy("g").applyInPandas(lambda p: p, "id long, g int").count()

    # monkey-patch timers around the merge internals
    orig_encode = sess_mod.encode_array_chunks
    orig_write = sess_mod.Session.write_array_df
    orig_commit = sess_mod.Session._commit_impl
    phases: dict[str, list[float]] = {}

    def rec(key: str, dt: float) -> None:
        phases.setdefault(key, []).append(round(dt, 3))

    def timed_encode(*a, **k):
        t0 = time.perf_counter()
        orig_encode(*a, **k)
        rec("encode_array_chunks", time.perf_counter() - t0)

    def timed_write(self, path, df):
        t0 = time.perf_counter()
        orig_write(self, path, df)
        rec("write_array_df", time.perf_counter() - t0)

    def timed_commit(self, *a, **k):
        t0 = time.perf_counter()
        out = orig_commit(self, *a, **k)
        rec("commit", time.perf_counter() - t0)
        return out

    sess_mod.encode_array_chunks = timed_encode
    sess_mod.Session.write_array_df = timed_write
    sess_mod.Session._commit_impl = timed_commit

    for trial in range(n):
        phases.clear()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        all_queries()["repo_branch_divergence"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        total = time.perf_counter() - t0
        print(f"trial {trial}: branch_divergence total {total:.3f}")
        for k, v in phases.items():
            print(f"    {k}: {[x for x in v]} (sum {sum(v):.3f})")

    # metadata-only commit microbench
    for trial in range(n):
        root = os.path.join(tempfile.gettempdir(), f"icr_meta_{uuid.uuid4().hex}")
        try:
            t0 = time.perf_counter()
            repo = Repository.create(spark, root)
            t1 = time.perf_counter()
            for i in range(4):
                with repo.transaction(message=f"g{i}") as s:
                    s.create_group(f"/g{i}")
            t2 = time.perf_counter()
            print(
                f"meta trial {trial}: create {t1-t0:.3f}  4 group-commits "
                f"{t2-t1:.3f} ({(t2-t1)/4:.3f}/commit)"
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    spark.stop()


if __name__ == "__main__":
    main()
