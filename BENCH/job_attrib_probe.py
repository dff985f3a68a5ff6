"""Attribute Spark jobs + wall time of one append_pages / update_pages run
to pipeline phases via a SparkListener-free job-group probe.

Builds a small base corpus, then runs the delta entry point with
sc.setJobGroup markers flipped between phases by monkeypatching the phase
boundaries. Simpler: sample nextJobId() around each stage via a tracing
wrapper on NDDPipeline methods and catalog writes. Every engine call
submits its jobs on the caller's thread, so the nextJobId() delta around a
traced call counts exactly that call's jobs.

Usage: python BENCH/job_attrib_probe.py [N_BASE] [N_APPEND]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.pipeline import NDDPipeline
from near_duplicate_detection_spark.session import get_spark
from near_duplicate_detection_spark.sources.pages import generate_pages

N_BASE = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000
N_APP = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000


def n_jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def trace_methods(cls, names, log, spark):
    """Wrap methods to record (name, jobs, wall) per call."""
    originals = {}
    for name in names:
        orig = getattr(cls, name)
        originals[name] = orig

        def make(nm, fn):
            def wrapper(self, *a, **k):
                j0, t0 = n_jobs(spark), time.monotonic()
                try:
                    return fn(self, *a, **k)
                finally:
                    log.append(
                        (nm, n_jobs(spark) - j0, time.monotonic() - t0)
                    )

            return wrapper

        setattr(cls, name, make(name, orig))
    return originals


def trace_actions(log, spark):
    """Wrap the eager DataFrame actions (localCheckpoint/count/collect) to
    attribute jobs+wall to the engine call site (file:line)."""
    import traceback

    try:  # PySpark 4: the instantiated class overrides the abc's methods
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    originals = {}
    for name in ("localCheckpoint", "count", "collect"):
        orig = getattr(DataFrame, name)
        originals[name] = orig

        def make(nm, fn):
            def wrapper(self, *a, **k):
                site = "?"
                for fr in reversed(traceback.extract_stack(limit=12)):
                    if "near_duplicate_detection_spark" in fr.filename:
                        site = f"{fr.filename.rsplit('/', 1)[-1]}:{fr.lineno}"
                        break
                j0, t0 = n_jobs(spark), time.monotonic()
                try:
                    return fn(self, *a, **k)
                finally:
                    log.append(
                        (
                            f"    {nm}@{site}",
                            n_jobs(spark) - j0,
                            time.monotonic() - t0,
                        )
                    )

            return wrapper

        setattr(DataFrame, name, make(name, orig))
    return originals


def untrace_actions(originals):
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    for name, fn in originals.items():
        setattr(DataFrame, name, fn)


def trace_catalog(cat_cls, log, spark):
    orig_write = cat_cls.write
    orig_count = cat_cls.count_rows

    def write(self, df, table, **k):
        j0, t0 = n_jobs(spark), time.monotonic()
        try:
            return orig_write(self, df, table, **k)
        finally:
            log.append(
                (f"  write:{table}", n_jobs(spark) - j0, time.monotonic() - t0)
            )

    def count_rows(self, table):
        j0, t0 = n_jobs(spark), time.monotonic()
        try:
            return orig_count(self, table)
        finally:
            log.append(
                (f"  count:{table}", n_jobs(spark) - j0, time.monotonic() - t0)
            )

    cat_cls.write = write
    cat_cls.count_rows = count_rows
    return orig_write, orig_count


def main():
    import shutil
    import tempfile

    spark = get_spark()
    cfg = NDDConfig()
    base = tempfile.mkdtemp(prefix="ndd_attrib_")
    try:
        print(f"building base corpus N={N_BASE} ...", flush=True)
        NDDPipeline(spark, cfg, base).run(generate_pages(spark, N_BASE))

        from near_duplicate_detection_spark.lineage import StageCatalog

        for mode in ("append", "update"):
            work = tempfile.mkdtemp(prefix=f"ndd_attrib_{mode}_")
            try:
                shutil.rmtree(work)
                shutil.copytree(base, work)
                pipe = NDDPipeline(spark, cfg, work)
                log: list[tuple[str, int, float]] = []
                methods = [
                    "_delta_preconditions",
                    "stage2_pairs_delta",
                    "_retraction_mapping",
                    "stage2b_delta",
                    "stage3_clusters_delta",
                    "stage3_clusters",
                ]
                originals = trace_methods(NDDPipeline, methods, log, spark)
                cat_orig = trace_catalog(StageCatalog, log, spark)
                act_orig = trace_actions(log, spark)
                j0, t0 = n_jobs(spark), time.monotonic()
                if mode == "append":
                    batch = generate_pages(spark, N_BASE + N_APP, start=N_BASE)
                    pipe.append_pages(batch)
                else:
                    from pyspark.sql import functions as F

                    batch = (
                        generate_pages(spark, N_BASE)
                        .where(F.xxhash64("url") % 10 == 3)
                        .withColumn(
                            "text", F.concat(F.col("text"), F.lit(" edited tail"))
                        )
                    )
                    pipe.update_pages(batch)
                total_j, total_t = n_jobs(spark) - j0, time.monotonic() - t0
                for name, fn in originals.items():
                    setattr(NDDPipeline, name, fn)
                StageCatalog.write, StageCatalog.count_rows = cat_orig
                untrace_actions(act_orig)
                print(f"\n=== {mode}: {total_j} jobs, {total_t:.1f}s ===")
                for name, j, w in log:
                    print(f"  {name:38s} {j:4d} jobs  {w:7.2f}s")
                accounted = sum(
                    j for nm, j, _ in log if not nm.startswith("  ")
                )
                outside = total_j - accounted
                print(f"  {'(outside traced methods)':38s} {outside:4d} jobs")
            finally:
                shutil.rmtree(work, ignore_errors=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
