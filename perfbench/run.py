"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload build --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Spark runs as ``local[nproc]`` with a heap
sized from /proc/meminfo; every file the run writes goes under
``.perfbench/`` in the checkout. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

from procfs import PythonMemorySampler, host_cpu_ticks, proc_tree

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
MAX_HEAP_MB = 2048


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Names and units of the end-to-end and per-layer metrics, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def jvm_heap_peaks_mb(spark) -> dict[str, float]:
    """Peak use of each of the JVM's heap pools (eden, survivor, old) since
    it started."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {
        p.getName(): p.getPeakUsage().getUsed() / 2**20
        for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"
    }


def heap_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(total_kb // 1024 // 8, MAX_HEAP_MB)


def start_spark():
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    from near_duplicate_detection_spark.session import get_spark

    slots = len(os.sched_getaffinity(0))
    heap = heap_mb()
    return get_spark(
        master=f"local[{slots}]",
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            # -UsePerfData keeps the JVM from writing to /tmp/hsperfdata_*
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage for the traced run's attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker has exited."""
    procs = [p for p in proc_tree(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except Exception:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from spans import Tracer
    from workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    end_to_end, per_layer = metric_units()
    shutil.rmtree(WORK, ignore_errors=True)
    cpu0 = host_cpu_ticks()
    sampler = PythonMemorySampler()
    sampler.start()
    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    try:
        bench = Bench(spark, WORK, args.seed, args.seconds, Tracer(bool(args.trace)))
        WORKLOADS[args.workload](bench)
        measured_s = time.perf_counter() - bench.setup_end
        heap_peaks = jvm_heap_peaks_mb(spark)
    finally:
        python_peak, python_procs = sampler.stop()
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    setup_s = bench.setup_end - t0 - bench.input_gen_s
    e2e = {
        "setup_s": setup_s,
        "write_cpu_s": bench.median("cpu", "write"),
        "query_cpu_s": bench.median("cpu", "query"),
        # eden is left out: its peak is the young-generation size G1 chose
        # for its pause-time goal (263-529 MB over runs of one workload),
        # not data the engine holds
        "peak_mem_mb": python_peak + sum(
            mb for pool, mb in heap_peaks.items() if "Eden" not in pool),
    }
    wall = {"write_p50_s": bench.median("wall", "write"),
            "query_p50_s": bench.median("wall", "query")}
    cpu = [b - a for a, b in zip(cpu0, host_cpu_ticks())]
    # a host that steals CPU from this VM slows every wall timing
    print(f"# cpu steal {100 * cpu[7] / sum(cpu):.1f}%, busy {100 * (1 - cpu[3] / sum(cpu)):.1f}%")
    print(f"# wall (ungated) {json.dumps({k: round(v, 3) for k, v in wall.items()})}")
    print(f"# peak memory: jvm heap {json.dumps({k: round(v) for k, v in heap_peaks.items()})}"
          f" MB, {python_procs} python processes {python_peak:.0f} MB")
    print(f"# session_s {session_s:.2f}, prewarm_s {bench.prewarm_s:.2f}, "
          f"after setup {measured_s:.2f}, total {time.perf_counter() - t0:.2f}")
    print(f"# input_gen_s {bench.input_gen_s:.3f} (ungated); " + "; ".join(
        f"{clock} {kind} {[round(t, 3) for t in ts]}"
        for clock, kinds in bench.times.items() for kind, ts in kinds.items()))
    if args.trace:
        bench.layer["session.start_s"] = session_s
        bench.layer["session.prewarm_s"] = bench.prewarm_s
        print("# traced end-to-end " + json.dumps(dict(e2e, **wall, **bench.traced_extra)))
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        with open(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump([vars(s) for s in bench.tracer.spans], f)
        metrics = {k: {"value": float(bench.layer.get(k, 0.0)), "unit": u}
                   for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
