"""SparkSession construction for the engine.

Local mode is the sandbox proxy for a multi-executor cluster; the settings
below are the ones that survive a scale-up: AQE on (runtime coalesce + skew
join splitting), shuffle partitions sized to parallelism, Arrow enabled for
every pandas-UDF boundary, UTC session timezone so results compare bit-stable
against external oracles.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

_WAREHOUSE: str | None = None


def _warehouse_dir() -> str:
    """Unique scratch warehouse per process (memoized — getOrCreate may be
    called repeatedly but only the first session config takes effect);
    cleaned up at interpreter exit."""
    global _WAREHOUSE
    if _WAREHOUSE is None:
        env = os.environ.get("SPARK_GRAFT_WAREHOUSE")
        if env:
            _WAREHOUSE = env
        else:
            import atexit
            import shutil
            import tempfile

            _WAREHOUSE = tempfile.mkdtemp(prefix="ndd_warehouse_")
            atexit.register(shutil.rmtree, _WAREHOUSE, True)
    return _WAREHOUSE


def _host_defaults() -> tuple[str, str]:
    """``local[N]`` over the CPUs this process may run on, and a driver heap
    of a quarter of the host's memory: local mode is one JVM for driver and
    executors, next to the Python workers and the OS page cache."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    heap_mb = max(total_kb // 1024 // 4, 1024)
    return f"local[{len(os.sched_getaffinity(0))}]", f"{heap_mb}m"


def get_spark(
    app_name: str = "near_duplicate_detection_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    host_master, host_heap = _host_defaults()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", host_master)
    # parallelism-derived default: ~1 shuffle partition per core locally;
    # on a real cluster this would be 2-3x total executor cores.
    if shuffle_partitions is None:
        cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start every shuffle wide and let AQE coalesce DOWN: sizing the
        # initial partition count to the core count makes big shuffles
        # (e.g. the 300k-doc shingle-set verify join) sort-spill at low
        # core counts — partition size must track DATA, not parallelism
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
        # 64 MB advisory partitions coalesce a ~1 GB join down to ~16 tasks —
        # under-using 32 cores; 16 MB keeps mid-size shuffles wide enough
        # while still coalescing away empty/tiny partitions
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(16 * 1024 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = ONE JVM for driver + every task buffer, broadcast
        # build and localCheckpoint block: a 400k-doc append onto a 4M-doc
        # corpus needs more than 16g — set SPARK_GRAFT_DRIVER_MEM for that
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", host_heap))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Input-split granularity for Arrow-UDF-heavy stages: the 128 MB
        # default assumes JVM scan-bound work and packs this engine's ~4 MB
        # bucket files into a handful of tasks — stage 1 ran 5 tasks on 32
        # cores in round 1. Python-UDF stages want ~1 task per file so the
        # signature/fingerprint compute (the dominant per-doc cost) spreads
        # over every core; on a production cluster with 128 MB row groups
        # the default ratio re-emerges naturally (one row group per task).
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # bucketed stage tables (sources/bucketed.py) need a catalog home;
        # keep it off the repo tree AND unique per process (a fixed shared
        # path would let concurrent runs overwrite each other's saveAsTable
        # dirs, and a bare-PID suffix could collide via PID recycling)
        .config("spark.sql.warehouse.dir", _warehouse_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver-known rows (tuples) as a ``LocalRelation`` — the one way
    driver-side rows enter a plan. ``createDataFrame`` over a list is
    ``parallelize`` + a ``LogicalRDD`` (and the pandas route falls back to
    it for empty input or on any Arrow error): every job consuming it
    launches defaultParallelism Python-worker tasks to unpickle a few rows.
    A pyarrow Table typed from the DDL goes in as a ``LocalRelation``, so
    broadcast builds, collects and literal computations over it run on the
    driver with no job."""
    schema = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
