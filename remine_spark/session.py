"""SparkSession factory tuned for this engine.

Core count and driver heap default to the host (``os.cpu_count()``; 40% of
physical RAM, capped at 24g), overridable with ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEMORY``. Every knob scales to a real cluster: AQE on
(runtime re-planning, skew-join splitting), Arrow transport on (all custom
operators are pandas UDFs), shuffle partitions sized to cores locally (on a
cluster this should be ~2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_memory() -> str:
    """min(24g, 40% of MemTotal) in MiB: the heap plus Python workers and
    off-heap buffers must fit the host, or the kernel kills the JVM."""
    cap_mib = 24 * 1024
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{cap_mib}m"
    return f"{min(cap_mib, kib * 2 // 5 // 1024)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "remine_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; pass ``local[8]`` etc.
    for the two-parallelism scaling benchmark.
    """
    # under spark-submit (PythonRunner pre-creates the py4j gateway and sets
    # PYSPARK_GATEWAY_PORT) the cluster master comes from the submit command;
    # do not override it unless the caller passed one explicitly
    under_submit = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = f"local[{DEFAULT_CPUS}]"
    if shuffle_partitions is None:
        # match core count in local mode; never the 200 default.
        # (on a real cluster pass ~2-3x total executor cores instead)
        if master and "[" in master:
            n = master[master.find("[") + 1 : master.find("]")]
            shuffle_partitions = DEFAULT_CPUS if n == "*" else int(n)
        else:
            shuffle_partitions = DEFAULT_CPUS

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local-scale file splitting: checkpointed stages are small (MBs),
        # and default 128MB packing would cap python-stage parallelism at a
        # handful of tasks; 8MB keeps every core busy. On a real cluster
        # (TBs per stage) raise via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)))
        # openCost == maxPartitionBytes → small checkpoint files are NOT
        # packed together: scan partitions ≈ file count, and stage writers
        # emit 2×cores files, so python stages re-reading a checkpoint get
        # full-width parallelism (cluster-scale files are ≥128MB and split
        # by maxPartitionBytes regardless)
        .config("spark.sql.files.openCostInBytes", str(8 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY")
                or default_driver_memory())
        # dump a python traceback if an Arrow worker dies/hangs mid-protocol
        # (diagnosability for long unattended runs; no steady-state cost)
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
