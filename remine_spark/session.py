"""SparkSession factory tuned for this engine.

Core count and driver heap default to the host (``os.cpu_count()``; 40% of
physical RAM, capped at 24g), overridable with ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEMORY``. Every knob scales to a real cluster: AQE on
(runtime re-planning, skew-join splitting), Arrow transport on (all custom
operators are pandas UDFs), shuffle partitions sized to cores locally (on a
cluster this should be ~2-3x total executor cores).

File scans keep Spark's own split sizing: ``min(128 MiB, max(4 MiB, total
bytes / default parallelism))``, each file costed at its size plus 4 MiB.
A small checkpoint (a few MB in 2x-cores files) therefore packs into about
one scan task per core, so each Python stage that re-reads it runs as one
wave of tasks and pays the per-task Python worker cost once per core, not
once per file; an input with fewer files than cores keeps one task per
file; cluster-scale files split at 128 MiB.

On a local master (the ``master`` argument, or ``spark.master`` under
spark-submit) Python workers run ``remine_spark.pydaemon``: the stock daemon,
except that a task start no longer re-reads the directories of the zip
archives on the worker's ``sys.path`` that have not changed (≈0.2 s per task
on a 4-core box; a rebuilt ``--py-files`` zip is still re-read). The daemon
imports that module at launch, before ``--py-files`` are added, so the
workers' ``PYTHONPATH`` is set to the directory or zip this package was
imported from; that also lets a script started from any directory run
Python tasks. Neither is set for another master, where a driver-local path
means nothing: a cluster installs the package on its executors and passes
``{"spark.python.daemon.module": "remine_spark.pydaemon"}`` in
``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# the directory (or zip) this package was imported from
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (the host's core
    count when unset); pass one to pin the parallelism, e.g. ``local[4]``.
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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY")
                or default_driver_memory())
        # dump a python traceback if an Arrow worker dies/hangs mid-protocol
        # (diagnosability for long unattended runs; no steady-state cost)
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    effective_master = master
    if effective_master is None:
        # the submit command's master: SparkConf reads it only once the
        # submit JVM's gateway is connected
        SparkContext._ensure_initialized()
        effective_master = SparkConf().get("spark.master", "")
    if effective_master.startswith("local"):
        builder = (
            builder
            .config("spark.python.daemon.module", "remine_spark.pydaemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
