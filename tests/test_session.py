"""Session defaults are sized to the host they run on, and Python tasks
find the package wherever the driver script was started."""

import os
import subprocess
import sys
from pathlib import Path

from remine_spark import session

ROOT = Path(__file__).resolve().parents[1]


def _mem_total_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_default_heap_fits_detected_ram():
    heap = session.default_driver_memory()
    assert heap.endswith("m")
    mib = int(heap[:-1])
    assert 0 < mib <= 24 * 1024
    assert mib <= 0.4 * _mem_total_mib()


def test_default_cpus_from_host():
    if not os.environ.get("SPARK_GRAFT_CPUS"):
        assert session.DEFAULT_CPUS == os.cpu_count()
    assert session.DEFAULT_CPUS >= 1


OUTSIDE_ROOT_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from remine_spark.session import get_spark

def probe(batches):
    import pyspark.worker_util as wu
    from remine_spark import pydaemon
    for _ in batches:
        pass
    yield pd.DataFrame(
        {{"shim": [wu.importlib.invalidate_caches is pydaemon.invalidate_caches]}})

spark = get_spark(master="local[2]", shuffle_partitions=2)
rows = spark.range(2, numPartitions=2).mapInPandas(probe, "shim boolean").collect()
print("shim=" + ",".join(str(r.shim) for r in rows))
spark.stop()
"""


def test_python_tasks_run_outside_repo_root(tmp_path):
    # the checkout is on the driver's sys.path only; the workers start in
    # tmp_path, where remine_spark cannot be imported from the cwd
    script = tmp_path / "outside.py"
    script.write_text(OUTSIDE_ROOT_SCRIPT.format(root=str(ROOT)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=240)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "shim=True,True" in proc.stdout
