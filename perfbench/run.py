"""Repository benchmark for remine_spark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Runs one workload (``kg_build`` or ``catalog_sweep``, see README.md) on a
fixed box setting — ``local[4]``, a 6g heap — from the root of a
checkout, with every file it writes under ``.perfbench_work/``. The last
line of standard output is one JSON object:

    {"correct": …, "attempted": …, "failed": …, "metrics": {name: {"value", "unit"}}}

with the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics (``--trace 1``). A traced run traces every layer,
whatever the workload: a traced ``kg_build`` set and drain, then a traced
catalog sweep, in one session. The line before the result is a JSON
detail record: settings, sample counts, the derived figures (docs/s,
sweep seconds, failed fraction) and every output check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Box settings, identical on both sides of any A/B. The package default
# heap (24g) does not fit a 15 GiB box; SPARK_DRIVER_MEMORY is the
# documented override.
CORES = 4
DRIVER_MEMORY = "6g"

# End-to-end metrics (--trace 0), name → unit; see README.md.
END_TO_END = {"setup_s": "s", "run_s": "s"}


class Bench:
    """One benchmark process: its work directory and Spark session."""

    def __init__(self, workload: str):
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        self.settings = {
            "master": f"local[{CORES}]",
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
        }
        self.spark = None
        self.session_s = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        if self.spark is not None:
            return self.spark
        from remine_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(master=self.settings["master"],
                               app_name="perfbench")
        self.session_s = time.perf_counter() - t0
        return self.spark

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process this run
        started, then remove the work directory."""
        from benchlib import descendants

        try:
            if self.spark is not None:
                self._stop_jvm()
        finally:
            deadline = time.monotonic() + 30
            while ((left := descendants(os.getpid()))
                   and time.monotonic() < deadline):
                time.sleep(0.2)
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))  # only when no run is left
            except OSError:
                pass

    def _stop_jvm(self) -> None:
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _configure_env(bench_tmp: str, local_dirs: str) -> None:
    # the program's own tuning overrides would make runs incomparable
    for name in list(os.environ):
        if name.startswith(("SPARK_GRAFT_", "REMINE_")):
            del os.environ[name]
    # Python workers import remine_spark from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["TMPDIR"] = bench_tmp
    # every JVM (the launcher and Spark's own) keeps its temp files in the
    # work directory; without UsePerfData none goes to /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={bench_tmp} -XX:-UsePerfData")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_build", "catalog_sweep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import remine_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(remine_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: remine_spark comes from {remine_spark.__file__}, "
              f"not from the checkout {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    bench = Bench(args.workload)
    _configure_env(bench.tmp, bench.settings["SPARK_LOCAL_DIRS"])
    import benchlib
    import kg
    import sweep

    try:
        if args.trace:
            with benchlib.RssSampler() as rss:
                parts = {"kg_build": kg.traced(bench, args.seed),
                         "catalog_sweep": sweep.traced(bench, args.seed)}
            outcome = benchlib.Outcome(
                metrics={"session.start_s": bench.session_s,
                         "session.peak_rss_mb": rss.peak / 2**20},
                attempted=sum(p.attempted for p in parts.values()),
                failed=sum(p.failed for p in parts.values()),
                detail={name: p.detail for name, p in parts.items()})
            for part in parts.values():
                outcome.metrics.update(part.metrics)
        else:
            run = {"kg_build": kg.run, "catalog_sweep": sweep.run}[args.workload]
            outcome = run(bench, args.seed, args.seconds)
    finally:
        bench.close()
    units = benchlib.PER_LAYER if args.trace else END_TO_END
    # a metric is missing only when the operation measuring it failed,
    # which the result reports as failed and not correct
    metrics = {k: {"value": float(outcome.metrics.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "settings": bench.settings,
              "failed_frac": outcome.failed / outcome.attempted,
              **outcome.detail}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
