"""catalog_sweep: the 20 HEADLINE catalog queries over the fixed tables.

One closed-loop client submits one query at a time; each query is
materialized through the ``noop`` sink (``count()`` lets Spark prune most
of the work, see README.md). The tables in ``tables/`` are fixed; the
seed sets only the query order. Set-up warms up by collecting every query
once, which is also when each result's value hash is checked against
DuckDB's ``oracle_sql()``, and then by one untimed noop sweep. Every
noop-materialized query's row count is checked against DuckDB's.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import sys
import time
import traceback

import duckdb
from pyspark.sql import Observation, functions as F

from benchlib import HEADLINE, Outcome, timing_summary, value_hash
from sparkstats import Tracer, span_stats

TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")


def _oracles() -> tuple[dict, dict]:
    """DuckDB's (columns, rows) of every HEADLINE query's oracle SQL."""
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for path in sorted(glob.glob(os.path.join(TABLES_DIR, "*.parquet"))):
            table = os.path.basename(path)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        cols, rows = {}, {}
        for name in HEADLINE:
            cur = con.execute(sqls[name])
            cols[name] = [c[0].lower() for c in cur.description]
            rows[name] = cur.fetchall()
    finally:
        con.close()
    return cols, rows


def _hash_check(spark, want_cols: dict, want_rows: dict) -> list[str]:
    """Collect every query once (the warm-up) and compare schema, row
    count and value hash with DuckDB."""
    from remine_spark.queries import QUERIES

    errors = []
    for name in HEADLINE:
        df = QUERIES[name]["spark"](spark, TABLES_DIR)
        rows = [tuple(r) for r in df.collect()]
        cols = [c.lower() for c in df.columns]
        if sorted(cols) != sorted(want_cols[name]):
            errors.append(f"{name}: columns {cols} vs oracle {want_cols[name]}")
        elif len(rows) != len(want_rows[name]):
            errors.append(f"{name}: {len(rows)} rows vs oracle "
                          f"{len(want_rows[name])}")
        elif value_hash(cols, rows) != value_hash(want_cols[name],
                                                  want_rows[name]):
            errors.append(f"{name}: value hash differs from oracle")
    return errors


def materialize(spark, name: str) -> int:
    """Run one query to completion through the noop sink → its rows."""
    from remine_spark.queries import QUERIES

    obs = Observation(f"rows_{name}")
    df = QUERIES[name]["spark"](spark, TABLES_DIR).observe(
        obs, F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    return obs.get["n"]


def _layer(name: str) -> str:
    """Per-layer metric a query's time adds to: its defining module."""
    from remine_spark.queries import QUERIES

    module = QUERIES[name]["spark"].__module__
    if module == "remine_spark.queries":
        return "queries.sql_s"
    return f"operators.{module.rsplit('.', 1)[-1]}_s"


class Client:
    """The closed-loop client: sweeps the queries one at a time, checks
    each row count against DuckDB's and counts attempts and failures."""

    def __init__(self, spark, want_n: dict, tracer: Tracer | None = None):
        self.spark = spark
        self.want_n = want_n
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def sweep(self, order: list[str]) -> tuple[float, dict[str, float]]:
        """Materialize each query of ``order`` once → (sweep wall, query
        name → wall of its completed run)."""
        walls = {}
        t_sweep = time.perf_counter()
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if self.tracer is None:
                    n = materialize(self.spark, name)
                else:
                    with self.tracer.span("query", name):
                        n = materialize(self.spark, name)
                walls[name] = time.perf_counter() - t0
                if n != self.want_n[name]:
                    self.failed += 1
                    self.errors.append(
                        f"{name}: {n} rows vs oracle {self.want_n[name]}")
            except Exception:  # a failed query is counted, not fatal
                self.failed += 1
                self.errors.append(f"{name}: {traceback.format_exc()}")
        return time.perf_counter() - t_sweep, walls


def setup(bench, warm_sweep: bool = True) -> tuple[Client, float, dict]:
    """Session, oracle results and warm-up → (client, setup_s, the walls
    of the oracle queries and the warm-up sweep). DuckDB's oracle queries
    are left out of ``setup_s``."""
    spark = bench.start_session()
    t0 = time.perf_counter()
    want_cols, want_rows = _oracles()
    oracle_s = time.perf_counter() - t0
    client = Client(spark, {name: len(rows) for name, rows in want_rows.items()})
    t0 = time.perf_counter()
    hash_errors = _hash_check(spark, want_cols, want_rows)
    client.attempted += len(HEADLINE)
    client.failed += len(hash_errors)
    client.errors += hash_errors
    warm_s = client.sweep(list(HEADLINE))[0] if warm_sweep else None
    setup_s = bench.session_s + time.perf_counter() - t0
    return client, setup_s, {"oracle_s": oracle_s, "warm_sweep_s": warm_s}


def _report(client: Client) -> None:
    for e in client.errors:
        print(f"catalog_sweep check failed: {e}", file=sys.stderr)


def run(bench, seed: int, seconds: float) -> Outcome:
    client, setup_s, setup_walls = setup(bench)
    rng = random.Random(seed)
    sweeps, per_query = [], {q: [] for q in HEADLINE}
    t_loop = time.perf_counter()
    while True:
        order = list(HEADLINE)
        rng.shuffle(order)
        wall, walls = client.sweep(order)
        sweeps.append(wall)
        for name, t in walls.items():
            per_query[name].append(t)
        elapsed = time.perf_counter() - t_loop
        if elapsed + elapsed / len(sweeps) > seconds:  # next would overrun
            break
    _report(client)
    latencies = [t for ts in per_query.values() for t in ts]
    return Outcome(
        metrics={"setup_s": setup_s, "run_s": statistics.median(sweeps)},
        attempted=client.attempted, failed=client.failed,
        detail={"sweeps_s": sweeps, "query_s": per_query,
                "sweep_s": statistics.median(sweeps),
                "query_latency_s": timing_summary(latencies),
                **setup_walls, "hash_checked": len(HEADLINE),
                "errors": client.errors})


def traced(bench, seed: int) -> Outcome:
    """One traced sweep in the seeded order, each query under its own span
    → per-query and per-operator times and the sweep's task count. The
    collect pass is its only warm-up, which keeps a traced run (after a
    traced kg_build set in the same session) well inside its time limit."""
    client, _setup_s, _setup_walls = setup(bench, warm_sweep=False)
    client.tracer = Tracer(bench.spark)
    order = list(HEADLINE)
    random.Random(seed).shuffle(order)
    _wall, walls = client.sweep(order)
    _report(client)
    metrics = {}
    for name, t in walls.items():
        metrics[f"query.{name}_s"] = t
        metrics[_layer(name)] = metrics.get(_layer(name), 0.0) + t
    stats = span_stats(bench.spark, client.tracer.spans)
    metrics["queries.tasks"] = sum(st.get("tasks", 0.0) for st in stats.values())
    return Outcome(metrics=metrics, attempted=client.attempted,
                   failed=client.failed,
                   detail={"query_s": walls, "errors": client.errors})
