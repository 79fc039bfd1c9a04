"""Spark-free helpers of the benchmark harness: statistics, SQL-metric
string parsing, spans with self time, an RSS sampler and result digests.

Everything here is plain Python so it can be unit-tested without a JVM
(``perfbench/tests``).
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import statistics
import threading
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

# Percentiles reported for a timing, highest first; a percentile is only
# reported when at least TAIL_BEYOND samples lie above it, so a tail figure
# is never read off one or two outliers.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(samples: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    return ordered[_rank(pct, len(ordered)) - 1]


def _rank(pct: float, n: int) -> int:
    # rounded first so that 99.9 % of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(pct * n / 100.0, 6)))


def tail_percentile(samples: Sequence[float]) -> tuple[float, float] | None:
    """(pct, value) for the highest percentile in PERCENTILES that has at
    least TAIL_BEYOND samples strictly beyond its rank, or None when even
    the median has fewer (fewer than 2 × TAIL_BEYOND samples)."""
    n = len(samples)
    for pct in PERCENTILES:
        if n - _rank(pct, n) >= TAIL_BEYOND:
            return pct, percentile(samples, pct)
    return None


def timing_summary(samples: Sequence[float]) -> dict:
    """Median, the tail percentile the sample count supports, and n."""
    out: dict = {"n": len(samples)}
    if samples:
        out["median"] = statistics.median(samples)
        tail = tail_percentile(samples)
        if tail is not None:
            out[f"p{tail[0]:g}"] = tail[1]
    return out


# --------------------------------------------------------------------------
# Spark SQL metric strings
# --------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
               "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """One SQL-metric display string → a float in base units (bytes,
    seconds or a plain count).

    Accepts the forms the SQL status store renders: ``"300"``,
    ``"1,234"``, ``"898.4 KiB"``, ``"42 ms"``, ``"9.3 s"``, and the
    per-task form ``"total (min, med, max (stageId: taskId))\\n9.3 s
    (1.2 s, 2.3 s, 4.1 s (stage 3.0: task 12))"``, of which the total is
    returned."""
    line = text.strip()
    if line.startswith("total"):
        parts = line.split("\n", 1)
        if len(parts) != 2:
            raise ValueError(f"unparsable SQL metric {text!r}")
        line = parts[1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return value
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Span:
    """One call into a layer: ``name`` is the wrapped function, ``key``
    the argument it was keyed by (a checkpoint's stage, a query name),
    ``parent`` the id of the span that was open on the same thread."""
    id: int
    parent: int | None
    name: str
    key: str | None
    start: float
    end: float
    group: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: Iterable[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval that its
    direct children cover (children clipped to the parent; overlapping
    children counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c.start, s.start), min(c.end, s.end))
                   for c in children.get(s.id, ())]
        covered = _covered((lo, hi) for lo, hi in clipped if hi > lo)
        out[s.id] = s.duration - covered
    return out


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, rss bytes) for every process visible in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited between listdir and open
        fields = raw[raw.rindex(b")") + 2:].split()
        table[int(name)] = (int(fields[1]), int(fields[21]) * _PAGE)
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    """Pids of every live descendant of ``root``."""
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _rss) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants, in bytes."""
    table = _proc_table()
    return sum(table[pid][1] for pid in [root, *descendants(root, table)]
               if pid in table)


class RssSampler:
    """Background thread sampling the summed RSS of this process tree
    (this process, the JVM, Python workers); ``peak`` is the highest sample."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --------------------------------------------------------------------------
# result digests
# --------------------------------------------------------------------------

def _norm(v) -> str:
    """Value canonicalization of the repository's oracle test harness."""
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def value_hash(cols: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Order-insensitive sha256 of a result set: columns sorted by name,
    rows canonicalized and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# --------------------------------------------------------------------------
# results
# --------------------------------------------------------------------------

@dataclass
class Outcome:
    """What a workload run reports: metric name → value (units are in
    PER_LAYER and run.END_TO_END), the attempted and failed operation
    counts, and a free-form detail record."""
    metrics: dict
    attempted: int
    failed: int
    detail: dict


# The catalog queries of catalog_sweep: the HEADLINE list of the
# repository's bench.py, copied so that the benchmark is fixed.
HEADLINE = (
    "q1_pricing_summary", "a2_bigram_minsup", "a3_token_idf",
    "j1_pattern_lookup", "j2_subpattern_join", "j8_nation_revenue",
    "w1_rank_per_group", "w4_lead_gaps", "dedup_exact", "text_quality_score",
    "dedup_minhash_lsh", "dedup_minhash_jaccard", "dedup_simhash",
    "ann_cosine_topk", "ann_lsh_topk", "embedding_near_dup", "kg_degree",
    "token_count", "doc_fingerprint", "mm_decode_meta",
)

# Per-layer metrics of a traced run (--trace 1), name → unit. A traced run
# traces every layer, whatever the workload, so it measures all of them.
PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "corpus.sentences_s": "s", "corpus.py_run_s": "s",
    "corpus.py_init_s": "s", "corpus.arrow_in_mb": "MB",
    "corpus.arrow_out_mb": "MB", "corpus.rows_out": "count",
    "mining.patterns_s": "s", "mining.py_run_s": "s",
    "mining.shuffle_mb": "MB", "mining.rows_out": "count",
    "model.census_s": "s", "model.em_inner_s": "s",
    "model.em_rectify_s": "s", "model.em_passes": "count",
    "model.py_run_s": "s", "model.arrow_in_mb": "MB",
    "tuples.extraction_s": "s", "tuples.py_run_s": "s",
    "tuples.arrow_in_mb": "MB", "tuples.arrow_out_mb": "MB",
    "tuples.rows_out": "count",
    "transe.fit_s": "s", "transe.rank_s": "s", "transe.rows_out": "count",
    "pipeline.entities_edges_s": "s", "pipeline.self_s": "s",
    "pipeline.shuffle_mb": "MB", "pipeline.tasks": "count",
    "streaming.docs_per_s": "1/s", "streaming.batches": "count",
    "streaming.microbatch_p50_ms": "ms", "streaming.write_epoch_ms": "ms",
    "streaming.trigger_overhead_ms": "ms", "streaming.py_init_s": "s",
    "streaming.arrow_in_mb": "MB",
    "trace.docs_per_s": "1/s", "trace.untraced_docs_per_s": "1/s",
    "trace.overhead_frac": "fraction",
    "queries.sql_s": "s", "operators.dedup_s": "s",
    "operators.similarity_s": "s", "operators.graph_s": "s",
    "operators.textstats_s": "s", "operators.multimodal_s": "s",
    "queries.tasks": "count",
}
PER_LAYER.update({f"query.{q}_s": "s" for q in HEADLINE})
