"""Unit tests of the harness helpers (no JVM needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import benchlib  # noqa: E402
from benchlib import Span, parse_metric, self_times, tail_percentile  # noqa: E402


# --- SQL metric strings ----------------------------------------------------

@pytest.mark.parametrize("text, want", [
    ("300", 300.0),
    ("1,234,567", 1234567.0),
    ("0.0 B", 0.0),
    ("898.4 KiB", 898.4 * 1024),
    ("32.2 MiB", 32.2 * 2**20),
    ("1.5 GiB", 1.5 * 2**30),
    ("42 ms", 0.042),
    ("9.3 s", 9.3),
    ("2.5 m", 150.0),
    ("total (min, med, max (stageId: taskId))\n9.3 s "
     "(1.2 s, 2.3 s, 4.1 s (stage 3.0: task 12))", 9.3),
    ("total (min, med, max (stageId: taskId))\n898.4 KiB "
     "(34.0 KiB, 35.8 KiB, 36.4 KiB (stage 0.0: task 0))", 898.4 * 1024),
    ("total (min, med, max (stageId: taskId))\n61 ms "
     "(10 ms, 18 ms, 19 ms (stage 2.0: task 8))", 0.061),
])
def test_parse_metric(text, want):
    assert parse_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", ["", "n/a", "12 parsecs",
                                  "total (min, med, max)"])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_scala_map_values_keep_commas_and_newlines():
    pytest.importorskip("pyspark")
    from sparkstats import _scala_map

    text = ("HashMap(645 -> 0, 698 -> total (min, med, max (stageId: taskId))"
            "\n9.3 s (1.2 s, 2.3 s, 4.1 s (stage 3.0: task 12)), "
            "651 -> 71.0 B)")
    got = _scala_map(text)
    assert got[645] == "0"
    assert parse_metric(got[698]) == pytest.approx(9.3)
    assert got[651] == "71.0 B"
    assert _scala_map("Map()") == {}


# --- percentile with at least ten samples beyond ---------------------------

def test_tail_needs_ten_samples_beyond_the_median():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(1, 21))) == (50.0, 10)


@pytest.mark.parametrize("n, pct", [(39, 50.0), (40, 75.0), (99, 75.0),
                                    (100, 90.0), (199, 90.0), (200, 95.0),
                                    (1000, 99.0), (10000, 99.9)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    samples = list(range(1, n + 1))
    got_pct, value = tail_percentile(samples)
    assert got_pct == pct
    assert sum(s > value for s in samples) >= 10


def test_timing_summary_reports_n_and_median():
    out = benchlib.timing_summary([3.0, 1.0, 2.0])
    assert out == {"n": 3, "median": 2.0}


# --- span self time --------------------------------------------------------

def _span(sid, parent, start, end):
    return Span(sid, parent, f"s{sid}", None, start, end, f"g{sid}")


def test_self_time_subtracts_direct_children():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 3.0),
             _span(2, 0, 5.0, 6.0),
             _span(3, 1, 1.5, 2.5)]  # grandchild: only its parent loses it
    st = self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    # children from another thread may overlap each other
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 2.0, 6.0),
             _span(2, 0, 4.0, 8.0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 3.0, 9.0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_self_time_sums_to_root_duration():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 0.0, 4.0),
             _span(2, 1, 1.0, 2.0), _span(3, 0, 4.0, 9.5)]
    assert sum(self_times(spans).values()) == pytest.approx(10.0)


# --- digests and the metric list -------------------------------------------

def test_value_hash_ignores_row_and_column_order():
    a = benchlib.value_hash(["x", "y"], [(1, "a"), (2.5, None)])
    b = benchlib.value_hash(["y", "x"], [(None, 2.5), ("a", 1)])
    assert a == b
    assert a != benchlib.value_hash(["x", "y"], [(1, "a"), (2.5, "b")])


def test_benchmark_json_lists_the_harness_metrics():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import run

    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == benchlib.PER_LAYER
