"""Unit tests of the benchmark's statistics and metric declarations."""

import json
import os

import pytest

from perfbench import layers, stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_summarize_reports_median_tail_and_count():
    values = [float(i) for i in range(1, 101)]
    s = stats.summarize(values)
    assert s["n"] == 100 and s["median"] == 50.5
    assert s["p90"] == pytest.approx(90.1)
    assert "p90" not in stats.summarize(values[:19])


def test_percentile_interpolates():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50.0) == 2.5
    assert stats.percentile([7.0], 99.0) == 7.0


def test_failed_frac_counts_attempted_executions_not_registered_queries():
    # two of four executions were attempted and one failed; the workload
    # registering more queries than ran must not dilute the fraction
    assert stats.failed_frac([True, False]) == 0.5
    assert stats.failed_frac([True] * 3) == 0.0
    with pytest.raises(ValueError):
        stats.failed_frac([])


def test_metric_names_are_valid():
    bench = _benchmark()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + list(layers.PER_LAYER)
    bad = [n for n in names if not stats.valid_metric_name(n)]
    assert not bad
    assert not stats.valid_metric_name("spark jobs")
    assert not stats.valid_metric_name("_hidden")


def test_benchmark_json_declares_every_per_layer_metric_with_its_unit():
    bench = _benchmark()
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == layers.PER_LAYER
