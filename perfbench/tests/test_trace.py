"""Span arithmetic: self time, interval union, job-to-span attribution."""

import pickle

import pytest

from perfbench import layers
from perfbench.trace import Span, Tracer, innermost, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)
    assert union_length([(1.0, 2.0), (0.0, 3.0)]) == pytest.approx(3.0)


def test_self_time_subtracts_children_coverage_once():
    spans = [
        Span("queries.build", 0.0, 10.0, None, "q"),
        Span("ops.a", 1.0, 5.0, 0, "q"),
        Span("materialize.spill_to_parquet", 2.0, 3.0, 1, "q"),
        # a child running on another thread overlaps its sibling
        Span("dedup.b", 4.0, 7.0, 0, "q"),
        # a child outliving its parent is clipped to the parent
        Span("pyspark.localCheckpoint", 9.0, 12.0, 0, "q"),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 6.0 - 1.0)
    assert got[1] == pytest.approx(4.0 - 1.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(3.0)
    skipped = self_times(spans, skip=lambda s: s.layer == "pyspark")
    assert skipped[0] == pytest.approx(10.0 - 6.0)


def test_jobs_attribute_to_innermost_non_pyspark_span():
    spans = [
        Span("queries.build", 0.0, 10.0, None, "q"),
        Span("ops.a", 1.0, 5.0, 0, "q"),
        Span("pyspark.localCheckpoint", 2.0, 3.0, 1, "q"),
        Span("queries.action", 10.0, 12.0, None, "q"),
        Span("queries.build", 0.0, 10.0, None, "other"),
    ]
    span = innermost(spans, "q", 2.5)
    assert span.name == "pyspark.localCheckpoint"
    assert layers.job_layer(spans, span) == "ops"
    assert layers.job_phase(spans, span) == "build"
    action = innermost(spans, "q", 11.0)
    assert layers.job_layer(spans, action) == "queries"
    assert layers.job_phase(spans, action) == "action"
    assert innermost(spans, "q", 13.0) is None


def test_tracer_records_nested_spans_only_while_active():
    tracer = Tracer()

    def inner():
        return 1

    traced_inner = tracer.wrap("ops.inner", inner)
    traced_outer = tracer.wrap("dedup.outer", lambda: traced_inner() + 1)
    assert traced_outer() == 2 and tracer.spans == []
    tracer.active, tracer.query = True, "q"
    assert traced_outer() == 2
    outer, inner_span = tracer.spans
    assert (outer.name, outer.parent, outer.query) == ("dedup.outer", None, "q")
    assert (inner_span.name, inner_span.parent) == ("ops.inner", 0)
    assert outer.start <= inner_span.start <= inner_span.end <= outer.end


def test_installed_wrappers_pickle_by_reference():
    import blow_spark.ops as ops

    Tracer().install()
    wrapped = [v for k, v in vars(ops).items() if not k.startswith("_") and hasattr(v, "__wrapped__")]
    assert wrapped
    for fn in wrapped:
        assert pickle.loads(pickle.dumps(fn)) is fn
