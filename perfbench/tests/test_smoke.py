"""One traced sf0.001 pass per workload through the benchmark's own runner."""

import os

import pytest

from perfbench import datagen, layers, run
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    cores = min(run.pin_environment(), 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sf_dir = datagen.write(str(tmp_path_factory.mktemp("sf0.001")), 0.001, 42)
    tracer = Tracer()
    tracer.install()
    b = run.Bench(next(iter(WORKLOADS)), 0, sf_dir, {}, tracer)
    b.setup()
    yield b
    b.stop()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_pass_runs_every_query_and_attributes_every_job(bench, workload):
    bench.workload = workload
    bench.outcomes, bench.errors = [], []
    bench.tracer.spans, bench.tracer.raw_checkpoints = [], 0
    ledger = layers.Ledger(bench.spark, bench.tracer, int(os.environ["SPARK_GRAFT_CPUS"]))
    traced = bench.run_pass(0, traced=True, ledger=ledger)
    assert bench.errors == []
    assert len(bench.outcomes) == len(WORKLOADS[workload]) and all(bench.outcomes)
    m = {k: v for k, (v, _unit) in ledger.metrics(traced["wall_s"], traced["wall_s"]).items()}
    assert set(m) == set(layers.PER_LAYER)
    assert m["spark.jobs"] > 0 and m["spark.unattributed_jobs"] == 0
    assert m["queries.build_s"] + m["queries.action_s"] == pytest.approx(m["trace.wall_s"])
    assert m["queries.build_jobs"] + m["queries.action_jobs"] == m["spark.jobs"]
    assert sorted(r["query"] for r in ledger.rows) == sorted(WORKLOADS[workload])
    assert "| query | build | action | jobs | stages | tasks |" in ledger.table()
