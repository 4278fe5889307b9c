"""Every workload end to end on tiny inputs (scale factor 0.001), traced,
in one shared Spark session. Takes a few minutes."""

import dataclasses
import os

import pytest

from perfbench import run
from perfbench.workloads import (
    LAYER_METRICS,
    WORKLOADS,
    Bench,
    QueryWorkload,
    layer_table,
    run_query_workload,
    run_stream_workload,
)

CORES = 2


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.pin_environment(work, CORES)
    first = Bench("smoke", 0, 0, True, work, CORES)
    first.start_session()
    yield work, first.event_dir
    first.stop()


def _tiny(wl):
    if isinstance(wl, QueryWorkload):
        return dataclasses.replace(wl, sf=0.001)
    return dataclasses.replace(wl, rows_per_file=200, files_per_drain=2)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_runs_checks_and_traces(session, name):
    work, event_dir = session
    wl = _tiny(WORKLOADS[name])
    b = Bench(name, seed=5, seconds=0, traced=True, work_dir=os.path.join(work, name), cores=CORES)
    b.event_dir = event_dir  # the shared session logs here
    os.makedirs(b.work_dir)
    out = run_query_workload(b, wl) if isinstance(wl, QueryWorkload) else run_stream_workload(b, wl)

    assert out.failed == 0 and out.attempted > 0
    assert out.unit_ms and all(ms > 0 for ms in out.unit_ms)
    assert out.setup_s > 0 and out.latency_ms > 0 and out.throughput_per_s > 0

    layers = layer_table(b, out)
    assert set(layers) == set(LAYER_METRICS)
    assert all(v is not None for v in layers.values())
    if name == "stream_ingest":
        assert layers["streaming.add_batch_ms"] > 0 and layers["sinks.files_written"] > 0
        assert layers["executor.jobs"] > 0 and layers["registry.build_ms"] == 0
    else:
        assert layers["registry.build_ms"] > 0 and layers["executor.jobs"] > 0
        assert layers["catalyst.optimization_ms"] > 0
    if name == "corpus_dedup":
        assert layers["python.run_ms"] > 0 and layers["python.bytes_sent"] > 0
    else:
        assert layers["python.run_ms"] == 0 and layers["python.bytes_sent"] == 0
