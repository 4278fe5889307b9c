import os

import pytest
from py4j.protocol import Py4JError

from perfbench import tracing

CANNED = os.path.join(os.path.dirname(__file__), "data")


def test_rolling_event_log_parts_are_read_in_order():
    files = tracing.event_log_files(CANNED)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1", "events_2_local-1"]
    kinds = [e["Event"] for e in tracing.read_events(CANNED)]
    assert kinds[0] == "SparkListenerLogStart" and kinds.count("SparkListenerTaskEnd") == 4


def test_counters_are_attributed_to_job_groups():
    got = tracing.group_counters(tracing.read_events(CANNED))
    assert set(got) == {"w:p0:q:build", "w:p0:q:action", None}
    build = got["w:p0:q:build"]
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 2)
    assert (build["run_ms"], build["cpu_ms"], build["gc_ms"]) == (22, 10.0, 1)
    assert (build["shuffle_write_bytes"], build["input_bytes"], build["records_read"]) == (150, 3072, 30)
    assert build["python_run_ms"] == 0
    action = got["w:p0:q:action"]
    assert (action["jobs"], action["stages"], action["tasks"]) == (1, 1, 1)
    assert (action["shuffle_read_bytes"], action["fetch_wait_ms"], action["spill_bytes"]) == (150, 3, 4096)
    assert action["python_run_ms"] == 25
    assert action["python_init_ms"] == 2  # worker start; "initialize" is not counted
    assert (action["python_bytes_sent"], action["python_bytes_returned"]) == (500, 300)
    assert (got[None]["jobs"], got[None]["tasks"]) == (1, 1)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "build", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "name": "action", "start": 3.0, "end": 6.0},  # overlaps build
        {"id": 3, "parent": 2, "name": "catalyst", "start": 3.0, "end": 3.5},
        {"id": 4, "parent": 0, "name": "action", "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    got = tracing.self_times(spans)
    assert got["pass"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["action"] == pytest.approx(2.5 + 3.0)
    assert got["build"] == pytest.approx(3.0)
    assert tracing.covered_seconds(spans, {"build", "action"}) == pytest.approx(8.0)


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(False)
    with tr.span("x", "t") as sid:
        tr.add("y", "t", sid, 0.0, 1.0)
    assert sid is None and tr.spans == []


class _Broken:
    """A frame whose JVM side lacks the private tracker API."""

    class _J:
        def queryExecution(self):
            raise Py4JError("method queryExecution does not exist")

    _jdf = _J()

    def alias(self, _):
        return self


def test_catalyst_phases_report_none_when_the_private_api_is_gone():
    assert tracing.tracker_phases(_Broken()) is None
    assert tracing.replan_phases(_Broken()) is None
    assert tracing.tracker_phases(object()) is None
