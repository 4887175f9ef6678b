import json
from pathlib import Path

import pytest

import tracing

FIXTURE = Path(__file__).resolve().parent / "fixtures" / "one_branch"


@pytest.fixture(scope="module")
def log():
    return tracing.read_event_log(FIXTURE / "eventlog.json")


@pytest.fixture(scope="module")
def window():
    return json.loads((FIXTURE / "window.json").read_text())


def test_jobs_are_attributed_to_the_branch_pool(log, window):
    jobs = [j for j in log.jobs.values() if window["t0"] <= j.submit <= window["t1"]]
    assert jobs and {j.pool for j in jobs} == {"b0"}
    assert all(j.submit <= j.end for j in jobs)


def test_layers_of_a_one_branch_job(log, window):
    m = tracing.rep_layers(log, window["t0"], window["t1"], cores=2, input_rows=window["rows"])
    wall = window["t1"] - window["t0"]
    # persisted scan read once
    assert m["share.scan_amplification"] == 1.0
    assert m["share.cache_rows"] == window["rows"]
    # the cat mapper crosses the Python fence in both directions
    assert m["pipe.bytes_sent"] > 0 and m["pipe.bytes_returned"] > 0
    assert m["pipe.py_run_s"] > 0
    # aggregate reducer: hash aggregation, one shuffle, one output dir
    assert m["shuffle.records"] > 0 and m["shuffle.bytes"] > 0
    assert m["io.written_bytes"] > 0 and m["io.files_written"] >= 1
    assert m["exec.tasks"] > 0 and 0 < m["exec.run_s"]
    assert 0 <= m["runner.driver_gap_s"] <= wall
    assert 0 < m["runner.branch_max_s"] <= wall and m["runner.branch_skew"] == 1.0
    assert m["runner.jobs"] == len(
        [j for j in log.jobs.values() if window["t0"] <= j.submit <= window["t1"]]
    )


def test_jobs_outside_the_window_are_not_counted(log, window):
    m = tracing.rep_layers(log, window["t1"] + 1, window["t1"] + 2, cores=2, input_rows=1)
    assert m["runner.jobs"] == 0 and m["exec.tasks"] == 0


def test_union_of_overlapping_spans():
    assert tracing._union_seconds([(0, 2), (1, 3), (5, 6)]) == 4


def test_spans_nest_and_wrap_restores(tmp_path):
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    t = tracing.Tracer()
    got = []
    with t.span("outer"):
        with t.wrap(mod, "f", "inner", results=got):
            assert mod.f(1) == 2
    assert mod.f(1) == 2 and got == [2]
    inner, outer = t.spans
    assert (inner.name, inner.parent, outer.parent) == ("inner", "outer", None)
    assert outer.t0 <= inner.t0 <= inner.t1 <= outer.t1
    t.dump(tmp_path / "spans.json")
    assert len(json.loads((tmp_path / "spans.json").read_text())) == 2


def test_tree_cpu_counts_a_reaped_child():
    import subprocess
    import sys

    c0, j0 = tracing.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    c1, j1 = tracing.tree_cpu_s()
    assert c1 - c0 >= 0.25 and j1 >= j0
