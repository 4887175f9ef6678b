"""A job's branches are checked against the oracle; a failing branch
command shows up as failed branches, so fail_ratio goes nonzero."""

import os

import pytest

import gen
import run
import tracing
from jobs import CliMaterializeReduce


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    from hadoop_multiple_streaming_spark.session import get_spark

    spark = get_spark(master="local[2]")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def inp(tmp_path_factory):
    return gen.generate(tmp_path_factory.mktemp("inputs"), seed=1, rows=500)


def _run(spark, inp, tmp_path, wl):
    expect = wl.expectations(inp)
    out = tmp_path / "out"
    outcome = wl.run(spark, inp, out, tracing.Tracer())
    return outcome, run.verify(wl, inp, outcome, out, expect)


def test_healthy_job_matches_oracle(spark, inp, tmp_path):
    outcome, bad = _run(spark, inp, tmp_path, CliMaterializeReduce())
    assert bad == [] and all(outcome.branches.values())
    assert outcome.counters["pipe.records_written"] == inp.rows * 8


def test_failing_branch_counts_as_failed(spark, inp, tmp_path):
    outcome, bad = _run(spark, inp, tmp_path, CliMaterializeReduce({"c1": "false"}))
    assert "c1" in bad
    assert len(bad) / len(outcome.branches) > 0
    # a phase-1 mapper failure under materialize fails the whole job
    assert outcome.errors["c1"] == "cli.main exit code 5"


def test_wrong_output_is_a_mismatch(spark, inp, tmp_path):
    wl = CliMaterializeReduce()
    expect = wl.expectations(inp)
    out = tmp_path / "out"
    wl.run(spark, inp, out, tracing.Tracer())
    part = next((out / "c2").glob("part-*"))
    part.write_text(part.read_text() + "1\t1\t1\n")
    assert wl.check(out, expect) == ["c2"]
