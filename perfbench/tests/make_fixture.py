"""Regenerate ``fixtures/one_branch/``: the event log of a 1-branch job
(``cat`` pipe mapper, ``aggregate`` reducer, persisted scan) trimmed to
the events the reader uses, plus the job's window.

    python3 perfbench/tests/make_fixture.py    # from the repository root
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(Path.cwd())]

import tracing  # noqa: E402

KEEP = {
    "SparkListenerSQLExecutionStart": ("executionId", "time", "sparkPlanInfo"),
    "SparkListenerSQLAdaptiveExecutionUpdate": ("executionId", "sparkPlanInfo"),
    "SparkListenerSQLAdaptiveSQLMetricUpdates": ("executionId", "sqlPlanMetrics"),
    "SparkListenerDriverAccumUpdates": ("executionId", "accumUpdates"),
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerTaskEnd": ("Stage ID", "Task Info", "Task Metrics"),
}
PROPS = ("spark.scheduler.pool", "spark.sql.execution.id")
PLAN_KEYS = ("nodeName", "metrics", "children")
ROWS = 400


def slim_plan(info: dict) -> dict:
    """Plan nodes reduced to what the reader uses (no paths or plan text)."""
    out = {k: info[k] for k in PLAN_KEYS if k in info}
    out["children"] = [slim_plan(c) for c in info.get("children", ())]
    return out


def main() -> None:
    from hadoop_multiple_streaming_spark.plans.model import AGGREGATE, Branch, JobSpec
    from hadoop_multiple_streaming_spark.plans.runner import run_job
    from hadoop_multiple_streaming_spark.session import get_spark

    out_dir = HERE / "fixtures" / "one_branch"
    with tempfile.TemporaryDirectory() as tmp:
        tmp = Path(tmp)
        (tmp / "in").mkdir()
        (tmp / "log").mkdir()
        lines = [f"LongValueSum:k{i % 7}\t{i}" for i in range(ROWS)]
        (tmp / "in" / "part-0.txt").write_text("\n".join(lines) + "\n")
        spark = get_spark(master="local[2]", extra_conf=tracing.event_log_conf(tmp / "log"))
        spec = JobSpec(inputs=[str(tmp / "in")], output=str(tmp / "out"),
                       branches=[Branch("b0", "cat", AGGREGATE)])
        t0 = time.time()
        res = run_job(spark, spec)
        t1 = time.time()
        spark.stop()
        if not res.succeeded:
            raise RuntimeError(f"fixture job failed: {res.results}")
        out_dir.mkdir(parents=True, exist_ok=True)
        with open(tracing.find_event_log(tmp / "log")) as src, \
                open(out_dir / "eventlog.json", "w") as dst:
            for line in src:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind not in KEEP:
                    continue
                slim = {"Event": e["Event"], **{k: e[k] for k in KEEP[kind] if k in e}}
                if "sparkPlanInfo" in slim:
                    slim["sparkPlanInfo"] = slim_plan(slim["sparkPlanInfo"])
                if "Properties" in slim:
                    slim["Properties"] = {k: v for k, v in slim["Properties"].items() if k in PROPS}
                dst.write(json.dumps(slim) + "\n")
        (out_dir / "window.json").write_text(json.dumps(
            {"t0": t0, "t1": t1, "rows": ROWS, "counters": res.counters}, indent=1))


if __name__ == "__main__":
    main()
