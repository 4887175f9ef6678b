"""Capture the executed (AQE-final) ``explain("formatted")`` text for
catalog queries into per-query files — the judge-facing plan evidence
for optimization rounds (plans/r15/<query>_before.txt / _after.txt).

    python tools/capture_plans.py OUTDIR SUFFIX [query ...]

Runs each query at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] (default 32, matching bench.py), executes it
once so AQE finalizes, then writes OUTDIR/<query>_<SUFFIX>.txt.
With no query names, captures the whole bench HEADLINE set. The text
is written through :func:`normalize_plan`, so two captures of one
tree compare equal and a diff shows only real plan changes.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: what differs between two captures of the same tree: expression ids,
#: exchange plan ids, whole-stage-codegen ids and AQE query-stage ids
#: (the last two numbered in whatever order stages materialize), and
#: the random temp dirs of the persisted-index queries
_NOISE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"^Arguments: \d+$", re.M), "Arguments: N"),
    (re.compile(r"[^\s\[\]]*/hms_\w+"), "<tmp>/hms_*"),
)


def normalize_plan(text: str) -> str:
    """``explain("formatted")`` text with the run-to-run noise replaced
    by fixed placeholders; every operator, column name and argument
    else is kept."""
    for pattern, placeholder in _NOISE:
        text = pattern.sub(placeholder, text)
    return text


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from hadoop_multiple_streaming_spark import workloads
    from hadoop_multiple_streaming_spark.session import get_spark

    workloads.load_all()
    if not names:
        import bench

        names = [n for n in bench.HEADLINE if n in workloads.QUERIES]
    spark = get_spark(
        app_name="hms-spark-capture-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = workloads.QUERIES[name](spark, sf_dir)
            # collect() finalizes THIS Dataset's AQE plan in place (a
            # noop write would plan a separate command); headline
            # outputs are aggregate-sized
            df.collect()
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(normalize_plan(buf.getvalue()))
            print(f"wrote {path}")
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:300]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
