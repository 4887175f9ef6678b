"""Capture the executed (AQE-final) ``explain("formatted")`` text for
catalog queries into per-query files — the judge-facing plan evidence
for optimization rounds (plans/r15/<query>_before.txt / _after.txt).

    python tools/capture_plans.py OUTDIR SUFFIX [query ...]
    python tools/capture_plans.py --diff OUTDIR BEFORE AFTER

Runs each query at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] (default 32, matching bench.py), executes it
so AQE finalizes, then writes OUTDIR/<query>_<SUFFIX>.txt. With no
query names, captures the whole bench HEADLINE set. The text is
written through :func:`normalize_plan`, so two captures of one tree
compare equal.

Some plans are not reproducible even at one commit (an AQE
exchange-reuse decision that depends on stage timing changed the
shape of ``q8_market_share`` between two runs), so every query is
captured TWICE: when the second capture differs, it is kept as
OUTDIR/<query>_<SUFFIX>.alt.txt and ``UNSTABLE <query>`` is printed.
``--diff`` then compares two suffixes and prints ``CHANGED <query>``
only when no capture on one side matches any capture on the other.
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
#: (the last two numbered in whatever order stages materialize), the
#: session-wide counters behind Python lambda variables and common
#: subexpression aliases, and the random temp dirs of the
#: persisted-index queries
_NOISE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
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


def captures(outdir: str, name: str, suffix: str) -> list[str]:
    """Every kept capture of ``name`` under ``suffix``: the first, and
    the second when it differed — normalised again, so captures written
    before a :data:`_NOISE` rule was added compare under it."""
    paths = (os.path.join(outdir, f"{name}_{suffix}{t}.txt") for t in ("", ".alt"))
    out = []
    for path in paths:
        if os.path.exists(path):
            with open(path) as fh:
                out.append(normalize_plan(fh.read()))
    return out


def plan_changed(before: list[str], after: list[str]) -> bool:
    """True when no capture on one side equals any on the other."""
    return not set(before) & set(after)


def diff(outdir: str, before: str, after: str) -> int:
    names = sorted(
        {
            f[: -len(f"_{s}.txt")]
            for f in os.listdir(outdir)
            for s in (before, after)
            if f.endswith(f"_{s}.txt")
        }
    )
    changed = 0
    for name in names:
        if plan_changed(captures(outdir, name, before), captures(outdir, name, after)):
            print(f"CHANGED {name}")
            changed += 1
    print(f"{changed} of {len(names)} queries changed plan")
    return 0


def main() -> int:
    if len(sys.argv) == 5 and sys.argv[1] == "--diff":
        return diff(*sys.argv[2:])
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

    def capture(name: str) -> str:
        df = workloads.QUERIES[name](spark, sf_dir)
        # collect() finalizes THIS Dataset's AQE plan in place (a noop
        # write would plan a separate command); headline outputs are
        # aggregate-sized
        df.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return normalize_plan(buf.getvalue())

    for name in names:
        try:
            first, second = capture(name), capture(name)
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:300]}")
            continue
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        alt = os.path.join(outdir, f"{name}_{suffix}.alt.txt")
        with open(path, "w") as fh:
            fh.write(first)
        if second != first:
            with open(alt, "w") as fh:
                fh.write(second)
            print(f"UNSTABLE {name}")
        elif os.path.exists(alt):
            os.remove(alt)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
