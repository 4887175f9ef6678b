"""M5 baseline (BASELINE.md): time the DuckDB oracle of every headline
bench query at the bench scale factor — the single-node engine-to-beat
that makes the "within 2x of baseline" contract falsifiable. Prints ONE
JSON line mirroring bench.py's shape:

    python tools/bench_baseline.py [sf_dir]

DuckDB runs the SAME ANSI SQL the correctness gate uses, on the same
parquet files, with the same thread count bench.py gives Spark
(SPARK_GRAFT_CPUS, default 32). Queries without a SQL oracle (sketches,
iterative ops) report -1.0 and are excluded from the total, so compare
per-query, not totals, when sets differ.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hadoop_multiple_streaming_spark.workloads.tables import TABLES  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from bench import HEADLINE

    from hadoop_multiple_streaming_spark import workloads

    workloads.load_all()

    con = duckdb.connect()
    con.execute(f"SET threads TO {cpus}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    times: dict[str, float] = {}
    for name in HEADLINE:
        sql = workloads.ORACLES.get(name)
        if sql is None:
            times[name] = -1.0
            continue
        try:
            con.execute(sql).fetchall()  # warm (page cache + plan)
            # SAME estimator as bench.py's Spark side (min of two timed
            # runs after the warm pass) — asymmetric estimators would
            # systematically favor whichever side takes the min
            best = -1.0
            for _ in range(2):
                t0 = time.monotonic()
                con.execute(sql).fetchall()
                dt = round(time.monotonic() - t0, 3)
                best = dt if best < 0 else min(best, dt)
            times[name] = best
        except Exception as e:
            print(f"[baseline] {name} FAILED: {str(e)[:200]}", file=sys.stderr)
            times[name] = -1.0
    total = round(sum(t for t in times.values() if t >= 0), 3)
    print(
        json.dumps(
            {
                "metric": "baseline_duckdb_total_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "threads": cpus,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
