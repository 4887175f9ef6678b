"""Min-merge the round's bench runs into one judge-facing artifact
(the r15 protocol): per-query min across every committed
runs/BENCH_LOCAL_<tag>_run*.json, total = sum of mins. Raw runs and
their reps/ctrl sidecars stay committed in runs/ — the merge never
hides a contended row, it only summarizes the quiet minima. A query
with no value >= 0 in any run has no minimum: it is listed under
"failed" (and on the printed line) instead of silently shrinking the
total.

    python tools/merge_bench_runs.py TAG [OUT]

e.g.  python tools/merge_bench_runs.py r16 BENCH_MERGE_r16.json
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def merge(paths: list[str]) -> dict:
    """The min-merge payload of the given run files."""
    mins: dict[str, float] = {}
    seen: set[str] = set()
    sf = None
    for p in paths:
        with open(p) as fh:
            d = json.load(fh)
        sf = d.get("sf", sf)
        for q, v in d["queries"].items():
            seen.add(q)
            if v is None or v < 0:
                continue
            if q not in mins or v < mins[q]:
                mins[q] = v
    return {
        "metric": "total_query_sec_minmerge",
        "value": round(sum(mins.values()), 3),
        "unit": "sec",
        "runs": len(paths),
        "queries": {q: mins[q] for q in sorted(mins)},
        "failed": sorted(seen - set(mins)),
        "sf": sf,
        "source_runs": [os.path.basename(p) for p in paths],
    }


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    tag = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, f"BENCH_MERGE_{tag}.json"
    )
    paths = sorted(glob.glob(os.path.join(REPO, "runs", f"BENCH_LOCAL_{tag}_run*.json")))
    if not paths:
        print(f"no runs/BENCH_LOCAL_{tag}_run*.json found")
        return 1
    payload = merge(paths)
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=False)
    failed = f"; failed in every run: {payload['failed']}" if payload["failed"] else ""
    print(
        f"{payload['value']} s over {len(payload['queries'])} queries from "
        f"{len(paths)} runs{failed} -> {out}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
