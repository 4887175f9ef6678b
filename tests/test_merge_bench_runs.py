"""tools/merge_bench_runs.py: the min-merge of bench runs."""

import json

from tools.merge_bench_runs import merge


def test_merge_lists_queries_failed_in_every_run(tmp_path):
    runs = [
        {"sf": 0.1, "queries": {"ok": 2.0, "flaky": -1, "dead": None}},
        {"sf": 0.1, "queries": {"ok": 1.5, "flaky": 3.0, "dead": -1}},
    ]
    paths = []
    for i, run in enumerate(runs):
        p = tmp_path / f"BENCH_LOCAL_t_run{i}.json"
        p.write_text(json.dumps(run))
        paths.append(str(p))
    payload = merge(paths)
    assert payload["queries"] == {"flaky": 3.0, "ok": 1.5}
    assert payload["value"] == 4.5
    assert payload["failed"] == ["dead"]
    assert payload["runs"] == 2 and payload["sf"] == 0.1
