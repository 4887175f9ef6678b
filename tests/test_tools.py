"""tools/: every script compiles, and every ``tools/<name>.py`` that a
live doc, a package source, a tool or bench.py cites exists. The history docs
(BASELINE.md, CROSSOVER.md, VERDICT.md, OPTIMIZATION_r*.md) record
tools as they were and are not scanned."""

from __future__ import annotations

import py_compile
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted((ROOT / "tools").glob("*.py"))
LIVE_DOCS = ["README.md", "DEPLOY.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md"]
CITATION = re.compile(r"(?<![\w/])tools/(\w+)\.py")


@pytest.mark.parametrize("path", TOOLS, ids=[p.name for p in TOOLS])
def test_tool_compiles(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "out.pyc"), doraise=True)


def test_cited_tools_exist():
    sources = [ROOT / d for d in LIVE_DOCS if (ROOT / d).exists()]
    sources += sorted((ROOT / "hadoop_multiple_streaming_spark").rglob("*.py"))
    sources += TOOLS + [ROOT / "bench.py"]
    dangling = [
        f"{src.relative_to(ROOT)}: tools/{name}.py"
        for src in sources
        for name in CITATION.findall(src.read_text(encoding="utf-8"))
        if not (ROOT / "tools" / f"{name}.py").exists()
    ]
    assert not dangling, dangling


def test_normalize_plan_drops_only_run_noise():
    """Two captures of one tree differ in expression ids, plan ids,
    codegen ids, AQE query-stage ids, lambda-variable and common-
    subexpression counters and temp-dir names; normalising makes them
    equal, and a changed operator still shows."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "capture_plans", ROOT / "tools" / "capture_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def capture(ids, codegen, stage, plan_id, tmp):
        return (
            f"(2) Project [transform(v#{ids}, lambdafunction(lambda x_{ids}#{ids}L))]\n"
            f"Output [1]: [(v#{ids} > 50) AS _common_expr_{stage}#{ids}]\n"
            f"(3) HashAggregate [codegen id : {codegen}]\n"
            f"Input [2]: [k#{ids}L, v#{ids + 1}]\n"
            f"Arguments: hashpartitioning(k#{ids}L, 4), ENSURE_REQUIREMENTS, "
            f"[plan_id={plan_id}]\n"
            "(5) ShuffleQueryStage\n"
            f"Arguments: {stage}\n"
            f"Location: InMemoryFileIndex [file:/tmp/{tmp}/index/corpus]\n"
        )

    a = capture(12, 2, 0, 519, "hms_ivf_index_k3x9_a")
    b = capture(40, 5, 3, 1077, "hms_ivf_index_q81z_b")
    assert a != b
    assert mod.normalize_plan(a) == mod.normalize_plan(b)
    changed = a.replace("HashAggregate", "SortAggregate")
    assert mod.normalize_plan(changed) != mod.normalize_plan(a)
    assert mod.normalize_plan(a.replace("4), ENSURE", "8), ENSURE")) != (
        mod.normalize_plan(a)
    )


def test_plan_diff_flags_only_disjoint_captures(tmp_path, capsys):
    """A query captured twice per side is CHANGED only when no capture
    on one side equals any capture on the other: a plan that flips
    between two shapes at one commit is not reported as a change."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "capture_plans", ROOT / "tools" / "capture_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    assert not mod.plan_changed(["A", "B"], ["B"])  # unstable before, one shape after
    assert not mod.plan_changed(["A"], ["B", "A"])
    assert mod.plan_changed(["A", "B"], ["C"])
    assert mod.plan_changed(["A"], [])  # query gone on one side

    for name, text in {
        "q8_before": "A", "q8_before.alt": "B", "q8_after": "B",
        "q1_before": "X", "q1_after": "Y",
    }.items():
        (tmp_path / f"{name}.txt").write_text(text)
    assert mod.captures(str(tmp_path), "q8", "before") == ["A", "B"]
    assert mod.captures(str(tmp_path), "q1", "after") == ["Y"]
    mod.diff(str(tmp_path), "before", "after")
    assert capsys.readouterr().out.splitlines() == [
        "CHANGED q1",
        "1 of 2 queries changed plan",
    ]
