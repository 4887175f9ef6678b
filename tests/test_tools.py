"""tools/: every script compiles, and every ``tools/<name>.py`` that a
live doc or a package source cites exists. The history docs
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
    dangling = [
        f"{src.relative_to(ROOT)}: tools/{name}.py"
        for src in sources
        for name in CITATION.findall(src.read_text(encoding="utf-8"))
        if not (ROOT / "tools" / f"{name}.py").exists()
    ]
    assert not dangling, dangling
