"""Every raw driver collect in the package is a reviewed one.

A DataFrame ``.collect()``, ``.first()``, ``.take()``, ``.head()`` or
``.toPandas()`` pulls rows into the driver with no cap. A collect whose
size the data decides goes through ``functions.localrel.collect_bounded``;
the sites below are bounded by construction (a bitmap's num_bits/64
words, one geometry or meta row, a store's batch ids, at most k cluster
sums, a handful of quantiles). A new raw collect fails here until it is
reviewed and added, instead of reaching a 100 TB run unbounded.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "hadoop_multiple_streaming_spark"
COLLECTS = {"collect", "first", "take", "head", "toPandas"}

#: (module path under the package, enclosing function) -> raw collects
REVIEWED = Counter(
    {
        ("operators/bloom.py", "build_bloom"): 1,  # num_bits/64 words
        ("operators/bloom.py", "_fold_bitmaps"): 2,  # one geometry row, the words
        ("operators/bloom.py", "compact_bloom_store"): 1,  # the store's batch ids
        ("operators/bloom.py", "load_bloom"): 1,  # limit(2), exactly one row
        ("operators/similarity.py", "kmeans_lloyd"): 1,  # at most k cluster sums
        ("operators/similarity.py", "vector_norm_bounds"): 1,  # one agg row
        ("operators/similarity.py", "read_ivf_norm_bounds"): 1,  # one meta row
        ("workloads/similarity.py", "ann_ivfpq_adc"): 2,  # 16 centroids, 16x8 codebook
        ("sources/io.py", "write_training_shards"): 1,  # one agg row
        ("functions/packing.py", "global_running_total"): 1,  # one quantile row
        ("functions/localrel.py", "collect_bounded"): 1,  # the cap itself
    }
)


def _functions_aliases(tree: ast.Module) -> set[str]:
    """Names bound to ``pyspark.sql.functions`` — ``F.first(...)`` is an
    aggregate expression, not a collect."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            names |= {a.asname or a.name for a in node.names if a.name == "functions"}
        elif isinstance(node, ast.Import):
            names |= {
                a.asname for a in node.names if a.name == "pyspark.sql.functions" and a.asname
            }
    return names


def raw_collects() -> Counter:
    found: Counter = Counter()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        functions = _functions_aliases(tree)
        module = path.relative_to(PACKAGE).as_posix()

        def visit(node: ast.AST, scope: str) -> None:
            for child in ast.iter_child_nodes(node):
                inner = scope
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    inner = f"{scope}.{child.name}" if scope else child.name
                elif (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in COLLECTS
                    and not (
                        isinstance(child.func.value, ast.Name)
                        and child.func.value.id in functions
                    )
                ):
                    found[(module, scope or "<module>")] += 1
                visit(child, inner)

        visit(tree, "")
    return found


def test_raw_collects_are_the_reviewed_set():
    found = raw_collects()
    assert found == REVIEWED, {
        "unreviewed": dict(found - REVIEWED),
        "gone from the code, drop from REVIEWED": dict(REVIEWED - found),
    }
