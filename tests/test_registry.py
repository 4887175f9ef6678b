"""Catalog-registry consistency guard.

A catalog that fails to load takes every catalog consumer down at
import (``__spark_entry__.queries()``, bench, pytest collection). This
test — plus the ``.git/hooks/pre-commit`` smoke installed by
``tools/install_hooks.py`` — pins that the catalog loads and that every
oracle names a registered query.
"""

from __future__ import annotations

import subprocess
import sys


def test_load_all_is_consistent():
    import hadoop_multiple_streaming_spark.workloads as w

    w.load_all()
    # every oracle corresponds to a registered query
    assert set(w.ORACLES) <= set(w.QUERIES)
    # rows-only (no-oracle) queries stay a deliberate, short list
    no_oracle = set(w.QUERIES) - set(w.ORACLES)
    assert no_oracle <= {"events_approx_profile"}, no_oracle


def test_registry_smoke_subprocess():
    """The exact command the pre-commit hook runs, from a clean
    interpreter (catches import-order issues the in-process test
    can't)."""
    proc = subprocess.run(
        [sys.executable, "tools/registry_smoke.py"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_table_load_cache_reuses_handle_and_sees_rewrites(spark, tmp_path):
    """The base-relation cache (opt r15) must (a) return the SAME lazy
    DataFrame for an unchanged path — that reuse is what removes the
    per-rep file listing + footer read from every query construction —
    and (b) read FRESH data after the path is rewritten (mtime key),
    so fixture-regenerating tests never see stale schema/rows."""
    from hadoop_multiple_streaming_spark.workloads import tables

    d = str(tmp_path)
    spark.range(3).toDF("x").write.mode("overwrite").parquet(f"{d}/part.parquet")
    a = tables.load(spark, d, "part")
    b = tables.load(spark, d, "part")
    assert a is b, "unchanged path must hit the cache"
    assert a.count() == 3

    import time as _t

    _t.sleep(0.05)  # dir mtime granularity
    spark.range(5).toDF("y").write.mode("overwrite").parquet(f"{d}/part.parquet")
    c = tables.load(spark, d, "part")
    assert c is not a, "rewritten path must miss the cache"
    assert c.columns == ["y"] and c.count() == 5


def test_table_count_footer_matches_job(spark, tmp_path):
    """r15: table_count answers from the parquet footer for local
    single-file tables (zero jobs), falls back to a count() job for
    directory tables, and refreshes when the file is rewritten."""
    import os
    import time

    from hadoop_multiple_streaming_spark.workloads.tables import table_count

    p = str(tmp_path / "t.parquet")
    spark.range(137).toPandas().to_parquet(p)
    assert table_count(spark, str(tmp_path), "t") == 137
    # rewrite -> new mtime key -> fresh footer read
    time.sleep(0.01)
    spark.range(5).toPandas().to_parquet(p)
    os.utime(p)
    assert table_count(spark, str(tmp_path), "t") == 5
    # directory-shaped table falls back to the count() job
    d = str(tmp_path / "d.parquet")
    spark.range(23).write.mode("overwrite").parquet(d)
    assert table_count(spark, str(tmp_path), "d") == 23


def test_spread_scan_derives_from_session_parallelism(spark):
    """r15 opt: the scan-starvation repartition derives its width from
    the session's defaultParallelism (local[$SPARK_GRAFT_CPUS] -> that
    core count) instead of a literal 32 tuned for local[32] — the
    driver's lower-core-count scaling bench must not pay 32 tasks on
    8 cores, and rows must be partition-count invariant."""
    from hadoop_multiple_streaming_spark.workloads import tables as T

    df = spark.range(100).toDF("doc_id")
    out = T.spread_scan(df)
    par = spark.sparkContext.defaultParallelism
    # public-surface assertions only (ADVICE r15 #2: the _jdf /
    # queryExecution JVM bridge is private and absent under Spark
    # Connect): partition count + row-set equality already pin the
    # behavior
    assert out.rdd.getNumPartitions() == par
    assert sorted(r.doc_id for r in out.collect()) == list(range(100))


def test_spread_scan_is_local_mode_only(spark, monkeypatch):
    """r16 (ADVICE #1): on a non-local master spread_scan must be a
    no-op — the unconditional round-robin added a full corpus shuffle
    on clusters, and defaultParallelism at construction time can be
    far below the eventual executor total under dynamic allocation."""
    from hadoop_multiple_streaming_spark.workloads import tables as T

    df = spark.range(10).toDF("doc_id")
    assert T.spread_scan(df) is not df  # local master: repartitioned
    real_master = spark.sparkContext.master

    class _FakeSC:
        master = "spark://cluster:7077"
        defaultParallelism = 4

    class _FakeSession:
        sparkContext = _FakeSC()

    monkeypatch.setattr(
        type(df), "sparkSession", property(lambda self: _FakeSession())
    )
    assert T.spread_scan(df) is df  # cluster master: untouched
    assert real_master.startswith("local")


def test_path_selectors_are_the_kept_set():
    """Every public parameter that picks between two implementations
    doubles the configurations the tests must cover, so the set is
    pinned — and it is empty: each operator has one path, chosen from
    what it observes (input size, column types), never from an option.
    A new ``impl``/``*_impl``/``family``/``binary`` parameter fails
    here until it earns a place."""
    import importlib
    import inspect
    import pkgutil
    import re

    found = set()
    for sub in ("operators", "functions", "streaming", "plans"):
        pkg = importlib.import_module(f"hadoop_multiple_streaming_spark.{sub}")
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if name.startswith("_") or fn.__module__ != mod.__name__:
                    continue
                found |= {
                    f"{name}.{p}"
                    for p in inspect.signature(fn).parameters
                    if re.fullmatch(r"impl|\w+_impl|family|binary", p)
                }
    assert found == set()
