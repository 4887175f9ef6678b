"""SparkSession factory.

The reference exposed its config surface as ``-D``/``-jobconf`` JobConf
passthrough plus a handful of ``stream.*`` knobs
(MapStreamJob.java:325-332, MultiPipeMapRed.java:157,162-163,232-241).
Here the ``stream.*`` keys land on the job's ``PipeOptions``
(``cli.parse_job``) and everything else is Spark conf; the
SparkSession is tuned for OLAP-at-scale defaults: AQE on (runtime
re-plan, skew-join splitting, partition coalescing), UTC session
timezone (oracle comparability), Arrow for pandas interchange.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

#: runtime-settable SQL defaults: the builder sets them on a new
#: session, ``tune_session`` on one handed to us
_SQL_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _default_driver_memory() -> str:
    """Heap sized to the machine: half of physical RAM, clamped to
    [4g, 64g]. local[N] runs the executors INSIDE the driver JVM, so
    a fixed small -Xmx starves every core at once (a flat 8g on a
    32-core/128 GiB host is 256 MB/core — measured OOM on the exact
    n-gram Jaccard pair stream at sf4.0, where any real cluster gives
    an executor 2-8 GB/core). $SPARK_DRIVER_MEMORY still overrides."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        return f"{max(4, min(64, int(total // (1 << 30)) // 2))}g"
    except (ValueError, OSError, AttributeError):
        return "8g"


def get_spark(
    app_name: str = "hadoop-multiple-streaming-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-minded defaults.

    Local test runs honor $SPARK_GRAFT_CPUS; on a real cluster pass
    ``master=None`` and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 8, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=_SQL_DEFAULTS)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.scheduler.mode", "FAIR")
        # static conf, read once at first codegen: the default 100-entry
        # generated-class cache thrashes when a session runs a whole
        # query catalog (each multi-stage query compiles several
        # WholeStageCodegen classes; eviction = multi-second Janino
        # recompiles on re-run)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # A long-lived driver with a machine-sized heap almost never
        # runs a full GC, so the ContextCleaner (which cleans shuffle
        # files and broadcast blocks only after the driver GC collects
        # their references) effectively never fires; state from
        # COMPLETED jobs then accumulates until a later heavy job dies
        # with UNABLE_TO_ACQUIRE_MEMORY (measured: third consecutive
        # sf4.0 ngram-Jaccard run in one 64g session, after two clean
        # ~6-min passes). 5 min instead of the 30-min default bounds
        # that accumulation for exactly the session shape this engine
        # runs: one driver submitting many jobs back to back.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # lz4 (Spark's default) for shuffle/spill/broadcast blocks.
        # Round 10 defaulted this to zstd after it halved the sf8.0
        # ngram-Jaccard pair-shuffle disk footprint; a round-11
        # interleaved 4-config A/B on the FULL 40-query sf0.1 bench
        # (DEPLOY.md codec table) showed zstd costs ~6 s / +18% there —
        # family-shaped across 33/40 queries, i.e. a uniform per-stage
        # compression tax on floor-dominated work. lz4 is the right
        # default for compute-bound single-node runs; pass
        # extra_conf={"spark.io.compression.codec": "zstd"} (the CLI's
        # -D) when shuffle BYTES are the scarce resource — disk quotas,
        # network-bound multi-node shuffles, heavy-SF crossover runs.
        .config("spark.io.compression.codec", "lz4")
        # default-true, pinned EXPLICITLY (r13, the r12 verdict's
        # driver-host Arrow-inflation chase): every Arrow-fenced stage
        # (mapInPandas kernels, pandas_udfs) forks a Python worker per
        # core unless the pool is reused across jobs; an environment
        # that flipped this off would pay worker cold-start on every
        # rep and read as a sustained 3-6x Arrow-row inflation
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        # no console progress bar: PySpark turns it on, and in a
        # captured log it is mostly carriage-return redraws
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # ship the engine to executors unconditionally: module-level
    # closures (mapInPandas feature extractors, pandas_udf kernels,
    # the sentence UDTF) unpickle BY REFERENCE to engine modules, so a
    # worker whose cwd is not the repo (any real cluster; local runs
    # launched from another directory) dies with ModuleNotFoundError
    # unless the package zip rides sc.addPyFile. Idempotent per app.
    ensure_package_shipped(spark)
    return spark


_SHIPPED: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executors via ``sc.addPyFile`` (S10 — the
    reference ships user scripts/jars with -file/-cacheFile,
    MapStreamJob.java:282-288,890-906; here the engine ships ITSELF so
    closures that reference engine modules unpickle on any worker,
    local or cluster). Idempotent per SparkContext."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    fd, zip_path = tempfile.mkstemp(prefix="hms_spark_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    _SHIPPED.add(app_id)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine defaults to an externally-provided session (the
    driver harness hands us one); only runtime-settable confs."""
    for k, v in _SQL_DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs on a running session — leave as-is
    # the driver's session needs the engine on its executors for the
    # same reason get_spark ships it (see ensure_package_shipped)
    ensure_package_shipped(spark)
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session confs for the body of a ``with`` block, then put each
    back as it was: its previous value, or unset. ``get(k, None)``
    tells "unset" from an explicit value; a bare ``get(k)`` would
    resolve the built-in default and pin it on restore."""
    conf = spark.conf
    saved = {k: conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
