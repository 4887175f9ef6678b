"""Fan-out orchestration (F1, O1-O5) — the reference's raison d'être.

Reference architecture: phase 1 reads the input ONCE and fans every
record out to N mapper subprocesses whose outputs land in
``out/mapoutput/<dirKey>/``; phase 2 submits N independent shuffle+
reduce jobs concurrently and polls them (MultiStreamJobRunner.java:26-86,
MultiPipeMapper.java:150-169).

Spark translation: Catalyst does NOT share a scan across actions, so
sharing is explicit (SURVEY §4.1):

* share_mode="persist"    — cache the scan (memory-and-disk) and run
  branch writes concurrently from a thread pool; FAIR scheduler pools
  keep one branch from starving the rest. Right when the scan fits
  cluster memory+disk.
* share_mode="materialize" — reproduce the reference's phase 1: one
  job pipes every record through all N mappers and writes
  ``out/mapoutput/<dirKey>/`` in a single pass, then per-branch
  shuffle+reduce jobs read those (restartable, and the only option at
  100 TB where the cache can't hold the input).
* share_mode="none"       — each branch re-reads the source. Right for
  columnar inputs where branches prune different columns: N cheap
  pruned scans beat one fat cached scan.

Failure isolation: one branch failing does not kill its siblings; per
-branch success/fail is reported at the end and the job exit code
reflects any failure (MultiStreamJobRunner.java:109-124, O4).
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..functions.kv import with_key_val
from ..operators.aggregate import aggregate_reduce
from ..operators.pipe import make_counters, pipe_map, pipe_reduce, read_counters
from ..sources.io import (
    read_key_value_text,
    read_table,
    read_text,
    ship_files,
    table_to_lines,
    write_kv_text,
    write_table,
)
from .model import AGGREGATE, Branch, JobSpec

# exit-code contract (O4, MapStreamJob.java:997-1027)
EXIT_OK = 0
EXIT_USAGE = 1
EXIT_BAD_INPUT = 2
EXIT_INVALID_CONF = 3
EXIT_OUTPUT_EXISTS = 4
EXIT_IO = 5


@dataclass
class BranchResult:
    dir_key: str
    success: bool
    output_path: str
    error: str | None = None
    seconds: float = 0.0


@dataclass
class JobResult:
    results: list[BranchResult] = field(default_factory=list)
    seconds: float = 0.0
    #: P7/O5: totals from the subprocess stderr counter protocol
    counters: dict[str, int] = field(default_factory=dict)

    @property
    def succeeded(self) -> bool:
        return all(r.success for r in self.results)

    @property
    def exit_code(self) -> int:
        if self.succeeded:
            return EXIT_OK
        return exit_code_for(" ".join(r.error or "" for r in self.results))


def exit_code_for(error: str) -> int:
    """The exit code for a failed job's error text: output exists, bad
    input path, or IO for anything else."""
    if "already exists" in error:
        return EXIT_OUTPUT_EXISTS
    if "Path does not exist" in error or "PATH_NOT_FOUND" in error:
        return EXIT_BAD_INPUT
    return EXIT_IO


#: file extensions Spark cannot range-split — the scan-level partition
#: floor (minPartitionNum) has no effect on these; fall back to an
#: explicit repartition so the pipe-parallelism contract holds
_NON_SPLITTABLE_EXTS = (".gz", ".zst", ".zstd", ".snappy", ".deflate", ".lz4", ".br")


def _has_non_splittable_input(spec: JobSpec) -> bool:
    return any(p.lower().endswith(_NON_SPLITTABLE_EXTS) for p in spec.inputs)


def _load_input(spark: SparkSession, spec: JobSpec) -> DataFrame:
    """Scan once; normalize everything to a single `line` column (the
    pipe world's record model, §1.1). Typed formats are serialized
    tab-KV AFTER projection so the parquet scan stays pruned.

    The min_input_partitions floor is applied at the SCAN via the
    split confs (set/restored by run_job); see _with_min_partitions
    for the non-splittable-input fallback."""
    if spec.input_format == "text":
        return _with_min_partitions(read_text(spark, spec.inputs), spec)
    if spec.input_format == "keyvalue":
        kv = read_key_value_text(spark, spec.inputs, spec.separator, spec.num_key_fields)
        from ..functions.kv import join_key_val

        return _with_min_partitions(
            kv.select(join_key_val("key", "value", spec.separator).alias("line")), spec
        )
    # typed table -> lines bridge
    dfs = [
        read_table(spark, p, spec.input_format, **spec.input_options) for p in spec.inputs
    ]
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other)
    if spec.input_columns:
        df = df.select(*spec.input_columns)  # pruning reaches the scan
    return _with_min_partitions(table_to_lines(df, spec.separator), spec)


def _with_min_partitions(lines: DataFrame, spec: JobSpec) -> DataFrame:
    """Parallelism floor. For splittable inputs it is already applied
    at scan time via ``spark.sql.files.minPartitionNum`` (set in
    run_job) — the file source plans >= N splits directly, no shuffle,
    no eager ``rdd.getNumPartitions()`` plan materialization. Inputs
    Spark cannot range-split (gzip/zstd/...) always scan as one
    partition per file regardless of the conf, so the explicit
    repartition shuffle is the only way to honor the floor there —
    but it is a FLOOR, not a target: with more files than n the scan
    already exceeds it, and repartition(n) would both SHRINK
    parallelism and pay a full shuffle, so the guard checks the actual
    scan partition count first (getNumPartitions is driver-side plan
    work only — acceptable on this rare compressed-input path)."""
    n = spec.min_input_partitions
    if (
        n
        and _has_non_splittable_input(spec)
        and lines.rdd.getNumPartitions() < n
    ):
        return lines.repartition(n)
    return lines


def _apply_mapper(branch: Branch, lines: DataFrame, spec: JobSpec, counters=None) -> DataFrame:
    """mapper -> DataFrame[key, value]. ``lines`` has one column; a
    native mapper sees it under its own name, and a single-column
    result (or the input itself, for ``mapper=None``) is split with
    splitKeyVal whatever that column is called."""
    out = lines
    if callable(branch.mapper):
        out = branch.mapper(lines)
        if set(out.columns) == {"key", "value"}:
            return out
        if len(out.columns) != 1:
            raise ValueError(
                f"native mapper for branch {branch.dir_key!r} must return "
                f"(key, value) or a single line column, got {out.columns}"
            )
    elif branch.mapper is not None:
        return pipe_map(
            lines, branch.mapper, spec.separator, spec.num_key_fields,
            opts=spec.pipe, counters=counters,
        )
    return with_key_val(
        out.withColumnRenamed(out.columns[0], "line"), "line", spec.separator, spec.num_key_fields
    )


def _apply_reducer(branch: Branch, kv: DataFrame, spec: JobSpec, counters=None) -> DataFrame:
    """reducer -> DataFrame[key, value] (or kv unchanged when map-only)."""
    if branch.is_map_only:
        return kv
    if branch.reducer == AGGREGATE:
        return aggregate_reduce(kv)
    if callable(branch.reducer):
        return branch.reducer(kv)
    return pipe_reduce(
        kv,
        branch.reducer,
        num_partitions=branch.num_reduce_tasks,
        separator=spec.separator,
        num_key_fields=spec.num_key_fields,
        opts=spec.pipe,
        counters=counters,
        partition_fields=spec.partition_fields,
        sort_fields=spec.sort_fields,
    )


def build_branches(lines: DataFrame, spec: JobSpec, counters=None) -> dict[str, DataFrame]:
    """Every branch's DataFrame over one line frame, mapper then reducer
    — the whole input for the batch runner, one micro-batch for
    ``streaming.fanout.stream_fanout``."""
    return {
        b.dir_key: _apply_reducer(b, _apply_mapper(b, lines, spec, counters), spec, counters)
        for b in spec.branches
    }


def _scan_and_branches(
    spark: SparkSession, spec: JobSpec, counters=None
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The single scan (persisted when share_mode="persist") and every
    branch's DataFrame over it."""
    lines = _load_input(spark, spec)
    if spec.share_mode == "persist":
        lines = lines.persist(StorageLevel.MEMORY_AND_DISK)
    return lines, build_branches(lines, spec, counters)


def plan_branches(spark: SparkSession, spec: JobSpec) -> dict[str, DataFrame]:
    """Build (but do not run) every branch's DataFrame — the plan IR is
    the DataFrame itself, inspectable with .explain() (replaces the
    reference's listJobConfProperties debugging surface, §3.2)."""
    return _scan_and_branches(spark, spec)[1]


def _materialize_phase1(
    spark: SparkSession, spec: JobSpec, mode: str, counters=None
) -> dict[str, DataFrame]:
    """Reference phase 1: run every branch's MAPPER over the single
    scan and write out/mapoutput/<dirKey>/ in one concurrent wave; the
    reduce phase then reads those files (restartability at 100 TB —
    the cache can't hold the input, but HDFS can).

    The intermediate round-trips with ONE consistent framing: written
    and re-read with spec.separator and spec.num_key_fields. (The
    reference normalizes its intermediate to tab at
    MultiPipeMapRed.java:462 but also re-splits it with the job's own
    separator config in phase 2 — writing with the job separator keeps
    both sides of our round-trip agreeing for any separator.)"""
    import os

    def _is_complete(branch: Branch) -> bool:
        # resume: a _SUCCESS-marked intermediate is phase-1 output that
        # survived a previous run — reuse it; half-written dirs rewrite
        return spec.resume and os.path.exists(
            f"{spec.output}/mapoutput/{branch.dir_key}/_SUCCESS"
        )

    todo = [b for b in spec.branches if not _is_complete(b)]
    skipped = [b.dir_key for b in spec.branches if _is_complete(b)]
    if skipped:
        print(f"[runner] resume: reusing phase-1 intermediate for {sorted(skipped)}")
    inter: dict[str, DataFrame] = {}
    if todo:
        lines = _load_input(spark, spec).persist(StorageLevel.MEMORY_AND_DISK)

        def write_map_output(branch: Branch) -> None:
            kv = _apply_mapper(branch, lines, spec, counters)
            write_kv_text(
                kv,
                f"{spec.output}/mapoutput/{branch.dir_key}",
                spec.separator,
                mode="overwrite" if spec.resume else mode,
            )

        with ThreadPoolExecutor(max_workers=min(len(todo), 8)) as pool:
            list(pool.map(write_map_output, todo))
        lines.unpersist()
    for branch in spec.branches:
        inter[branch.dir_key] = read_key_value_text(
            spark,
            f"{spec.output}/mapoutput/{branch.dir_key}",
            spec.separator,
            spec.num_key_fields,
        )
    return inter


def run_job(
    spark: SparkSession,
    spec: JobSpec,
    progress_interval: float = 10.0,
) -> JobResult:
    """Execute the fan-out: all branch writes run concurrently (the
    reference submits all N reduce jobs then polls,
    MultiStreamJobRunner.java:48-83); a progress reporter logs
    completed/running branch keys (O3)."""
    t0 = time.monotonic()
    if spec.files or spec.archives:
        ship_files(spark, spec.files, spec.archives)
    mode = "overwrite" if spec.overwrite else "error"
    # P7: one counters accumulator for the whole job — subprocess
    # stderr `reporter:counter:...` lines land here (totals printed in
    # the final branch summary). Task retries/speculation can
    # over-count relative to Hadoop, which discards failed attempts.
    counters = make_counters(spark)

    # parallelism floor at the scan: split the files into at least N
    # partitions (pipe subprocess count == partition count) instead of
    # scanning narrow and repartitioning. minPartitionNum alone is
    # advisory (the 4 MB open-cost floor wins on small files), so drop
    # openCostInBytes too — the floor is an explicit per-job opt-in.
    # Originals restored in _restore_split_confs(); the setter sits
    # INSIDE the try below so a failing plan build can't leak
    # openCostInBytes=1 into the shared session (that conf makes every
    # later scan plan pathological tiny splits).
    _split_confs: dict[str, str | None] = {}

    def _restore_split_confs() -> None:
        for c, v in _split_confs.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)

    try:
        if spec.min_input_partitions:
            for c in (
                "spark.sql.files.minPartitionNum",
                "spark.sql.files.openCostInBytes",
            ):
                _split_confs[c] = spark.conf.get(c, None)
            spark.conf.set(
                "spark.sql.files.minPartitionNum", str(spec.min_input_partitions)
            )
            spark.conf.set("spark.sql.files.openCostInBytes", "1")
        return _run_job_planned(spark, spec, mode, counters, t0, progress_interval)
    finally:
        _restore_split_confs()


def _run_job_planned(
    spark: SparkSession,
    spec: JobSpec,
    mode: str,
    counters,
    t0: float,
    progress_interval: float,
) -> JobResult:
    """run_job body after conf setup (split confs restored by the
    caller's finally regardless of where this raises)."""
    if spec.share_mode == "materialize":
        inter = _materialize_phase1(spark, spec, mode, counters)
        plans = {
            b.dir_key: _apply_reducer(b, inter[b.dir_key], spec, counters)
            for b in spec.branches
        }
        shared = None
    else:
        lines, plans = _scan_and_branches(spark, spec, counters)
        shared = lines if spec.share_mode == "persist" else None

    done: dict[str, BranchResult] = {}
    done_lock = threading.Lock()

    def run_branch(branch: Branch) -> BranchResult:
        # FAIR pools isolate branch scheduling (one branch's long stage
        # doesn't starve siblings; reference runs N independent jobs)
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", branch.dir_key)
        path = f"{spec.output}/{branch.dir_key}"
        bt0 = time.monotonic()
        try:
            if spec.output_format == "text":
                write_kv_text(plans[branch.dir_key], path, spec.separator, branch.num_reduce_tasks, mode)
            else:
                # S9: typed final sink (-outputformat, the reference's
                # reflective OutputFormat load RedStreamJob.java:785-797)
                df = plans[branch.dir_key]
                if branch.num_reduce_tasks is not None:
                    df = df.coalesce(branch.num_reduce_tasks)  # G3 parity
                write_table(df, path, fmt=spec.output_format, mode=mode)
            res = BranchResult(branch.dir_key, True, path, seconds=time.monotonic() - bt0)
        except Exception as e:  # failure isolation: siblings keep going
            res = BranchResult(branch.dir_key, False, path, error=str(e)[:500], seconds=time.monotonic() - bt0)
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
        with done_lock:
            done[branch.dir_key] = res
        return res

    stop_reporting = threading.Event()

    def report() -> None:  # O3 progress poller
        while not stop_reporting.wait(progress_interval):
            with done_lock:
                completed = sorted(done)
            running = sorted(set(b.dir_key for b in spec.branches) - set(completed))
            print(
                f"[runner] completed {len(completed)}/{len(spec.branches)} "
                f"done={completed} running={running}"
            )

    reporter = threading.Thread(target=report, daemon=True)
    reporter.start()
    try:
        with ThreadPoolExecutor(max_workers=min(len(spec.branches), 8)) as pool:
            results = list(pool.map(run_branch, spec.branches))
    finally:
        stop_reporting.set()
        reporter.join()
        if shared is not None:
            shared.unpersist()

    result = JobResult(results=results, seconds=time.monotonic() - t0)
    for r in results:  # final verdict (reportSuccessful, O3/O4)
        status = "SUCCEEDED" if r.success else f"FAILED: {r.error}"
        print(f"[runner] branch {r.dir_key}: {status} ({r.seconds:.1f}s) -> {r.output_path}")
    totals = read_counters(counters)  # attempt-deduped (Hadoop parity)
    result.counters = totals
    for name in sorted(totals):  # O5: counter totals in the summary
        print(f"[runner] counter {name} = {totals[name]}")
    return result
