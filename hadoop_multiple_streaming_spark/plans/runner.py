"""Fan-out orchestration (F1, O1-O5) — the reference's raison d'être.

Reference architecture: phase 1 reads the input ONCE and fans every
record out to N mapper subprocesses whose outputs land in
``out/mapoutput/<dirKey>/``; phase 2 submits N independent shuffle+
reduce jobs concurrently and polls them (MultiStreamJobRunner.java:26-86,
MultiPipeMapper.java:150-169).

Spark translation: Catalyst does NOT share a scan across actions, so
sharing is explicit (SURVEY §4.1):

* share_mode="persist"    — cache the scan (memory-and-disk) and run
  the branch writes concurrently over it. Right when the scan fits
  cluster memory+disk.
* share_mode="materialize" — reproduce the reference's phase 1 as one
  map-only job over one uncached scan: each input split feeds all pipe
  mappers through one Arrow fence, native and identity mappers run
  beside it, and one demux write lands every branch in
  ``out/mapoutput/<dirKey>/`` (``_map_phase``); then per-branch
  shuffle+reduce jobs read those (restartable, and the only option at
  100 TB where the cache can't hold the input).
* share_mode="none"       — each branch re-reads the source. Right for
  columnar inputs where branches prune different columns: N cheap
  pruned scans beat one fat cached scan.

``run_job`` is one function: the split confs live in one
``session.scoped_conf``, one ``finally`` unpersists a cached scan
however the job ends, and the final branch writes run through
``_each_branch`` — one thread pool, each branch in its own FAIR
scheduler pool, polled from the calling thread with ``completed i/N``
progress lines.

Failure isolation: one branch failing does not kill its siblings; per
-branch success/fail is reported at the end and the job exit code
reflects any failure (MultiStreamJobRunner.java:109-124, O4). A
phase-1 pipe mapper failure is recorded for its branch instead of
failing (and retrying) the Spark task: the siblings' intermediates
still commit, then ``run_job`` raises the first failure in branch
order, so a ``resume`` run is the retry and redoes only the failed
branches.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.kv import join_key_val, to_lines, with_key_val
from ..operators.aggregate import aggregate_reduce
from ..operators.pipe import (
    make_counters,
    pipe_fanout,
    pipe_map,
    pipe_reduce,
    read_counters,
)
from ..sources.io import (
    HadoopFS,
    read_key_value_text,
    read_table,
    read_text,
    ship_files,
    write_demux,
    write_kv_text,
    write_table,
)
from ..session import scoped_conf
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
    split confs (scoped by run_job); see _with_min_partitions
    for the non-splittable-input fallback."""
    if spec.input_format == "text":
        return _with_min_partitions(read_text(spark, spec.inputs), spec)
    if spec.input_format == "keyvalue":
        kv = read_key_value_text(spark, spec.inputs, spec.separator, spec.num_key_fields)
        return _with_min_partitions(
            kv.select(join_key_val("key", "value", spec.separator).alias("line")), spec
        )
    # typed table -> lines bridge
    dfs = [read_table(spark, p, spec.input_format) for p in spec.inputs]
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other)
    if spec.input_columns:
        df = df.select(*spec.input_columns)  # pruning reaches the scan
    return _with_min_partitions(to_lines(df, spec.separator), spec)


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


def _shared_scan(spark: SparkSession, spec: JobSpec) -> DataFrame:
    """The single scan every branch reads, persisted when
    share_mode="persist"."""
    lines = _load_input(spark, spec)
    if spec.share_mode == "persist":
        lines = lines.persist(StorageLevel.MEMORY_AND_DISK)
    return lines


def plan_branches(spark: SparkSession, spec: JobSpec) -> dict[str, DataFrame]:
    """Build (but do not run) every branch's DataFrame — the plan IR is
    the DataFrame itself, inspectable with .explain() (replaces the
    reference's listJobConfProperties debugging surface, §3.2)."""
    return build_branches(_shared_scan(spark, spec), spec)


def _each_branch(spark: SparkSession, branches: list[Branch], fn, progress_interval: float) -> list:
    """Run ``fn(branch)`` for every branch at once, each in its branch's
    FAIR pool (one branch's long stage does not starve its siblings),
    and poll them like the reference's client, which submits its N jobs
    and then reports completed/running counts until all are done
    (MultiStreamJobRunner.java:48-108, O3). Results come back in branch
    order once every branch has finished; the first exception in
    branch order re-raises."""
    sc = spark.sparkContext

    def in_pool(branch: Branch):
        sc.setLocalProperty("spark.scheduler.pool", branch.dir_key)
        try:
            return fn(branch)
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    with ThreadPoolExecutor(max_workers=min(len(branches), 8)) as pool:
        futures = {pool.submit(in_pool, b): b.dir_key for b in branches}
        pending = set(futures)
        while pending:
            _, pending = wait(pending, timeout=progress_interval)
            if pending:
                running = sorted(futures[f] for f in pending)
                completed = sorted(k for f, k in futures.items() if f not in pending)
                print(
                    f"[runner] completed {len(completed)}/{len(branches)} "
                    f"done={completed} running={running}"
                )
    return [f.result() for f in futures]


def _map_phase(spark: SparkSession, spec: JobSpec, branches: list[Branch], counters) -> None:
    """Phase 1 as one job over one scan, the reference's map-only job:
    every input split feeds all pipe mappers through one fence
    (``pipe_fanout``), native and identity mappers run beside it, and
    one demux write sends each branch's lines, re-framed with
    splitKeyVal and the job's separator, to ``b=<i>`` of a hidden
    staging dir (an integer index, so no dirKey needs escaping). After
    the commit each ``b=<i>`` becomes ``mapoutput/<dirKey>/`` with a
    ``_SUCCESS`` marker (PartitionByKeyField.java:6-17).

    A pipe mapper's failure is recorded for its branch, not raised in
    the task: its staging dir is dropped, its siblings still commit,
    and the first failure in branch order raises here, so a resumed
    run redoes only the failed branches."""
    out = f"{spec.output}/mapoutput"
    staging = f"{out}/.staging"
    scan = _load_input(spark, spec)  # a missing input fails before any delete
    fs = HadoopFS(spark, out)
    for b in branches:
        target = f"{out}/{b.dir_key}"
        if fs.exists(target):
            if not (spec.overwrite or spec.resume):
                raise FileExistsError(f"path {target} already exists")
            fs.delete(target)
    pipes = [b for b in branches if b.mapper is not None and not callable(b.mapper)]
    others = [b for b in branches if b not in pipes]
    order = pipes + others  # staging b=<i> holds order[i]'s lines
    if bool(pipes) + len(others) > 1:  # more than one union child reads it
        scan = scan.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        parts = [
            _apply_mapper(b, scan, spec).select(F.lit(i).alias("b"), "key", "value")
            for i, b in enumerate(others, start=len(pipes))
        ]
        if pipes:
            fenced, failures = pipe_fanout(scan, [b.mapper for b in pipes], spec.pipe, counters)
            parts.append(with_key_val(fenced, "line", spec.separator, spec.num_key_fields))
        lines = [
            p.select("b", join_key_val("key", "value", spec.separator).alias("line"))
            for p in parts
        ]
        write_demux(reduce(DataFrame.union, lines), staging, "b", mode="overwrite")
    finally:
        if scan.is_cached:
            scan.unpersist()
    failed = failures.value if pipes else {}
    for i, b in enumerate(order):
        if i not in failed:
            target = f"{out}/{b.dir_key}"
            if fs.exists(f"{staging}/b={i}"):  # a branch with no lines has none
                fs.rename(f"{staging}/b={i}", target)
            fs.mark_success(target)
    fs.delete(staging)
    for b in branches:  # the first failure in branch order
        if order.index(b) in failed:
            raise IOError(failed[order.index(b)])


def run_job(
    spark: SparkSession,
    spec: JobSpec,
    progress_interval: float = 10.0,
) -> JobResult:
    """Execute the fan-out. In materialize mode phase 1 writes every
    branch's mapper output to ``out/mapoutput/<dirKey>/`` first, in one
    job (``_map_phase``; the reference's phase 1: the cache can't hold
    a 100 TB input, but HDFS can, and a resumed run reuses
    ``_SUCCESS``-marked intermediates); then all branch writes run
    concurrently."""
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
    # The scope restores both however the job ends: openCostInBytes=1
    # must never leak into the shared session (it makes every later
    # scan plan pathological tiny splits).
    split_confs = {
        "spark.sql.files.minPartitionNum": str(spec.min_input_partitions),
        "spark.sql.files.openCostInBytes": "1",
    } if spec.min_input_partitions else {}

    def write_branch(branch: Branch) -> BranchResult:
        path = f"{spec.output}/{branch.dir_key}"
        bt0 = time.monotonic()
        try:
            df = plans[branch.dir_key]
            if branch.num_reduce_tasks:  # G3: reducer count == file count
                df = df.coalesce(branch.num_reduce_tasks)
            if spec.output_format == "text":
                write_kv_text(df, path, spec.separator, mode)
            else:
                # S9: typed final sink (-outputformat, the reference's
                # reflective OutputFormat load RedStreamJob.java:785-797)
                write_table(df, path, fmt=spec.output_format, mode=mode)
            return BranchResult(branch.dir_key, True, path, seconds=time.monotonic() - bt0)
        except Exception as e:  # failure isolation: siblings keep going
            return BranchResult(
                branch.dir_key, False, path, error=str(e)[:500], seconds=time.monotonic() - bt0
            )

    scan: DataFrame | None = None  # unpersisted below if it was persisted
    with scoped_conf(spark, split_confs):
        try:
            if spec.share_mode == "materialize":
                # resume: a _SUCCESS-marked intermediate survived a
                # previous run — reuse it; half-written dirs rewrite
                fs = HadoopFS(spark, spec.output)
                reused = {
                    b.dir_key for b in spec.branches
                    if spec.resume
                    and fs.exists(f"{spec.output}/mapoutput/{b.dir_key}/_SUCCESS")
                }
                if reused:
                    print(f"[runner] resume: reusing phase-1 intermediate for {sorted(reused)}")
                todo = [b for b in spec.branches if b.dir_key not in reused]
                if todo:
                    _map_phase(spark, spec, todo, counters)
                plans = {
                    b.dir_key: _apply_reducer(
                        b,
                        read_key_value_text(
                            spark,
                            f"{spec.output}/mapoutput/{b.dir_key}",
                            spec.separator,
                            spec.num_key_fields,
                        ),
                        spec,
                        counters,
                    )
                    for b in spec.branches
                }
            else:
                scan = _shared_scan(spark, spec)
                plans = build_branches(scan, spec, counters)
            results = _each_branch(spark, spec.branches, write_branch, progress_interval)
        finally:
            if scan is not None and scan.is_cached:
                scan.unpersist()

    result = JobResult(results=results, seconds=time.monotonic() - t0)
    for r in results:  # final verdict (reportSuccessful, O3/O4)
        status = "SUCCEEDED" if r.success else f"FAILED: {r.error}"
        print(f"[runner] branch {r.dir_key}: {status} ({r.seconds:.1f}s) -> {r.output_path}")
    totals = read_counters(counters)  # attempt-deduped (Hadoop parity)
    result.counters = totals
    for name in sorted(totals):  # O5: counter totals in the summary
        print(f"[runner] counter {name} = {totals[name]}")
    return result
