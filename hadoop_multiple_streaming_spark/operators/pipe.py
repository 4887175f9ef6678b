"""The pipe operator — subprocess mapper/reducer with streaming-compatible
line semantics (reference P1-P9, SURVEY §2.2).

The reference delegates ALL row-level computation to user subprocesses:
each input record is written to the subprocess stdin as a line, each
stdout line becomes an output record (MultiPipeMapRed.java:153-230 spawn,
MultiPipeMapper.java:150-169 feed, MROutputThread :427-510 drain). This
module reproduces those semantics on Spark:

* ``pipe_lines(df, cmd)`` — DataFrame[line] -> DataFrame[line] through a
  subprocess, one subprocess per partition, async writer thread so the
  feed never deadlocks against a full stdout pipe (the reference's
  MROutputThread/MRErrorThread decoupling, MultiPipeMapRed.java:427-627).
* ``pipe_fanout(df, cmds)`` — the same driver with N subprocesses per
  partition fed from one Arrow fence, lines tagged with their command
  (the reference's multi-pipe map task, MultiPipeMapper.java:150-169).
* stderr side-channel: ``reporter:counter:group,name,amount`` lines
  increment Spark accumulators; ``reporter:status:...`` is logged; other
  stderr passes through to the executor log (P7,
  MultiPipeMapRed.java:512-627; prefix configurable).
* exit-code policy (P9, stream.non.zero.exit.is.failure,
  MultiPipeMapRed.java:162-163,365-376) and record-skip-on-failure (P8,
  MultiPipeMapper.java:183-197).
* env injection (P6, MultiPipeMapRed.java:266-322): sanitized conf
  ("[^0-9A-Za-z] -> _") + user cmdenv + task context.
* quoted command-line splitting (P4, splitArgs
  MultiPipeMapRed.java:107-151) via shlex.

Scale note: this is deliberately the ONLY Python-worker surface in the
engine, and it crosses the boundary in Arrow batches (mapInPandas) —
the earlier per-row RDD pipe spent ~90% of its time on Python<->JVM
row serialization, not subprocess I/O (measured 10x at sf0.1; the
8-branch cat fan-out dropped 46s -> 20s). Each Spark partition maps to
one subprocess, so parallelism == partition count; at 100 TB size
partitions via spark.sql.files.maxPartitionBytes and feed the pipe
from a column-pruned scan serialized with functions.kv.to_lines
(projection happens BEFORE the Python boundary, JVM-side).
"""

from __future__ import annotations

import os
import queue
import shlex
import subprocess
import tempfile
import threading
from dataclasses import dataclass, field
from typing import Callable, Iterator

from pyspark import Accumulator, AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from ..functions.kv import join_key_val, join_key_val_bytes, with_key_val
from ..session import ensure_package_shipped
from .shuffle import partition_sort

LINE_SCHEMA = StructType([StructField("line", StringType(), True)])
BINARY_LINE_SCHEMA = StructType([StructField("line", BinaryType(), True)])

#: stderr report prefixes (stream.stderr.reporter.prefix, default
#: "reporter:" — MultiPipeMapRed.java:516-519,525-528)
COUNTER_PREFIX = "reporter:counter:"
STATUS_PREFIX = "reporter:status:"


#: Popen pipe buffer (reference BUFFER_SIZE, MultiPipeMapRed.java:79)
_BUFSIZE = 128 * 1024


@dataclass
class PipeOptions:
    """A job's pipe configuration (the reference's ``-D stream.*`` keys,
    mapped by ``cli.parse_job``; ``JobSpec.pipe`` carries it to every
    pipe of the job)."""

    #: -cmdenv NAME=VALUE pairs exported to the child
    env: dict[str, str] = field(default_factory=dict)
    #: exit!=0 fails the task when True (stream.non.zero.exit.is.failure,
    #: MultiPipeMapRed.java:162-163)
    non_zero_exit_is_failure: bool = True
    #: skip records on write failure once this many records were written
    #: (stream.minRecWrittenToEnableSkip_, MultiPipeMapRed.java:232-241);
    #: default disables skipping (fail the task).
    min_records_before_skip: int = 2**63 - 1
    #: child TMPDIR. The reference ALWAYS exports
    #: TMPDIR=java.io.tmpdir to the child (MultiPipeMapRed.java:204-205);
    #: None (the default) mirrors that — parent TMPDIR, else the OS
    #: tempdir. A non-None value is an ENGINE EXTENSION (surfaced as
    #: -D stream.tmpdir) overriding the export; the reference's
    #: stream.tmpdir (MapStreamJob.java:645) only staged client-side
    #: job jars and never reached the child env.
    tmpdir: str | None = None


def split_args(cmd: str | list[str]) -> list[str]:
    """Quoted command-line splitting (P4). The reference implements a
    hand-rolled quote-aware tokenizer (splitArgs,
    MultiPipeMapRed.java:107-151); shlex in POSIX mode matches its
    observable behavior for '...'/"..." quoting. An argv list is
    already split and is returned as a copy."""
    return shlex.split(cmd) if isinstance(cmd, str) else list(cmd)


def _build_env(opts: PipeOptions, partition_id: int, spark_conf: dict[str, str]) -> dict[str, str]:
    """P6: child env = parent env + sanitized engine conf + user cmdenv
    + task context. Hadoop exports the flattened JobConf with
    non-alphanumerics mapped to '_' (safeEnvVarName,
    MultiPipeMapRed.java:266-322)."""
    env = dict(os.environ)
    for k, v in spark_conf.items():
        safe = "".join(c if c.isalnum() else "_" for c in k)
        env[safe] = v
    env.update(opts.env)
    env["mapred_task_partition"] = str(partition_id)
    env["mapreduce_task_partition"] = str(partition_id)
    # Reference: TMPDIR is ALWAYS exported to the child
    # (MultiPipeMapRed.java:204-205 exports java.io.tmpdir). Extension:
    # stream.tmpdir (opts.tmpdir) overrides the exported value.
    env["TMPDIR"] = (
        opts.tmpdir
        if opts.tmpdir is not None
        else os.environ.get("TMPDIR", tempfile.gettempdir())
    )
    return env


def _resolve_executable(argv: list[str]) -> list[str]:
    """P5: bare argv tokens that name a shipped file resolve against the
    task's shipped files — the program (``wc_red.py``) as well as a
    script handed to an interpreter (``python3 wc_red.py``). The
    reference resolves via PATH + task cwd and chmods shipped scripts
    (MultiPipeMapRed.java:174-199). Absolute paths, PATH-resolvable
    names and every other token pass through."""
    try:
        from pyspark import SparkFiles

        root = SparkFiles.getRootDirectory()
    except Exception:
        return argv
    out = []
    for tok in argv:
        cand = os.path.join(root, tok)
        if "/" not in tok and os.path.isfile(cand):
            try:
                os.chmod(cand, 0o755)
            except OSError:
                pass
            tok = cand
        out.append(tok)
    return out


#: lines per stdin write / per yielded output batch. Sub-chunking the
#: Arrow batches keeps P8's written-record accounting fine-grained
#: enough for skip-mode decisions while amortizing the Python call
#: overhead (one write per 1000 lines, not per line).
_FEED_CHUNK = 1000
_OUT_CHUNK = 10_000


def _pipe_partition(
    batches: Iterator,
    argvs: list[list[str]],
    opts: PipeOptions,
    partition_id: int,
    spark_conf: dict[str, str],
    counters,  # dict-accumulator or None
    binary: bool = False,
    failed: Callable[[int, str], None] | None = None,
) -> Iterator[tuple[int, list]]:
    """Run one subprocess per command for this partition and feed them
    all the same records: each Arrow batch is encoded once and the same
    bytes go to every stdin, as the reference's map task writes each
    record to all N mappers (MultiPipeMapper.java:150-169). Yields
    ``(command index, lines)`` chunks; callers wrap them in pandas
    frames (Arrow both ways — measured ~10x faster than the per-row RDD
    pipe at sf0.1). Threads as in the reference: one feed, and per
    subprocess one stdout and one stderr drain
    (MultiPipeMapRunner.java:29-35 starts the drains before the feed);
    the stdout drains hand chunks over a bounded queue, so a slow
    consumer stalls them instead of buffering their output.

    A subprocess fails on a write error (P8, unless skip mode tolerates
    it) or a non-zero exit (P9). With ``failed=None`` the first failure
    raises in the task (a single pipe: ``pipe_lines``,
    ``grouped_pipe_reduce``); otherwise each is reported as
    ``failed(index, message)`` and its siblings carry on (the
    materialize fence). Counters count only subprocesses that succeeded.

    ``binary=True`` is the byte-faithful path (the reference's
    Text-is-bytes / BytesWritable passthrough,
    MultiPipeMapRed.java:729-746): the single input column carries raw
    bytes per line, stdin gets them verbatim joined by b'\\n', and
    stdout lines are yielded as raw bytes — NO decode/encode anywhere
    on the record path, so latin-1 logs or mixed binary survive
    bit-exactly. The stderr reporter side-channel stays text-decoded
    (its protocol is ASCII)."""
    n = len(argvs)
    env = _build_env(opts, partition_id, spark_conf)
    errors: list[str | None] = [None] * n
    procs = []
    for i, argv in enumerate(argvs):
        try:
            procs.append(
                subprocess.Popen(
                    _resolve_executable(argv),
                    stdin=subprocess.PIPE,
                    stdout=subprocess.PIPE,
                    stderr=subprocess.PIPE,
                    bufsize=_BUFSIZE,
                    env=env,
                )
            )
        except OSError as e:
            if failed is None:
                raise
            procs.append(None)
            errors[i] = f"pipe subprocess {argv!r} failed to start: {e}"
    live = [i for i, p in enumerate(procs) if p is not None]
    written = [0] * n
    skipped = [0] * n
    n_out = [0] * n
    reported: list[dict[str, int]] = [{} for _ in range(n)]
    feed_error: list[BaseException] = []
    hand_off: queue.Queue = queue.Queue(maxsize=2 * n)

    def feed() -> None:
        open_ = set(live)
        try:
            for pdf in batches:
                if not open_:
                    break
                col = pdf.iloc[:, 0]
                if binary:
                    lines = [b"" if v is None else bytes(v) for v in col.tolist()]
                else:
                    lines = col.fillna("").astype(str).tolist()
                for j in range(0, len(lines), _FEED_CHUNK):
                    chunk = lines[j : j + _FEED_CHUNK]
                    if binary:
                        data = b"\n".join(chunk) + b"\n"
                    else:
                        data = ("\n".join(chunk) + "\n").encode("utf-8")
                    for i in sorted(open_):
                        try:
                            procs[i].stdin.write(data)
                            written[i] += len(chunk)
                        except (BrokenPipeError, OSError) as e:
                            # P8: tolerate subprocess death mid-stream
                            # only once enough records were written
                            # (skip mode); else the subprocess failed
                            if written[i] >= opts.min_records_before_skip:
                                skipped[i] += len(chunk)
                            else:
                                errors[i] = (
                                    f"pipe subprocess {argvs[i]!r} failed while consuming "
                                    f"input (after {written[i]} records): {e}"
                                )
                            open_.discard(i)
        except Exception as e:  # the input itself failed: fail the task
            feed_error.append(e)
        finally:
            for i in live:
                try:
                    procs[i].stdin.close()
                except (BrokenPipeError, OSError):
                    pass

    def drain_stdout(i: int) -> None:
        buf: list = []
        try:
            for raw in procs[i].stdout:
                if binary:
                    buf.append(raw[:-1] if raw.endswith(b"\n") else raw)
                else:
                    buf.append(raw.decode("utf-8", errors="replace").rstrip("\n"))
                if len(buf) >= _OUT_CHUNK:
                    n_out[i] += len(buf)
                    hand_off.put((i, buf))
                    buf = []
            if buf:
                n_out[i] += len(buf)
                hand_off.put((i, buf))
        finally:
            hand_off.put((i, None))

    def drain_stderr(i: int) -> None:
        local = reported[i]
        for raw in procs[i].stderr:
            text = raw.decode("utf-8", errors="replace").rstrip("\n")
            if text.startswith(COUNTER_PREFIX):
                # reporter:counter:group,name,amount
                # (MultiPipeMapRed.java:590-616)
                body = text[len(COUNTER_PREFIX):]
                parts = body.split(",")
                if len(parts) == 3:
                    try:
                        amount = int(parts[2])
                    except ValueError:
                        continue
                    name = f"{parts[0]}.{parts[1]}"
                    local[name] = local.get(name, 0) + amount
            elif text.startswith(STATUS_PREFIX):
                print(f"[pipe status p{partition_id}] {text[len(STATUS_PREFIX):]}")
            else:
                print(f"[pipe stderr p{partition_id}] {text}")

    threads = [
        threading.Thread(target=fn, args=(i,), daemon=True)
        for i in live
        for fn in (drain_stderr, drain_stdout)
    ]
    threads.append(threading.Thread(target=feed, daemon=True))
    for t in threads:
        t.start()

    running = len(live)
    try:
        while running:
            i, lines = hand_off.get()
            if lines is None:
                running -= 1
            else:
                yield i, lines
    finally:
        if running:  # the consumer stopped early: end the children
            for i in live:
                procs[i].kill()
            while running:
                if hand_off.get()[1] is None:
                    running -= 1

    for t in threads:
        t.join()
    for i in live:
        rc = procs[i].wait()
        if errors[i] is None and rc != 0 and opts.non_zero_exit_is_failure:
            # P9: subprocess exit != 0 fails unless tolerated
            errors[i] = f"pipe subprocess {argvs[i]!r} exited with code {rc}"
    if feed_error:
        raise IOError(f"pipe input failed: {feed_error[0]}") from feed_error[0]
    if counters is not None:
        totals: dict[str, int] = {}
        for i in live:
            if errors[i] is None:
                for name, amount in (
                    *reported[i].items(),
                    ("pipe.records_written", written[i]),
                    ("pipe.records_read", n_out[i]),
                    ("pipe.records_skipped", skipped[i]),
                ):
                    totals[name] = totals.get(name, 0) + amount
        counters.add({_attempt_key(): totals})
    for i, message in enumerate(errors):
        if message is not None:
            if failed is None:
                raise IOError(message)
            failed(i, message)


def _attempt_key() -> str:
    """Key counter updates by (stage, partition, taskAttemptId) so
    retried / speculative task attempts can be deduplicated at read
    time — Hadoop discards failed attempts' counters
    (MultiPipeMapRed.java:512-627) and so must we, or every retry
    double-counts. taskAttemptId (globally unique, monotonically
    increasing) rather than attemptNumber: a stage RESUBMISSION after
    shuffle-fetch failure restarts attemptNumber at 0 in the new task
    set — two successful runs of the same partition would share a key
    and sum instead of dedup. The latest taskAttemptId wins."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is None:  # driver-side / local testing path
        return "driver:0:0"
    return f"{ctx.stageId()}:{ctx.partitionId()}:{ctx.taskAttemptId()}"


class _DictAccumulator(AccumulatorParam):
    """AccumulatorParam merging {attempt_key: {name: count}} dicts
    (P7 counters, attempt-keyed for retry dedup)."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for key, vals in b.items():
            cur = a.setdefault(key, {})
            for name, n in vals.items():
                cur[name] = cur.get(name, 0) + n
        return a


def make_counters(spark: SparkSession):
    """Create a counters accumulator for the stderr reporter protocol."""
    return spark.sparkContext.accumulator({}, _DictAccumulator())


def read_counters(counters) -> dict[str, int]:
    """Collapse attempt-keyed updates into job totals, keeping only the
    LAST attempt (highest taskAttemptId) per (stage, partition). A task
    that fails mid-stream and is retried — or re-runs in a resubmitted
    stage — contributes exactly one attempt's worth of counts: Hadoop's
    successful-attempt-only counter semantics. (A partition recomputed
    in a *different* stage — lineage recompute after an evicted persist
    — still counts per stage; persist/materialize the piped stage to
    avoid recompute, as run_job's share modes do.)"""
    best: dict[tuple[str, str], tuple[int, dict]] = {}
    for key, vals in (counters.value or {}).items():
        stage, part, attempt = key.split(":")
        k = (stage, part)
        a = int(attempt)
        if k not in best or a > best[k][0]:
            best[k] = (a, vals)
    totals: dict[str, int] = {}
    for _, vals in best.values():
        for name, n in vals.items():
            totals[name] = totals.get(name, 0) + n
    return totals


def _conf_export(spark: SparkSession) -> dict[str, str]:
    """Ship the engine to the executors and pick the conf exported to
    every child: only engine-relevant keys (the full flattened conf
    would be thousands of vars; the spirit of P6 without the bloat)."""
    ensure_package_shipped(spark)
    return {
        k: v
        for k, v in spark.sparkContext.getConf().getAll()
        if k.startswith(("spark.app", "spark.master"))
    }


def pipe_lines(
    df: DataFrame,
    cmd: str | list[str],
    opts: PipeOptions | None = None,
    counters=None,
) -> DataFrame:
    """DataFrame[line] -> DataFrame[line] through ``cmd``.

    One subprocess per partition (the reference spawns one per map task
    per branch, MultiPipeMapRed.java:171-221). The input DataFrame must
    have exactly one column; its type picks the record path.

    A BINARY column is the byte-faithful path, as in the reference
    (Text is bytes; BytesWritable passthrough,
    MultiPipeMapRed.java:729-746): lines round-trip bit-exactly and
    the result column is ``line: binary``. Line framing still applies
    (records are newline-separated, as in the reference): a 0x0A byte
    INSIDE a record splits it on read-back, exactly as it would in
    Hadoop streaming. Any other column type is rendered as text:
    stdin is UTF-8 and stdout is decoded with ``errors='replace'``, so
    a subprocess emitting non-UTF-8 bytes (latin-1 logs, mixed binary)
    gets them U+FFFD-mangled — read such input as binary.
    """
    opts = opts or PipeOptions()
    argv = split_args(cmd)
    if len(df.columns) != 1:
        raise ValueError(f"pipe_lines expects a single line column, got {df.columns}")
    binary = isinstance(df.schema[0].dataType, BinaryType)

    conf_export = _conf_export(df.sparkSession)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for _, lines in _pipe_partition(
            batches, [argv], opts, _partition_id(), conf_export, counters, binary=binary
        ):
            yield pd.DataFrame({"line": lines})

    # mapInPandas (Arrow both ways) keeps within-partition row order —
    # the sorted-stream reducer contract (G1) survives; one subprocess
    # per partition as before.
    return df.toDF("line").mapInPandas(
        run, schema=BINARY_LINE_SCHEMA if binary else LINE_SCHEMA
    )


class _FirstFailure(AccumulatorParam):
    """AccumulatorParam merging {command index: message} dicts, keeping
    one message per command."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for i, message in b.items():
            a.setdefault(i, message)
        return a


def pipe_fanout(
    df: DataFrame,
    cmds: list[str | list[str]],
    opts: PipeOptions | None = None,
    counters=None,
) -> tuple[DataFrame, Accumulator]:
    """DataFrame[line] -> DataFrame[b: int, line] through N commands in
    one fence: each task starts the N subprocesses for its partition,
    crosses the Arrow boundary once and writes every record to all of
    them; ``b`` is the index into ``cmds`` of the command that printed
    the line (the reference's multi-pipe map task,
    MultiPipeMapper.java:150-169).

    Returns the frame and an accumulator that, once an action over the
    frame has run, holds ``{b: message}`` for every command that failed
    (P8 write error, P9 non-zero exit, or a command that could not
    start). A failing command does not fail the task: its siblings'
    lines still come out, and the caller drops the failed command's.
    The line column's type picks the record path, as in :func:`pipe_lines`."""
    opts = opts or PipeOptions()
    argvs = [split_args(c) for c in cmds]
    if len(df.columns) != 1:
        raise ValueError(f"pipe_fanout expects a single line column, got {df.columns}")
    binary = isinstance(df.schema[0].dataType, BinaryType)
    failures = df.sparkSession.sparkContext.accumulator({}, _FirstFailure())
    conf_export = _conf_export(df.sparkSession)

    def record(i: int, message: str) -> None:
        failures.add({i: message})

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for i, lines in _pipe_partition(
            batches, argvs, opts, _partition_id(), conf_export, counters, binary, record
        ):
            yield pd.DataFrame({"b": i, "line": lines})

    schema = "b int, line binary" if binary else "b int, line string"
    return df.toDF("line").mapInPandas(run, schema=schema), failures


def _partition_id() -> int:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else -1


def pipe_map(
    df_lines: DataFrame,
    cmd: str | list[str],
    separator: str = "\t",
    num_key_fields: int = 1,
    opts: PipeOptions | None = None,
    counters=None,
) -> DataFrame:
    """Pipe-map (P1 for one branch): lines -> subprocess -> (key, value).

    The stdout split uses splitKeyVal semantics (functions.kv). The
    reference then normalizes the intermediate to ``key\\tvalue``
    (MultiPipeMapRed.java:458-463); we keep (key, value) columns — the
    normalization happens if/when serialized by join_key_val.

    A BINARY line column is the byte-faithful KV path: the subprocess
    sees raw bytes, and the stdout split scans bytes exactly as the
    reference's splitKeyVal does (MultiPipeMapRed.java:403-425),
    returning ``(key: binary, value: binary)`` — latin-1 keys survive
    bit-exact through the whole map→shuffle→reduce chain."""
    out = pipe_lines(df_lines, cmd, opts=opts, counters=counters)
    return with_key_val(out, "line", separator, num_key_fields)


def pipe_reduce(
    df_kv: DataFrame,
    cmd: str | list[str],
    num_partitions: int | None = None,
    separator: str = "\t",
    num_key_fields: int = 1,
    opts: PipeOptions | None = None,
    counters=None,
    partition_fields: list[int] | None = None,
    sort_fields: list[tuple] | None = None,
) -> DataFrame:
    """Pipe-reduce (P2/G1): hash-partition by key, sort by key within
    partitions, stream the whole sorted partition (`key\\tvalue` lines)
    through the reducer subprocess — Hadoop-reducer semantics where one
    subprocess sees ALL groups of its partition in key order
    (RedStreamJob.java:745-762; SURVEY §7 'hard' #3).

    partition_fields / sort_fields reproduce the G2/G5 surface
    (KeyFieldBasedPartitioner / KeyFieldBasedComparator): partition on
    chosen key subfields, sort within partitions on chosen subfields —
    one Exchange + one Sort either way.

    num_partitions is the reducer count (G3): N runs exactly N reducer
    subprocesses; None lets AQE size the shuffle (at most
    ``spark.sql.shuffle.partitions`` reducers, one for a small one).

    Returns (key, value) columns split from the reducer's stdout.

    BINARY (key, value) is the byte-faithful reduce: the shuffle
    hash-partitions and sorts on raw bytes (Spark's BinaryType ordering
    is unsigned-lexicographic, the same order Hadoop's
    Text/BytesWritable comparators use), lines are rebuilt by binary
    concat, and the reducer's stdout re-splits on bytes
    (MultiPipeMapRed.java:403-425). Key and value must then both be
    binary, and partition_fields/sort_fields (a text-subfield surface)
    are not supported.
    """
    if set(df_kv.columns) != {"key", "value"}:
        raise ValueError(f"pipe_reduce expects (key, value) columns, got {df_kv.columns}")
    binary = isinstance(df_kv.schema["key"].dataType, BinaryType)
    if binary != isinstance(df_kv.schema["value"].dataType, BinaryType):
        raise ValueError(
            "pipe_reduce: key and value must both be binary or both not, got "
            f"key {df_kv.schema['key'].dataType.simpleString()}, value "
            f"{df_kv.schema['value'].dataType.simpleString()}"
        )
    if binary and (partition_fields or sort_fields):
        raise ValueError(
            "pipe_reduce over binary (key, value) does not support "
            "partition_fields/sort_fields (text subfield semantics); "
            "pre-arrange the bytes"
        )
    arranged = partition_sort(df_kv, num_partitions, partition_fields, sort_fields, separator)
    join = join_key_val_bytes if binary else join_key_val
    lines = arranged.select(join("key", "value", separator).alias("line"))
    out = pipe_lines(lines, cmd, opts=opts, counters=counters)
    return with_key_val(out, "line", separator, num_key_fields)


def grouped_pipe_reduce(
    df_kv: DataFrame,
    cmd: str | list[str],
    separator: str = "\t",
    num_key_fields: int = 1,
    opts: PipeOptions | None = None,
) -> DataFrame:
    """Per-GROUP pipe reduce (the applyInPandas flavor of P2): one
    subprocess invocation per key group, fed only that group's sorted
    lines — full isolation between keys, unlike Hadoop's
    whole-partition streaming (pipe_reduce). Use when a reducer keeps
    state it must not leak across keys, at the cost of one process
    spawn per key.

    Grouped-map pandas path (Arrow batches both ways); each group runs
    through the same subprocess driver as pipe_reduce, so the child
    sees the same env (-cmdenv, TMPDIR, task partition) and exit-code
    policy: `key SEP value` lines on stdin (value-sorted within the
    group), stdout lines re-split by splitKeyVal.
    """
    opts = opts or PipeOptions()
    argv = split_args(cmd)
    conf_export = _conf_export(df_kv.sparkSession)

    def run_group(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["key", "value"], kind="mergesort")
        lines = [f"{k}{separator}{v}" for k, v in zip(pdf["key"], pdf["value"])]
        out = [
            line
            for _, chunk in _pipe_partition(
                iter([pd.DataFrame({"line": lines})]),
                [argv], opts, _partition_id(), conf_export, None,
            )
            for line in chunk
        ]
        return pd.DataFrame({"line": pd.Series(out, dtype=object)})

    out = df_kv.groupBy("key").applyInPandas(run_group, schema="line string")
    return with_key_val(out, "line", separator, num_key_fields)
