"""Hadoop-streaming-compatible CLI (SURVEY §3.1, O1/O4/O6).

    python -m hadoop_multiple_streaming_spark.cli \
        -input in.txt -output out \
        -mapred "WC|python wc_map.py|python wc_red.py" \
        -mapred "CAT|cat|NONE" \
        -file wc_map.py -file wc_red.py -cmdenv K=V -numReduceTasks 4

Flag surface mirrors the reference (usage text MapStreamJob.java:445-570):
-input (repeatable, globs), -output, -mapred/-multiple branch triples,
-file shipping, -cmdenv, -D conf passthrough, -numReduceTasks,
-inputformat, -separator/-numKeyFields. Exit codes: 1 usage, 2 bad
input path, 3 invalid conf, 4 output exists, 5 IO
(MapStreamJob.java:997-1027).

Reducer count (G3): ``-numReduceTasks N`` (or ``-D
mapred.reduce.tasks=N``; the flag wins) runs exactly N reducers per
branch and writes exactly N part files. Unset, AQE sizes each branch's
reduce shuffle from its bytes, capped at ``spark.sql.shuffle.partitions``
(one reducer and one file for a small branch). ``-numReduceTasks 0`` is
Hadoop's map-only job: every branch skips its reducer and writes one
file per map task.

The branch delimiter is '|' (the README's advertised encoding); the
reference's actual '/' encoding is auto-detected for specs without '|'
— fixing the bug where commands containing absolute paths could not be
expressed (SURVEY §1.2).

Java-class-name substitution: the reference loads -inputformat /
-outputformat / -partitioner reflectively as JVM classes
(MapStreamJob.java:730-738,863-871; RedStreamJob.java:785-797). This
engine substitutes the documented equivalents rather than loading
arbitrary user classes: -inputformat takes a DataSource format NAME
(text/keyvalue/parquet/csv/json — KeyValueTextInputFormat ≡ keyvalue),
-partitioner accepts KeyFieldBasedPartitioner semantics via the same
-D mapred.text.key.{partitioner,comparator}.options keys, and custom
output formats map to write_table(format=...). An arbitrary
user-supplied Java class has no Spark-side equivalent by design —
port the class's logic to a native branch callable instead.
"""

from __future__ import annotations

import argparse
import sys
from dataclasses import replace

from .operators.pipe import PipeOptions
from .plans.model import SHARE_MODES, Branch, JobSpec
from .plans.runner import EXIT_INVALID_CONF, EXIT_USAGE, exit_code_for, run_job
from .session import get_spark

#: The reference's ``-D stream.*`` JobConf keys -> (JobSpec or
#: PipeOptions, field, parser); parse_job pops each from the Spark conf
#: (MultiPipeMapRed.java:162-163,232-241, MultiPipeMapper.java:117-124).
STREAM_CONF = {
    "stream.map.output.field.separator": (JobSpec, "separator", str),
    "stream.num.map.output.key.fields": (JobSpec, "num_key_fields", int),
    "stream.non.zero.exit.is.failure": (
        PipeOptions,
        "non_zero_exit_is_failure",
        lambda v: v.strip().lower() != "false",
    ),
    "stream.minRecWrittenToEnableSkip_": (PipeOptions, "min_records_before_skip", int),
    "stream.minrecwrittentoenableskip": (PipeOptions, "min_records_before_skip", int),
    "stream.tmpdir": (PipeOptions, "tmpdir", str),
}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="hadoop-multiple-streaming-spark",
        description="Run multiple map/reduce pipelines over one input with a single scan.",
    )
    p.add_argument("-input", action="append", required=True, dest="inputs")
    p.add_argument("-output", required=True)
    p.add_argument(
        "-mapred",
        "-multiple",
        action="append",
        required=True,
        dest="branches",
        help='branch spec "DIRKEY|mapperCmd|reducerCmd" (reducer: cmd, NONE, or aggregate)',
    )
    p.add_argument("-file", "-cacheFile", action="append", default=[], dest="files")
    p.add_argument(
        "-cacheArchive",
        action="append",
        default=[],
        dest="archives",
        help="ship an archive (zip/tar) unpacked into task working dirs",
    )
    p.add_argument(
        "-inputColumns",
        default=None,
        help="comma-separated columns to project from typed inputs before "
        "serializing to lines (pruning reaches the scan)",
    )
    p.add_argument("-cmdenv", action="append", default=[], help="NAME=VALUE for subprocess env")
    p.add_argument("-D", "-jobconf", action="append", default=[], dest="conf", help="spark conf k=v")
    p.add_argument("-numReduceTasks", type=int, default=None)
    p.add_argument(
        "-inputformat",
        default="text",
        help="'text' (default), 'keyvalue' (KeyValueTextInputFormat), or "
        "any DataSourceV2 format name (parquet/csv/json/orc/...) — the "
        "reflective class load of MapStreamJob.java:730-738, by name",
    )
    p.add_argument(
        "-outputformat",
        default="text",
        help="'text' (default; TextOutputFormat `key SEP value` lines) or "
        "any DataSourceV2 format name (parquet/csv/json/orc/...) for the "
        "per-branch final sink (RedStreamJob.java:785-797)",
    )
    # None = take -D stream.map.output.field.separator /
    # stream.num.map.output.key.fields, else the JobSpec default
    p.add_argument("-separator", default=None)
    p.add_argument("-numKeyFields", type=int, default=None)
    p.add_argument("-shareMode", default="persist", choices=SHARE_MODES)
    p.add_argument(
        "-minPartitions",
        type=int,
        default=None,
        help="parallelism floor for the scan (pipe subprocess count == partition count)",
    )
    p.add_argument(
        "-partitioner",
        default=None,
        help="accepted for compatibility (KeyFieldBasedPartitioner); key-field "
        "options come from -D mapred.text.key.partitioner.options / "
        "mapred.text.key.comparator.options",
    )
    p.add_argument("-overwrite", action="store_true")
    p.add_argument(
        "-resume",
        action="store_true",
        help="materialize mode: reuse _SUCCESS-marked mapoutput/<dirKey>/ "
        "intermediates from a previous (failed) run instead of "
        "recomputing phase 1 for those branches",
    )
    p.add_argument("-master", default=None)
    return p


def parse_job(argv: list[str]) -> tuple[JobSpec, dict[str, str], str | None]:
    args = build_parser().parse_args(argv)
    cmd_env: dict[str, str] = {}
    for kv in args.cmdenv:
        if "=" not in kv:
            raise ValueError(f"-cmdenv wants NAME=VALUE, got {kv!r}")
        k, v = kv.split("=", 1)
        cmd_env[k] = v
    conf: dict[str, str] = {}
    for kv in args.conf:
        if "=" not in kv:
            raise ValueError(f"-D wants key=value, got {kv!r}")
        k, v = kv.split("=", 1)
        conf[k] = v
    # G3: -numReduceTasks, else -D mapred.reduce.tasks (the same JobConf
    # key, RedStreamJob.java:809-815), sizes every branch; unset leaves
    # the reduce shuffle to AQE, 0 runs every branch map-only
    reduce_tasks = args.numReduceTasks
    conf_reduce_tasks = conf.pop("mapred.reduce.tasks", None)
    if reduce_tasks is None and conf_reduce_tasks is not None:
        reduce_tasks = int(conf_reduce_tasks)
    branches = [
        replace(Branch.parse(s), num_reduce_tasks=reduce_tasks) for s in args.branches
    ]
    # the reference's stream.* JobConf keys route to the job and its
    # pipes, not Spark conf (O6: -D passthrough,
    # MapStreamJob.java:325-332); an explicit flag wins over its key
    spec_kw: dict[str, object] = {}
    pipe_kw: dict[str, object] = {}
    for key, (owner, name, parse) in STREAM_CONF.items():
        if key in conf:
            (pipe_kw if owner is PipeOptions else spec_kw)[name] = parse(conf.pop(key))
    if args.separator is not None:
        spec_kw["separator"] = args.separator
    if args.numKeyFields is not None:
        spec_kw["num_key_fields"] = args.numKeyFields
    # G2/G5: key-field partitioner/comparator options (the 0.20.2
    # KeyFieldBasedPartitioner/Comparator surface)
    from .operators.shuffle import parse_key_field_options

    partition_fields = None
    sort_fields = None
    part_opts = conf.pop("mapred.text.key.partitioner.options", None)
    if part_opts:
        partition_fields = [f[0] for f in parse_key_field_options(part_opts)]
    comp_opts = conf.pop("mapred.text.key.comparator.options", None)
    if comp_opts:
        sort_fields = parse_key_field_options(comp_opts)
    spec = JobSpec(
        inputs=args.inputs,
        output=args.output,
        branches=branches,
        input_format=args.inputformat,
        output_format=args.outputformat,
        input_columns=args.inputColumns.split(",") if args.inputColumns else None,
        pipe=PipeOptions(env=cmd_env, **pipe_kw),
        files=args.files,
        archives=args.archives,
        share_mode=args.shareMode,
        min_input_partitions=args.minPartitions,
        partition_fields=partition_fields,
        sort_fields=sort_fields,
        overwrite=args.overwrite,
        resume=args.resume,
        **spec_kw,
    )
    return spec, conf, args.master


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    try:
        spec, conf, master = parse_job(argv)
    except SystemExit as e:  # argparse usage error
        return EXIT_USAGE if e.code not in (0, None) else 0
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return EXIT_INVALID_CONF
    from pyspark.sql import SparkSession

    owned = SparkSession.getActiveSession() is None
    spark = get_spark(master=master, extra_conf=conf)
    try:
        result = run_job(spark, spec)
    except Exception as e:  # plan-time failures (before branch isolation)
        msg = str(e)
        print(f"error: {msg.splitlines()[0] if msg else e!r}", file=sys.stderr)
        return exit_code_for(msg)
    finally:
        if owned:
            spark.stop()
    return result.exit_code


if __name__ == "__main__":
    sys.exit(main())
