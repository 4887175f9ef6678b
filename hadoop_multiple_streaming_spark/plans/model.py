"""The engine's plan IR — explicit dataclasses instead of the
reference's stringly JobConf smuggling (stream.dir.key<i>,
stream.*.streamprocessor<i>, MapStreamJob.java:751-777; SURVEY §1.2).

A Branch is the reference's novel abstraction: a (dirKey, mapper,
reducer) triple parsed from ``-mapred "DIRKEY/mapCmd/redCmd"``
(MapStreamJob.java:266-278). The reference's '/'-delimited encoding
cannot express absolute paths — per SURVEY §1.2 we keep the concept
and fix the encoding ('|' delimiter, or construct Branch directly).

Mapper/reducer may each be:
  * a command string / argv list  -> subprocess pipe (P1/P2)
  * a Python callable             -> native branch (F3's Java-class
        branch, generalized): mapper f(DataFrame[line])->DataFrame
        with (key,value) or a single column; reducer
        f(DataFrame[key,value])->DataFrame[key,value]
  * None / "NONE"                 -> identity map / map-only branch
        (S11, -reducer NONE -> numReduceTasks(0),
        RedStreamJob.java:744-746,813-815)
  * reducer "aggregate"           -> the §2.5 aggregate family
        (RedStreamJob.java:747-749)

The batch runner (``plans.runner``) runs a branch over the whole input.
``streaming.fanout.stream_fanout`` runs the same branch plan once per
micro-batch: a native mapper gets the batch's single column under its
own name, and every reducer — pipe, ``aggregate`` or native — reduces
that micro-batch alone; nothing carries over between batches.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Union

from ..operators.pipe import PipeOptions

PipeCmd = Union[str, list[str]]
Transform = Callable  # DataFrame -> DataFrame

NONE = "NONE"
AGGREGATE = "aggregate"
#: how the branches share the input scan (JobSpec.share_mode, -shareMode)
SHARE_MODES = ("persist", "materialize", "none")


@dataclass
class Branch:
    dir_key: str
    mapper: PipeCmd | Transform | None = None
    reducer: PipeCmd | Transform | None = None
    #: reducer parallelism == number of output files (G3); None lets AQE
    #: size the reduce shuffle (at most spark.sql.shuffle.partitions);
    #: 0 makes the branch map-only, one file per map task
    #: (RedStreamJob.java:813-815)
    num_reduce_tasks: int | None = None

    def __post_init__(self) -> None:
        if self.num_reduce_tasks is not None and self.num_reduce_tasks < 0:
            raise ValueError(
                f"branch {self.dir_key!r}: num_reduce_tasks must be >= 0, "
                f"got {self.num_reduce_tasks}"
            )

    @classmethod
    def parse(cls, spec: str, delimiter: str = "|") -> "Branch":
        """Parse ``DIRKEY|mapperCmd|reducerCmd`` (README's advertised
        encoding, /root/reference/README.md:8-11; the reference's
        actual '/' delimiter is accepted as a fallback when the spec
        contains no '|')."""
        if delimiter not in spec and "/" in spec:
            delimiter = "/"
        parts = spec.split(delimiter)
        if not 1 <= len(parts) <= 3:
            raise ValueError(f"bad branch spec {spec!r}: want DIRKEY|mapper|reducer")
        dir_key = parts[0]
        mapper = parts[1] if len(parts) > 1 and parts[1] else None
        reducer = parts[2] if len(parts) > 2 and parts[2] else None
        if not dir_key:
            raise ValueError(f"bad branch spec {spec!r}: empty dirKey")
        return cls(dir_key=dir_key, mapper=mapper, reducer=reducer)

    @property
    def is_map_only(self) -> bool:
        return self.reducer is None or self.reducer == NONE or self.num_reduce_tasks == 0


@dataclass
class JobSpec:
    """One fan-out job: N branches over one input, one scan."""

    inputs: list[str]
    output: str
    branches: list[Branch]
    input_format: str = "text"  # text | keyvalue | parquet | csv | json
    #: for typed inputs: project to these columns BEFORE serializing to
    #: lines, so the pruning reaches the parquet scan (a scan that reads
    #: all columns for a 2-column pipe feed is wrong at 100 TB)
    input_columns: list[str] | None = None
    #: parallelism floor for the scan: pipe subprocess count == partition
    #: count, so a small single-file input would otherwise run every
    #: branch through ONE subprocess (the reference's parallelism came
    #: from HDFS splits; at 100 TB the scan yields plenty — this knob is
    #: for small/medium inputs with expensive mappers)
    min_input_partitions: int | None = None
    #: G2 (KeyFieldBasedPartitioner): partition the reduce shuffle on
    #: these 1-based key subfields instead of the whole key
    partition_fields: list[int] | None = None
    #: G5 (KeyFieldBasedComparator): sort within partitions on these
    #: (field, ascending[, numeric]) tuples — Hadoop secondary sort
    sort_fields: list[tuple] | None = None
    #: the (key, value) split of every line (splitKeyVal): this
    #: separator, and the key spans this many fields
    #: (stream.map.output.field.separator /
    #: stream.num.map.output.key.fields, MultiPipeMapper.java:117-124);
    #: typed inputs are serialized to lines with the same separator
    separator: str = "\t"
    num_key_fields: int = 1
    #: every pipe's configuration (-cmdenv and the stream.* keys)
    pipe: PipeOptions = field(default_factory=PipeOptions)
    files: list[str] = field(default_factory=list)  # -file shipping (S10)
    #: -cacheArchive: archives unpacked into task working dirs (S10)
    archives: list[str] = field(default_factory=list)
    #: one of SHARE_MODES. "persist" = cache the scan in executors;
    #: "materialize" = one map-only job over one scan writes every
    #: branch's mapoutput/<dirKey>/, like the reference's phase 1
    #: (right at 100 TB, SURVEY §4.1); "none" = re-scan per branch
    #: (input already fast/columnar and branches prune differently).
    share_mode: str = "persist"
    #: S9 (-outputformat, RedStreamJob.java:785-797): final sink format
    #: per branch output. "text" = the reference's TextOutputFormat
    #: (`key SEP value` lines via write_kv_text); any other name is a
    #: DataSourceV2 format (parquet/csv/json/orc/...) written from the
    #: (key, value) frame via write_table — the reflective
    #: class-for-name load, Spark-style.
    output_format: str = "text"
    overwrite: bool = False
    #: materialize mode only: branches whose mapoutput/<dirKey>/ already
    #: exists WITH a _SUCCESS marker skip phase 1 and reduce straight
    #: from the existing intermediate — the restart story at 100 TB (a
    #: failed run's completed map work is never repeated; the reference
    #: gets this from HDFS job recovery). Half-written intermediates
    #: (no _SUCCESS) are rewritten.
    resume: bool = False

    def __post_init__(self) -> None:
        if not self.branches:
            raise ValueError("JobSpec needs at least one branch")
        keys = [b.dir_key for b in self.branches]
        if len(set(keys)) != len(keys):
            raise ValueError(f"duplicate branch dirKeys: {keys}")
        if self.share_mode not in SHARE_MODES:
            raise ValueError(
                f"share_mode must be one of {', '.join(SHARE_MODES)}; "
                f"got {self.share_mode!r}"
            )
