"""Sources and sinks (SURVEY §2.1, S1-S11).

The reference's world is line-oriented text on HDFS with a
``<out>/mapoutput/<dirKey>/`` intermediate and ``<out>/<dirKey>/``
final layout (MultiStreamJobRunner.java:48-73, PartitionByKeyField.java).
This module reproduces that surface on Spark and adds the typed-table
bridge (parquet/csv/json -> tab-separated lines) the correctness
harness uses.

Scale notes: text scans split by spark.sql.files.maxPartitionBytes —
at 100 TB that is the parallelism lever. Globs and multi-path are
native to the DataFrame reader (S2). Output partitioning: one file per
partition, so a sink writes as many files as its frame has partitions
(G3 — reducer count == output file count in the reference; the batch
runner coalesces to the branch's reducer count before the sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.kv import join_key_val, with_key_val
from ..session import scoped_conf

# ---------------------------------------------------------------- sources


def read_text(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S1/S2: line = record; multiple paths + globs native. Column is
    normalized to ``line`` (reference drops the byte-offset key —
    ignoreKey, MultiPipeMapper.java:94-97,152-157)."""
    p = [paths] if isinstance(paths, str) else list(paths)
    return spark.read.text(p).withColumnRenamed("value", "line")


def read_key_value_text(
    spark: SparkSession,
    paths: str | list[str],
    separator: str = "\t",
    num_key_fields: int = 1,
) -> DataFrame:
    """S3: KeyValueTextInputFormat — split each line at the first
    separator(s) into (key, value)."""
    return with_key_val(read_text(spark, paths), "line", separator, num_key_fields)


def read_sequence_as_text(spark: SparkSession, path: str) -> DataFrame:
    """S4: SequenceFileAsTextInputFormat — binary seq-file scan,
    stringified to (key, value). Uses the RDD sequenceFile reader (the
    one legacy-format hatch); modern data should be parquet."""
    rdd = spark.sparkContext.sequenceFile(path).map(lambda kv: (str(kv[0]), str(kv[1])))
    return spark.createDataFrame(rdd, "key string, value string")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    **options,
) -> DataFrame:
    """S5: custom format by name — DataSourceV2 does the reflective
    load the reference did with ``-inputformat <class>``
    (MapStreamJob.java:730-738)."""
    return spark.read.format(fmt).options(**options).load(path)


def read_custom_framing(
    spark: SparkSession,
    paths: str | list[str],
    line_sep: str,
) -> DataFrame:
    """S6: custom record framing — records delimited by an arbitrary
    separator instead of newline (the reference's -inputreader
    surface, MapStreamJob.java:823-840)."""
    p = [paths] if isinstance(paths, str) else list(paths)
    return spark.read.option("lineSep", line_sep).text(p).withColumnRenamed("value", "line")


def read_xml_records(
    spark: SparkSession,
    paths: str | list[str],
    begin: str,
    end: str,
) -> DataFrame:
    """S6: begin/end-tag framing — the reference's
    ``-inputreader StreamXmlRecordReader,begin=<page>,end=</page>``
    (MapStreamJob.java:823-840): each record is one ``begin…end`` span,
    tags included, one record per output line.

    Spark-first: split the files ON the begin tag (distributed text
    scan with a custom delimiter — splits records at block boundaries
    exactly like Hadoop's LineRecordReader would), then trim each chunk
    at its end tag and re-attach both tags. Text outside any
    begin/end span (prologue, inter-record whitespace) is dropped, and
    a trailing unterminated record is dropped — StreamXmlRecordReader's
    skip-to-next-begin behavior. Assumes non-nested records (the only
    form the reference's reader supports).

    The FIRST chunk of each file is everything before the first begin
    tag (the prologue) — never a record, and if it happens to contain
    the end tag (a comment, say) it must not fabricate one. File scans
    assign partition ids in split-offset order, so min
    monotonically_increasing_id per input_file_name identifies it
    exactly; the per-file window is tiny (file count, not record
    count)."""
    p = [paths] if isinstance(paths, str) else list(paths)
    from pyspark.sql.window import Window

    raw = spark.read.option("lineSep", begin).text(p).select(
        "value",
        F.input_file_name().alias("_f"),
        F.monotonically_increasing_id().alias("_ord"),
    )
    first = F.min("_ord").over(Window.partitionBy("_f"))
    return (
        raw.withColumn("_first", first)
        .where((F.col("_ord") != F.col("_first")) & (F.instr("value", end) > 0))
        .select(
            F.concat(
                F.lit(begin), F.substring_index("value", end, 1), F.lit(end)
            ).alias("line")
        )
    )


# ------------------------------------------------------------------ sinks


def write_kv_text(
    df_kv: DataFrame,
    path: str,
    separator: str = "\t",
    mode: str = "error",
) -> None:
    """S8: final text sink — ``key SEP value`` lines (TextOutputFormat),
    one file per partition. ``mode='error'`` preserves the reference's
    output-exists failure (exit code 4, O4)."""
    lines = df_kv.select(join_key_val("key", "value", separator).alias("line"))
    lines.write.mode(mode).text(path)


def write_demux(
    df: DataFrame,
    out: str,
    dir_key_col: str = "dir_key",
    line_col: str = "line",
    mode: str = "error",
) -> None:
    """S7: demultiplexing sink — route each record to a subdirectory
    named by its key and DROP the routing key from file contents
    (PartitionByKeyField.java:8-16), in one job. ``partitionBy`` writes
    ``out/<dir_key_col>=<v>/``; the materialize phase 1 of
    ``plans.runner.run_job`` gets the reference's bare
    ``mapoutput/<dirKey>/`` layout by demuxing on an integer branch
    index into a staging dir and renaming each ``b=<i>`` after the
    commit (``HadoopFS``)."""
    df.select(dir_key_col, line_col).write.mode(mode).partitionBy(dir_key_col).text(out)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    **options,
) -> None:
    """S9: custom output format by name, with the two layout knobs a
    100 TB pipeline needs:

    * ``partition_by`` — hive-style directory partitioning; reads with
      a filter on these columns prune whole directories before any
      file IO (PartitionFilters in the scan plan, not PushedFilters).
      Partition by low-cardinality columns only (a date, a language, a
      shard) — one directory per value.
    * ``max_records_per_file`` — caps file size so a skewed partition
      doesn't produce one giant file; pair with a pre-write
      repartition(partition cols) so each directory is written by few
      tasks (many tasks x many partitions = the small-files problem).
    """
    w = df.write.format(fmt).options(**options).mode(mode)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_partitions: int,
    fmt: str = "parquet",
) -> None:
    """Compaction pass for the small-files problem: rewrite a table
    directory into ``target_partitions`` files (size target_partitions
    ~= total_bytes / 128 MB). Streaming sinks and per-branch fan-out
    writes accrete small files; scheduled compaction keeps scan
    parallelism aligned with data size instead of file count. Writes
    to a hidden sibling, then swaps it in through ``HadoopFS``, so the
    table is never half-written and any filesystem URI works."""
    head, sep, name = path.rstrip("/").rpartition("/")
    tmp = f"{head}{sep}.{name}.compact"
    df = spark.read.format(fmt).load(path)
    df.repartition(target_partitions).write.format(fmt).mode("overwrite").save(tmp)
    fs = HadoopFS(spark, path)
    fs.delete(path)
    fs.rename(tmp, path)


def write_sized(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    target_mb: int = 128,
    mode: str = "error",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Size-targeted writer — the "every output file ~128 MB" contract
    a 100 TB pipeline needs (``compact_table`` fixes file COUNT; this
    one targets file SIZE without the caller knowing the byte total).

    Mechanism: the AQE ``REBALANCE`` hint + a scoped
    ``advisoryPartitionSizeInBytes``. REBALANCE inserts a runtime
    round-robin-ish exchange whose output partitions AQE coalesces AND
    SPLITS to the advisory size from the *measured* shuffle statistics
    — so a skewed upstream (one giant partition after a filter, a
    thousand slivers after a selective join) still lands as even
    ~target_mb files, which neither ``coalesce(n)`` (can't split) nor
    a blind ``repartition(n)`` (needs n known a priori) guarantees.
    Advisory size is measured on shuffle bytes (lz4-compressed rows),
    not final parquet bytes — for a columnar-compressible table the
    files land under the target, never wildly over; pass a larger
    ``target_mb`` to compensate when exact parquet sizing matters.

    The advisory/rebalance confs are set and restored around the
    write (session-scoped in Spark, so don't interleave with a
    concurrent advisory-sensitive write on the same session)."""
    if target_mb < 1:
        raise ValueError(f"write_sized: target_mb must be >= 1, got {target_mb}")
    scoped = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{int(target_mb)}m",
        # allow AQE to emit partitions smaller than advisory when
        # coalescing — otherwise tiny tables refuse to split/merge
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    }
    with scoped_conf(df.sparkSession, scoped):
        w = df.hint("rebalance").write.format(fmt).options(**options).mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    rows_per_shard: int,
    seed: int | str = 0,
    fmt: str = "parquet",
    mode: str = "error",
    manifest: bool = True,
    **options,
) -> None:
    """The LAST step of a curation pipeline: emit the corpus as
    deterministically shuffled, fixed-size training shards —
    ``path/shard=<k>/`` each holding exactly ``rows_per_shard`` rows
    (last shard ragged) of the seed-``seed`` global permutation, one
    file per shard.

    Composition of two primitives: ``sampling.global_shuffle`` (the
    two-pass range-bucketed ordinal — no single-partition window) and
    a hive-partitioned write repartitioned BY shard so each directory
    is written by exactly one task (no small-files explosion; shard
    count = ceil(n / rows_per_shard) directories). A trainer streams
    ``shard=k`` in ordinal order (`ordinal` is written inside each
    shard) and epoch re-shuffles are a new ``seed``, not a new layout.
    Shards are contiguous ordinal ranges, so any shard subset is
    itself an unbiased sample of the corpus.

    With ``manifest`` (default), the DURABLE output is read back and a
    ``path/_manifest`` parquet is written with one row per shard
    (shard, n_rows, min_ordinal, max_ordinal) — what a trainer needs
    to schedule reads and what an auditor needs to prove completeness.
    The read-back doubles as an integrity gate: every shard must hold
    a contiguous ordinal range starting at shard*rows_per_shard with
    exactly rows_per_shard rows (last shard ragged), else ValueError.
    Cost: one column-pruned scan of (shard, ordinal) over the files
    just written — two int columns, not the payload. The underscore
    prefix keeps the manifest invisible to readers of ``path`` (the
    convention Spark's own _spark_metadata relies on)."""
    if rows_per_shard < 1:
        raise ValueError(
            f"write_training_shards: rows_per_shard must be >= 1,"
            f" got {rows_per_shard}"
        )
    from ..functions.sampling import global_shuffle

    shuffled = global_shuffle(df, key_col, seed=seed).withColumn(
        "shard", F.expr(f"ordinal div {int(rows_per_shard)}")
    )
    (
        shuffled.repartition("shard")
        .sortWithinPartitions("shard", "ordinal")
        .write.format(fmt)
        .options(**options)
        .mode(mode)
        .partitionBy("shard")
        .save(path)
    )
    if manifest:
        from pyspark.errors import AnalysisException

        spark = df.sparkSession
        _MANIFEST_SCHEMA = (
            "shard long, n_rows long, min_ordinal long, max_ordinal long"
        )
        try:
            back = spark.read.format(fmt).options(**options).load(path)
        except AnalysisException:
            # an empty input wrote zero data files; some formats can't
            # infer a schema from that — a valid empty corpus, not an
            # integrity failure
            spark.createDataFrame([], _MANIFEST_SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{path}/_manifest")
            return
        # cast ordinal too: schemaless formats (csv) read it back as
        # string, and a lexicographic min/max would flag valid shards
        ordinal = F.col("ordinal").cast("long")
        m = (
            back.groupBy(F.col("shard").cast("long").alias("shard"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min(ordinal).alias("min_ordinal"),
                F.max(ordinal).alias("max_ordinal"),
            )
        ).persist()
        rps = int(rows_per_shard)
        n_shards = m.count()
        if n_shards == 0:
            # empty input -> zero shards is a VALID write; emit the
            # (empty) manifest rather than tripping the density gate
            m.coalesce(1).write.mode("overwrite").parquet(f"{path}/_manifest")
            m.unpersist()
            return
        # dense ids: a missing middle shard shifts max(shard) past
        # n_shards-1 even when every surviving shard checks out
        max_shard = m.agg(F.max("shard")).first()[0]
        bad = 0 if max_shard == n_shards - 1 else 1
        bad += m.where(
            (F.col("min_ordinal") != F.col("shard") * rps)
            | (F.col("max_ordinal") - F.col("min_ordinal") + 1 != F.col("n_rows"))
            | (
                (F.col("shard") != F.lit(n_shards - 1))
                & (F.col("n_rows") != rps)
            )
        ).count()
        if bad:
            m.unpersist()
            raise ValueError(
                f"write_training_shards: integrity check failed for {bad} "
                f"shard(s) under {path} — non-contiguous or mis-sized "
                "ordinal ranges in the written output"
            )
        m.coalesce(1).write.mode("overwrite").parquet(f"{path}/_manifest")
        m.unpersist()


class HadoopFS:
    """The Hadoop FileSystem behind a path, driven from the driver
    through the JVM: one API for plain local paths, ``file://`` URIs,
    HDFS and object stores, where ``os.path`` sees only the first."""

    def __init__(self, spark: SparkSession, path: str):
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._path(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._path(path)))

    def delete(self, path: str) -> None:
        """Recursive; nothing there is not an error."""
        self._fs.delete(self._path(path), True)

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._path(src), self._path(dst)):
            raise IOError(f"rename {src} -> {dst} failed")

    def mark_success(self, directory: str) -> None:
        """Write an empty ``_SUCCESS`` into ``directory``, creating it."""
        self._fs.create(self._path(f"{directory}/_SUCCESS"), True).close()


def ship_files(
    spark: SparkSession, files: list[str], archives: list[str] | None = None
) -> None:
    """S10: ``-file`` / ``-cacheFile`` / ``-cacheArchive`` shipping —
    scripts land in every task's working dir via SparkFiles (resolution
    in operators.pipe uses SparkFiles.getRootDirectory()); archives are
    unpacked by Spark (sc.addArchive)."""
    for f in files:
        spark.sparkContext.addFile(f)
    for a in archives or []:
        spark.sparkContext.addArchive(a)
