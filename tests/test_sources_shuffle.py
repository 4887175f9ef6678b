"""Tests for sources/sinks (S4/S6/S7) and the shuffle surface
(G1/G2/G5), plus the materialize-mode separator regression."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_multiple_streaming_spark.operators.shuffle import (
    group_sorted,
    parse_key_field_options,
    partition_sort,
)
from hadoop_multiple_streaming_spark.plans.model import Branch, JobSpec
from hadoop_multiple_streaming_spark.plans.runner import run_job
from hadoop_multiple_streaming_spark.sources.io import (
    read_custom_framing,
    read_sequence_as_text,
    write_demux,
)


def test_sequence_file_as_text(spark, tmp_path):
    # S4: write a real Hadoop SequenceFile via the RDD API, read it
    # back stringified
    path = str(tmp_path / "seq")
    spark.sparkContext.parallelize([("k1", "v1"), ("k2", "v2")], 2).saveAsSequenceFile(path)
    got = {(r.key, r.value) for r in read_sequence_as_text(spark, path).collect()}
    assert got == {("k1", "v1"), ("k2", "v2")}


def test_custom_framing(spark, tmp_path):
    # S6: records separated by a custom delimiter instead of newline
    p = tmp_path / "framed.txt"
    p.write_text("rec1|rec2|rec3")
    got = sorted(r.line for r in read_custom_framing(spark, str(p), "|").collect())
    assert got == ["rec1", "rec2", "rec3"]


def test_xml_record_framing(spark, tmp_path):
    # S6: StreamXmlRecordReader parity — begin/end-tag records, tags
    # kept, prologue/whitespace/unterminated-tail dropped
    from hadoop_multiple_streaming_spark.sources.io import read_xml_records

    p = tmp_path / "pages.xml"
    p.write_text(
        "<mediawiki>\n"
        "<page><title>A</title></page>\n"
        "<page><title>B</title>\nmultiline body</page>\n"
        "<page>unterminated trailing record"
    )
    got = sorted(
        r.line
        for r in read_xml_records(spark, str(p), "<page>", "</page>").collect()
    )
    assert got == [
        "<page><title>A</title></page>",
        "<page><title>B</title>\nmultiline body</page>",
    ]


def test_write_demux_layout(spark, tmp_path):
    # S7: route records to subdirectories by key, key dropped from
    # contents (PartitionByKeyField semantics)
    df = spark.createDataFrame(
        [("A", "one"), ("B", "two"), ("A", "three")], "dir_key string, line string"
    )
    out = str(tmp_path / "demux")
    write_demux(df, out)
    a = sorted(r.value for r in spark.read.text(out + "/dir_key=A").collect())
    b = sorted(r.value for r in spark.read.text(out + "/dir_key=B").collect())
    assert a == ["one", "three"] and b == ["two"]


def test_partition_sort_secondary_sort(spark):
    # G5: partition on key field 1, sort by fields 1 asc + 2 desc —
    # each partition holds whole key-groups in order
    rows = [(f"{k}\t{i}", "v") for k in ["a", "b"] for i in [1, 3, 2]]
    df = spark.createDataFrame(rows, "key string, value string")
    arranged = partition_sort(
        df, 2, partition_fields=[1], sort_fields=[(1, True), (2, False)], separator="\t"
    )
    parts = arranged.rdd.glom().collect()
    for part in parts:
        keys = [r.key for r in part]
        by_first = {}
        for key in keys:
            by_first.setdefault(key.split("\t")[0], []).append(key.split("\t")[1])
        for first, seconds in by_first.items():
            assert seconds == sorted(seconds, reverse=True), (first, seconds)
    # every key-group lives in exactly one partition
    first_fields = [{k.split("\t")[0] for k in (r.key for r in part)} for part in parts]
    all_firsts = [f for s in first_fields for f in s]
    assert len(all_firsts) == len(set(all_firsts))


def test_group_sorted_contract(spark):
    df = spark.createDataFrame(
        [(k, str(i)) for i, k in enumerate("bacbac")], "key string, value string"
    )
    for n in (3, None):  # None: the shuffle sizes itself
        parts = group_sorted(df, n).rdd.glom().collect()
        for part in parts:
            keys = [r.key for r in part]
            assert keys == sorted(keys)
        homes = [{r.key for r in part} for part in parts]
        assert sum(len(h) for h in homes) == len(set().union(*homes)) == 3


def test_parse_key_field_options():
    assert parse_key_field_options("-k1,1 -k2,2nr") == [
        (1, True, False),
        (2, False, True),
    ]
    assert parse_key_field_options("-k3") == [(3, True, False)]
    assert parse_key_field_options("-k2,4r") == [
        (2, False, False),
        (3, False, False),
        (4, False, False),
    ]
    with pytest.raises(ValueError):
        parse_key_field_options("bogus")


def test_pipe_reduce_key_field_options(spark, tmp_path):
    # G2/G5 wiring: partition on key field 1, secondary-sort by field 2
    # descending; the cat reducer echoes its sorted input stream, so
    # each output partition must be ordered (f1 asc, f2 desc)
    from hadoop_multiple_streaming_spark.operators.pipe import pipe_reduce

    rows = [(f"{k}\t{i}", f"v{k}{i}") for k in ["a", "b"] for i in [1, 3, 2]]
    df = spark.createDataFrame(rows, "key string, value string")
    out = pipe_reduce(
        df,
        "cat",
        num_partitions=2,
        num_key_fields=2,
        partition_fields=[1],
        sort_fields=[(1, True), (2, False)],
    )
    got = {(r.key, r.value) for r in out.collect()}
    assert got == {(f"{k}\t{i}", f"v{k}{i}") for k in ["a", "b"] for i in [1, 3, 2]}


def test_cli_partitioner_options(spark, tmp_path):
    from hadoop_multiple_streaming_spark.cli import parse_job

    spec, conf, _ = parse_job(
        [
            "-input", "in", "-output", "out",
            "-mapred", "X|cat|cat",
            "-partitioner", "org.apache.hadoop.mapred.lib.KeyFieldBasedPartitioner",
            "-D", "mapred.text.key.partitioner.options=-k1,1",
            "-D", "mapred.text.key.comparator.options=-k1,1 -k2,2nr",
        ]
    )
    assert spec.partition_fields == [1]
    assert spec.sort_fields == [(1, True, False), (2, False, True)]
    assert "mapred.text.key.partitioner.options" not in conf


def test_cli_reduce_tasks_conf_key_sizes_branches():
    # G3: -D mapred.reduce.tasks sizes every branch like
    # -numReduceTasks and leaves the Spark conf; the flag wins over it
    from hadoop_multiple_streaming_spark.cli import parse_job

    base = ["-input", "in", "-output", "out", "-mapred", "X|cat|cat", "-mapred", "Y|cat|cat"]
    spec, conf, _ = parse_job(base)
    assert [b.num_reduce_tasks for b in spec.branches] == [None, None]
    spec, conf, _ = parse_job([*base, "-D", "mapred.reduce.tasks=5", "-D", "spark.x=1"])
    assert [b.num_reduce_tasks for b in spec.branches] == [5, 5]
    assert conf == {"spark.x": "1"}
    spec, conf, _ = parse_job([*base, "-D", "mapred.reduce.tasks=5", "-numReduceTasks", "2"])
    assert [b.num_reduce_tasks for b in spec.branches] == [2, 2]
    assert conf == {}


def _cli_sorted_lines(spark, tmp_path, lines, comparator_options):
    # one cat reducer task, so its output file is the sorted stream
    from hadoop_multiple_streaming_spark.cli import main as cli_main

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "data.txt").write_text("".join(line + "\n" for line in lines))
    rc = cli_main(
        [
            "-input", str(indir),
            "-output", str(tmp_path / "out"),
            "-mapred", "S|cat|cat",
            "-numReduceTasks", "1",
            "-D", "stream.num.map.output.key.fields=2",
            "-D", f"mapred.text.key.comparator.options={comparator_options}",
        ]
    )
    assert rc == 0
    return [r.value for r in spark.read.text(str(tmp_path / "out" / "S")).collect()]


def test_cli_numeric_key_field_sort(spark, tmp_path):
    # -k2,2nr sorts field 2 as a number, descending: 100 > 10 > 9
    # (as strings, descending would give 9, 100, 10)
    got = _cli_sorted_lines(
        spark, tmp_path, ["a\t9\tx", "a\t100\ty", "a\t10\tz"], "-k1,1 -k2,2nr"
    )
    assert got == ["a\t100\ty", "a\t10\tz", "a\t9\tx"]


def test_cli_key_field_range_sorts_every_field(spark, tmp_path):
    # -k1,2r covers fields 1 AND 2, both descending
    lines = ["a\t1\tv", "b\t1\tv", "a\t2\tv", "b\t3\tv", "a\t3\tv"]
    got = _cli_sorted_lines(spark, tmp_path, lines, "-k1,2r")
    assert got == ["b\t3\tv", "b\t1\tv", "a\t3\tv", "a\t2\tv", "a\t1\tv"]


def test_cli_stream_conf_keys_set_job_and_pipe_fields():
    # each -D stream.* key (the reference's spellings, plus the
    # lowercase skip key) sets its field and leaves the Spark conf
    from hadoop_multiple_streaming_spark.cli import parse_job

    base = ["-input", "in", "-output", "out", "-mapred", "X|cat|cat", "-D", "spark.x=1"]
    cases = {
        "stream.map.output.field.separator": (",", lambda s: s.separator, ","),
        "stream.num.map.output.key.fields": ("2", lambda s: s.num_key_fields, 2),
        "stream.non.zero.exit.is.failure": (
            "false", lambda s: s.pipe.non_zero_exit_is_failure, False,
        ),
        "stream.minRecWrittenToEnableSkip_": (
            "5", lambda s: s.pipe.min_records_before_skip, 5,
        ),
        "stream.minrecwrittentoenableskip": (
            "7", lambda s: s.pipe.min_records_before_skip, 7,
        ),
        "stream.tmpdir": ("/tmp/stream", lambda s: s.pipe.tmpdir, "/tmp/stream"),
    }
    for key, (raw, get, want) in cases.items():
        spec, conf, _ = parse_job([*base, "-D", f"{key}={raw}"])
        assert get(spec) == want, key
        assert conf == {"spark.x": "1"}, key
    from hadoop_multiple_streaming_spark.cli import STREAM_CONF

    assert set(cases) == set(STREAM_CONF)

    # an explicit flag wins over its -D key
    spec, conf, _ = parse_job(
        [
            *base,
            "-D", "stream.map.output.field.separator=,",
            "-D", "stream.num.map.output.key.fields=2",
            "-separator", ";",
            "-numKeyFields", "3",
        ]
    )
    assert (spec.separator, spec.num_key_fields) == (";", 3)
    assert conf == {"spark.x": "1"}


def test_cli_parquet_input_with_column_pruning(spark, tmp_path):
    # S5 + pruned typed->lines bridge through the real CLI
    from hadoop_multiple_streaming_spark.cli import main as cli_main

    src = tmp_path / "tbl"
    spark.createDataFrame(
        [("en", "hello world", 99), ("fr", "bonjour", 98)],
        "lang string, text string, extra int",
    ).write.parquet(str(src))
    rc = cli_main(
        [
            "-input", str(src),
            "-output", str(tmp_path / "out"),
            "-mapred", "LC|cat|NONE",
            "-inputformat", "parquet",
            "-inputColumns", "lang,text",
            "-minPartitions", "2",
        ]
    )
    assert rc == 0
    lines = sorted(
        r.value for r in spark.read.text(str(tmp_path / "out" / "LC")).collect()
    )
    # extra column pruned away; lang\ttext round-tripped through cat
    assert lines == ["en\thello world", "fr\tbonjour"]


def test_cli_bad_input_exit_code(spark, tmp_path):
    from hadoop_multiple_streaming_spark.cli import main as cli_main
    from hadoop_multiple_streaming_spark.plans.runner import EXIT_BAD_INPUT

    rc = cli_main(
        [
            "-input", str(tmp_path / "does_not_exist"),
            "-output", str(tmp_path / "out2"),
            "-mapred", "X|cat|NONE",
        ]
    )
    assert rc == EXIT_BAD_INPUT


def test_materialize_mode_custom_separator(spark, tmp_path):
    # regression: materialize mode used to write the intermediate with
    # a hardcoded tab but read it back expecting the job separator,
    # corrupting every non-tab job ('a,b,v1' came back as 'a,b\tv1,')
    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "data.txt").write_text("a,b,v1\na,b,v2\nc,d,v3\n")
    spec = JobSpec(
        inputs=[str(indir)],
        output=str(tmp_path / "out"),
        branches=[Branch("CAT", mapper=None, reducer="cat")],
        separator=",",
        num_key_fields=2,
        share_mode="materialize",
    )
    result = run_job(spark, spec)
    assert result.succeeded
    lines = sorted(
        r.value for r in spark.read.text(str(tmp_path / "out" / "CAT")).collect()
    )
    assert lines == ["a,b,v1", "a,b,v2", "c,d,v3"]


def test_partitioned_write_prunes(spark, tmp_path):
    from hadoop_multiple_streaming_spark.sources.io import write_table

    df = spark.createDataFrame(
        [(i, ["en", "fr", "de"][i % 3], f"doc{i}") for i in range(30)],
        "id long, lang string, text string",
    )
    out = str(tmp_path / "docs_by_lang")
    write_table(df.repartition("lang"), out, partition_by=["lang"])
    # hive layout: one directory per lang value
    import os

    assert sorted(d for d in os.listdir(out) if d.startswith("lang=")) == [
        "lang=de",
        "lang=en",
        "lang=fr",
    ]
    back = spark.read.parquet(out).where("lang = 'en'")
    assert back.count() == 10
    # the filter prunes DIRECTORIES (PartitionFilters), before file IO
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert any("lang" in l for l in plan.splitlines() if "PartitionFilters" in l)


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "uri"])
def test_compact_table_roundtrip(spark, tmp_path, as_uri):
    from hadoop_multiple_streaming_spark.sources.io import compact_table

    out = str(tmp_path / "fragmented")
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    df.repartition(16).write.parquet(out)  # 16 small files
    import glob

    assert len(glob.glob(f"{out}/*.parquet")) == 16
    compact_table(spark, f"file://{out}" if as_uri else out, target_partitions=2)
    assert sorted(p.name for p in tmp_path.iterdir()) == ["fragmented"]
    assert len(glob.glob(f"{out}/*.parquet")) == 2
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.agg({"v": "sum"}).collect()[0][0] == 999 * 1000


def test_bucketed_join_no_shuffle(spark, tmp_path):
    # bucketBy + sortBy on the join key: repeated joins on bucketed
    # tables read co-located buckets — NO Exchange on either side (the
    # 100 TB answer to "this fact-fact join shuffles every run")
    import contextlib
    import io as _io

    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
    for name, df in [("bkt_a", a), ("bkt_b", b)]:
        (
            df.write.bucketBy(4, "k")
            .sortBy("k")
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Arguments: hashpartitioning" not in plan, "bucketed join shuffled"
        assert joined.count() == 1000
        got = joined.where("k = 7").collect()[0]
        assert (got.va, got.vb) == (14, 21)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_xml_record_framing_preamble_with_end_tag(spark, tmp_path):
    # prologue text containing the END tag must not fabricate a record
    from hadoop_multiple_streaming_spark.sources.io import read_xml_records

    p = tmp_path / "tricky.xml"
    p.write_text(
        "<!-- old </page> comment -->\n"
        "<page>a</page>\n"
        "<page>b</page> trailing junk"
    )
    got = sorted(
        r.line
        for r in read_xml_records(spark, str(p), "<page>", "</page>").collect()
    )
    assert got == ["<page>a</page>", "<page>b</page>"]


def test_write_sized_splits_to_target_and_restores_conf(spark, tmp_path):
    # size-targeted writer: AQE REBALANCE + scoped advisory size turns
    # one skewed input partition into several ~target files, and the
    # session confs are restored afterwards
    import glob
    import os

    from hadoop_multiple_streaming_spark.sources.io import write_sized

    df = (
        spark.range(120_000)
        .coalesce(1)  # worst case: everything in ONE upstream partition
        .selectExpr("id", "repeat(uuid(), 8) AS payload")
    )
    before = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", None)
    out = str(tmp_path / "sized")
    write_sized(df, out, target_mb=1)
    after = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", None)
    assert before == after
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) >= 4, f"expected the 1-partition input split up, got {files}"
    sizes = sorted(os.path.getsize(f) for f in files)
    # evenness: no file more than 3x the median (AQE splits/coalesces
    # to the advisory size measured on shuffle bytes)
    median = sizes[len(sizes) // 2]
    assert sizes[-1] <= 3 * median
    assert spark.read.parquet(out).count() == 120_000


def test_write_sized_coalesces_slivers_to_one_file(spark, tmp_path):
    import glob

    from hadoop_multiple_streaming_spark.sources.io import write_sized

    df = spark.range(1_000).repartition(64).selectExpr("id")  # 64 slivers
    out = str(tmp_path / "coalesced")
    write_sized(df, out, target_mb=128)
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == 1, f"expected slivers merged into one file, got {len(files)}"
    assert spark.read.parquet(out).count() == 1_000


def test_write_sized_validates_target(spark, tmp_path):
    import pytest

    from hadoop_multiple_streaming_spark.sources.io import write_sized

    with pytest.raises(ValueError, match="target_mb"):
        write_sized(spark.range(1), str(tmp_path / "x"), target_mb=0)


def test_write_sized_with_partition_by(spark, tmp_path):
    import glob

    from hadoop_multiple_streaming_spark.sources.io import write_sized

    df = spark.range(2_000).selectExpr("id", "id % 3 AS part")
    out = str(tmp_path / "sized_part")
    write_sized(df, out, target_mb=64, partition_by=["part"])
    dirs = sorted(glob.glob(out + "/part=*"))
    assert len(dirs) == 3, dirs
    assert spark.read.parquet(out).count() == 2_000


def test_write_training_shards_layout_and_determinism(spark, tmp_path):
    import glob

    from hadoop_multiple_streaming_spark.sources.io import write_training_shards

    df = spark.range(250).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "shards")
    write_training_shards(df, out, "doc_id", rows_per_shard=100, seed=5)
    dirs = sorted(glob.glob(out + "/shard=*"))
    assert [d.rsplit("=", 1)[1] for d in dirs] == ["0", "1", "2"]
    # exactly one data file per shard directory
    for d in dirs:
        files = glob.glob(d + "/part-*.parquet")
        assert len(files) == 1, (d, files)
    back = spark.read.parquet(out)
    sizes = {
        r["shard"]: r["n"]
        for r in back.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {0: 100, 1: 100, 2: 50}
    # shards are contiguous ordinal ranges of the seed-5 permutation,
    # reproducible across writes
    from hadoop_multiple_streaming_spark.functions.sampling import global_shuffle

    expect = {
        r["doc_id"]: r["ordinal"]
        for r in global_shuffle(df, "doc_id", seed=5).collect()
    }
    got = {r["doc_id"]: r["ordinal"] for r in back.collect()}
    assert got == expect
    for r in back.collect():
        assert r["shard"] == r["ordinal"] // 100


def test_write_training_shards_manifest(spark, tmp_path):
    from hadoop_multiple_streaming_spark.sources.io import write_training_shards

    df = spark.range(250).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "shards_m")
    write_training_shards(df, out, "doc_id", rows_per_shard=100, seed=5)
    m = {
        r["shard"]: (r["n_rows"], r["min_ordinal"], r["max_ordinal"])
        for r in spark.read.parquet(out + "/_manifest").collect()
    }
    assert m == {0: (100, 0, 99), 1: (100, 100, 199), 2: (50, 200, 249)}
    # the manifest dir is invisible to readers of the shard root
    assert spark.read.parquet(out).count() == 250
    assert "shard" in spark.read.parquet(out).columns


def test_write_training_shards_manifest_off(spark, tmp_path):
    import os

    from hadoop_multiple_streaming_spark.sources.io import write_training_shards

    out = str(tmp_path / "shards_nm")
    write_training_shards(
        spark.range(30).withColumnRenamed("id", "doc_id"),
        out,
        "doc_id",
        rows_per_shard=10,
        manifest=False,
    )
    assert not os.path.exists(out + "/_manifest")


def test_write_training_shards_empty_input_valid(spark, tmp_path):
    from hadoop_multiple_streaming_spark.sources.io import write_training_shards

    out = str(tmp_path / "shards_empty")
    # zero rows -> zero shards is a VALID write, not an integrity
    # failure; the manifest lands empty
    write_training_shards(
        spark.range(0).withColumnRenamed("id", "doc_id"),
        out,
        "doc_id",
        rows_per_shard=10,
    )
    assert spark.read.parquet(out + "/_manifest").count() == 0


def test_write_training_shards_csv_manifest_casts_ordinal(spark, tmp_path):
    from hadoop_multiple_streaming_spark.sources.io import write_training_shards

    out = str(tmp_path / "shards_csv")
    # csv reads ordinal back as string; the manifest must cast before
    # min/max or row 9 vs 10 compares lexicographically and the
    # integrity gate false-positives
    write_training_shards(
        spark.range(25).withColumnRenamed("id", "doc_id"),
        out,
        "doc_id",
        rows_per_shard=12,
        fmt="csv",
        header=True,
    )
    m = {
        r["shard"]: (r["n_rows"], r["min_ordinal"], r["max_ordinal"])
        for r in spark.read.parquet(out + "/_manifest").collect()
    }
    assert m == {0: (12, 0, 11), 1: (12, 12, 23), 2: (1, 24, 24)}
