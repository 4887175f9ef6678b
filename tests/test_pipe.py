"""Pipe-operator semantics (P1-P9): cat identity, wordcount map+reduce,
exit-code policy, env injection, counter protocol."""

import sys
import textwrap

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hadoop_multiple_streaming_spark.operators.pipe import (
    PipeOptions,
    make_counters,
    pipe_fanout,
    pipe_lines,
    pipe_map,
    pipe_reduce,
    read_counters,
    split_args,
)


def lines_df(spark, lines):
    return spark.createDataFrame([Row(line=x) for x in lines])


def py(script: str) -> list[str]:
    return [sys.executable, "-c", textwrap.dedent(script)]


def test_split_args_quotes():
    # P4 splitArgs (MultiPipeMapRed.java:107-151)
    assert split_args("perl5 filter.pl") == ["perl5", "filter.pl"]
    assert split_args("sh -c 'echo a b'") == ["sh", "-c", "echo a b"]
    assert split_args('grep "a b"') == ["grep", "a b"]


def test_cat_identity(spark):
    data = ["hello", "a\tb", "", "서울\t대한민국"]
    out = pipe_lines(lines_df(spark, data), "/bin/cat")
    assert sorted(r.line for r in out.collect()) == sorted(data)


def test_mapper_flatmap(spark):
    # one line in -> many lines out (mapper is a flat-map, §2.7)
    script = py(
        """
        import sys
        for line in sys.stdin:
            for w in line.split():
                print(w + "\\t1")
        """
    )
    out = pipe_map(lines_df(spark, ["a b a", "c"]), script)
    rows = [(r.key, r.value) for r in out.collect()]
    assert sorted(rows) == [("a", "1"), ("a", "1"), ("b", "1"), ("c", "1")]


def test_wordcount_end_to_end(spark):
    # M0 slice: pipe mapper -> shuffle -> pipe reducer (P1,P2,G1)
    mapper = py(
        """
        import sys
        for line in sys.stdin:
            for w in line.split():
                print(w + "\\t1")
        """
    )
    reducer = py(
        """
        import sys
        cur, tot = None, 0
        for line in sys.stdin:
            k, v = line.rstrip("\\n").split("\\t", 1)
            if k != cur:
                if cur is not None:
                    print(cur + "\\t" + str(tot))
                cur, tot = k, 0
            tot += int(v)
        if cur is not None:
            print(cur + "\\t" + str(tot))
        """
    )
    df = lines_df(spark, ["the quick fox", "the lazy dog", "the fox"])
    mapped = pipe_map(df, mapper)
    reduced = pipe_reduce(mapped, reducer, num_partitions=3)
    got = {r.key: int(r.value) for r in reduced.collect()}
    assert got == {"the": 3, "quick": 1, "fox": 2, "lazy": 1, "dog": 1}


def test_reducer_sees_sorted_keys_per_partition(spark):
    # Hadoop contract: one subprocess sees ALL groups of its partition
    # in key order (SURVEY §7 hard-point 3).
    checker = py(
        """
        import sys
        prev = None
        n = 0
        for line in sys.stdin:
            k = line.rstrip("\\n").split("\\t", 1)[0]
            assert prev is None or k >= prev, (prev, k)
            prev = k
            n += 1
        print("ok\\t" + str(n))
        """
    )
    df = lines_df(spark, [f"k{i % 7}\t{i}" for i in range(100)])
    kv = df.select(
        F.split_part("line", F.lit("\t"), F.lit(1)).alias("key"),
        F.split_part("line", F.lit("\t"), F.lit(2)).alias("value"),
    )
    out = pipe_reduce(kv, checker, num_partitions=4)
    assert sum(int(r.value) for r in out.collect()) == 100


def test_grouped_pipe_reduce_per_key_isolation(spark):
    # each key group goes through its OWN subprocess; a stateful
    # reducer (line numbering via cat -n semantics) restarts per key
    import sys as _sys

    from hadoop_multiple_streaming_spark.operators.pipe import grouped_pipe_reduce

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "z")], "key string, value string"
    )
    numberer = [
        _sys.executable,
        "-c",
        (
            "import sys\n"
            "for i, line in enumerate(sys.stdin, 1):\n"
            "    k, _, v = line.rstrip('\\n').partition('\\t')\n"
            "    print(f'{k}\\t{i}:{v}')\n"
        ),
    ]
    got = {(r.key, r.value) for r in grouped_pipe_reduce(df, numberer).collect()}
    # numbering restarts at 1 for key b — per-group process isolation
    assert got == {("a", "1:x"), ("a", "2:y"), ("b", "1:z")}

    # the reducer's lines re-split with splitKeyVal: two key fields,
    # and a line with too few fields is all key
    numberer2 = [
        _sys.executable,
        "-c",
        (
            "import sys\n"
            "for i, line in enumerate(sys.stdin, 1):\n"
            "    k, _, v = line.rstrip('\\n').partition('\\t')\n"
            "    print(f'{k}\\t{i}\\t{v}' if v != 'z' else k)\n"
        ),
    ]
    got = {
        (r.key, r.value)
        for r in grouped_pipe_reduce(df, numberer2, num_key_fields=2).collect()
    }
    assert got == {("a\t1", "x"), ("a\t2", "y"), ("b", "")}


def test_nonzero_exit_fails(spark):
    bad = py("import sys; sys.stdin.read(); sys.exit(3)")
    with pytest.raises(Exception, match="exited with code 3"):
        pipe_lines(lines_df(spark, ["x"]), bad).collect()


def test_nonzero_exit_tolerated(spark):
    # P9: stream.non.zero.exit.is.failure=false
    bad = py("import sys; sys.stdin.read(); print('done'); sys.exit(3)")
    opts = PipeOptions(non_zero_exit_is_failure=False)
    out = pipe_lines(lines_df(spark, ["x"]).coalesce(1), bad, opts=opts)
    assert [r.line for r in out.collect()] == ["done"]


def test_env_injection(spark):
    # P6: -cmdenv k=v reaches the subprocess
    script = py("import os,sys; sys.stdin.read(); print(os.environ['MY_FLAG'])")
    opts = PipeOptions(env={"MY_FLAG": "hello42"})
    out = pipe_lines(lines_df(spark, ["x"]).coalesce(1), script, opts=opts)
    assert [r.line for r in out.collect()] == ["hello42"]
    # the per-group reducer's children get the same env
    from hadoop_multiple_streaming_spark.operators.pipe import grouped_pipe_reduce

    kv = spark.createDataFrame([("k", "x")], "key string, value string")
    grouped = py("import os,sys; sys.stdin.read(); print('k\\t' + os.environ['MY_FLAG'])")
    out = grouped_pipe_reduce(kv, grouped, opts=opts)
    assert [(r.key, r.value) for r in out.collect()] == [("k", "hello42")]


def test_task_partition_export(spark):
    # P6: the task context always reaches the child env
    script = py(
        "import os,sys; sys.stdin.read(); "
        "print(os.environ['mapred_task_partition'], os.environ['mapreduce_task_partition'])"
    )
    two_parts = spark.sparkContext.parallelize([Row(line="x"), Row(line="y")], 2)
    out = pipe_lines(spark.createDataFrame(two_parts), script)
    assert sorted(r.line for r in out.collect()) == ["0 0", "1 1"]


def test_tmpdir_export(spark, tmp_path):
    # Reference: TMPDIR is ALWAYS exported to the child
    # (MultiPipeMapRed.java:204-205 exports java.io.tmpdir). Extension:
    # -D stream.tmpdir overrides the exported value.
    script = py("import os,sys; sys.stdin.read(); print(os.environ.get('TMPDIR', '<unset>'))")
    want = str(tmp_path / "stream-tmp")
    opts = PipeOptions(tmpdir=want)
    out = pipe_lines(lines_df(spark, ["x"]).coalesce(1), script, opts=opts)
    assert [r.line for r in out.collect()] == [want]
    # default: TMPDIR is exported unconditionally — parent env's value,
    # else the OS tempdir (never "<unset>")
    import os
    import tempfile

    expect = os.environ.get("TMPDIR", tempfile.gettempdir())
    out2 = pipe_lines(lines_df(spark, ["x"]).coalesce(1), script)
    assert [r.line for r in out2.collect()] == [expect]


def test_counter_protocol(spark):
    # P7: reporter:counter:group,name,amount on stderr -> accumulator
    script = py(
        """
        import sys
        n = 0
        for line in sys.stdin:
            n += 1
            print(line, end="")
        sys.stderr.write("reporter:counter:my,seen,%d\\n" % n)
        sys.stderr.write("reporter:status:all done\\n")
        """
    )
    counters = make_counters(spark)
    df = lines_df(spark, [f"row{i}" for i in range(10)]).coalesce(2)
    out = pipe_lines(df, script, counters=counters)
    assert out.count() == 10
    totals = read_counters(counters)
    assert totals["my.seen"] == 10
    assert totals["pipe.records_written"] == 10
    assert totals["pipe.records_read"] == 10


def test_counters_dedupe_retried_attempts(spark):
    # Hadoop discards failed attempts' counters; a retried task must
    # contribute exactly one attempt's counts (the LAST attempt wins)
    from hadoop_multiple_streaming_spark.operators.pipe import read_counters

    counters = make_counters(spark)
    # attempt 0 of stage 5 / partition 3 died after counting 7 records;
    # attempt 1 re-ran the partition and counted all 10
    counters.add({"5:3:0": {"pipe.records_read": 7}})
    counters.add({"5:3:1": {"pipe.records_read": 10}})
    # a different partition's single attempt
    counters.add({"5:4:0": {"pipe.records_read": 4}})
    # two updates within ONE attempt sum (stderr counters + totals)
    counters.add({"5:4:0": {"my.seen": 2}})
    counters.add({"5:4:0": {"my.seen": 3}})
    totals = read_counters(counters)
    assert totals["pipe.records_read"] == 14  # 10 (attempt 1) + 4
    assert totals["my.seen"] == 5


def test_early_exit_mapper_fails_without_skip(spark):
    # subprocess stops reading mid-stream -> task fails (P8 default)
    head = py("import sys; sys.stdin.readline(); print('one'); sys.exit(0)")
    df = lines_df(spark, [f"row{i}" for i in range(200000)]).coalesce(1)
    with pytest.raises(Exception, match="failed while consuming input"):
        pipe_lines(df, head).collect()


def test_early_exit_tolerated_with_skip(spark):
    # P8: once min_records_before_skip records were written, a write
    # failure skips the rest instead of failing the task.
    head = py("import sys; sys.stdin.readline(); print('one'); sys.exit(0)")
    df = lines_df(spark, [f"row{i}" for i in range(200000)]).coalesce(1)
    opts = PipeOptions(min_records_before_skip=1)
    out = pipe_lines(df, head, opts=opts)
    assert [r.line for r in out.collect()] == ["one"]


def test_binary_pipe_roundtrips_non_utf8_bytes(spark):
    """A BINARY line column is the byte-faithful path (reference
    Text-is-bytes / BytesWritable passthrough,
    MultiPipeMapRed.java:729-746) with no flag: latin-1 and arbitrary
    non-UTF-8 byte lines survive a cat branch bit-exactly, where the
    string path would U+FFFD-mangle them."""
    data = [
        b"caf\xe9 latin-1",          # invalid UTF-8 continuation
        b"\xff\xfe\x00\x01 binary",  # BOM-ish + NUL inside the line
        b"",                          # empty line
        b"plain ascii\tkv",
    ]
    df = spark.createDataFrame([(b,) for b in data], "line binary")
    out = pipe_lines(df, "/bin/cat")
    assert dict(out.dtypes)["line"] == "binary"
    got = sorted(bytes(r.line) for r in out.collect())
    assert got == sorted(data)
    # the N-command fence reads the same column type
    fan, failures = pipe_fanout(df, ["/bin/cat", "/bin/cat"])
    assert dict(fan.dtypes)["line"] == "binary"
    rows = fan.collect()
    assert failures.value == {}
    for b in (0, 1):
        assert sorted(bytes(r.line) for r in rows if r.b == b) == sorted(data)
    # and a transforming subprocess sees the raw bytes: upper-case via
    # tr (byte-wise, locale-independent for ASCII) keeps non-ASCII
    # bytes untouched
    got2 = sorted(
        bytes(r.line)
        for r in pipe_lines(df, ["tr", "a-z", "A-Z"]).collect()
    )
    assert got2 == sorted(
        bytes(
            c + (32 if 97 <= c <= 122 else 0) * 0 - (32 if 97 <= c <= 122 else 0)
            for c in b
        )
        for b in data
    )


def test_string_pipe_mangles_non_utf8_as_documented(spark):
    """The documented boundary: the string path replace-decodes, so a
    subprocess emitting invalid UTF-8 yields U+FFFD — this pins the
    behavior the binary path exists to avoid."""
    script = py(
        """
        import sys
        for _ in sys.stdin.buffer:
            sys.stdout.buffer.write(b"bad \\xff byte\\n")
        """
    )
    out = pipe_lines(lines_df(spark, ["x"]), script).collect()
    assert [r.line for r in out] == ["bad \N{REPLACEMENT CHARACTER} byte"]


def test_binary_kv_wordcount_latin1_keys_end_to_end(spark):
    """r15 (VERDICT r14 task 3): byte fidelity through the FULL
    map→shuffle→reduce chain. The reference's splitKeyVal scans raw
    bytes for the separator (MultiPipeMapRed.java:403-425), so a
    latin-1 key survives its shuffle; this pins the same contract on
    the binary KV path: latin-1/invalid-UTF-8 word keys round-trip
    bit-exactly through pipe_map → repartition+sort → pipe_reduce."""
    # words include non-UTF-8 byte sequences as KEYS
    words = [b"caf\xe9", b"na\xefve", b"\xff\xferaw", b"plain"]
    docs = [b" ".join([words[0], words[1], words[0]]),
            b" ".join([words[2], words[3], words[2], words[0]])]
    df = spark.createDataFrame([(b,) for b in docs], "line binary")

    mapper = py(
        """
        import sys
        for line in sys.stdin.buffer:
            for w in line.rstrip(b"\\n").split(b" "):
                if w:
                    sys.stdout.buffer.write(w + b"\\t1\\n")
        """
    )
    reducer = py(
        """
        import sys
        cur, n = None, 0
        def emit():
            if cur is not None:
                sys.stdout.buffer.write(cur + b"\\t" + str(n).encode() + b"\\n")
        for line in sys.stdin.buffer:
            k, _, v = line.rstrip(b"\\n").partition(b"\\t")
            if k != cur:
                emit()
                cur, n = k, 0
            n += int(v or b"0")
        emit()
        """
    )
    mapped = pipe_map(df, mapper)
    assert dict(mapped.dtypes) == {"key": "binary", "value": "binary"}
    out = pipe_reduce(mapped, reducer, num_partitions=3)
    assert dict(out.dtypes) == {"key": "binary", "value": "binary"}
    got = {bytes(r.key): int(bytes(r.value)) for r in out.collect()}
    assert got == {words[0]: 3, words[1]: 1, words[2]: 2, words[3]: 1}


def test_pipe_reduce_rejects_mixed_binary_and_string_kv(spark):
    # the byte mode is read off the columns, so a half-binary pair has
    # no mode; so do text key fields over binary keys
    df = spark.createDataFrame([(b"k", "v")], "key binary, value string")
    with pytest.raises(ValueError, match="both be binary"):
        pipe_reduce(df, "cat")
    with pytest.raises(ValueError, match="both be binary"):
        pipe_reduce(df.selectExpr("value as key", "key as value"), "cat")
    both = df.selectExpr("key", "encode(value, 'UTF-8') as value")
    with pytest.raises(ValueError, match="partition_fields"):
        pipe_reduce(both, "cat", partition_fields=[1])


def test_binary_split_key_val_reference_semantics(spark):
    """Binary splitKeyVal edge semantics == the reference's byte scan
    (MultiPipeMapRed.java:409-418): fewer than num_key_fields
    separators -> whole line is the key, empty value; multi-field keys
    rejoin with the separator; separator bytes inside the VALUE are
    preserved verbatim."""
    from hadoop_multiple_streaming_spark.functions.kv import (
        join_key_val_bytes,
        with_key_val,
    )

    rows = [
        b"k\tv",             # plain split
        b"k only",           # no separator: key=line, value=b""
        b"\xe9\t\xff\t\x00",  # binary key, value keeps inner sep
        b"\tv",              # empty key
    ]
    df = spark.createDataFrame([(b,) for b in rows], "line binary")
    got = {
        i: (bytes(r.key), bytes(r.value))
        for i, r in enumerate(with_key_val(df, "line").collect())
    }
    # row order within createDataFrame collect is stable for local data
    vals = sorted(got.values())
    assert sorted(
        [(b"k", b"v"), (b"k only", b""), (b"\xe9", b"\xff\t\x00"), (b"", b"v")]
    ) == vals
    # 2-field keys
    df2 = spark.createDataFrame([(b"a\tb\tc\td",), (b"a\tb",)], "line binary")
    out2 = sorted(
        (bytes(r.key), bytes(r.value))
        for r in with_key_val(df2, "line", num_key_fields=2).collect()
    )
    assert out2 == sorted([(b"a\tb", b"c\td"), (b"a\tb", b"")])
    # join round-trip is bit-exact
    kv = with_key_val(df, "line")
    back = sorted(
        bytes(r[0])
        for r in kv.select(join_key_val_bytes("key", "value")).collect()
    )
    # rows without a separator gain the always-written trailing sep
    assert back == sorted([b"k\tv", b"k only\t", b"\xe9\t\xff\t\x00", b"\tv"])


def test_fanout_driver_feeds_every_command_whole():
    # one feed thread, more subprocesses than cores, a short switch
    # interval: every command's stdout comes back whole, in order and
    # under its own index, and the failing one is reported without
    # touching its siblings
    import os
    import threading

    import pandas as pd

    from hadoop_multiple_streaming_spark.operators.pipe import _pipe_partition

    lines = [f"r{i}" for i in range(25_000)]
    batches = [pd.DataFrame({"line": lines[i : i + 3000]}) for i in range(0, len(lines), 3000)]
    n = 2 * (os.cpu_count() or 1) + 1
    argvs = [["cat"]] * n + [["sh", "-c", "head -1; exit 3"]]
    got: dict[int, list] = {}
    failed: dict[int, str] = {}

    def consume():
        for i, chunk in _pipe_partition(
            iter(batches), argvs, PipeOptions(), 0, {}, None, failed=failed.__setitem__
        ):
            got.setdefault(i, []).extend(chunk)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        t = threading.Thread(target=consume, daemon=True)
        t.start()
        t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not t.is_alive()
    assert all(got[i] == lines for i in range(n))
    assert got[n] == ["r0"]
    assert list(failed) == [n] and "sh" in failed[n]
