"""The aggregate reducer family (§2.5) vs hand-computed goldens."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hadoop_multiple_streaming_spark.operators.aggregate import (
    MISSING_PREFIX,
    aggregate_reduce,
    aggregate_typed,
    parse_agg_key,
    value_histogram,
)
from hadoop_multiple_streaming_spark.workloads.aggregates import (
    _kv,
    agg_long_sum,
    agg_long_sum_native,
    agg_value_histogram,
)
from hadoop_multiple_streaming_spark.workloads.tables import load


def kv_df(spark, pairs):
    return spark.createDataFrame([Row(key=k, value=v) for k, v in pairs])


def test_aggregate_strict_raises_on_missing_prefix(spark):
    # Hadoop's ValueAggregator path fails loudly on malformed
    # descriptors — a bare key must fail the job, not silently drop
    df = kv_df(spark, [("LongValueSum:a", "1"), ("noprefix", "2")])
    with pytest.raises(Exception, match="missing 'AggType:' prefix"):
        aggregate_reduce(df).collect()


def test_aggregate_strict_raises_on_unknown_type(spark):
    df = kv_df(spark, [("LongValuesum:a", "1")])  # typo'd type
    with pytest.raises(Exception, match="unknown aggregator type"):
        aggregate_reduce(df).collect()


def test_parse_agg_key_splits_on_first_colon(spark):
    df = kv_df(
        spark,
        [("LongValueSum:a", "1"), ("noprefix", "2"), ("ValueHistogram:k:with:colons", "3")],
    )
    rows = {(r.agg_type, r.key) for r in parse_agg_key(df).collect()}
    # only the FIRST colon splits; a no-colon line is kept under the
    # sentinel type so the aggregation can raise on it
    assert rows == {
        ("LongValueSum", "a"),
        ("ValueHistogram", "k:with:colons"),
        (MISSING_PREFIX, "noprefix"),
    }


def test_long_value_sum(spark):
    df = kv_df(spark, [("LongValueSum:a", "5"), ("LongValueSum:a", "7"), ("LongValueSum:b", "1")])
    got = {r.key: r.value for r in aggregate_reduce(df).collect()}
    assert got == {"a": "12", "b": "1"}


def test_all_scalar_types_mixed(spark):
    pairs = [
        ("LongValueSum:s", "1"),
        ("LongValueSum:s", "2"),
        ("DoubleValueSum:d", "1.5"),
        ("DoubleValueSum:d", "2.25"),
        ("LongValueMax:m", "3"),
        ("LongValueMax:m", "9"),
        ("LongValueMin:m", "3"),
        ("LongValueMin:m", "9"),
        ("StringValueMax:t", "apple"),
        ("StringValueMax:t", "zebra"),
        ("StringValueMin:t", "apple"),
        ("StringValueMin:t", "zebra"),
        ("UniqValueCount:u", "x"),
        ("UniqValueCount:u", "x"),
        ("UniqValueCount:u", "y"),
    ]
    got = {(r.key, r.value) for r in aggregate_reduce(kv_df(spark, pairs)).collect()}
    # same real key under different types yields one row per (type,key)
    assert ("s", "3") in got
    assert ("d", "3.75") in got
    assert ("m", "9") in got and ("m", "3") in got
    assert ("t", "zebra") in got and ("t", "apple") in got
    assert ("u", "2") in got


def test_value_histogram(spark):
    # key h: values x,x,x,y -> freqs {x:3, y:1}
    pairs = [("ValueHistogram:h", v) for v in ["x", "x", "x", "y"]]
    row = value_histogram(parse_agg_key(kv_df(spark, pairs))).collect()[0]
    assert row.key == "h"
    assert row.distinct_values == 2
    assert row.min_count == 1 and row.max_count == 3
    # Hadoop parity: median = sorted element at index n/2 (a long, not
    # interpolated): sorted counts [1,3], index 1 -> 3
    assert row.median_count == 3 and row.avg_count == 2.0
    assert abs(row.stddev_count - 1.0) < 1e-9  # population stddev of [3,1]


def test_histogram_report_line(spark):
    pairs = [("ValueHistogram:h", v) for v in ["x", "x", "y"]]
    got = {r.key: r.value for r in aggregate_reduce(kv_df(spark, pairs)).collect()}
    fields = got["h"].split("\t")
    assert len(fields) == 6 and fields[0] == "2"


def test_direct_scalar_path_matches_two_level(spark):
    # a declared pure-scalar menu takes the single-shuffle direct plan;
    # results must be identical to the generic two-level plan
    pairs = [
        ("LongValueSum:s", "1"),
        ("LongValueSum:s", "2"),
        ("DoubleValueSum:d", "1.5"),
        ("LongValueMax:m", "3"),
        ("LongValueMax:m", "9"),
        ("StringValueMin:t", "zebra"),
        ("StringValueMin:t", "apple"),
    ]
    menu = ["LongValueSum", "DoubleValueSum", "LongValueMax", "StringValueMin"]
    direct = {(r.key, r.value) for r in aggregate_reduce(kv_df(spark, pairs), types=menu).collect()}
    generic = {(r.key, r.value) for r in aggregate_reduce(kv_df(spark, pairs)).collect()}
    assert direct == generic
    # the direct plan must have exactly ONE aggregation exchange (no
    # value_frequencies level)
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        aggregate_reduce(kv_df(spark, pairs), types=menu).explain("formatted")
    plan = buf.getvalue()
    shuffles = [l for l in plan.splitlines() if "Arguments: hashpartitioning" in l]
    assert len(shuffles) == 1, shuffles


def test_direct_scalar_path_strict_on_menu_violation(spark):
    # a KNOWN type that simply wasn't declared must say so — 'unknown
    # aggregator type' would send users debugging the parser instead of
    # their `types` menu
    pairs = [("LongValueSum:s", "1"), ("UniqValueCount:u", "x")]
    with pytest.raises(Exception, match="not in the declared types menu"):
        aggregate_reduce(kv_df(spark, pairs), types=["LongValueSum"]).collect()


def test_direct_scalar_path_strict_on_truly_unknown_type(spark):
    # a type no aggregator has ever heard of keeps the 'unknown' wording
    pairs = [("LongValueSum:s", "1"), ("NoSuchAgg:u", "x")]
    with pytest.raises(Exception, match="unknown aggregator type"):
        aggregate_reduce(kv_df(spark, pairs), types=["LongValueSum"]).collect()


def test_direct_path_requires_pure_scalar_menu(spark):
    # a menu containing UniqValueCount/ValueHistogram falls back to the
    # generic two-level plan (and still answers correctly)
    pairs = [("UniqValueCount:u", "x"), ("UniqValueCount:u", "x"), ("UniqValueCount:u", "y")]
    got = {r.key: r.value for r in aggregate_reduce(kv_df(spark, pairs), types=["UniqValueCount"]).collect()}
    assert got == {"u": "2"}


def test_aggregate_typed_matches_descriptor_path(spark, sf_dir):
    """The queries planned by aggregate_typed must return IDENTICAL
    rows and schema to the descriptor path built from the same typed
    columns: aggregate_reduce on ``AggType:key`` lines for the sums,
    value_histogram(parse_agg_key(...)) for the histogram."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip(f"no sf0.01 tables beside {sf_dir}")
    li, ev = load(spark, sf, "lineitem"), load(spark, sf, "events")
    long_sum = aggregate_reduce(
        _kv(li, "LongValueSum", F.col("l_returnflag"), F.col("l_linenumber")),
        types=["LongValueSum"],
    )
    hist = value_histogram(
        parse_agg_key(_kv(ev, "ValueHistogram", F.col("event_type"), F.col("user_id")))
    ).drop("agg_type")
    for query, ref in (
        (agg_long_sum, long_sum),
        (agg_long_sum_native, long_sum),
        (agg_value_histogram, hist),
    ):
        got_df = query(spark, sf)
        assert [(f.name, f.dataType.simpleString()) for f in got_df.schema.fields] == [
            (f.name, f.dataType.simpleString()) for f in ref.schema.fields
        ], query.__name__
        got = sorted(tuple(r) for r in got_df.collect())
        want = sorted(tuple(r) for r in ref.collect())
        assert got and got == want, query.__name__


def test_aggregate_typed_raises_on_null_key(spark):
    """The descriptor path raises loudly on a null key group (it parses
    as a missing-prefix descriptor); the typed entry must keep that
    loud failure and name the key, not silently aggregate the null
    group."""
    df = spark.createDataFrame([("a", 1), (None, 2)], "k string, v int")
    with pytest.raises(Exception, match="missing 'AggType:' prefix") as err:
        aggregate_typed(df, "LongValueSum", "k", "v").collect()
    assert "for key: <null>" in str(err.value)
    ok = {r.key: r.value for r in aggregate_typed(
        spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "k string, v int"),
        "LongValueSum", "k", "v",
    ).collect()}
    assert ok == {"a": "3", "b": "5"}


def test_aggregate_reduce_names_null_key(spark):
    """A null key on the descriptor path fails with the same message as
    the typed entry, the key rendered as <null> (not a null message),
    on both the generic and the declared-menu plan."""
    kv = spark.createDataFrame(
        [("LongValueSum:a", "1"), (None, "2")], "key string, value string"
    )
    for types in (None, ["LongValueSum"]):
        with pytest.raises(Exception, match="missing 'AggType:' prefix") as err:
            aggregate_reduce(kv, types).collect()
        assert "for key: <null>" in str(err.value), types


def test_aggregate_typed_menu_matches_descriptor_path(spark):
    """Every sum/max/min type of the shared menu gives the descriptor
    path's answer from typed columns (a non-string key is rendered to
    a string, as the descriptor line would); other types are refused
    at plan time."""
    df = spark.createDataFrame(
        [(1, 5, "x"), (1, 7, "b"), (2, -3, "m"), (2, 4, "a")], "k int, v long, s string"
    )
    for ty, col in (
        ("LongValueSum", "v"),
        ("DoubleValueSum", "v"),
        ("LongValueMax", "v"),
        ("LongValueMin", "v"),
        ("StringValueMax", "s"),
        ("StringValueMin", "s"),
    ):
        got = sorted(tuple(r) for r in aggregate_typed(df, ty, "k", col).collect())
        want = sorted(
            tuple(r) for r in aggregate_reduce(_kv(df, ty, F.col("k"), F.col(col))).collect()
        )
        assert got == want, ty
    with pytest.raises(ValueError, match="UniqValueCount"):
        aggregate_typed(df, "UniqValueCount", "k", "v")
