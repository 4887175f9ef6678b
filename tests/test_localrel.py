"""functions.localrel: JVM LocalRelation construction (r15 optimization
— createDataFrame-from-list parallelizes a Python RDD whose every
materialization runs default-parallelism Python tasks; VALUES renders
the same rows as a zero-task LocalTableScan)."""

from pyspark.sql.types import LongType, StringType, StructField, StructType

from hadoop_multiple_streaming_spark.functions.localrel import (
    collect_bounded,
    local_relation,
)


def _assert_parity(spark, rows, schema):
    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    a = local_relation(spark, rows, schema)
    b = spark.createDataFrame(rows, st)
    assert a.schema == b.schema, (a.schema, b.schema)
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))
    return a


def test_local_relation_plans_as_local_table_scan(spark):
    df = _assert_parity(
        spark, [(0, [1, 2, 3]), (1, [4, None, 6])], "cluster long, cv array<bigint>"
    )
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in phys and "Scan ExistingRDD" not in phys


def test_local_relation_scalar_types_and_escaping(spark):
    _assert_parity(
        spark,
        [("it's\\x\n", 1, 0.5, True), (None, None, float("nan"), False)],
        "s string, n bigint, d double, b boolean",
    )


def test_local_relation_struct_schema_and_nullability(spark):
    st = StructType(
        [StructField("g", StringType()), StructField("_quota", LongType())]
    )
    df = _assert_parity(spark, [("fr", 10), ("en", 3)], st)
    assert all(f.nullable for f in df.schema.fields)


def test_local_relation_falls_back_for_unsupported(spark):
    # dict values are not renderable as VALUES -> createDataFrame path
    df = local_relation(spark, [({"a": 1},)], "m map<string,bigint>")
    assert df.collect()[0][0] == {"a": 1}
    # empty row set -> fallback too
    assert local_relation(spark, [], "a int").count() == 0


def test_collect_bounded_cap(spark):
    df = spark.range(5)
    assert [r.id for r in collect_bounded(df, 5)] == list(range(5))
    assert collect_bounded(df, 4) is None  # one past the cap: no rows
    assert collect_bounded(df.limit(0), 3) == []
    tracker = spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(None) or [-1])
    assert collect_bounded(df, 0) is None and collect_bounded(df, -1) is None
    assert max(tracker.getJobIdsForGroup(None) or [-1]) == last_job  # no job
