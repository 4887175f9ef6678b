"""Queries exercising the ``-reducer aggregate`` family (SURVEY §2.5)
through the real operator path: descriptor lines ``AggType:key \\t
value`` -> operators.aggregate.aggregate_reduce -> (key, value) strings,
or, for a single aggregator over typed columns,
operators.aggregate.aggregate_typed.

Oracle caveat: every oracle serializes the aggregate to VARCHAR exactly
like the operator does; doubles are only used where the data is
integral-valued (sums stay exact, so the string render matches)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import aggregate_reduce, aggregate_typed
from . import register
from .tables import load


def _kv(df: DataFrame, agg_type: str, key_col, value_col) -> DataFrame:
    return df.select(
        F.concat(F.lit(agg_type + ":"), key_col.cast("string")).alias("key"),
        value_col.cast("string").alias("value"),
    )


@register(
    "agg_long_sum",
    oracle="""
    SELECT l_returnflag AS key, CAST(SUM(l_linenumber) AS VARCHAR) AS value
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_long_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LongValueSum of l_linenumber per l_returnflag, declared on the
    typed columns (``aggregate_typed``): descriptor lines built from
    these well-formed rows would parse straight back to the same
    columns, so the operator plans the sum on them directly. The pipe
    family exercises the line codec end to end through real
    subprocesses."""
    li = load(spark, sf_dir, "lineitem")
    return aggregate_typed(li, "LongValueSum", "l_returnflag", "l_linenumber")


@register(
    "agg_long_sum_native",
    oracle="""
    SELECT l_returnflag AS key, CAST(SUM(l_linenumber) AS VARCHAR) AS value
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_long_sum_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LongValueSum fed typed KV columns — the form a reference user
    migrating off text pipes writes. It plans to the same
    ``aggregate_typed`` aggregation as ``agg_long_sum``."""
    li = load(spark, sf_dir, "lineitem")
    return aggregate_typed(li, "LongValueSum", "l_returnflag", "l_linenumber")


@register(
    "agg_long_max_min",
    oracle="""
    SELECT l_returnflag AS key, CAST(MAX(l_partkey) AS VARCHAR) AS value
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT l_linestatus AS key, CAST(MIN(l_partkey) AS VARCHAR) AS value
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_long_max_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LongValueMax + LongValueMin multiplexed in ONE aggregate job —
    both types share the single groupBy(agg_type, key) shuffle
    (conditional aggregation), the Spark translation of Hadoop
    aggregating every descriptor in one reduce."""
    li = load(spark, sf_dir, "lineitem")
    kv = _kv(li, "LongValueMax", F.col("l_returnflag"), F.col("l_partkey")).unionByName(
        _kv(li, "LongValueMin", F.col("l_linestatus"), F.col("l_partkey"))
    )
    return aggregate_reduce(kv, types=["LongValueMax", "LongValueMin"])


@register(
    "agg_double_sum",
    oracle="""
    SELECT l_returnflag AS key, CAST(SUM(l_quantity) AS VARCHAR) AS value
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_double_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoubleValueSum over integral-valued doubles (quantities) — the
    sum is exact at any aggregation order so the string render is
    engine-independent."""
    li = load(spark, sf_dir, "lineitem")
    return aggregate_reduce(
        _kv(li, "DoubleValueSum", F.col("l_returnflag"), F.col("l_quantity")),
        types=["DoubleValueSum"],
    )


@register(
    "agg_string_max_min",
    oracle="""
    SELECT o_orderstatus AS key, MAX(o_orderpriority) AS value
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT concat('min_', o_orderstatus) AS key, MIN(o_orderpriority) AS value
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_string_max_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringValueMax/StringValueMin (lexicographic)."""
    o = load(spark, sf_dir, "orders")
    kv = _kv(o, "StringValueMax", F.col("o_orderstatus"), F.col("o_orderpriority")).unionByName(
        _kv(
            o,
            "StringValueMin",
            F.concat(F.lit("min_"), "o_orderstatus"),
            F.col("o_orderpriority"),
        )
    )
    return aggregate_reduce(kv, types=["StringValueMax", "StringValueMin"])


@register(
    "agg_uniq_count",
    oracle="""
    SELECT l_returnflag AS key, CAST(COUNT(DISTINCT l_suppkey) AS VARCHAR) AS value
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_uniq_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniqValueCount (exact): the count of distinct (key, value)
    triples at the operator's frequency level, so no distinct-aggregate
    Expand."""
    li = load(spark, sf_dir, "lineitem")
    return aggregate_reduce(_kv(li, "UniqValueCount", F.col("l_returnflag"), F.col("l_suppkey")))


@register(
    "agg_value_histogram",
    oracle="""
    WITH freqs AS (
        SELECT event_type AS key, user_id AS value, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT key,
           COUNT(*) AS distinct_values,
           MIN(cnt) AS min_count,
           (array_agg(cnt ORDER BY cnt))[CAST(COUNT(*)//2 AS INT) + 1] AS median_count,
           MAX(cnt) AS max_count,
           CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS avg_count,
           sqrt(CAST(SUM(cnt*cnt) AS DOUBLE) / COUNT(*)
                - (CAST(SUM(cnt) AS DOUBLE) / COUNT(*))
                  * (CAST(SUM(cnt) AS DOUBLE) / COUNT(*))) AS stddev_count
    FROM freqs GROUP BY key
    """,
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ValueHistogram, typed output: per-key stats over the frequencies
    of distinct values (Hadoop report semantics: non-interpolated
    median at sorted index n/2, counts as longs, moments from exact
    integer sums), declared on the typed columns (``aggregate_typed``):
    (event_type, user_id) frequencies straight off the table, then the
    same ``histogram_stats`` the descriptor path uses. Grouping by the
    bigint user_id instead of its string render is injective, so the
    groups and counts are the descriptor path's."""
    ev = load(spark, sf_dir, "events")
    return aggregate_typed(ev, "ValueHistogram", "event_type", "user_id")


@register(
    "agg_salted_sum",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events GROUP BY event_type
    """,
)
def agg_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (salted): the events table has
    few event_type values (pathological key skew for a plain groupBy
    at scale — each key lands on ONE reducer). Stage 1 aggregates on
    (key, salt), spreading each hot key over 32 reducers; stage 2
    merges partials on the tiny (key, salt)-level output. Results are
    identical to the plain groupBy — the oracle IS the plain form."""
    from ..operators.shuffle import salted_aggregate

    ev = load(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        ["event_type"],
        [
            F.expr("sum(cast(value as decimal(14,2)))").alias("sum_value"),
            F.count(F.lit(1)).alias("cnt"),
            F.max("user_id").alias("max_user"),
        ],
        salt_buckets=32,
    )
    return out.select(
        "event_type",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("max_user").cast("long").alias("max_user"),
    )


@register(
    "salted_join_revenue",
    oracle="""
    SELECT s.s_nationkey AS nationkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact join (operators.shuffle.salted_join, the join
    twin of salted_aggregate): lineitem joins supplier on (suppkey,
    salt) — the fact side salted per partition, the dim side
    replicated once per salt value — so a hot supplier's rows spread
    over 8 reducers instead of one. Row-identical to the plain join
    (the oracle IS the plain form); revenue through DECIMAL for exact
    cross-engine sums. Use when AQE's sort-merge skew splitting can't
    help (extreme single-key skew, AQE off) and the dim is too big to
    broadcast — see the operator docstring for the decision rule."""
    from ..operators.shuffle import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"),
        "l_extendedprice",
        "l_discount",
    )
    sup = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    j = salted_join(li, sup, "suppkey", salt_buckets=8)
    return j.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(18,2)) "
            "* (1 - cast(l_discount as decimal(18,2)))) as double)"
        ).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
