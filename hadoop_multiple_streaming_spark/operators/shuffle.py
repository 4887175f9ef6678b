"""Shuffle / grouping / sort surface (SURVEY §2.4, G1-G5).

The reference inherits Hadoop's shuffle: hash-partition by key, sort by
key within partition, reducer sees contiguous sorted groups (G1), with
pluggable key-field partitioning (`-partitioner KeyFieldBasedPartitioner`
+ mapred.text.key.partitioner.options, G2) and key-field sorting
(KeyFieldBasedComparator, G5) — both operating on '\\t'-separated
subfields of the key (MapStreamJob.java:863-871, RedStreamJob.java:799-807).

Spark-native: both are expressions over derived subfield columns, so
the shuffle stays a single Exchange and the sort a single
sortWithinPartitions — no extra pass.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def key_field(key: Column | str, index: int, separator: str = "\t") -> Column:
    """1-based subfield of a composite key (KeyFieldBasedPartitioner's
    -k semantics restricted to whole fields, the overwhelmingly common
    use)."""
    col = F.col(key) if isinstance(key, str) else key
    return F.split_part(col, F.lit(separator), F.lit(index))


def partition_sort(
    df_kv: DataFrame,
    num_partitions: int | None = None,
    partition_fields: list[int] | None = None,
    sort_fields: list[tuple] | None = None,
    separator: str = "\t",
) -> DataFrame:
    """G1+G2+G5 in one Exchange+Sort: hash-partition on the chosen key
    subfields (default: whole key), then sort within partitions on the
    chosen subfields (default: whole key ascending).

    num_partitions (G3, ``-numReduceTasks``): N gives exactly N
    partitions (Hadoop's one file per reducer). None lets the shuffle
    size itself: a by-column exchange that AQE may coalesce, up to
    ``spark.sql.shuffle.partitions`` wide. Coalescing merges whole hash
    partitions, so every key still lands in one partition either way.

    sort_fields: [(field_index, ascending[, numeric]), ...]. A numeric
    field (``-kN,Nn``) sorts as a double; a value that does not parse
    as a number is null, so it sorts first ascending and last
    descending.

    This reproduces Hadoop secondary sort: partition on field 1, sort
    on fields 1+2 => reducer sees each key's values ordered by field 2.
    """
    part_cols = (
        [key_field("key", i, separator) for i in partition_fields]
        if partition_fields
        else [F.col("key")]
    )
    if sort_fields:
        sort_cols = []
        for i, asc, *numeric in sort_fields:
            col = key_field("key", i, separator)
            if numeric and numeric[0]:
                col = col.cast("double")
            sort_cols.append(col.asc() if asc else col.desc())
    else:
        sort_cols = [F.col("key").asc()]
    width = [num_partitions] if num_partitions else []
    return df_kv.repartition(*width, *part_cols).sortWithinPartitions(*sort_cols)


def group_sorted(
    df_kv: DataFrame,
    num_partitions: int | None = None,
) -> DataFrame:
    """Plain G1 (the Hadoop shuffle contract) for native reducers:
    every row of a key lands in one partition, keys sorted within it
    (num_partitions as in :func:`partition_sort`)."""
    return partition_sort(df_kv, num_partitions)


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    aggs: list[Column],
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-stage aggregation for SKEWED keys: stage 1 aggregates on
    (key, salt) — splitting a hot key across salt_buckets reducers —
    stage 2 merges the partials on the key alone (tiny input).

    ``aggs`` must be decomposable aggregates (sum/count/min/max style)
    expressed over the ORIGINAL columns; they are applied in stage 1
    and re-merged in stage 2 by summing/min-ing the partials — pass
    merge-compatible aliases via ``.alias``. For algebraic aggregates
    like avg, pass sum+count and divide afterwards.

    At 100 TB this is the manual fallback when AQE skew handling can't
    apply (e.g. single-key hot aggregation rather than skewed join).
    """
    salted = df.withColumn(
        "_salt", (F.spark_partition_id() % F.lit(salt_buckets)).cast("int")
    )
    stage1 = salted.groupBy(*key_cols, "_salt").agg(*aggs)
    agg_names = [c for c in stage1.columns if c not in {*key_cols, "_salt"}]
    # merge partials: sums/counts add; min/max idempotent under min/max.
    # We re-merge by summing unless the alias says otherwise.
    merged = [
        (
            F.min(name) if name.startswith("min_")
            else F.max(name) if name.startswith("max_")
            else F.sum(name)
        ).alias(name)
        for name in agg_names
    ]
    return stage1.groupBy(*key_cols).agg(*merged)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join, the join twin of ``salted_aggregate``:
    the FACT side gets a per-partition salt, the DIM side is replicated
    ``salt_buckets`` times (one copy per salt value), and the join runs
    on (key, salt) — a hot fact key's rows spread across salt_buckets
    reducers instead of crushing one. The salt is dropped from the
    output, so the result is row-identical to a plain join.

    When to reach for this (and when NOT to): AQE's skew-join handling
    (spark.sql.adaptive.skewJoin.*) already splits oversized SORT-MERGE
    partitions at runtime and needs no code change — prefer it. The
    manual salt is for the cases AQE can't fix: a single key too hot
    for partition-splitting to help (splits of one key still sort into
    one stream per split — AQE caps at splitting the map outputs, and
    with extreme single-key skew the post-split partitions are STILL
    that key), joins feeding a downstream operator that defeats AQE's
    re-plan, or engines/configs with AQE off. Cost: the dim side is
    shuffled x salt_buckets — use only when dim << fact (but too big
    to broadcast) and size salt_buckets to the observed hot-key row
    count, not higher.

    ``how`` may be "inner" or "left" (fact-preserving: an unmatched
    fact row carries one salt value, so it appears exactly once).
    "right"/"full" would surface each unmatched DIM row salt_buckets
    times and are rejected."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join: how={how!r} unsupported — an outer-dim join "
            "would duplicate unmatched dim rows across salt replicas"
        )
    keys = [on] if isinstance(on, str) else list(on)
    salted_fact = fact.withColumn(
        "_salt", (F.spark_partition_id() % F.lit(salt_buckets)).cast("int")
    )
    # sequence of INT literals so the salt types match the fact side
    # (a generator column can't be wrapped in cast)
    replicated_dim = dim.withColumn(
        "_salt", F.explode(F.expr(f"sequence(0, cast({salt_buckets - 1} as int))"))
    )
    return salted_fact.join(replicated_dim, [*keys, "_salt"], how).drop("_salt")


def parse_key_field_options(options: str) -> list[tuple[int, bool, bool]]:
    """Parse the ``-k pos1[,pos2][opts]`` subset of
    mapred.text.key.{comparator,partitioner}.options into
    (field, ascending, numeric) triples, one per field of each range:
    "-k1,2 -k3,3nr" -> [(1, True, False), (2, True, False),
    (3, False, True)]. 'r' reverses; 'n' sorts numerically (see
    :func:`partition_sort`); a range without pos2 is its first field;
    character offsets (``.c``) are ignored."""
    fields: list[tuple[int, bool, bool]] = []
    for m in re.finditer(
        r"-k\s*(\d+)(?:\.\d+)?(?:,(\d+)(?:\.\d+)?)?([a-z]*)", options
    ):
        first = int(m.group(1))
        last = max(first, int(m.group(2) or first))
        flags = m.group(3)
        fields.extend(
            (i, "r" not in flags, "n" in flags) for i in range(first, last + 1)
        )
    if not fields:
        raise ValueError(f"no -k fields in {options!r}")
    return fields
