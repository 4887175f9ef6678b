"""The Hadoop Streaming ``aggregate`` reducer family, DataFrame-native.

``-reducer aggregate`` in the reference installs ValueAggregatorReducer
+ combiner (RedStreamJob.java:747-749): the mapper emits
``AggType:key \\t value`` lines and the framework aggregates per key
(SURVEY §2.5). Here each aggregator is a native Spark aggregation —
Catalyst's partial/final hash aggregation replaces the combiner (G4)
for free, so map-side combine happens automatically.

Supported (same menu as hadoop mapred.lib.aggregate):
  LongValueSum DoubleValueSum LongValueMax LongValueMin
  StringValueMax StringValueMin UniqValueCount ValueHistogram

Malformed descriptors fail loudly (Hadoop's ValueAggregator path throws
on an unknown aggregator type rather than dropping records): a key
without an ``AggType:`` prefix or with an unrecognized type raises at
execution time via ``raise_error``, once per (agg_type, key) group.

Three plans share one sum/max/min menu (``_MENU``); the two
descriptor plans also share one strict fallthrough
(``_strict_otherwise``):

* ``aggregate_reduce`` on descriptor lines — the generic two-level
  plan (a (agg_type, key, value) frequency level, then one small
  aggregation that serves every type);
* ``aggregate_reduce(types=...)`` with a pure sum/max/min menu — one
  direct aggregation off the parsed lines;
* ``aggregate_typed`` — a declared (type, key column, value column)
  planned straight from typed columns, with no descriptor text at all.

ValueHistogram collects the per-key count list for the exact median —
for billion-distinct-value keys switch the median to percentile_approx.
"""

from __future__ import annotations

from collections.abc import Collection

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

HISTOGRAM = "ValueHistogram"
UNIQ = "UniqValueCount"

#: the sum/max/min aggregators, written once: type -> (buffer column,
#: aggregate, value cast). A buffer renders to its output string by a
#: cast, or as is when it already holds a value string (cast None).
_MENU = {
    "LongValueSum": ("_lsum", F.sum, "long"),
    "DoubleValueSum": ("_dsum", F.sum, "double"),
    "LongValueMax": ("_lmax", F.max, "long"),
    "LongValueMin": ("_lmin", F.min, "long"),
    "StringValueMax": ("_smax", F.max, None),
    "StringValueMin": ("_smin", F.min, None),
}

#: types computable in ONE direct aggregation (no per-value distinct
#: level needed): plain sums and max/min
DIRECT_TYPES = frozenset(_MENU)
KNOWN_TYPES = [*_MENU, UNIQ, HISTOGRAM]

#: sentinel agg_type for lines without an 'AggType:' prefix — carried
#: through the aggregation and raised on at GROUP level (see below)
MISSING_PREFIX = "<missing-prefix>"


def _buffers(
    types: Collection[str], value: Column, t: Column | None = None, cnt: Column | None = None
) -> list[Column]:
    """The menu's aggregate buffers for ``types``, in menu order. Given
    the agg_type column ``t``, each buffer only sees its own type's
    rows; given a frequency column ``cnt``, sums weigh each distinct
    value by its count."""
    out = []
    for ty, (name, agg, cast) in _MENU.items():
        if ty not in types:
            continue
        v = value.cast(cast) if cast else value
        if cnt is not None and agg is F.sum:
            v = v * cnt
        out.append(agg(v if t is None else F.when(t == ty, v)).alias(name))
    return out


def _rendered(ty: str) -> Column:
    name, _, cast = _MENU[ty]
    return F.col(name).cast("string") if cast else F.col(name)


def _dispatch(t: Column, branches: list[tuple[str, Column]]) -> Column:
    """``CASE WHEN t = type THEN column ...`` over (type, column) pairs."""
    result = None
    for ty, col in branches:
        result = F.when(t == ty, col) if result is None else result.when(t == ty, col)
    return result


def parse_agg_key(df_kv: DataFrame) -> DataFrame:
    """Split ``AggType:key`` (first ':' only, matching the Hadoop
    ValueAggregatorDescriptor TYPE_SEPARATOR contract).

    Malformed rows are kept under the MISSING_PREFIX sentinel type so
    the aggregation can fail loudly (Hadoop's ValueAggregator throws on
    unknown descriptors). Validation is deliberately NOT a per-row
    raise_error here: raise_error is CodegenFallback in Spark, and one
    guard in this projection pushes the whole text hot path into
    interpreted mode (~2.5x slower measured). Instead the raise happens
    after aggregation, per (agg_type, key) group — same loud failure,
    negligible cost.
    """
    has_sep = F.instr("key", ":") >= 1
    return df_kv.select(
        F.when(has_sep, F.split_part("key", F.lit(":"), F.lit(1)))
        .otherwise(F.lit(MISSING_PREFIX))
        .alias("agg_type"),
        F.when(has_sep, F.expr("substring(key, instr(key, ':') + 1)"))
        .otherwise(F.col("key"))
        .alias("key"),
        "value",
    )


def value_frequencies(parsed: DataFrame) -> DataFrame:
    """Level-1 aggregation shared by every aggregator: distinct
    (agg_type, key, value) triples with their row counts. ONE shuffle
    over the input with map-side partial combine; every downstream
    aggregate (sum = value x cnt, distinct = triple count, histogram =
    stats over cnt) derives from this small intermediate."""
    return parsed.groupBy("agg_type", "key", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def histogram_stats(freqs: DataFrame, group_cols: list[str]) -> DataFrame:
    """The ValueHistogram statistics aggregation over a ``cnt``
    frequency relation, factored out so the typed entry and the
    descriptor path share ONE definition of the report math
    (Hadoop parity: median = sorted element at index n/2, NOT
    interpolated; avg/stddev from exact integer sums so the doubles
    are deterministic across engines)."""
    return freqs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("distinct_values"),
        F.min("cnt").alias("min_count"),
        # sorted element at index n/2, 0-based -> element_at is 1-based
        F.expr(
            "element_at(sort_array(collect_list(cnt)), cast(count(1) div 2 as int) + 1)"
        ).alias("median_count"),
        F.max("cnt").alias("max_count"),
        F.expr("cast(sum(cnt) as double) / count(1)").alias("avg_count"),
        # population stddev from exact integer sums: deterministic IEEE
        # op sequence (sum_sq/n - mean*mean under one sqrt)
        F.expr(
            "sqrt(cast(sum(cnt * cnt) as double) / count(1) "
            "- (cast(sum(cnt) as double) / count(1)) * (cast(sum(cnt) as double) / count(1)))"
        ).alias("stddev_count"),
    )


def value_histogram(parsed: DataFrame) -> DataFrame:
    """ValueHistogram: per key, statistics over the FREQUENCIES of the
    distinct values (hadoop ValueHistogram report: unique-count, min,
    median, max, average, stddev of the per-value counts).

    Hadoop parity: the median is the sorted element at index n/2 (a
    long, NOT interpolated), min/median/max are longs; avg/stddev are
    computed from exact integer sums so the doubles are deterministic
    across engines.
    """
    freqs = value_frequencies(parsed.where(F.col("agg_type") == HISTOGRAM))
    return histogram_stats(freqs, ["agg_type", "key"])


def _malformed_message() -> Column:
    """The missing-prefix failure message, naming the group's key (a
    null key renders as ``<null>``, so the message is never null)."""
    return F.concat(
        F.lit("aggregate: malformed descriptor (missing 'AggType:' prefix) for key: "),
        F.coalesce(F.col("key"), F.lit("<null>")),
    )


def _strict_otherwise(result: Column, t: Column, menu: set[str] | None = None) -> Column:
    """Strict fallthrough of a descriptor dispatch on the agg_type
    column ``t``: a group no branch claims fails the job, from one
    raise per group (never per row). With a declared ``menu``, a row
    whose type is KNOWN but simply undeclared gets a 'not in the
    declared types menu' diagnostic instead of the misleading 'unknown
    aggregator type' (the type IS known — the caller just didn't
    declare it)."""
    unknown = F.concat(F.lit("aggregate: unknown aggregator type: "), t)
    if menu is not None:
        undeclared = [ty for ty in KNOWN_TYPES if ty not in menu]
        if undeclared:
            unknown = F.when(
                t.isin(undeclared),
                F.concat(
                    F.lit("aggregate: type "),
                    t,
                    F.lit(
                        " is not in the declared types menu "
                        f"{sorted(menu)} (add it to `types`)"
                    ),
                ),
            ).otherwise(unknown)
    return result.otherwise(
        F.raise_error(
            F.when(t == MISSING_PREFIX, _malformed_message())
            .otherwise(unknown)
        )
    )


def _aggregate_direct(parsed: DataFrame, menu: set[str]) -> DataFrame:
    """Single-level plan for declared pure-scalar menus: groupBy
    (agg_type, key) straight off the parsed lines — ONE shuffle with
    map-side partial combine, no (type, key, value) frequency level.
    At 100 TB this is the difference between shuffling O(groups) and
    shuffling O(distinct (key, value)) — for sums over high-cardinality
    values (revenue cents, ids) the frequency level is O(rows).

    Only the DECLARED types' buffers are built: string min/max buffers
    force the whole aggregation into SortAggregate (immutable buffer
    type), so a numeric-only menu must not carry them — numeric menus
    stay HashAggregate with whole-stage codegen."""
    t = F.col("agg_type")
    agg = parsed.groupBy("agg_type", "key").agg(*_buffers(menu, F.col("value"), t))
    result = _dispatch(t, [(ty, _rendered(ty)) for ty in _MENU if ty in menu])
    return agg.select("key", _strict_otherwise(result, t, menu).alias("value"))


def aggregate_reduce(df_kv: DataFrame, types: list[str] | None = None) -> DataFrame:
    """Full ``-reducer aggregate`` semantics: (key, value) lines where
    key = ``AggType:realkey`` -> aggregated (key, value) strings.

    Output key is the real key (the reducer strips the type prefix),
    matching the reference's final output layout (S8). Malformed or
    unknown descriptors fail the job loudly (raised from the
    post-aggregation dispatch, per group — never per row).

    Physical plan: ONE scan of the input, one shuffle on
    (agg_type, key, value) with map-side partial combine (the
    value_frequencies level), one tiny shuffle on (agg_type, key).
    Every aggregator derives from the frequency triple: sums as
    value x cnt, UniqValueCount as the triple count (no distinct-agg
    Expand), histogram stats over cnt. Double sums multiply instead of
    repeatedly adding — exact for integral values; for arbitrary
    doubles the rounding differs from row-at-a-time addition by design
    (Hadoop's combiner already made that order unspecified).

    collect_list (for the exact histogram median) only accumulates
    rows of ValueHistogram groups — conditional, so scalar aggregators
    never pay for it.

    ``types``: optional declared menu (like a Hadoop job knowing which
    descriptors its mapper emits). When every declared type is a plain
    sum/max/min, the frequency level is skipped entirely — one direct
    shuffle (see _aggregate_direct). Rows violating the declaration
    still fail loudly.
    """
    parsed = parse_agg_key(df_kv)
    # `types and`: an empty menu (dynamically-built list that came out
    # empty) must fall through to the generic plan, not build a
    # zero-buffer aggregation
    if types and set(types) <= DIRECT_TYPES:
        return _aggregate_direct(parsed, set(types))
    freqs = value_frequencies(parsed)
    t = F.col("agg_type")
    cnt = F.col("cnt")
    h_cnt = F.when(t == HISTOGRAM, cnt)
    agg = freqs.groupBy("agg_type", "key").agg(
        *_buffers(DIRECT_TYPES, F.col("value"), t, cnt),
        F.count(F.when(t == UNIQ, F.col("value"))).alias("_uniq"),
        F.count(h_cnt).alias("_hn"),
        F.min(h_cnt).alias("_hmin"),
        F.max(h_cnt).alias("_hmax"),
        F.sum(h_cnt).alias("_hsum"),
        F.sum(F.when(t == HISTOGRAM, cnt * cnt)).alias("_hsumsq"),
        F.expr(
            f"sort_array(collect_list(case when agg_type = '{HISTOGRAM}' then cnt end))"
        ).alias("_hlist"),
    )
    h_avg = F.expr("cast(_hsum as double) / _hn")
    h_std = F.expr(
        "sqrt(cast(_hsumsq as double) / _hn "
        "- (cast(_hsum as double) / _hn) * (cast(_hsum as double) / _hn))"
    )
    h_median = F.expr("element_at(_hlist, cast(_hn div 2 as int) + 1)")
    hist_report = F.concat_ws(
        "\t",
        F.col("_hn").cast("string"),
        F.col("_hmin").cast("string"),
        h_median.cast("string"),
        F.col("_hmax").cast("string"),
        h_avg.cast("string"),
        h_std.cast("string"),
    )
    result = _dispatch(
        t,
        [
            *((ty, _rendered(ty)) for ty in _MENU),
            (UNIQ, F.col("_uniq").cast("string")),
            (HISTOGRAM, hist_report),
        ],
    )
    return agg.select("key", _strict_otherwise(result, t).alias("value"))


def aggregate_typed(df: DataFrame, agg_type: str, key_col: str, value_col: str) -> DataFrame:
    """One declared aggregator planned straight from typed columns: the
    descriptor path's answer for ``agg_type:key \\t value`` lines built
    from ``key_col`` and ``value_col``, without building or parsing
    that text.

    * sum/max/min types -> ``aggregate_reduce``'s (key, value) strings,
      one aggregation on the key through the shared menu. A null key
      fails the job, as the descriptor path fails on the missing-prefix
      line it would become.
    * ValueHistogram -> (key, distinct_values, min_count, median_count,
      max_count, avg_count, stddev_count), i.e. ``value_histogram``
      without agg_type: (key, value) frequencies straight off the
      columns, then ``histogram_stats``. Null keys are dropped, as the
      descriptor path drops their lines from the histogram.

    The descriptor path compares values by their string render; the
    typed plan by the values themselves. The two agree whenever the
    render is injective and casts back exactly (integers, strings),
    and the key column holds no tab (a tab would move the key/value
    split of a text line).
    """
    key = F.col(key_col)
    if not isinstance(df.schema[key_col].dataType, StringType):
        # a cast on a string key would add a grouping projection
        key = key.cast("string")
    key = key.alias("key")
    if agg_type == HISTOGRAM:
        freqs = (
            df.where(F.col(key_col).isNotNull())
            .groupBy(key, F.col(value_col).alias("_v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return histogram_stats(freqs, ["key"])
    if agg_type not in _MENU:
        raise ValueError(
            f"aggregate_typed: {agg_type!r} is not one of {[*_MENU, HISTOGRAM]}"
        )
    agg = df.groupBy(key).agg(*_buffers({agg_type}, F.col(value_col)))
    # the type is declared, so a null key is the one failure left
    value = F.when(F.col("key").isNotNull(), _rendered(agg_type)).otherwise(
        F.raise_error(_malformed_message())
    )
    return agg.select("key", value.alias("value"))
