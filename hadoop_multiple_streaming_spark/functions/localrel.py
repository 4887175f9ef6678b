"""JVM LocalRelation construction for small driver-side literal
relations (optimization r15, guide §4 "eliminate the Python boundary"
/ §2.4 "remove shuffles outright").

``spark.createDataFrame(rows, schema)`` from a Python list builds a
PYTHON RDD parallelized into ``spark.default.parallelism`` partitions:
every downstream materialization — each BroadcastExchange build, every
AQE query stage that scans it — then runs a default-parallelism-task
job whose every task round-trips a Python worker to deserialize
pickled rows. Measured inside ONE steady-state ``ann_ivfpq_adc`` rep
at sf0.1 (2000-row corpus): six 32-task stages of ~7 CPU-seconds each,
all of them scans of a 16-row centroid table and a 128-row codebook.

Rendering the same rows as a SQL ``VALUES`` inline table instead gives
a Catalyst ``LocalRelation``: pure JVM, broadcast builds collect it
locally with ZERO tasks, and no Python worker is involved anywhere.
``local_relation`` does exactly that for the plain types the engine's
literal relations use (ints, floats, strings, booleans, date/
timestamp, arrays thereof), and FALLS BACK to ``createDataFrame``
verbatim for anything else (empty row sets, exotic types, row counts
past ``max_rows`` — a VALUES list is parser work, linear in text
size, so huge relations stay on the RDD path).

``collect_bounded`` is the other direction: a relation pulled to the
driver only when it provably fits a row cap.
"""

from __future__ import annotations

import datetime as _dt
import math

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

#: VALUES text is parsed, not streamed — bound the row count so a
#: mistakenly-huge relation falls back to the RDD path instead of
#: building a multi-MB SQL string (the engine's literal relations are
#: quota tables, centroid codebooks: tens to thousands of rows).
_MAX_VALUES_ROWS = 20_000
#: likewise bound total rendered array elements (codebooks are k x m
#: x dim; a bloom bitmap would be millions of longs — RDD path there)
_MAX_VALUES_CELLS = 400_000


class _Unrenderable(Exception):
    pass


def _sql_lit(v, dt: DataType) -> str:
    if v is None:
        return "NULL"
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return f"{int(v)}L" if isinstance(dt, LongType) else str(int(v))
    if isinstance(dt, BooleanType):
        return "TRUE" if v else "FALSE"
    if isinstance(dt, (FloatType, DoubleType)):
        f = float(v)
        if math.isnan(f):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(f):
            return f"CAST('{'-' if f < 0 else ''}Infinity' AS DOUBLE)"
        return repr(f) + "D"  # shortest round-trip literal, exact
    if isinstance(dt, StringType):
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        if "\x00" in s:  # NUL inside a SQL literal: not worth the risk
            raise _Unrenderable("NUL byte in string literal")
        return f"'{s}'"
    if isinstance(dt, (DateType, TimestampType)):
        if not isinstance(v, (_dt.date, _dt.datetime)):
            raise _Unrenderable(f"non-datetime value {type(v)}")
        kind = "DATE" if isinstance(dt, DateType) else "TIMESTAMP"
        return f"{kind} '{v}'"
    if isinstance(dt, ArrayType):
        if not isinstance(v, (list, tuple)):
            raise _Unrenderable(f"non-list array value {type(v)}")
        inner = ", ".join(_sql_lit(x, dt.elementType) for x in v)
        return f"array({inner})"
    raise _Unrenderable(f"unsupported type {dt}")


def local_relation(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """A DataFrame over ``rows`` with ``schema`` that plans as a pure
    JVM LocalRelation (inline VALUES) whenever the rows are plain
    scalars/arrays, falling back to ``spark.createDataFrame`` (the
    Python-RDD path) for anything it cannot render faithfully. Drop-in
    for small literal relations on query hot paths."""
    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    rows = list(rows)
    if not rows or len(rows) > _MAX_VALUES_ROWS:
        return spark.createDataFrame(rows, st)
    try:
        cells = 0
        rendered = []
        for r in rows:
            vals = []
            for i, f in enumerate(st.fields):
                v = r[i]
                cells += len(v) if isinstance(v, (list, tuple)) else 1
                vals.append(_sql_lit(v, f.dataType))
            if cells > _MAX_VALUES_CELLS:
                return spark.createDataFrame(rows, st)
            rendered.append("(" + ", ".join(vals) + ")")
    except (_Unrenderable, TypeError, ValueError, IndexError):
        return spark.createDataFrame(rows, st)
    names = [f"_c{i}" for i in range(len(st.fields))]
    # cast every column to the declared DDL type so the result schema
    # (incl. array containsNull) matches createDataFrame's exactly;
    # the IF(_del = 0, ..., NULL) wrapper (always true — every row
    # carries marker 0) forces each output attribute NULLABLE, again
    # matching createDataFrame: downstream plan/schema shapes must not
    # change just because the relation construction path did
    sel = ", ".join(
        f"IF(_del = 0, CAST({c} AS {f.dataType.simpleString()}), NULL) AS "
        + "`" + f.name.replace("`", "``") + "`"
        for c, f in zip(names, st.fields)
    )
    sql = (
        f"SELECT {sel} FROM VALUES "
        + ", ".join("(0, " + r[1:] for r in rendered)
        + f" AS _lr(_del, {', '.join(names)})"
    )
    return spark.sql(sql)


def collect_bounded(df: DataFrame, cap: int) -> list[Row] | None:
    """Guarded driver-materialisation probe (guide §5): ONE CollectLimit
    job bounded at ``cap + 1`` rows. Returns the rows when ``df`` has at
    most ``cap`` of them, else None; the caller keeps its distributed
    shape or raises its own error. Never collects more than ``cap + 1``
    rows, whatever the relation's size; ``cap <= 0`` returns None
    without running a job."""
    cap = int(cap)
    if cap <= 0:
        return None
    rows = df.limit(cap + 1).collect()
    return None if len(rows) > cap else rows
